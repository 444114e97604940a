package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Nearest-centroid assignment with the codebook INLINED into the
  * expression — the lshSignature pattern applied to k-means/IVF cell
  * assignment: when the centroid table is driver-sized (it always is —
  * it's the broadcast side today), folding it into a projection removes
  * the k·n scored frame entirely. The former shape (cross-join against
  * broadcast centroids → per-vector max-struct aggregation → join the
  * vector payload back) materialized k rows per vector and paid two
  * shuffles; this is ONE map-side pass, no exchange at any k.
  *
  * Selection replicates `max(struct(sim, -cid))` exactly: sim compared
  * with Spark's nan-safe double semantics (NaN greatest; ±0.0 equal,
  * unreachable here — left-to-right dot folds from +0.0 never produce
  * -0.0), ties to the SMALLEST cid; sim itself is the
  * [[graft.sim.Similarity.cosineFromNorms]] arithmetic (left-to-right
  * VecDot fold over the min-length prefix, zero-norm-product → 0.0)
  * with centroid norms pre-folded driver-side in the same IEEE order.
  * SimilaritySpec pins equality against the join+aggregation path.
  *
  * CodegenFallback (the [[MinHashSig]] trade): per-row work is k·dim
  * flops, so dispatch cost vanishes, but the operator holding it leaves
  * whole-stage codegen. Null for a null vector/norm or an
  * empty codebook (callers filter, mirroring the empty join result).
  */
case class NearestCentroid(vec: Expression, nrm: Expression,
                           cids: Array[Long], cents: Array[Array[Double]],
                           cnrms: Array[Double])
    extends BinaryExpression with CodegenFallback {

  require(cids.length == cents.length && cids.length == cnrms.length,
    "nearest_centroid: codebook arrays must align")

  override def left: Expression = vec
  override def right: Expression = nrm
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any, n: Any): Any = {
    val k = cids.length
    if (k == 0) return null
    val arr = v.asInstanceOf[ArrayData]
    val vn = n.asInstanceOf[Double]
    val dim = arr.numElements()
    val vd = new Array[Double](dim)
    var i = 0
    while (i < dim) { vd(i) = arr.getDouble(i); i += 1 }
    var bestSim = Double.NaN
    var bestCid = 0L
    var first = true
    var c = 0
    while (c < k) {
      val cv = cents(c)
      val m = math.min(dim, cv.length)
      var d = 0.0
      i = 0
      while (i < m) { d += vd(i) * cv(i); i += 1 }
      val p = vn * cnrms(c)
      val sim = if (p == 0) 0.0 else d / p
      val cmp = if (first) 1 else NearestCentroid.nanSafeCompare(sim, bestSim)
      if (cmp > 0 || (cmp == 0 && cids(c) < bestCid)) {
        bestSim = sim; bestCid = cids(c)
      }
      first = false
      c += 1
    }
    bestCid
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): NearestCentroid =
    copy(vec = newLeft, nrm = newRight)
}

/** The PQ-subspace analog of [[NearestCentroid]]: nearest sub-centroid by
  * L2² within subspace `j`, with the per-j codebooks INLINED — encode and
  * Lloyd assignment become projections instead of the broadcast-join →
  * min-struct aggregation over the m·ksub·n scored frame. Selection
  * replicates `min(struct(d, cid))` exactly (nan-safe double ordering —
  * NaN greatest, so min avoids it — ties to the smallest cid) and d is
  * the [[VecL2Sq]] arithmetic (left-to-right (a−b)² fold over the
  * min-length prefix). Null for an out-of-range j or an empty j-codebook
  * (the join path's no-row result; callers filter). SimilaritySpec pins
  * code equality against the join path.
  */
case class PqNearestCode(jc: Expression, sv: Expression,
                         cids: Array[Array[Long]],
                         cents: Array[Array[Array[Double]]])
    extends BinaryExpression with CodegenFallback {

  require(cids.length == cents.length, "pq_nearest_code: codebooks must align")

  override def left: Expression = jc
  override def right: Expression = sv
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(j: Any, v: Any): Any = {
    val ji = j.asInstanceOf[Int]
    if (ji < 0 || ji >= cids.length) return null
    val ids = cids(ji)
    val k = ids.length
    if (k == 0) return null
    val cvs = cents(ji)
    val arr = v.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    val vd = new Array[Double](dim)
    var i = 0
    while (i < dim) { vd(i) = arr.getDouble(i); i += 1 }
    var bestD = Double.NaN
    var bestCid = 0L
    var first = true
    var c = 0
    while (c < k) {
      val cv = cvs(c)
      val m = math.min(dim, cv.length)
      var d = 0.0
      i = 0
      while (i < m) { val t = vd(i) - cv(i); d += t * t; i += 1 }
      val cmp = if (first) -1 else NearestCentroid.nanSafeCompare(d, bestD)
      if (cmp < 0 || (cmp == 0 && ids(c) < bestCid)) {
        bestD = d; bestCid = ids(c)
      }
      first = false
      c += 1
    }
    bestCid
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): PqNearestCode =
    copy(jc = newLeft, sv = newRight)
}

object NearestCentroid {
  /** Spark's double comparison semantics: NaN equals NaN and is greater
    * than everything else; otherwise primitive ordering. */
  def nanSafeCompare(x: Double, y: Double): Int =
    if (x < y) -1
    else if (x > y) 1
    else if (x == y) 0
    else if (x.isNaN && y.isNaN) 0
    else if (x.isNaN) 1
    else -1

  def nearest_centroid(vec: Column, nrm: Column, cids: Array[Long],
                       cents: Array[Array[Double]], cnrms: Array[Double]): Column =
    GraftShim.column(NearestCentroid(GraftShim.expression(vec),
      GraftShim.expression(nrm), cids, cents, cnrms))

  def pq_nearest_code(j: Column, sv: Column, cids: Array[Array[Long]],
                      cents: Array[Array[Array[Double]]]): Column =
    GraftShim.column(PqNearestCode(GraftShim.expression(j),
      GraftShim.expression(sv), cids, cents))
}
