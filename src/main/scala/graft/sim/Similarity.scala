package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TopKStructs.topk_structs

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`), per the BASELINE.json north star.
  *
  * Three paths:
  *   - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *     Queries × corpus cross product; only viable when |queries| is small
  *     or the corpus is pre-filtered. The query side broadcasts.
  *   - [[lshTopK]]: random-hyperplane LSH (sign sketch). Corpus is bucketed
  *     by an nBits-bit signature; each query probes its own cell plus all
  *     cells within `probeFlips` bit flips. Cost ≈ |corpus|·probes/2^nBits
  *     per query.
  *   - [[ivfTopK]]: inverted-file cells around centroids (stride-sampled,
  *     or trained with [[kmeansCentroids]]); queries probe the nProbe
  *     nearest cells. The clustered-data 100 TB scale path.
  *
  * All vector math is a strict left-to-right IEEE fold (no UDF), through
  * the native [[graft.functions.VecDot]]/[[graft.functions.VecL2Sq]]
  * expressions: deterministic order ⇒ reproducible across runs and
  * engines (the DuckDB oracle mirrors these folds digit-for-digit).
  */
object Similarity {

  /** Dot product of two array<double> columns — the native
    * [[graft.functions.VecDot]] loop: the identical left-to-right IEEE
    * fold as `aggregate(zip_with(a, b, _*_), 0.0, _+_)` (bit-identical
    * values, oracle unchanged) without the interpreted
    * higher-order-function walk. See VecMath's Scaladoc for why neither
    * the HOF form nor an element_at expansion survives the hot path.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecMath.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Squared L2 distance — native loop, same fold contract as [[dot]]. */
  def l2sq(a: Column, b: Column): Column = graft.functions.VecMath.vec_l2sq(a, b)

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0, lit(0.0)).otherwise(d / n)
  }

  private[graft] def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Cosine from a precomputed pair dot + per-vector norms. Inside pairwise
    * joins ALWAYS use this with norms computed once per vector — `cosine()`
    * re-derives both norms per pair, an O(|bucket|) blowup per row. Value
    * is bit-identical (same folds over the same arrays), so the DuckDB
    * oracle (which also precomputes norms) still matches.
    */
  def cosineFromNorms(d: Column, na: Column, nb: Column): Column =
    when((na * nb) === 0, lit(0.0)).otherwise(d / (na * nb))

  /** Portable 4-digit score rounding: `floor(x*1e4 + 0.5) / 1e4` — the same
    * three IEEE-double ops in Spark and DuckDB, so rounded scores are
    * bit-identical across engines. Spark's `round(double, 4)` is NOT
    * portable: it rounds the shortest decimal repr (BigDecimal.valueOf)
    * HALF_UP, while DuckDB scales-then-rounds in FP — they disagree
    * whenever a score's shortest repr ends in '5' at the 5th digit
    * (the q21 r1 hash mismatch).
    */
  def roundScore(c: Column): Column = floor(c * lit(1e4) + lit(0.5)) / lit(1e4)

  /** All-pairs cosine scores for a (small) query set against the corpus.
    * Returns (query_id, vec_id, score). The queries side is broadcast —
    * the corpus is scanned once, never shuffled. Norms are precomputed
    * below the join (once per vector, not once per pair).
    */
  def scoreAll(corpus: DataFrame, queries: DataFrame,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qnrm", norm(col("qv")))
    c.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
              roundScore(cosineFromNorms(dot(col("qv"), col("v")), col("qnrm"), col("nrm"))).as("score"))
  }

  /** Exact top-k: rank within each query with a deterministic tie-break on
    * vec_id. Window over query_id — partitions = queries, each sortable
    * in memory when k ≪ corpus (Spark's TopK-per-key via rank is fine here;
    * for huge query sets use [[bruteForceTopKHeap]]).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val scored = scoreAll(corpus, queries, idCol, vecCol)
    val w      = Window.partitionBy("query_id").orderBy(desc("score"), asc("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Exact top-k via the `topk_structs` bounded heap — same results as
    * [[bruteForceTopK]] (same scores, same tie-break), different physical
    * shape: state is ≤k entries per query at every point of the
    * partial/merge tree, so the shuffle carries k-entry buffers instead of
    * all |corpus| scored rows per query, and nothing ever sorts a full
    * group. The window form is fine when queries are few; THIS is the form
    * that survives a million-query batch at 100 TB.
    */
  def bruteForceTopKHeap(corpus: DataFrame, queries: DataFrame, k: Int,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    topKByScore(scoreAll(corpus, queries, idCol, vecCol), k, "vec_id")

  /** Hard-negative mining — per anchor, the top-k most-similar vectors
    * with a DIFFERENT label: the contrastive-training data op (anchors'
    * nearest wrong-label neighbors are the negatives that sharpen an
    * embedding model). Same bounded-heap shape as [[bruteForceTopKHeap]]
    * (≤k state per anchor through the partial/merge tree); the label
    * inequality rides the broadcast-join condition, so same-label pairs
    * are filtered BEFORE any score is computed, not after.
    */
  def hardNegativesTopK(corpus: DataFrame, anchors: DataFrame, k: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(labelCol).as("lbl"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = anchors.select(col(idCol).as("query_id"), col(labelCol).as("qlbl"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("qnrm", norm(col("qv")))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("vec_id") && col("qlbl") =!= col("lbl"))
      .select(col("query_id"), col("vec_id"),
        roundScore(cosineFromNorms(dot(col("qv"), col("v")), col("qnrm"), col("nrm"))).as("score"))
    topKByScore(scored, k, "neg_id")
  }

  /** Per-query top-k of a (query_id, vec_id, score) frame by score DESC,
    * vec_id ASC through the `topk_structs` heap. Ascending
    * `struct(-score, vec_id)` IS that order (structs compare field by
    * field), and IEEE negation is exact, so scores come back
    * bit-identical. Returns (query_id, `idOut`, score, rank).
    */
  private def topKByScore(scored: DataFrame, k: Int, idOut: String): DataFrame =
    scored.groupBy("query_id")
      .agg(topk_structs(struct((-col("score")).as("neg"), col("vec_id")), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.vec_id").as(idOut), (-col("col.neg")).as("score"),
              (col("pos") + 1).cast("int").as("rank"))

  /** Deterministic pseudo-random hyperplanes: component h[i][d] derived from
    * md5(bit, dim) — no RNG state, same planes every run/engine.
    * Values in [-0.5, 0.5).
    */
  private[graft] def hyperplane(bit: Int, dim: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$bit:$dim".getBytes("UTF-8")).take(7)
    val v = hex.foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    (v.toDouble / (1L << 56).toDouble) - 0.5
  }

  /** nBits-bit sign signature of a vector under the fixed hyperplanes.
    * IMPORTANT: pass a plain column attribute, not a derived expression —
    * the signature references `vec` dim×nBits times, and Catalyst inlines
    * a derived expression into every reference (the element cast happens
    * here, per reference, precisely to keep those references cheap).
    */
  def lshSignature(vec: Column, dim: Int, nBits: Int): Column = {
    val bits = (0 until nBits).map { b =>
      val proj = (0 until dim)
        .map(d => element_at(vec, d + 1).cast("double") * lit(hyperplane(b, d)))
        .reduce(_ + _)
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** LSH ANN: probe the query's own cell plus all cells within
    * `probeFlips` bit flips (multi-probe — recovers the recall the cell
    * boundary loses, the standard probes-vs-recall dial). With nBits=6,
    * probeFlips=2 scans 22/64 ≈ 1/3 of the space per query; recall rises
    * with cluster structure. Join is an equi-join on the bucket id:
    * shuffle ∝ |corpus| once to bucket, then per-query work is
    * bucket-sized, not corpus-sized. At 100 TB, raise nBits so buckets
    * stay executor-sized (cost per query ≈ |corpus|·probes/2^nBits).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nBits: Int = 6, probeFlips: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"),
        lshSignature(col(vecCol), dim, nBits).as("bucket"))
      .withColumn("nrm", norm(col("v")))
    val masks: Seq[Long] = Seq(0L) ++
      (if (probeFlips >= 1) (0 until nBits).map(i => 1L << i) else Seq.empty) ++
      (if (probeFlips >= 2)
         for { i <- 0 until nBits; j <- (i + 1) until nBits } yield (1L << i) | (1L << j)
       else Seq.empty)
    val probes = masks.map {
      case 0L => col("qbucket")
      case m  => col("qbucket").bitwiseXOR(lit(m))
    }
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"),
        lshSignature(col(vecCol), dim, nBits).as("qbucket"))
      .withColumn("qnrm", norm(col("qv")))
      .withColumn("bucket", explode(array(probes: _*)))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        roundScore(cosineFromNorms(dot(col("qv"), col("v")), col("qnrm"), col("nrm"))).as("score"))
      .groupBy("query_id", "vec_id").agg(max("score").as("score")) // dedup multi-probe hits
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Distributed Lloyd k-means over embedding vectors (cosine geometry on
    * the unit sphere ⇒ assign by max cosine; centroid = element-wise mean).
    * Deterministic: stride-sampled init, iteration count fixed, ties broken
    * by centroid id. Each iteration = one broadcast-assign pass + one
    * (cell, dim)-grouped mean — shuffle carries k×dim cells, not the
    * corpus. persist() per iteration cuts the growing lineage.
    *
    * `quantizedMeans`: `avg(double)` sums doubles in partial-aggregation
    * order, which differs run-to-run (and engine-to-engine) in the last
    * ulp — fine for ML convergence, fatal for an oracle hash. The portable
    * form quantizes each component to an integer-valued double
    * (`floor(x·1e6 + 0.5)`) first: integer addition in doubles is exact and
    * associative below 2^53, so the sum — and the single final division —
    * is bit-identical under any partition order and in DuckDB. The ~1e-6
    * component perturbation is noise relative to k-means' own sample
    * variance.
    *
    * Returns (cid, cv: array<double>) for use as [[ivfTopK]] centroids.
    */
  def kmeansCentroids(corpus: DataFrame, dim: Int, k: Int, iters: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      quantizedMeans: Boolean = false,
                      moveTol: Option[Double] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = c.count()
    val stride = math.max(1L, n / k)
    var centroids = c.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val meanExpr =
      if (quantizedMeans)
        sum(floor(col("x") * lit(1e6) + lit(0.5))) / (lit(1e6) * count(lit(1)).cast("double"))
      else avg(col("x"))
    var iter = 0
    var converged = false
    while (iter < iters && !converged) {
      // arg-max as max(struct(sim, -cid)) — map-side partial reduce of the
      // k·n scored frame to one row per vector, with the vector kept OUT
      // of the buffer (array-bearing buffers force SortAggregate on
      // interpreted orderings — the r9 revert) and re-attached by one
      // n-row equi-join (see [[assignCells]], the single source of this
      // convention and its ordering-equivalence argument)
      val cents = centroids.withColumn("cnrm", norm(col("cv")))
      val best = c.withColumn("nrm", norm(col("v")))
        .join(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          cosineFromNorms(dot(col("v"), col("cv")), col("nrm"), col("cnrm")).as("sim"))
        .groupBy("vec_id")
        .agg(max(struct(col("sim"), (-col("cid")).as("ncid"))).as("b"))
        .select(col("vec_id"), (-col("b.ncid")).as("cid"))
      val assigned = c.join(best, Seq("vec_id"))
      val next = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(meanExpr.as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), transform(col("pm"), e => e.getField("m")).as("cv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count() // materialize before unpersisting the previous generation
      // movement-threshold early exit: max |component delta| across
      // centroids — one k-row aggregate per round (a centroid whose cell
      // emptied drops out of the inner join and doesn't block convergence)
      converged = moveTol.exists { tol =>
        val move = next.as("n")
          .join(centroids.select(col("cid"), col("cv").as("pcv")), Seq("cid"))
          .select(aggregate(zip_with(col("cv"), col("pcv"), (a, b) => abs(a - b)),
            lit(0.0), (acc, d) => greatest(acc, d)).as("mv"))
          .agg(max(col("mv"))).head().getDouble(0)
        move <= tol
      }
      centroids.unpersist()
      centroids = next
      iter += 1
    }
    // materialize the final generation, then drop the corpus cache (it was
    // only an iteration-sharing cache; recomputable, so unpersist is safe
    // even for the iters=0 lazy path — which is then materialized anyway)
    centroids.count()
    c.unpersist()
    centroids
  }

  /** IVF (inverted-file) ANN — the clustered-data scale path beside
    * hyperplane LSH. Centroids are a deterministic corpus sample (every
    * `centroidStride`-th vector — a production build would k-means them);
    * each corpus vector is assigned to its nearest centroid (broadcast
    * centroid table, one corpus pass), queries probe the `nProbe` nearest
    * cells. Cost per query ≈ |corpus|·nProbe/|centroids|; the dial
    * is |centroids| (∝ √|corpus| classically).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroidStride: Int = 50, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              centroidsOverride: Option[DataFrame] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val centroids = centroidsOverride.getOrElse(
      c.filter(col("vec_id") % centroidStride === 0)
        .select(col("vec_id").as("cid"), col("v").as("cv")))
    val corpusCells = assignCells(c, centroids)
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qnrm", norm(col("qv")))
    val queryCells = probeCells(q, centroids, nProbe)
    val scored = corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        roundScore(cosineFromNorms(dot(col("qv"), col("v")), col("qnrm"), col("nrm"))).as("score"))
      .groupBy("query_id", "vec_id").agg(max("score").as("score"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Bucket-width dial for LSH bucketing: smallest nBits in
    * [minBits, maxBits] with n / 2^nBits <= targetBucket, i.e. expected
    * bucket size stays bounded as the corpus grows (in-bucket pair work is
    * O(n·targetBucket), never O(n²)). Integer-only comparisons on purpose:
    * a float log2 can land epsilon-above/below an integer differently per
    * engine, so the DuckDB oracle derives the identical value from a CASE
    * chain over the same thresholds.
    */
  def deriveNBits(n: Long, targetBucket: Long = 32,
                  minBits: Int = 4, maxBits: Int = 16): Int = {
    var b = minBits
    while (b < maxBits && n > (targetBucket << b)) b += 1
    b
  }

  /** Embedding-cosine near-duplicate pairs (dedup by embedding): bucket by
    * LSH signature, score within buckets only, threshold. Same
    * never-form-the-pair-space shape as Dedup.minhashCandidatePairs.
    * When `nBits` is None the width comes from [[deriveNBits]] on the
    * corpus count (a parquet metadata-only job), so the bucket count grows
    * with the corpus instead of degenerating toward all-pairs.
    */
  def embeddingNearDups(corpus: DataFrame, dim: Int, threshold: Double,
                        nBits: Option[Int] = None, targetBucket: Long = 32,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val bits = nBits.getOrElse(deriveNBits(corpus.count(), targetBucket))
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
        lshSignature(col(vecCol), dim, bits).as("bucket"))
      .withColumn("nrm", norm(col("v")))
    val l = c.select(col("bucket"), col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val r = c.select(col("bucket"), col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        roundScore(cosineFromNorms(dot(col("va"), col("vb")), col("na"), col("nb"))).as("score"))
      .filter(col("score") >= threshold)
      .distinct()
  }

  /** Centroid-count cap for the inlined-codebook assignment path:
    * 65536 × dim-64 doubles ≈ 32 MB of expression literals — the upper
    * end of what should ride in a task closure. Above it (or for an
    * uncollectable codebook), the broadcast-join + max-struct
    * aggregation path below takes over.
    */
  val MaxInlinedCentroids = 1 << 16

  /** Nearest-centroid cell assignment — ties broken by centroid id; the
    * single source of the assignment convention ([[ivfTopK]],
    * [[ivfPqTopK]] and [[semanticDedup]] all ride it). Input `c` must
    * carry (vec_id, v, nrm); centroids (cid, cv). Returns
    * (vec_id, v, nrm, cell).
    *
    * Codebooks are driver-sized by construction (they are the BROADCAST
    * side in every consumer), so the default path collects them once and
    * inlines the matrix into a [[graft.functions.NearestCentroid]]
    * projection — the lshSignature pattern: assignment becomes one
    * map-side pass with NO exchange at any k, where the former
    * broadcast-cross-join → max-struct-aggregation → re-attach-join
    * shape materialized k rows per vector and paid two shuffles (its
    * scored frame is k·n rows even though the partial aggregation eats
    * them map-side). Values are bit-identical: the expression replicates
    * cosineFromNorms (left-to-right VecDot fold, zero-norm → 0.0,
    * centroid norms folded driver-side in the same IEEE order) and the
    * `max(struct(sim, -cid))` selection (nan-safe double ordering, sim
    * ties to min cid) — pinned by SimilaritySpec against the join path,
    * which remains below as the >[[MaxInlinedCentroids]] fallback.
    */
  def assignCells(c: DataFrame, centroids: DataFrame): DataFrame = {
    // Gate and collect in ONE job: limit(cap+1).collect() bounds driver
    // memory to the cap regardless of codebook size (an over-cap
    // codebook — the fallback's target case — never fully materializes
    // on the driver just to be rejected) and, unlike the former
    // count()-then-collect() pair, evaluates an UNCACHED centroid plan
    // once, not twice.
    val cents = centroids.select(col("cid").cast("long").as("cid"),
      asDouble(col("cv")).as("cv"))
    val collected = cents.limit(MaxInlinedCentroids + 1).collect()
    if (collected.length <= MaxInlinedCentroids) {
      val cids = collected.map(_.getLong(0))
      val cvs = collected.map(_.getSeq[Double](1).toArray)
      // centroid norms: the same left-to-right self-dot fold + sqrt that
      // norm() computes, run driver-side on the same doubles
      val cnrms = cvs.map { cv =>
        var acc = 0.0; var i = 0
        while (i < cv.length) { acc += cv(i) * cv(i); i += 1 }
        math.sqrt(acc)
      }
      c.select(col("vec_id"), col("v"), col("nrm"),
          graft.functions.NearestCentroid.nearest_centroid(
            col("v"), col("nrm"), cids, cvs, cnrms).as("cell"))
        // empty codebook ⇒ null cell ⇒ no rows — the empty-join result
        .filter(col("cell").isNotNull)
    } else assignCellsJoined(c, centroids)
  }

  /** The join+aggregation assignment path (codebooks too large to
    * inline): one broadcast-centroid pass; the arg-max is
    * `max(struct(sim, -cid))`, whose partial step reduces the k·n scored
    * frame to one row per vector ON THE MAP SIDE (a row_number window
    * would shuffle every scored row with its vector payload). The buffer
    * holds only (double, long) — an array-bearing buffer would force
    * SortAggregate with interpreted array ordering (the r9 revert) — so
    * the vector re-attaches by one n-row equi-join.
    */
  private[graft] def assignCellsJoined(c: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cid"), col("cv")).withColumn("cnrm", norm(col("cv")))
    val best = c.join(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        cosineFromNorms(dot(col("v"), col("cv")), col("nrm"), col("cnrm")).as("sim"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("cid")).as("ncid"))).as("b"))
      .select(col("vec_id"), (-col("b.ncid")).as("cell"))
    c.join(best, Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
  }

  /** The query-side dual of [[assignCells]]: each query's `nProbe`
    * nearest cells (same cosine, same min-cid tie-break). Input `q`
    * must carry (query_id, qv, qnrm); centroids (cid, cv). Single
    * source for the probe convention — [[ivfTopK]] and [[ivfPqTopK]]
    * both ride it.
    */
  def probeCells(q: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame = {
    val cents = centroids.select(col("cid"), col("cv")).withColumn("cnrm", norm(col("cv")))
    q.join(broadcast(cents))
      .select(col("query_id"), col("qv"), col("qnrm"), col("cid"),
        cosineFromNorms(dot(col("qv"), col("cv")), col("qnrm"), col("cnrm")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("sim"), asc("cid"))))
      .filter(col("rk") <= nProbe)
      .select(col("query_id"), col("qv"), col("qnrm"), col("cid").as("cell"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication inside k-means cells — assign every vector to its
    * nearest centroid, score cosine only between cell-mates, and mark
    * every vector with a sufficiently-similar LOWER-id cell-mate as a
    * semantic duplicate (keep-lowest-id is the deterministic stand-in for
    * the paper's keep-one-per-cluster choice). This is the third
    * candidate-bucketing geometry beside hyperplane LSH
    * ([[embeddingNearDups]]) and minhash bands: pair work is Σ|cell|²,
    * never corpus², and k is the dial — k ∝ √n keeps cells ~√n and total
    * pair work ~n^1.5; a degenerate cell is the poison-bucket analog and
    * takes the same salting/cap treatment as Dedup's bands. Output one
    * row per corpus vector: (vec_id, cell, dup_of, is_semantic_dup) with
    * dup_of = the smallest similar lower id (null ⇒ kept).
    */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    // assignment is a corpus pass; three consumers (both cell-join sides
    // and the final labelling) would re-run it per reference — checkpoint
    // once, release after the output materializes
    val (cells, cellBlocks) =
      graft.dedup.Checkpoints.tracked(assignCells(c, centroids))
    val l = cells.select(col("cell"), col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val r = cells.select(col("cell"), col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val dups = l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(roundScore(cosineFromNorms(dot(col("va"), col("vb")), col("na"), col("nb")))
        >= threshold)
      .groupBy(col("id_b").as("vec_id")).agg(min(col("id_a")).as("dup_of"))
    val out = graft.dedup.Checkpoints.output(cells.select("vec_id", "cell")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNotNull.as("is_semantic_dup")))
    graft.dedup.Checkpoints.release(cellBlocks)
    out
  }

  /** Product-quantization ANN (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) — the
    * MEMORY-bound scale path beside [[lshTopK]] (hash-bound) and
    * [[ivfTopK]] (partition-bound): each vector is stored as m sub-space
    * code ids instead of dim floats (dim=64, m=8 → 8 small ints vs 256
    * bytes of float32 — the compression that fits trillion-row corpora
    * in memory). Search is asymmetric distance computation (ADC): per
    * query, ONE distance table of m·ksub exact sub-distances, then every
    * corpus vector scores as the sum of m table lookups — no vector math
    * against the corpus at all.
    *
    * Codebooks are deterministic stride samples of the corpus's own
    * sub-vectors (the [[ivfTopK]] convention — a production build would
    * k-means each sub-space), so the DuckDB oracle replays training,
    * encoding, and ADC digit-for-digit. Approximate distances sum m
    * doubles in EXPLICIT j order (array_sort(collect_list(struct(j,d)))
    * then a left fold — never a bare sum(), whose partial-aggregation
    * order is nondeterministic across engines AND runs).
    *
    * Search is the standard two-stage shape: ADC ranks EVERY corpus
    * vector from its codes alone and keeps a `shortlist` (default 50),
    * then the shortlist — and only the shortlist — is re-ranked with
    * exact L2² against the raw vectors. That split is the whole point
    * of PQ at scale: the full-corpus pass reads m bytes/row, the exact
    * pass reads `shortlist` full vectors per query. (On this synthetic
    * corpus, measured: ADC-only top-5 recall ~0.2 — uniform random
    * vectors have tiny neighbor margins that quantization noise swamps —
    * vs 0.70 with the 50-deep re-rank at the same codebooks.)
    *
    * Spark-first shape: encoding is one corpus pass against broadcast
    * codebooks; the per-query distance tables are |queries|·m·ksub rows
    * broadcast to the codes; scoring is an equi-join on (j, code) that
    * Catalyst partial-aggregates map-side. At 100 TB the codes column
    * (m bytes/row) is the ONLY corpus data the ADC stage reads — combine
    * with IVF cells (probe, then ADC within the cell) for IVF-PQ.
    *
    * PRECONDITION (the q22/q25/q30 family convention): `queries` must be
    * a subset of `corpus` — query sub-vectors and ADC tables are derived
    * from the corpus frame by id, so an id absent from the corpus gets
    * no table and silently contributes zero output rows.
    */
  /** A built PQ index: per-subspace codebooks (j, cid, scv) and the
    * encoded corpus (vec_id, j, cid). THE reusable artifact of PQ — a
    * production system trains/encodes once and serves every query batch
    * from it; [[pqTopK]] accepts one so callers (and the session cache)
    * stop re-encoding the corpus per query.
    */
  /** Carries the (m, dim) geometry it was built with: [[pqTopK]]
    * require()s they match the call's — a mismatched prebuilt index makes
    * the conditional-min ADC pivot yield null sub-distances and rows
    * silently vanish instead of failing.
    */
  final case class PqIndex(cb: DataFrame, codes: DataFrame, m: Int, dim: Int)

  /** Train codebooks and encode the corpus — the build stage of
    * [[pqTopK]], split out so the index can be materialized once and
    * served to many query batches. Same conventions as pqTopK (stride
    * codebooks, optional one-Lloyd-refinement training, fixed-ksub via
    * `codebookSize`); the encode arg-min is the map-side
    * min(struct(d, cid)) reduction (see [[assignCells]]).
    */
  def pqBuildIndex(corpus: DataFrame, m: Int = 8, dim: Int = 64,
                   centroidStride: Int = 10,
                   trainCodebooks: Boolean = false,
                   codebookSize: Option[Int] = None,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): PqIndex = {
    require(dim % m == 0, s"pqBuildIndex: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val e = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    // the sub-vector explode is a corpus pass with three consumers
    // (codebook sampling, the training assignment, the encode) —
    // checkpoint once so each reads materialized rows
    val (sub, subBlocks) = graft.dedup.Checkpoints.tracked(pqSubVectors(e, m, dsub))
    // `codebookSize` FIXES ksub (real PQ's convention — Jégou uses 256):
    // stride derives from the corpus count so training and encoding pair
    // work stay LINEAR in the corpus (ksub·n), where the raw
    // `centroidStride` convention grows the codebook — and the pair work
    // — quadratically (n/stride entries). Production path: always set it.
    val stride = codebookSize.fold(centroidStride.toLong) { ks =>
      math.max(1L, e.count() / ks)
    }
    // cb checkpoints BEFORE codes so the encode plans against the
    // materialized codebooks — checkpointing the lazy frames afterwards
    // (the former session-cache pattern) re-ran codebook training inside
    // the codes materialization, whose plan embeds pre-checkpoint lineage
    val (cb, _) = graft.dedup.Checkpoints.tracked(
      pqCodebooks(sub, stride, trainCodebooks, m))
    // encode: nearest sub-centroid per (vector, subspace), ties to min
    // cid. The checkpointed codebooks are driver-sized whenever
    // codebookSize caps ksub, so the default path inlines them into a
    // PqNearestCode projection (one map-side pass, no scored frame); the
    // broadcast-join + min(struct(d, cid)) partial aggregation (see
    // [[assignCellsJoined]] for the ordering equivalence) remains the
    // over-cap fallback.
    val (codes, _) = graft.dedup.Checkpoints.tracked(
      collectCodebooks(cb, m) match {
        case Some((ids, cvs)) =>
          sub.select(col("vec_id"), col("j"),
              graft.functions.NearestCentroid.pq_nearest_code(
                col("j"), col("sv"), ids, cvs).as("cid"))
            .filter(col("cid").isNotNull)
        case None =>
          sub.join(broadcast(cb), Seq("j"))
            .select(col("vec_id"), col("j"), col("cid"), pqSubL2.as("d"))
            .groupBy("vec_id", "j")
            .agg(min(struct(col("d"), col("cid"))).as("m"))
            .select(col("vec_id"), col("j"), col("m.cid").as("cid"))
      })
    graft.dedup.Checkpoints.release(subBlocks)
    PqIndex(cb, codes, m, dim)
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, dim: Int = 64, centroidStride: Int = 10,
             shortlist: Int = 50,
             idCol: String = "vec_id", vecCol: String = "embedding",
             candidates: Option[DataFrame] = None,
             trainCodebooks: Boolean = false,
             codebookSize: Option[Int] = None,
             index: Option[PqIndex] = None): DataFrame = {
    require(dim % m == 0, s"pqTopK: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val e = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    val sub = pqSubVectors(e, m, dsub)
    val subL2 = pqSubL2
    val idx = index.getOrElse(pqBuildIndex(corpus, m, dim, centroidStride,
      trainCodebooks, codebookSize, idCol, vecCol))
    require(idx.m == m && idx.dim == dim,
      s"pqTopK: prebuilt index geometry (m=${idx.m}, dim=${idx.dim}) " +
        s"does not match the call's (m=$m, dim=$dim)")
    val cb = idx.cb
    val codes = idx.codes
    // ADC tables: same sub-distance expression, but restrict to the
    // query sub-vectors BEFORE the codebook join — computing the full
    // dists frame twice would be a second whole-corpus pass (measured:
    // ~40% of q120's sf0.1 time before this cut)
    val qIds = queries.select(col(idCol).as("query_id"))
    val qt = sub.join(broadcast(qIds), col("vec_id") === col("query_id"))
      .join(broadcast(cb), Seq("j"))
      .select(col("query_id"), col("j"), col("cid"), subL2.as("d"))
    // approx distance = j-ordered fold of the m table lookups; an IVF
    // caller gates the pair space to its probed cells (left-semi on the
    // candidate pairs) BEFORE the aggregation
    val pairedAll = codes.join(broadcast(qt), Seq("j", "cid"))
      .filter(col("query_id") =!= col("vec_id"))
    val paired = candidates.fold(pairedAll)(c =>
      pairedAll.join(c.select("query_id", "vec_id"), Seq("query_id", "vec_id"), "left_semi"))
    // approx distance via an m-way conditional-min pivot: one codegen'd
    // HashAggregate (m scalar states/pair) instead of collect_list +
    // array_sort + fold (ObjectHashAggregate, per-row array allocs).
    // Each (pair, j) has exactly one d, so min(when(j=i, d)) IS that
    // lookup, and the explicit left-to-right sum 0.0+d0+…+d(m-1) adds in
    // the same j order as the sorted fold — bit-identical (d ≥ 0, so no
    // -0.0; IEEE addition order preserved).
    val scored = paired
      .groupBy("query_id", "vec_id")
      .agg((0 until m).map(i => min(when(col("j") === i, col("d"))).as(s"__d$i")).head,
        (0 until m).map(i => min(when(col("j") === i, col("d"))).as(s"__d$i")).tail: _*)
      .select(col("query_id"), col("vec_id"),
        roundScore((0 until m).foldLeft(lit(0.0))((acc, i) => acc + col(s"__d$i")))
          .as("approx_dist"))
    // shortlist selection through the `topk_structs` bounded heap — NOT
    // a row_number window: the ADC stage scores every corpus vector per
    // query (PQ's design), and a window over that stream shuffles |corpus|
    // rows into ONE partition per query and sorts them. The heap keeps
    // ≤shortlist entries per query through the partial/merge tree, so the
    // shuffle carries k-entry buffers and nothing sorts a full group.
    // Ascending struct(approx_dist, vec_id) is the window's order.
    val short = scored.groupBy("query_id")
      .agg(topk_structs(struct(col("approx_dist"), col("vec_id")), shortlist).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("e"))
      .select(col("query_id"), col("e.vec_id").as("vec_id"), col("e.approx_dist").as("approx_dist"))
    // exact re-rank of the shortlist only: |queries|·shortlist full-vector
    // distance evaluations — the raw-vector reads PQ exists to bound
    val qv = e.select(col("vec_id").as("query_id"), col("v").as("qvec"))
      .join(broadcast(qIds), Seq("query_id"))
    val exactL2 = l2sq(col("v"), col("qvec"))
    // broadcast the |queries|·shortlist frame into the corpus scan — the
    // corpus side never shuffles (at 100 TB, e is the table you cannot
    // move; the shortlist is always driver-sized)
    val reranked = e.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("approx_dist"),
        roundScore(exactL2).as("dist"))
    val w = Window.partitionBy("query_id").orderBy(asc("dist"), asc("vec_id"))
    reranked.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** (vec_id, j, sv): the m dsub-wide sub-vectors of every corpus vector. */
  private[graft] def pqSubVectors(e: DataFrame, m: Int, dsub: Int): DataFrame =
    e.select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("j"), col("v"))
      .select(col("vec_id"), col("j"),
        slice(col("v"), col("j") * dsub + 1, lit(dsub)).as("sv"))

  /** Exact L2² between the `sv` and `scv` columns of a joined sub-vector
    * × codebook frame. */
  private[graft] def pqSubL2: Column = l2sq(col("sv"), col("scv"))

  /** Per-subspace codebooks (j, cid, scv): stride-sampled sub-vectors
    * keyed by donor id — and, when `trainCodebooks`, ONE Lloyd refinement
    * per sub-space (the q68 pattern in each of the m sub-spaces
    * independently): assign every sub-vector to its nearest init centroid
    * (L2², min-cid ties), recompute each centroid as the quantized-exact
    * component mean (floor(x·1e6+0.5) integer sums — associative, so
    * bit-identical under any partition order AND in the DuckDB oracle
    * replay). Centroids whose cell empties drop out, exactly as in
    * [[kmeansCentroids]]. Lloyd's monotonicity holds per sub-space:
    * assignment then mean-update can only lower the quantization
    * objective Σ min_c d(sv, c)² (SimilaritySpec measures it on this
    * output).
    */
  /** Collect a (cid, j, scv) codebook frame into per-j arrays for the
    * inlined [[graft.functions.PqNearestCode]] argmin — None above the
    * [[MaxInlinedCentroids]] cap (total entries across subspaces), in
    * which case the broadcast-join path takes over. The count gates the
    * collect so an over-cap codebook never materializes on the driver.
    */
  private def collectCodebooks(cb: DataFrame, m: Int)
      : Option[(Array[Array[Long]], Array[Array[Array[Double]]])] = {
    if (cb.count() > MaxInlinedCentroids) return None
    val rows = cb.select(col("cid").cast("long"), col("j").cast("int"),
      asDouble(col("scv"))).collect()
    val byJ = rows.groupBy(_.getInt(1))
    val empty = Array.empty[org.apache.spark.sql.Row]
    Some((
      Array.tabulate(m)(j => byJ.getOrElse(j, empty).map(_.getLong(0))),
      Array.tabulate(m)(j => byJ.getOrElse(j, empty).map(_.getSeq[Double](2).toArray))))
  }

  private[graft] def pqCodebooks(sub: DataFrame, centroidStride: Long,
                                 trainCodebooks: Boolean, m: Int): DataFrame = {
    val cb0 = sub.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("cid"), col("j"), col("sv").as("scv"))
    if (!trainCodebooks) cb0
    else {
      // Lloyd assignment: the init codebooks are driver-sized whenever
      // codebookSize is set (ksub·m entries), so the default path inlines
      // them into a PqNearestCode projection — no m·ksub·n scored frame.
      // The join + min(struct(d, cid, sv)) (the [[assignCellsJoined]]
      // shape) remains the over-cap fallback; (d, cid) is unique per
      // (vec, j), so the struct's sv member never participates in the
      // comparison and both paths select identical codes (spec-pinned).
      val assigned = collectCodebooks(cb0, m) match {
        case Some((ids, cvs)) =>
          sub.select(col("j"),
              graft.functions.NearestCentroid.pq_nearest_code(
                col("j"), col("sv"), ids, cvs).as("cid"),
              col("sv"))
            .filter(col("cid").isNotNull)
        case None =>
          sub.join(broadcast(cb0), Seq("j"))
            .select(col("vec_id"), col("j"), col("sv"), col("cid"), pqSubL2.as("d"))
            .groupBy("vec_id", "j")
            .agg(min(struct(col("d"), col("cid"), col("sv"))).as("m"))
            .select(col("j"), col("m.cid").as("cid"), col("m.sv").as("sv"))
      }
      assigned
        .select(col("j"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("j", "cid", "pos")
        .agg((sum(floor(col("x") * lit(1e6) + lit(0.5))) /
          (lit(1e6) * count(lit(1)).cast("double"))).as("mn"))
        .groupBy("j", "cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("pm"))
        .select(col("j"), col("cid"), transform(col("pm"), e => e.getField("mn")).as("scv"))
    }
  }

  /** IVF-PQ (Jégou et al. TPAMI'11 §V) — the production trillion-scale
    * ANN composition: IVF restricts WHICH vectors each query scores
    * (nProbe nearest cells, the partition-bound dial), PQ decides HOW
    * each survivor is scored (m-code ADC, the memory-bound dial), and
    * the exact re-rank bounds the raw-vector reads to the shortlist.
    * At 100 TB the corpus is partitioned BY cell and stored as codes:
    * a query touches nProbe partitions and reads m bytes per vector —
    * both dials independent of corpus size.
    *
    * Implementation composes the proven parts: [[ivfTopK]]'s cell
    * assignment (stride centroids, cosine, min-cid ties) produces the
    * candidate pairs; [[pqTopK]] gates its ADC pair space with them
    * (left-semi before the aggregation). The DuckDB oracle replays the
    * whole composition.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nProbe: Int = 4, ivfStride: Int = 50,
                m: Int = 8, dim: Int = 64, pqStride: Int = 10,
                shortlist: Int = 50,
                idCol: String = "vec_id", vecCol: String = "embedding",
                centroidsOverride: Option[DataFrame] = None,
                trainCodebooks: Boolean = false,
                codebookSize: Option[Int] = None,
                index: Option[PqIndex] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    // stride-sampled cells by default; pass kmeansCentroids(...) output
    // for trained cells (the q68 pattern)
    val centroids = centroidsOverride.getOrElse(
      c.filter(col("vec_id") % ivfStride === 0)
        .select(col("vec_id").as("cid"), col("v").as("cv")))
    val corpusCells = assignCells(c, centroids).select("vec_id", "cell")
    // probe with the query vectors pulled from the corpus frame (the
    // family's queries-subset-of-corpus convention)
    val qv = c.join(broadcast(queries.select(col(idCol).as("query_id"))),
        col("vec_id") === col("query_id"))
      .select(col("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val qProbe = probeCells(qv, centroids, nProbe).select("query_id", "cell")
    val cands = corpusCells.join(broadcast(qProbe), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    pqTopK(corpus, queries, k, m, dim, pqStride, shortlist, idCol, vecCol,
      candidates = Some(cands), trainCodebooks = trainCodebooks,
      codebookSize = codebookSize, index = index)
  }
}
