package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.GraftShim

/** MinHash signature as a native Catalyst expression — ONE digest per
  * shingle, k universal-hash mixes per digest.
  *
  * Scheme: u(s) = the 52-bit md5 prefix of the shingle
  * ([[Md5Prefix52.hash52]] — the repo-wide sketch-hash convention), then
  * h_i(s) = (A_i · u(s) + B_i) mod p with p = 2^61 − 1 and fixed
  * coefficients [[MinHashSig.As]]/[[MinHashSig.Bs]]; the signature
  * component is min over shingles of h_i — numeric minima over BIGINTs.
  * The affine family over a Mersenne prime is the standard MinHash
  * construction (universal hashing; Broder'97, Indyk'99 analysis), and
  * it cuts digest work k-fold against the earlier h_i = md5(i || '|' ||
  * s) scheme: at k = 16 that scheme spent 16 md5 passes per SHINGLE —
  * the dominant cost of the whole LSH dedup build at corpus scale.
  *
  * Engine portability: the DuckDB oracle replays u(s) as the 13-hex-
  * nibble fold of md5(s) (exactly [[Md5Prefix52]]'s contract) and the
  * mix as `(CAST(A AS HUGEINT) * u + B) % p` — 128-bit-exact, so every
  * signature component crosses the engine boundary bit-identically. The
  * oracle SQL is generated FROM [[MinHashSig.As]]/[[MinHashSig.Bs]]
  * (OracleCatalog reads these fields), so the coefficients have one
  * source of truth.
  *
  * The JVM mix avoids 128-bit division: with a < p < 2^61 and u < 2^52,
  * a·u < 2^113; Math.multiplyHigh gives the exact high word, and
  * 2^64 ≡ 8, 2^61 ≡ 1 (mod p) fold the product into [0, p) with shifts
  * and adds (Mersenne reduction). Bit-equality with the BigInteger
  * definition is property-pinned in TextDedupSpec.
  *
  * CodegenFallback keeps the per-row work (|shingles| digests +
  * k·|shingles| long mixes) in interpreted `eval`, where codegen's
  * per-row dispatch savings are small beside it. The price is the
  * operator, not the expression: Spark's `CollapseCodegenStages` takes
  * any operator holding a CodegenFallback expression out of whole-stage
  * codegen, so its Project or Filter runs unfused in a stage of its own
  * (see [[SimHash64]], which generates a static call to avoid that).
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k <= MinHashSig.MaxK, s"minhash_sig: k=$k exceeds ${MinHashSig.MaxK}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // null on empty input (below) makes the expression nullable even over a
  // non-null child — the SQL-registered surface must match the oracle's
  // NULL-on-empty (list_min of an empty list), not a sentinel
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n   = arr.numElements()
    // empty shingle arrays are unreachable under shingleSet's short-doc
    // convention (always >= 1 gram), but the expression is SQL-registered
    // so direct callers can reach it: return null — min over an empty set
    // is undefined, and a Long.MaxValue sentinel is outside [0, P) and
    // diverges from the oracle's NULL
    if (n == 0) return null
    val as  = MinHashSig.As
    val bs  = MinHashSig.Bs
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val u = Md5Prefix52.hash52(arr.getUTF8String(j))
      var i = 0
      while (i < k) {
        val h = MinHashSig.mix(as(i), bs(i), u)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** [[MinHashSig]] fused with the shingle construction: takes the TOKEN
  * array and slides the n-gram window natively, feeding each window's
  * bytes (token bytes joined by a single 0x20) straight into the
  * streaming md5 — the gram STRING never materializes. The zip_with
  * concat chain that built shingle strings was the signature path's
  * dominant cost (0.67s of the 0.73s sf0.1 corpus pass; fused ~0.25s).
  *
  * Signature equality with `MinHashSig(shingleSet(text, n), k)` is
  * EXACT: md5 over streamed (token, ' ', token, …) bytes equals md5 of
  * the joined string; iterating window OCCURRENCES instead of the
  * distinct set cannot move a component (min over a multiset equals min
  * over its support); and a short doc's single whole-text window is
  * [[graft.dedup.Dedup.shingles]]'s short-doc convention. Pinned by
  * TextDedupSpec against the composed form. CodegenFallback with the
  * same trade as [[MinHashSig]], its operator included: it leaves
  * whole-stage codegen. Empty token array → null (the oracle's
  * convention), though whitespace tokenization never produces one.
  */
case class MinHashSigTokens(child: Expression, n: Int, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"minhash_sig_tokens: n=$n must be >= 1")
  require(k <= MinHashSig.MaxK, s"minhash_sig_tokens: k=$k exceeds ${MinHashSig.MaxK}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val t = arr.numElements()
    // T = 0 can only arrive from a literal empty array (whitespace
    // tokenization of "" yields [""]); mirror MinHashSig's null-on-empty
    if (t == 0) return null
    val bytes = new Array[Array[Byte]](t)
    var i = 0
    while (i < t) {
      bytes(i) = if (arr.isNullAt(i)) Array.emptyByteArray
                 else arr.getUTF8String(i).getBytes
      i += 1
    }
    val w = if (t < n) t else n
    val m = t - w + 1
    val as = MinHashSig.As
    val bs = MinHashSig.Bs
    val mins = Array.fill(k)(Long.MaxValue)
    val md = Md5Prefix52.digest()
    i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < w) {
        if (j > 0) md.update(0x20.toByte)
        md.update(bytes(i + j))
        j += 1
      }
      val u = Md5Prefix52.fold52(md.digest())
      var c = 0
      while (c < k) {
        val h = MinHashSig.mix(as(c), bs(c), u)
        if (h < mins(c)) mins(c) = h
        c += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigTokens =
    copy(child = newChild)
}

object MinHashSig {
  /** 2^61 − 1 (Mersenne prime) — the mix modulus. */
  val P: Long = (1L << 61) - 1

  val MaxK = 32

  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Fixed mix coefficients, derived from a splitmix64 stream so they are
    * reproducible from this file alone: A_i ∈ [1, p), B_i ∈ [0, p). */
  val As: Array[Long] = Array.tabulate(MaxK)(i => (splitmix64(2L * i) >>> 3) % (P - 1) + 1)
  val Bs: Array[Long] = Array.tabulate(MaxK)(i => (splitmix64(2L * i + 1) >>> 3) % P)

  /** (a·u + b) mod p, exact for a < p, u < 2^52, b < p — Mersenne
    * reduction of the 128-bit product (2^64 ≡ 8, 2^61 ≡ 1 mod p). */
  def mix(a: Long, b: Long, u: Long): Long = {
    val hi = Math.multiplyHigh(a, u) // both operands positive: exact unsigned high word
    val lo = a * u                   // wrapping low 64 bits
    var r = hi * 8 + (lo >>> 61) + (lo & P)
    r = (r & P) + (r >>> 61)
    if (r >= P) r -= P
    r += b
    if (r >= P) r -= P
    r
  }

  /** Column wrapper: shingles array<string> → array<long> of k minima. */
  def minhash_sig(shingles: Column, k: Int): Column =
    GraftShim.column(MinHashSig(GraftShim.expression(shingles), k))

  /** Column wrapper for the fused path: tokens array<string> →
    * array<long> of k minima over the n-gram windows. */
  def minhash_sig_tokens(tokens: Column, n: Int, k: Int): Column =
    GraftShim.column(MinHashSigTokens(GraftShim.expression(tokens), n, k))
}
