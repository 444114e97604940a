package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Deterministic sf1 fixture generator — 10× the driver's sf0.1 tables,
  * for the LOCAL scale-validation runs SCALE.md's 100×-claims are
  * checked against (r10 verdict item 1). NOT driver data: the driver's
  * testdata is read-only and tops out at sf0.1; this writes an sf1
  * directory inside the repo (gitignored) with the same schemas and the
  * same statistical shape, so per-query growth vs sf0.1 is interpretable.
  *
  * Everything is CONTENT-ADDRESSED (splitmix64 of ids — no RNG state):
  * any partitioning, any rerun, same bytes.
  *
  *  - TPC-H-ish tables: 10 key-shifted replicas of sf0.1 (offset 10M per
  *    replica — every key domain at sf0.1 is far below that, so replicas
  *    are collision-free and self-consistent: lineitem r joins orders r,
  *    orders r joins customer r). Timestamps stay as-is — the calendar
  *    does not grow with data (dim_datetime stays ~2.4k rows, exactly the
  *    warehouse shape). region/nation copy unchanged.
  *  - documents: 50k fresh docs mirroring the driver generator's shape
  *    (30-word vocab, 8..104-word uniform lengths, lang mix en .41 /
  *    de .14 / es .15 / fr .15 / zh .15, 20 uniform sources, 5% near-dup
  *    docs = a base doc's text + " dup" — the driver's exact dup scheme,
  *    so candidate/verified-pair density tracks sf0.1 and pair-generating
  *    queries grow with corpus, not quadratically by construction).
  *  - embeddings: 20k unit 64-d vectors, 10 uniform labels, weak label
  *    centroid bias (avg cos-to-centroid ≈ 0.07, matching sf0.1).
  */
object GenScale {

  // splitmix64 over (seed/tag, x) — the engine-wide no-RNG convention
  private def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def h(id: Long, tag: Long): Long = mix(mix(id) ^ tag)
  private def pm(x: Long, m: Int): Int = (((x % m) + m) % m).toInt

  private val Vocab = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "de", "es", "fr", "zh")
  // cumulative permille thresholds ≈ sf0.1 proportions
  private val LangCut = Array(412, 552, 701, 849, 1000)

  private def isDup(i: Long, n: Long): Boolean =
    i >= 20 && pm(h(i, 0xD0BL), 20) == 0 // 5%; first ids stay base docs

  private def baseText(i: Long): String = {
    val nWords = 8 + pm(h(i, 0x1E4L), 97)
    val sb = new StringBuilder
    var k = 0
    while (k < nWords) {
      if (k > 0) sb.append(' ')
      sb.append(Vocab(pm(h(i * 131 + k, 0x30DL), Vocab.length)))
      k += 1
    }
    sb.toString
  }

  /** Heaps-law variant: vocabulary GROWS with corpus size (V = ⌈0.44·n^0.5⌉,
    * anchored so V(5000) = 31 — the driver corpus' vocab at sf0.1), which is
    * what any real crawl does and what the fixed-31-word driver corpus does
    * NOT. Used by the r11 scale diagnosis to separate engine behavior from
    * corpus saturation: at sf1 the fixed-vocab corpus saturates its 31³ gram
    * space (per-gram df grows ~10×, prefix-join candidates ~quadratic), while
    * this corpus keeps per-gram df roughly flat (V³ grows ~n^1.5, so
    * candidates Σdf² ~ n²/V³ ~ n^0.5 — sublinear). Same length distribution,
    * same 5% dup scheme, words drawn uniformly from the grown vocab.
    */
  private def heapsBaseText(i: Long, vocabSize: Int): String = {
    val nWords = 8 + pm(h(i, 0x1E4L), 97)
    val sb = new StringBuilder
    var k = 0
    while (k < nWords) {
      if (k > 0) sb.append(' ')
      sb.append("w").append(pm(h(i * 131 + k, 0x8EA5L), vocabSize))
      k += 1
    }
    sb.toString
  }

  private def heapsDocText(i: Long, n: Long, vocabSize: Int): String =
    if (!isDup(i, n)) heapsBaseText(i, vocabSize)
    else {
      var j = (h(i, 0xBA5EL) & Long.MaxValue) % n
      while (j == i || isDup(j, n)) j = (j + 1) % n
      heapsBaseText(j, vocabSize) + " dup"
    }

  /** The Heaps-law corpus as an in-memory (doc_id, text) frame — the
    * exact text function the `documents_heaps` fixture is written from,
    * exposed so HeapsGrowthSpec can pin the sublinear-candidate claim
    * (prefix-join candidates grow ~n^0.5 on this corpus) against the
    * SAME generator without depending on the gitignored sf fixtures.
    * V(5000) = ceil(0.44·sqrt(5000)) = 32 anchors the vocabulary to
    * (approximately) the driver corpus' 31-word sf0.1 vocab, so the two
    * corpora differ ONLY in vocabulary growth (the r12 advisory: the
    * anchor is ±1 of the fixed vocab by the constant's rounding; both
    * the fixture and HeapsGrowthSpec derive from THIS formula, so the
    * byte-identity of the corpus is unaffected).
    */
  def heapsCorpus(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    val v = math.ceil(0.44 * math.sqrt(nDocs.toDouble)).toInt
    spark.range(0, nDocs, 1, 32)
      .map(i => (i, heapsDocText(i, nDocs, v)))
      .toDF("doc_id", "text")
  }

  private def docText(i: Long, n: Long): String =
    if (!isDup(i, n)) baseText(i)
    else {
      // dup docs copy a BASE doc (never another dup — no chains), like
      // the driver's pair scheme
      var j = (h(i, 0xBA5EL) & Long.MaxValue) % n
      while (j == i || isDup(j, n)) j = (j + 1) % n
      baseText(j) + " dup"
    }

  private def gaussian(id: Long, tag: Long): Double = {
    // Box-Muller from two uniform hashes; u1 in (0,1]
    val u1 = ((h(id, tag) >>> 11).toDouble + 1.0) / (1L << 53).toDouble
    val u2 = (h(id, tag ^ 0x5ca1abL) >>> 11).toDouble / (1L << 53).toDouble
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/testdata-sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-list of table names to write (r18 — the
    // ssjoin first-warn cell needs ONLY a big documents table; writing
    // a full sf20 lineitem for it would be 120M wasted rows)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val nDocs = 5000L * replicas
    val nVecs = 2000L * replicas
    val spark = graft.Harness.session(16)
    import spark.implicits._

    def write(df: => DataFrame, name: String): Unit =
      if (only.forall(_.contains(name))) {
        df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
        println(s"[gen] $name: ${Tables.parquet(spark, s"$out/$name.parquet").count()} rows")
      } else println(s"[gen] $name: skipped (not in table filter)")

    val OFF = 10000000L
    def replicate(name: String, keyCols: Seq[String]): DataFrame = {
      val base = Tables.parquet(spark, s"$src/$name.parquet")
      (0 until replicas).map { r =>
        keyCols.foldLeft(base) { (d, c) =>
          d.withColumn(c, col(c) + lit(r * OFF)) }
      }.reduce(_.unionAll(_))
    }

    // fixed-size dims copy unchanged
    write(Tables.parquet(spark, s"$src/region.parquet"), "region")
    write(Tables.parquet(spark, s"$src/nation.parquet"), "nation")
    write(replicate("customer", Seq("c_custkey")), "customer")
    write(replicate("supplier", Seq("s_suppkey")), "supplier")
    write(replicate("part", Seq("p_partkey")), "part")
    write(replicate("orders", Seq("o_orderkey", "o_custkey")), "orders")
    write(replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate("events", Seq("event_id", "user_id")), "events")

    val docs = spark.range(0, nDocs, 1, 32).map { i =>
      val text = docText(i, nDocs)
      val lang = {
        val p = pm(h(i, 0x1A6L), 1000)
        Langs(LangCut.indexWhere(p < _))
      }
      (i, text, lang, s"src${pm(h(i, 0x5ECL), 20)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    write(docs, "documents")

    // Heaps-law twin corpus (see heapsBaseText): same schema/rows/dups,
    // vocabulary grown with n — the control group for the q142 diagnosis.
    val vHeaps = math.ceil(0.44 * math.sqrt(nDocs.toDouble)).toInt
    val docsHeaps = spark.range(0, nDocs, 1, 32).map { i =>
      val text = heapsDocText(i, nDocs, vHeaps)
      val lang = {
        val p = pm(h(i, 0x1A6L), 1000)
        Langs(LangCut.indexWhere(p < _))
      }
      (i, text, lang, s"src${pm(h(i, 0x5ECL), 20)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    write(docsHeaps, "documents_heaps")

    val dim = 64
    val centroids: Array[Array[Double]] = Array.tabulate(10) { lab =>
      val g = Array.tabulate(dim)(d => gaussian(lab * 1000L + d, 0xCE27L))
      val n = math.sqrt(g.map(x => x * x).sum)
      g.map(_ / n)
    }
    val vecs = spark.range(0, nVecs, 1, 32).map { i =>
      val lab = pm(h(i, 0x1AB5EL), 10)
      val c = centroids(lab)
      val g = Array.tabulate(dim)(d => gaussian(i * 64L + d, 0xE3BL) + 0.56 * c(d))
      val n = math.sqrt(g.map(x => x * x).sum)
      (i, g.map(x => (x / n).toFloat), lab)
    }.toDF("vec_id", "embedding", "label")
    write(vecs, "embeddings")

    spark.stop()
  }
}
