package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.dedup.Dedup

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column): Any =
    Seq(text).toDF("text").select(c).head().get(0)

  test("tokenCount: whitespace runs, empty and padded strings") {
    assert(one("a b  c", TextOps.tokenCount(col("text"))) == 3)
    assert(one("", TextOps.tokenCount(col("text"))) == 0)
    assert(one("   ", TextOps.tokenCount(col("text"))) == 0)
    assert(one("  x  ", TextOps.tokenCount(col("text"))) == 1)
  }

  test("bpeishCount: letter runs, digit runs, single symbols") {
    assert(one("hello world42!", TextOps.bpeishCount(col("text"))) == 4) // hello, world, 42, !
  }

  test("qualityScore in [0,1]; stopword-rich beats symbol soup") {
    val good = one("the cat sat on the mat and it is nice to see", TextOps.qualityScore(col("text"))).asInstanceOf[Double]
    val bad  = one("@#$% ^&*( !!! ??? 123 456", TextOps.qualityScore(col("text"))).asInstanceOf[Double]
    assert(good > bad && good <= 1.0 && bad >= 0.0)
  }

  test("langId picks marker-matching language, 'und' when none") {
    assert(one("der hund und die katze ist nicht da", TextOps.langId(col("text"))) == "de")
    assert(one("the cat and the dog is here", TextOps.langId(col("text"))) == "en")
    assert(one("el perro y la casa es que por", TextOps.langId(col("text"))) == "es")
    assert(one("le chien et la maison est pour dans", TextOps.langId(col("text"))) == "fr")
    assert(one("zzz qqq www", TextOps.langId(col("text"))) == "und")
  }

  test("fingerprint is whitespace/case-invariant (canonical token stream)") {
    val a = one("Hello   World", TextOps.fingerprint(col("text")))
    val b = one("  hello world ", TextOps.fingerprint(col("text")))
    val c = one("hello worlds", TextOps.fingerprint(col("text")))
    assert(a == b && a != c)
  }

  test("shingles: n-gram window and short-text fallback") {
    def shinglesOf(t: String): Seq[String] =
      Seq(t).toDF("text").select(Dedup.shingles(col("text"), 3).as("sh"))
        .head().getSeq[String](0).toList
    assert(shinglesOf("a b c d") == Seq("a b c", "b c d"))
    assert(shinglesOf("a b") == Seq("a b"))
  }

  test("shingleHashSet is the shingleSet identity: sizes and pairwise intersections match") {
    // texts spanning the conventions: normal windows, short-doc (<n) whole-doc
    // gram, repeated grams (distinct must collapse), case/whitespace noise
    val texts = Seq(
      "a b c d e f",
      "a b c d e f",          // exact dup of the first
      "A  b C d e G",         // case + spacing noise, one token changed
      "x y",                  // short doc (< n): whole-doc gram
      "x y",                  // matching short doc
      "a b c a b c a b c",    // repeated grams
      "q r s t u v w"
    )
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val n = 3
    val strs = docs.select(col("doc_id"), explode(Dedup.shingleSet(col("text"), n)).as("g"))
    val hshs = docs.select(col("doc_id"), explode(Dedup.shingleHashSet(col("text"), n)).as("g"))
    // per-doc distinct-set sizes identical
    def sizes(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("doc_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes(strs) == sizes(hshs))
    // pairwise intersection cardinalities identical (the Jaccard inputs)
    def inter(df: org.apache.spark.sql.DataFrame) =
      df.as("a").join(df.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(inter(strs) == inter(hshs))
  }

  test("sortedJaccard edge cases: empty docs, identical docs, disjoint docs") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, "a b c d"), (4L, "a b c d"), (5L, "x y z w"))
      .toDF("doc_id", "text")
    val sets = docs.select(col("doc_id"),
      sort_array(Dedup.shingleHashSet(col("text"), 3)).as("sh"))
    def j(a: Long, b: Long): Double = sets.as("l").join(sets.as("r"),
        col("l.doc_id") === a && col("r.doc_id") === b)
      .select(Dedup.sortedJaccard(col("l.sh"), col("r.sh"))).head().getDouble(0)
    assert(j(1L, 2L) == 1.0, "empty and whitespace-only docs share the empty-token whole-doc gram")
    assert(j(3L, 4L) == 1.0)
    assert(j(3L, 5L) == 0.0)
    assert(j(1L, 3L) == 0.0)
  }

  test("exactDedup groups identical canonical text, keeps min id") {
    val docs = Seq((1L, "Hello  world"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L))) // (keep_id, dup_count)
  }

  test("minhash: identical docs identical sigs; near-dups mostly agree; disjoint don't") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val far  = (100 to 160).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"), Dedup.minhashSignature(col("text"), 3, 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    val agreeNear = sigs(1L).zip(sigs(3L)).count { case (x, y) => x == y }
    val agreeFar  = sigs(1L).zip(sigs(4L)).count { case (x, y) => x == y }
    assert(agreeNear >= 12, s"near-dup should agree on most minhash rows, got $agreeNear/16")
    assert(agreeFar == 0, "disjoint shingle sets should share no minima")
  }

  test("fused token-window signature is bit-identical to the composed shingleSet form") {
    // real corpus slice + adversarial shorts: below/at/above the window
    // size, duplicate windows (the multiset-vs-set min equivalence),
    // multi-space runs collapsed by tokenization
    val edge = Seq((9001L, "a"), (9002L, "a b c"), (9003L, "a b c d"),
      (9004L, "x y x y x y x y"), (9005L, "  padded   spaces  here   "),
      // multibyte tokens: the streamed-bytes md5 must equal md5 of the
      // joined string's UTF-8 encoding
      (9006L, "héllo wörld ∑ tokens überall ça va bien 日本語 テスト"))
      .toDF("doc_id", "text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").union(edge)
    val bad = docs.select(
        Dedup.minhashSignature(col("text"), 3, 16).as("fused"),
        graft.functions.MinHashSig.minhash_sig(
          Dedup.shingleSet(col("text"), 3), 16).as("composed"))
      .filter(not(col("fused") === col("composed")))
      .count()
    assert(bad == 0L, s"$bad docs diverge between fused and composed signatures")
  }

  test("minhash signature expressions return null on an empty shingle/token array") {
    // the oracle's convention (list_min of an empty list is NULL) — both
    // the shingle-array surface and the fused token surface must match
    graft.functions.GraftFunctions.register(spark)
    val row = spark.sql(
      "SELECT minhash_sig(CAST(array() AS ARRAY<STRING>), 4) AS a").head()
    assert(row.isNullAt(0), "minhash_sig(empty) must be null")
    val fused = Seq(Tuple1(Array.empty[String])).toDF("t")
      .select(graft.functions.MinHashSig.minhash_sig_tokens(col("t"), 3, 4))
      .head()
    assert(fused.isNullAt(0), "minhash_sig_tokens(empty) must be null")
  }

  test("minhashCandidatePairs surfaces exact and near duplicates") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, "totally different text here")).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("nearDupPairs verifies candidates with true Jaccard threshold") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, "x y z")).toDF("doc_id", "text")
    val out = Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("jaccard: identity, disjoint, empty") {
    val df = Seq((Seq("a", "b"), Seq("a", "b")), (Seq("a"), Seq("b")), (Seq[String](), Seq[String]()))
      .toDF("a", "b")
    val vals = df.select(Dedup.jaccard(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(vals.toSeq == Seq(1.0, 0.0, 0.0))
  }

  test("simhash: identical → distance 0; near → small; different → large") {
    val base = (1 to 100).map(i => s"tok$i").mkString(" ")
    val near = (1 to 100).map(i => if (i % 50 == 0) s"CHANGED$i" else s"tok$i").mkString(" ")
    val far  = (500 to 600).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("id", "text")
      .select(col("id"), Dedup.simhash64(col("text")).as("h"))
    val h = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) == 0)
    assert(ham(h(1L), h(3L)) < 16, s"near docs hamming=${ham(h(1L), h(3L))}")
    assert(ham(h(1L), h(4L)) > 16, s"far docs hamming=${ham(h(1L), h(4L))}")
  }

  test("rollingHash matches a JVM-computed polynomial hash; empty text → 0") {
    def jvmHash(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 1000000007L)
    val s = "the quick brown fox"
    assert(one(s, TextOps.rollingHash(col("text"))) == jvmHash(s))
    assert(one("", TextOps.rollingHash(col("text"))) == 0L)
  }

  test("minWindowHash is the min polynomial hash over 16-char windows") {
    def jvmHash(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 1000000007L)
    val s = "the quick brown fox jumps over the lazy dog"
    val expect = (0 to s.length - 16).map(i => jvmHash(s.substring(i, i + 16))).min
    assert(one(s, TextOps.minWindowHash(col("text"), 16)) == expect)
    // shorter than one window: hash of the whole (truncated) text
    assert(one("short", TextOps.minWindowHash(col("text"), 16)) == jvmHash("short"))
  }

  test("minhashCandidatePairs maxBucket salting preserves full recall on poison buckets") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    // 20 identical docs → a poison 20-doc bucket in every band; plus a pair
    val hot  = (1L to 20L).map(i => (i, base))
    val pair = Seq((100L, "x y z w v u t s"), (101L, "x y z w v u t s"))
    val df = (hot ++ pair).toDF("doc_id", "text")
    val uncapped = Dedup.minhashCandidatePairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 190 + 1) // C(20,2) hot pairs + the planted pair
    // triangle-block salting: capped result is IDENTICAL to uncapped —
    // every pair of the poison bucket survives, no task sees >2·maxBucket
    // docs (the old skip-based cap returned only the small bucket's pair)
    val capped = Dedup.minhashCandidatePairs(df, "doc_id", "text", maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped, s"salting must preserve recall: ${capped.size} vs ${uncapped.size}")
  }

  /** (doc_a, doc_b, hamming) rows of [[Dedup.simhashNearDups]], as a list
    * (duplicates kept), and the brute-force reference over every row pair
    * of the input: doc_a < doc_b, hamming <= 3, distinct. */
  private def simhashRows(df: org.apache.spark.sql.DataFrame, maxBucket: Int = Int.MaxValue) = {
    val got = Dedup.simhashNearDups(df, "doc_id", "text", maxBucket = maxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    val hs = df.select(col("doc_id"), Dedup.simhash64(col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ref = (for { (a, ha) <- hs; (b, hb) <- hs if a < b
                     d = java.lang.Long.bitCount(ha ^ hb) if d <= 3 } yield (a, b, d)).toSet
    (got, ref, hs.toMap)
  }

  test("simhashNearDups: a pair agreeing on several bands appears once") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val far  = (500 to 560).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("doc_id", "text")
    val (got, ref, h) = simhashRows(df)
    def bands(a: Long, b: Long) =
      (0 until 4).count(k => ((h(a) ^ h(b)) >>> (16 * k) & 0xffffL) == 0L)
    assert(bands(1L, 2L) == 4, "identical texts agree on every band")
    assert(got.contains((1L, 2L, 0)))
    assert(got.size == got.distinct.size, s"a pair was emitted more than once: $got")
    assert(got.toSet == ref, s"got $got, brute force $ref")
  }

  test("simhashNearDups maxBucket salting gives the uncapped rows on a poison bucket") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    // 20 identical docs → a poison 20-doc bucket in every band; plus a pair
    val hot  = (1L to 20L).map(i => (i, base))
    val pair = Seq((100L, "x y z w v u t s"), (101L, "x y z w v u t s"))
    val df = (hot ++ pair).toDF("doc_id", "text")
    val (uncapped, ref, _) = simhashRows(df)
    assert(uncapped.size == 190 + 1) // C(20,2) hot pairs + the planted pair
    assert(uncapped.toSet == ref)
    val (capped, _, _) = simhashRows(df, maxBucket = 2)
    assert(capped.sorted == uncapped.sorted,
      s"salting must give the uncapped rows: ${capped.size} vs ${uncapped.size}")
  }

  test("simhashNearDups keeps DISTINCT rows when doc ids repeat") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    // doc 1 appears three times (twice verbatim), doc 2 twice: several row
    // pairs of docs 1 and 2 share one (doc_a, doc_b, hamming) row
    val df = Seq((1L, base), (1L, base), (1L, near), (2L, base), (2L, near), (3L, base))
      .toDF("doc_id", "text")
    val (got, ref, _) = simhashRows(df)
    assert(got.size == got.distinct.size, s"duplicate rows: $got")
    assert(got.toSet == ref, s"got $got, brute force $ref")
    assert(ref.contains((1L, 2L, 0)) && ref.contains((1L, 3L, 0)))
  }

  test("minhash_sig is SQL-callable after GraftFunctions.register") {
    graft.functions.GraftFunctions.register(spark)
    val row = spark.sql(
      "SELECT minhash_sig(array('a b c', 'b c d'), 4) AS sig").head()
    val viaColumn = Seq(Seq("a b c", "b c d")).toDF("sh")
      .select(graft.functions.MinHashSig.minhash_sig(col("sh"), 4).as("sig")).head()
    assert(row.getSeq[Long](0) == viaColumn.getSeq[Long](0))
    assert(row.getSeq[Long](0).forall(v => v >= 0L && v < graft.functions.MinHashSig.P))
  }

  test("minhash mix equals the BigInteger definition (Mersenne reduction exactness)") {
    import graft.functions.MinHashSig
    val P = java.math.BigInteger.valueOf(MinHashSig.P)
    val rng = new scala.util.Random(41)
    for (_ <- 1 to 2000) {
      val i = rng.nextInt(MinHashSig.MaxK)
      val a = MinHashSig.As(i); val b = MinHashSig.Bs(i)
      val u = rng.nextLong() >>> 12 // any 52-bit value
      val expect = java.math.BigInteger.valueOf(a)
        .multiply(java.math.BigInteger.valueOf(u))
        .add(java.math.BigInteger.valueOf(b)).mod(P).longValueExact()
      assert(MinHashSig.mix(a, b, u) == expect, s"a=$a b=$b u=$u")
    }
    // coefficient domains: the oracle SQL embeds these as literals
    assert(MinHashSig.As.forall(a => a >= 1 && a < MinHashSig.P))
    assert(MinHashSig.Bs.forall(b => b >= 0 && b < MinHashSig.P))
  }

  test("simhash64 and min_window_hash are SQL-callable after GraftFunctions.register") {
    graft.functions.GraftFunctions.register(spark)
    val sqlRow = spark.sql(
      "SELECT simhash64(array('a', 'b')) AS sh, min_window_hash('the quick brown fox', 16) AS mw").head()
    val colRow = Seq(("x")).toDF("t").select(
      Dedup.simhash64(lit("a b")).as("sh"),
      TextOps.minWindowHash(lit("the quick brown fox"), 16).as("mw")).head()
    assert(sqlRow.getLong(0) == colRow.getLong(0))
    assert(sqlRow.getLong(1) == colRow.getLong(1))
  }

  test("hamming64 column matches JVM bitCount") {
    val df = Seq((0x0fL, 0xf0L)).toDF("a", "b")
    assert(df.select(Dedup.hamming64(col("a"), col("b"))).head().getInt(0) == 8)
  }

  test("prefixDups: planted strict prefixes flagged, exact dups and non-prefixes not") {
    val docs = Seq(
      (1L, "the quick brown fox"),                 // strict prefix of 2 and 3
      (2L, "the quick brown fox jumps over"),      // strict prefix of 3
      (3L, "the quick brown fox jumps over dogs"), // longest host, prefix of nobody
      (4L, "the quick brown fox"),                 // EXACT dup of 1 — not a strict prefix... of 2 and 3 it IS
      (5L, "quick brown the fox"),                 // same tokens, different order
      (6L, "an unrelated document entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.prefixDups(docs, "doc_id", "text", maxPrefixLen = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    // 1 and 4 share the same text: each is a strict prefix of 2 and 3
    // (equal-length twins never host each other)
    assert(out(1L) == (2L, true), s"doc 1: ${out(1L)}")
    assert(out(4L) == (2L, true), s"doc 4: ${out(4L)}")
    // 2 is a strict prefix of 3 only
    assert(out(2L) == (1L, true), s"doc 2: ${out(2L)}")
    // 3, 5, 6: prefixes of nothing
    assert(out(3L) == (0L, false) && out(5L) == (0L, false) && out(6L) == (0L, false))
  }

  test("containment is a superset of prefix dups (q98 with n >= 8 implies q100 flag)") {
    // a full-text strict prefix IS a verbatim infix — every q98 hit in
    // q100's candidate band must be flagged by the containment query
    import graft.queries.{QueryCatalog => Q}
    val pre = Q.prefixDups(spark, sf)
      .filter(col("is_prefix_dup") && col("n_tokens") >= 8 && col("n_tokens") <= 64)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val con = Q.containmentDups(spark, sf)
      .filter(col("is_contained"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pre.nonEmpty, "fixture corpus should contain at least one prefix dup in band")
    assert(pre.subsetOf(con), s"prefix dups missed by containment: ${pre -- con}")
  }

  test("prefixDups: candidates above maxPrefixLen are excluded from the output") {
    val long = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, long), (2L, long + " tail")).toDF("doc_id", "text")
    val out = Dedup.prefixDups(docs, "doc_id", "text", maxPrefixLen = 10).collect()
    assert(out.isEmpty, s"docs above the candidate cap must not be emitted: ${out.toSeq}")
  }
}
