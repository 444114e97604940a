package graft

import org.apache.spark.sql.functions._
import graft.dedup.{Components, Dedup}

/** Degenerate-input behavior of the operator library: empty corpora,
  * empty edge sets, constant columns, empty documents. At 100 TB these
  * aren't hypothetical — a partition, a tenant, or a day WILL be empty,
  * and an operator that NPEs or returns the wrong shape on empty input
  * fails the whole job.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emptyDocs =
    Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup family on an empty corpus: empty results, correct schemas, no failure") {
    assert(Dedup.exactDedup(emptyDocs, "doc_id", "text").count() == 0)
    val pairs = Dedup.minhashCandidatePairs(emptyDocs, "doc_id", "text")
    assert(pairs.columns.toSeq == Seq("doc_a", "doc_b") && pairs.count() == 0)
    assert(Dedup.nearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simhashNearDups(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("bloom filter over an empty build side: flags nothing, never errors") {
    val bytes = graft.functions.BloomFilters.build(
      emptyDocs, col("text"), expectedItems = 1000, numBits = 1 << 13)
    // Spark's BloomFilterAggregate yields NULL over zero rows; the API
    // contract is that a null filter behaves as the empty set
    assert(bytes == null)
    val probe = Seq((1L, "anything")).toDF("doc_id", "text")
    assert(probe.filter(graft.functions.BloomFilters.mightContain(bytes, col("text"))).count() == 0,
      "an empty filter must not flag any probe")
  }

  test("pagerank with no edges: every vertex sits exactly at the teleport rank") {
    val vertices = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges    = Seq.empty[(Long, Long)].toDF("src", "dst")
    val ranks = graft.graph.PageRank.pagerank(edges, "src", "dst", vertices, "id")
      .as[(Long, Double)].collect().toMap
    val teleport = (1.0 - 0.85) / 4.0
    assert(ranks.size == 4 && ranks.values.forall(_ == teleport))
  }

  test("scd2Snapshot / gapFillDaily on empty input: empty results, correct schemas") {
    val emptyEvents = Seq.empty[(Long, java.sql.Timestamp, String, Long)]
      .toDF("k", "ts", "st", "tie")
    val scd = graft.ops.CoreOps.scd2Snapshot(emptyEvents, "k", "st", "ts", "tie")
    assert(scd.columns.toSeq ==
      Seq("k", "state", "version", "valid_from", "valid_to", "is_current"))
    assert(scd.count() == 0)
    val gf = graft.ops.CoreOps.gapFillDaily(
      Seq.empty[(Long, java.sql.Timestamp, Double)].toDF("k", "ts", "v"), "k", "ts", "v")
    assert(gf.columns.toSeq ==
      Seq("k", "day", "day_value_dec", "filled_dec", "is_gap"))
    assert(gf.count() == 0)
  }

  test("overwriteZOrdered on an empty frame: writes an empty dataset, no crash") {
    val dir = java.nio.file.Files.createTempDirectory("z_empty_").toString + "/out"
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    graft.io.ZOrder.overwriteZOrdered(empty, dir, "a", "b", partitions = 2)
    assert(spark.read.parquet(dir).count() == 0)
  }

  test("connectedComponents with no edges: every vertex is its own singleton component") {
    val vertices = Seq(1L, 2L, 3L).toDF("id")
    val edges    = Seq.empty[(Long, Long)].toDF("src", "dst")
    val comp = Components.connectedComponents(edges, "src", "dst", vertices, "id")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(comp.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("connectedComponents with no vertices at all: empty result, no iteration blowup") {
    val vertices = Seq.empty[Long].toDF("id")
    val edges    = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Components.connectedComponents(edges, "src", "dst", vertices, "id").count() == 0)
  }

  test("empty and whitespace-only documents flow through shingles/signature/quality") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, "one"), (4L, "a b c d")).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"), Dedup.shingleSet(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    // short docs collapse to the single whole-text shingle
    assert(sh(3L) == Seq("one"))
    assert(sh(4L) == Seq("a b c", "b c d"))
    val sig = docs.select(Dedup.minhashSignature(col("text"), 3, 16)).collect()
    assert(sig.length == 4, "signature must not fail on empty text")
    val q = docs.select(graft.text.TextOps.qualityScore(col("text"))).as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("histogram of a constant column collapses to bucket 0 with the full count") {
    // mirrors q63's hi==lo guard: width would be 0 — every row lands in
    // bucket 0 instead of dividing by zero
    val const = Seq.fill(100)(7.5).toDF("value")
    val stats = const.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val bucket = when(col("hi") === col("lo"), lit(0))
      .otherwise(least(floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / lit(20.0))), lit(19.0)).cast("int"))
    val rows = const.crossJoin(broadcast(stats))
      .select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect()
    assert(rows.toSeq == Seq((0, 100L)))
  }

  test("bruteForceTopKHeap over fewer rows than k returns all of them, ranked") {
    val corpus  = Seq((10L, Array(1.0f, 0.0f)), (11L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = graft.sim.Similarity.bruteForceTopKHeap(corpus, queries, k = 5)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(out.map(_._2).toSeq == Seq(10L, 11L))
    assert(out.map(_._3).toSeq == Seq(1, 2))
  }

  test("asofJoin with an empty right side keeps every left row with null payload") {
    val left  = Seq((1L, 100L), (2L, 200L)).toDF("k", "ts")
    val right = Seq.empty[(Long, Long, Long)].toDF("k", "rts", "payload")
    val out = graft.ops.CoreOps.asofJoin(left, right, "k", "ts", "rts", "payload", Seq("payload"))
    assert(out.count() == 2)
    assert(out.filter(col("payload").isNotNull).count() == 0)
  }

  test("kmv_distinct over zero rows: empty sketch, estimate 0, null kth hash") {
    val row = Seq.empty[Long].toDF("h")
      .agg(graft.functions.KmvDistinct.kmv_distinct(col("h"), 16).as("kmv"))
      .head().getStruct(0)
    assert(row.getInt(0) == 0 && row.isNullAt(1) && row.getDouble(2) == 0.0)
  }

  test("kmv_distinct ignores nulls (SQL aggregate convention)") {
    val row = Seq[Option[Long]](Some(1L), None, Some(2L), None, Some(1L)).toDF("h")
      .agg(graft.functions.KmvDistinct.kmv_distinct(col("h"), 16).as("kmv"))
      .head().getStruct(0)
    assert(row.getInt(0) == 2 && row.getDouble(2) == 2.0)
  }

  test("bpeEncodeCorpus on a pair-exhausted corpus keeps the vocabulary (no crossJoin wipe)") {
    // every word is a single char: topPair is EMPTY from round 1; the
    // merge application must pass sym through unchanged, not destroy it
    val dir = java.nio.file.Files.createTempDirectory("bpe_edge_").toString
    Seq((1L, "a b c", "en", "src0", 5L), (2L, "b c a", "en", "src0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.queries.QueryCatalog.bpeEncodeCorpus(spark, dir).collect()
    assert(rows.length == 2, s"vocabulary wiped: ${rows.length} docs survived")
    rows.foreach { r =>
      assert(r.getLong(1) == 3 && r.getLong(2) == 3 && r.getLong(3) == 3,
        s"single-char words must encode to themselves: $r")
    }
  }

  test("pqTopK on a corpus smaller than the shortlist still ranks what exists") {
    // 5 vectors, one of them the query: 4 candidates < shortlist(50) < k(5)+
    val vecs = (0 until 5).map(i => (i.toLong, Array.fill(64)(i.toFloat / 10)))
    val e = vecs.toDF("vec_id", "embedding")
    val out = graft.sim.Similarity.pqTopK(
      e, e.filter(col("vec_id") === 0), k = 5, centroidStride = 2).collect()
    assert(out.length == 4, s"4 candidates expected, got ${out.length}")
    assert(out.map(_.getInt(4)).sorted.toSeq == (1 to 4), "dense ranks over the short corpus")
  }
}
