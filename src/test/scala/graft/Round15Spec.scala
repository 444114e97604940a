package graft

import graft.dedup.Dedup
import graft.ops.ShapeDispatch
import graft.ops.ShapeDispatch.{RangedShape, WindowShape}
import graft.queries.QueryCatalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-15 pins: (a) the catalog-skew headroom guard (trustCatalog +
  * guardedStats fall-through on ANALYZE'd skewed tables), (b) the
  * multi-column percentile dial q36 now rides, (c) the q129/q171 and
  * q137/q172 auto/forced pairs' shapes, (d) the prefixFilterPairs
  * pair-space regime guard and broadcast-verify shape, (e) the
  * nearDupStream explicit-lateness contract, (f) the two SSJoin shapes a
  * caller chooses between: q142 is the exact join, and the LSH-verified
  * shape has precision 1 and recall per the banding curve.
  */
class Round15Spec extends SparkSpec {

  // ---- (a) catalog-skew headroom guard ------------------------------------

  test("trustCatalog: decisive on either side, probe in the headroom band") {
    // already above the cutover: ranged is right regardless of skew
    assert(ShapeDispatch.trustCatalog(statValue = 11, cutover = 10, headroom = 10))
    // headroom-fold below: window survives 10x skew
    assert(ShapeDispatch.trustCatalog(statValue = 1, cutover = 10, headroom = 10))
    // the undecided band: an average of 5 with 10x skew could be a max
    // of 50 — do not trust, probe
    assert(!ShapeDispatch.trustCatalog(statValue = 5, cutover = 10, headroom = 10))
    assert(!ShapeDispatch.trustCatalog(statValue = 2, cutover = 10, headroom = 10))
    // headroom 1 = trust any complete catalog (the r14 behavior)
    assert(ShapeDispatch.trustCatalog(statValue = 5, cutover = 10, headroom = 1))
    // degenerate headroom clamps to 1, never divides by zero
    assert(ShapeDispatch.trustCatalog(statValue = 5, cutover = 10, headroom = 0))
  }

  test("guardedStats: skewed ANALYZE'd table near the cutover probes; decisive catalog is trusted") {
    import spark.implicits._
    // one dominant group: 900 rows in "big", 10 groups of 10 elsewhere —
    // catalog average = 1000/11 ≈ 91, true max = 900
    val rows = (0 until 900).map(i => ("big", i.toLong)) ++
      (0 until 100).map(i => (s"g${i % 10}", i.toLong))
    val df = rows.toDF("grp", "id")
    withConf("spark.sql.cbo.enabled" -> "true") {
      df.write.mode("overwrite").saveAsTable("r15_skew_t")
      spark.sql("ANALYZE TABLE r15_skew_t COMPUTE STATISTICS FOR COLUMNS grp")
      val t = spark.table("r15_skew_t")
      val cat = ShapeDispatch.catalogStats(t, Seq("grp"))
      assert(cat.isDefined && cat.get.maxRowsPerGroup < 200,
        s"fixture expects a skew-blind catalog average, got $cat")
      // cutover 500: catalog avg (~91..100) is inside the 10x headroom
      // band below 500 — the guard must fall through to the probe, which
      // sees the true 900-row group and flips the decision to ranged
      val guarded = ShapeDispatch.guardedStats(t, Seq("grp"), Nil,
        cutover = 500, byDistinct = false)
      assert(guarded.source == "probe",
        s"near-cutover catalog average must probe, got $guarded")
      assert(guarded.maxRowsPerGroup == 900)
      assert(ShapeDispatch.decideByRows(guarded, 500) == RangedShape)
      // cutover 100000: the average is decisively below even with 10x
      // skew — catalog trusted, zero probe
      val far = ShapeDispatch.guardedStats(t, Seq("grp"), Nil,
        cutover = 100000, byDistinct = false)
      assert(far.source == "catalog", s"decisive catalog must be trusted: $far")
      // cutover 50: the catalog average itself exceeds it — ranged is
      // right regardless of skew, catalog trusted
      val above = ShapeDispatch.guardedStats(t, Seq("grp"), Nil,
        cutover = 50, byDistinct = false)
      assert(above.source == "catalog")
      assert(ShapeDispatch.decideByRows(above, 50) == RangedShape)
      spark.sql("DROP TABLE r15_skew_t")
    }
  }

  test("probeStats over two value columns: the distinct bound is the WORST column's") {
    import spark.implicits._
    // value a: 2 distinct per group; value b: 250 distinct per group
    // (i % 997 is injective over each group's 250-element residue class)
    val df = (0 until 1000).map(i =>
        (s"g${i % 4}", (i % 2).toDouble, (i % 997).toDouble))
      .toDF("grp", "a", "b")
    val both = ShapeDispatch.probeStats(df, Seq("grp"), Seq("a", "b"))
    val aOnly = ShapeDispatch.probeStats(df, Seq("grp"), Seq("a"))
    assert(aOnly.maxDistinctPerGroup <= 3)
    assert(both.maxDistinctPerGroup > 200,
      s"multi-col probe must see the worst column: $both")
  }

  // ---- (b) the multi-column percentile dial (q36's r15 shape) -------------

  test("percentilesAuto: buffer and ranked shapes agree across two value columns") {
    import spark.implicits._
    val df = (0 until 4000).map { i =>
      val g = s"g${i % 3}"
      val a: java.lang.Double = if (i % 89 == 0) null else (i * 2654435761L % 97).toDouble
      val b: java.lang.Double = (i * 40503L % 1013).toDouble
      (g, a, b)
    }.toDF("grp", "a", "b")
    val specs = Seq(
      ShapeDispatch.PercentileSpec("a", Seq(0.5, 0.9), Seq("a50", "a90")),
      ShapeDispatch.PercentileSpec("b", Seq(0.99), Seq("b99")))
    val buf = ShapeDispatch.percentilesAuto(df, Seq("grp"), specs,
      force = Some(WindowShape)).orderBy("grp").collect()
    val rk = ShapeDispatch.percentilesAuto(df, Seq("grp"), specs,
      force = Some(RangedShape)).orderBy("grp").collect()
    assert(buf.toSeq == rk.toSeq,
      s"multi-col percentile shapes diverge:\n${buf.mkString("\n")}\nvs\n${rk.mkString("\n")}")
    // window branch plans ONE aggregate over both columns (q36's
    // historical single-pass plan), not a join of two
    val bufPlan = ShapeDispatch.percentilesAuto(df, Seq("grp"), specs,
      force = Some(WindowShape)).queryExecution.executedPlan.toString
    assert(!bufPlan.contains("Join"), s"buffer shape must not join:\n$bufPlan")
  }

  test("percentilesAuto: a group all-null in ONE column yields no row in either shape") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Double, java.lang.Double)](
      ("ok", 1.0, 2.0), ("ok", 3.0, 4.0),
      ("anull", null, 5.0), ("anull", null, 6.0)
    ).toDF("grp", "a", "b")
    val specs = Seq(
      ShapeDispatch.PercentileSpec("a", Seq(0.5), Seq("a50")),
      ShapeDispatch.PercentileSpec("b", Seq(0.5), Seq("b50")))
    val buf = ShapeDispatch.percentilesAuto(df, Seq("grp"), specs,
      force = Some(WindowShape)).collect()
    val rk = ShapeDispatch.percentilesAuto(df, Seq("grp"), specs,
      force = Some(RangedShape)).collect()
    assert(buf.length == 1 && buf.head.getString(0) == "ok")
    assert(rk.length == 1 && rk.head.getString(0) == "ok")
  }

  // ---- (c) the new auto/forced pairs on real lineitem ----------------------

  test("q129 (auto) == q171 (forced ranged); gate-SF plans follow the dispatch") {
    val auto = QueryCatalog.equiDepthHist(spark, sf)
    val ranged = QueryCatalog.equiDepthHistRanged(spark, sf)
    assert(auto.exceptAll(ranged).isEmpty && ranged.exceptAll(auto).isEmpty,
      "q129 and q171 must be multiset-identical")
    // at sf0.001 the probe picks the window shape: the rank window
    // partitions by the group alone (no __pid bookkeeping)
    val autoPlan = auto.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(l_returnflag#\\d+, l_extendedprice".r
        .findFirstIn(autoPlan).isDefined,
      s"q129 at gate SF must plan the window shape:\n${autoPlan.take(1200)}")
    assert(!autoPlan.contains("__pid"))
  }

  test("q137 (auto) == q172 (forced heap); gate-SF plans follow the dispatch") {
    val auto = QueryCatalog.topPartsPerFlag(spark, sf)
    val heap = QueryCatalog.topPartsPerFlagHeap(spark, sf)
    assert(auto.exceptAll(heap).isEmpty && heap.exceptAll(auto).isEmpty,
      "q137 and q172 must be multiset-identical")
    assert(!auto.queryExecution.executedPlan.toString.contains("topk_structs"),
      "q137 at gate SF must plan the window shape")
    assert(heap.queryExecution.executedPlan.toString.contains("topk_structs"),
      "q172 must plan the bounded heap")
  }

  test("q36 (auto multi) == q166 (forced ranked) on real lineitem") {
    val auto = QueryCatalog.percentiles(spark, sf)
    val ranked = QueryCatalog.rankedPercentilesQuery(spark, sf)
    assert(auto.exceptAll(ranked).isEmpty && ranked.exceptAll(auto).isEmpty,
      "q36 and q166 must be multiset-identical")
    // the probe sees small per-group distinct counts → the buffering
    // aggregate (q36's historical plan)
    assert(auto.queryExecution.executedPlan.toString.contains("percentile"),
      "q36 at gate SF must plan the buffering aggregate")
  }

  test("topKPerGroupAuto rejects orderCols overlapping groupCols in BOTH shapes") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 2L)).toDF("grp", "v")
    for (shape <- Seq(WindowShape, RangedShape)) {
      val e = intercept[IllegalArgumentException] {
        ShapeDispatch.topKPerGroupAuto(df, Seq("grp"), Seq("grp", "v"),
          k = 1, force = Some(shape))
      }
      assert(e.getMessage.contains("must not overlap"))
    }
  }

  // ---- (d) pair-space regime guard + broadcast-verify shape ---------------

  test("pairShuffleBytes: broadcast ships bare pairs, join ships both arrays") {
    assert(Dedup.pairShuffleBytes(1e6, 50.0, broadcastShape = true) == 16e6)
    // join shape: 2 arrays x 50 tokens x 8 B + 32 B overhead per pair
    assert(Dedup.pairShuffleBytes(1e6, 50.0, broadcastShape = false) == 832e6)
    assert(Dedup.pairShuffleBytes(0.0, 50.0, broadcastShape = false) == 0.0)
  }

  test("planVerify: one aggregate over the prefix checkpoint, field-for-field the two-aggregate plan") {
    import spark.implicits._
    val zipf = Round9Spec.zipfCorpus(spark)
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // expected values: the earlier planVerify (a token-table aggregate
    // plus a per-tokid aggregate over the prefix) on the same fixtures
    val cases = Seq(
      ("Round9 zipf 1/2", zipf, 1, 2, Dedup.VerifyPlan(true, 1718.0, 25.845833333333335, 27488.0)),
      ("documents 1/2", docs, 1, 2, Dedup.VerifyPlan(true, 1943.0, 53.806, 31088.0)),
      ("documents 1/1", docs, 1, 1, Dedup.VerifyPlan(true, 2.0, 53.806, 32.0)),
      ("documents 4/5", docs, 4, 5, Dedup.VerifyPlan(true, 317.0, 53.806, 5072.0)),
      ("empty", empty, 1, 2, Dedup.VerifyPlan(true, 0.0, 0.0, 0.0)))
    for ((name, d, num, den, want) <- cases) {
      val (_, stoks, prefix, blocks) =
        Dedup.prefixCandidates(d, "doc_id", "text", num, den, 3)
      try assert(Dedup.planVerify(stoks, prefix) == want, name)
      finally graft.dedup.Checkpoints.release(blocks)
    }
  }

  test("prefixFilterPairs: hard cap fails fast naming the LSH escape; warn cap leaves output intact") {
    val docs = graft.io.Tables.table(spark, sf, "documents")
    withConf(Dedup.MaxPairShuffleBytesKey -> "1") {
      val e = intercept[IllegalStateException] {
        Dedup.prefixFilterPairs(docs, "doc_id", "text", 1, 2, shingleN = 3)
      }
      assert(e.getMessage.contains("pair-bound") &&
        e.getMessage.contains("minhashCandidatePairs"),
        s"the failure must name the escape: ${e.getMessage}")
    }
    // warn-only (threshold 1 byte): the guard logs but output is the
    // same verified pair set as the unguarded run
    val unguarded = Dedup.prefixFilterPairs(docs, "doc_id", "text", 1, 2,
      shingleN = 3)
    withConf(Dedup.PairShuffleWarnBytesKey -> "1") {
      val warned = Dedup.prefixFilterPairs(docs, "doc_id", "text", 1, 2,
        shingleN = 3)
      assert(warned.exceptAll(unguarded).isEmpty &&
        unguarded.exceptAll(warned).isEmpty)
    }
  }

  test("prefixFilterPairs: string ids take the broadcast shape and return the long-id rows") {
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val strDocs = docs.select(col("doc_id").cast("string").as("doc_id"), col("text"))
    // the broadcast shape is a hint on a plain join, so the budget alone
    // decides it, whatever the id type
    val (_, stoks, prefix, blocks) =
      Dedup.prefixCandidates(strDocs, "doc_id", "text", 1, 2, 3)
    try assert(Dedup.planVerify(stoks, prefix).takeBroadcast,
      "string ids must take the broadcast shape on the fixture")
    finally graft.dedup.Checkpoints.release(blocks)
    val longRows = Dedup.prefixFilterPairs(docs, "doc_id", "text", 1, 2, shingleN = 3)
    val strRows = Dedup.prefixFilterPairs(strDocs, "doc_id", "text", 1, 2, shingleN = 3)
    assert(strRows.schema("doc_a").dataType == org.apache.spark.sql.types.StringType)
    // string ids order lexicographically: re-orient each pair numerically
    val a = col("doc_a").cast("long")
    val b = col("doc_b").cast("long")
    val asLong = strRows.select(least(a, b).as("doc_a"), greatest(a, b).as("doc_b"),
      col("inter"), col("union_sz"), col("jaccard"))
    assert(longRows.count() > 0, "fixture must produce pairs")
    assert(asLong.exceptAll(longRows).isEmpty && longRows.exceptAll(asLong).isEmpty,
      "string and long ids must verify the same pairs")
  }

  // ---- (f) the two SSJoin shapes ------------------------------------------

  test("q142 is the exact join: multiset-identical to prefixFilterPairs") {
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val exact = Dedup.prefixFilterPairs(docs, "doc_id", "text", 1, 2, shingleN = 3)
    val q142 = QueryCatalog.prefixFilterPairsQuery(spark, sf)
    assert(q142.columns.toSeq == exact.columns.toSeq)
    assert(q142.exceptAll(exact).isEmpty && exact.exceptAll(q142).isEmpty,
      "q142 must return every exact pair and nothing else")
  }

  test("lshVerifiedPairs: precision 1, bit-identical rows on emitted pairs; r=1 covers every true pair") {
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val exact = Dedup.prefixFilterPairs(docs, "doc_id", "text", 1, 2, shingleN = 3)
    val lsh = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 1, 2, shingleN = 3)
    assert(lsh.columns.toSeq == exact.columns.toSeq,
      "both shapes must share the output contract")
    // precision 1: the verification is the same integer arithmetic, so
    // every emitted row (ids, inter, union_sz, jaccard) must appear in
    // the exact output verbatim
    assert(lsh.exceptAll(exact).isEmpty,
      "the LSH shape must never emit a row the exact join would not")
    // r=1 over 32 bands: any true pair at J >= 1/2 misses all bands
    // with model probability (1-s)^32 <= 2^-32 — on this fixed corpus
    // and hash family the candidate cover is total, so recall is
    // exactly 1 (deterministic; re-proven every run)
    val full = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 1, 2,
      shingleN = 3, rowsPerBand = 1)
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty,
      "r=1 banding must cover every true pair on the fixture")
  }

  test("lshVerifiedPairs and q156 (sortedNeighborPairs) return their frozen rows on the documents fixture") {
    // frozen rows; on this fixture both shapes and the exact join find
    // the same 28 pairs
    val want = Seq(
      (0L, 50L, 20, 21, 0.952381), (0L, 82L, 21, 22, 0.954545),
      (5L, 450L, 40, 41, 0.97561), (8L, 12L, 74, 76, 0.973684),
      (8L, 120L, 73, 74, 0.986486), (8L, 360L, 74, 75, 0.986667),
      (12L, 120L, 73, 76, 0.960526), (12L, 360L, 75, 76, 0.986842),
      (16L, 369L, 84, 85, 0.988235), (26L, 176L, 86, 87, 0.988506),
      (33L, 436L, 8, 9, 0.888889), (45L, 487L, 27, 28, 0.964286),
      (50L, 82L, 20, 22, 0.909091), (56L, 157L, 53, 54, 0.981481),
      (77L, 459L, 77, 78, 0.987179), (89L, 114L, 13, 14, 0.928571),
      (99L, 174L, 83, 84, 0.988095), (110L, 467L, 91, 92, 0.98913),
      (119L, 425L, 34, 35, 0.971429), (120L, 360L, 73, 75, 0.973333),
      (144L, 161L, 87, 88, 0.988636), (211L, 404L, 64, 65, 0.984615),
      (229L, 263L, 22, 23, 0.956522), (260L, 391L, 88, 89, 0.988764),
      (270L, 329L, 83, 84, 0.988095), (328L, 428L, 38, 39, 0.974359),
      (349L, 411L, 51, 52, 0.980769), (474L, 498L, 93, 94, 0.989362))
    val schema = "struct<doc_a:bigint,doc_b:bigint,inter:int,union_sz:int,jaccard:double>"
    def rows(df: DataFrame) = {
      assert(df.schema.simpleString == schema)
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getDouble(4))).toSeq.sorted
    }
    val docs = graft.io.Tables.table(spark, sf, "documents")
    assert(rows(Dedup.lshVerifiedPairs(docs, "doc_id", "text", 1, 2, shingleN = 3)) == want)
    assert(rows(QueryCatalog.sortedNeighborPairsQuery(spark, sf)) == want)
  }

  // ---- (e) nearDupStream explicit-lateness contract ------------------------

  test("nearDupStream: stateTtl without an explicit ttlLateness is rejected") {
    import spark.implicits._
    val docs = spark.emptyDataset[graft.streaming.EventStreams.Doc]
    val e = intercept[IllegalArgumentException] {
      graft.streaming.EventStreams.nearDupStream(docs,
        stateTtl = Some("10 minutes"))
    }
    assert(e.getMessage.contains("ttlLateness"))
    // NoTimeout path: no lateness needed, as before
    graft.streaming.EventStreams.nearDupStream(docs)
  }
}
