package graft

import graft.ops.{CoreOps, ShapeDispatch}
import graft.ops.ShapeDispatch.{GroupStats, RangedShape, WindowShape}
import graft.queries.QueryCatalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-14: stat-driven dual-shape selection ([[ShapeDispatch]]).
  * Pins, for each of the three dials (ranking family, percentiles,
  * top-k): (a) the two shapes are value-identical on the adversarial
  * fixture, and (b) the dispatcher CHOOSES the documented shape in each
  * regime — asserted on the predicate AND on the produced plan.
  */
class Round14Spec extends SparkSpec {

  // the Round12/13 adversarial fixture: 3 fat groups + a null group,
  // heavy value ties, null values sprinkled
  private lazy val fixture: DataFrame = {
    import spark.implicits._
    val rows = (0 until 5000).map { i =>
      val g = i % 4 match {
        case 0 => "a"; case 1 => "b"; case 2 => "c"; case 3 => null
      }
      val v: java.lang.Double =
        if (i % 97 == 0) null else (i * 2654435761L % 50).toDouble
      (g, v, i.toLong)
    }
    rows.toDF("grp", "value", "id")
  }

  // ---- the predicates --------------------------------------------------

  test("decideByRows / decideByDistinct: ranged exactly above the cutover") {
    def gs(maxPer: Long, maxDist: Long = Long.MaxValue) =
      GroupStats(rows = 100, groups = 3, maxRowsPerGroup = maxPer,
        maxDistinctPerGroup = maxDist, source = "test")
    assert(ShapeDispatch.decideByRows(gs(10), cutover = 10) == WindowShape)
    assert(ShapeDispatch.decideByRows(gs(11), cutover = 10) == RangedShape)
    // distinct bound falls back to maxRowsPerGroup when distinct unknown
    assert(ShapeDispatch.decideByDistinct(gs(7), cutover = 10) == WindowShape)
    assert(ShapeDispatch.decideByDistinct(gs(50, 10), cutover = 10) == WindowShape)
    assert(ShapeDispatch.decideByDistinct(gs(50, 11), cutover = 10) == RangedShape)
  }

  test("probeStats: exact rows / groups / max rows per group, distinct bound") {
    val st = ShapeDispatch.probeStats(fixture, Seq("grp"))
    assert(st.source == "probe")
    assert(st.rows == 5000)
    assert(st.groups == 4) // null is a group, as in windows/groupBy
    assert(st.maxRowsPerGroup == 1250)
    assert(st.maxDistinctPerGroup == Long.MaxValue) // no value column probed
    val sv = ShapeDispatch.probeStats(fixture, Seq("grp"), Seq("value"))
    // each group's i walks a step-4 progression, so i·K mod 50 hits ~25
    // residues; HLL ±2%: assert the loose envelope, not a point value
    assert(sv.maxDistinctPerGroup > 15 && sv.maxDistinctPerGroup < 40,
      s"approx distinct per group out of envelope: ${sv.maxDistinctPerGroup}")
  }

  test("catalogStats: ANALYZE'd table + CBO supplies stats with no probe") {
    withConf("spark.sql.cbo.enabled" -> "true") {
      fixture.write.mode("overwrite").saveAsTable("r14_stats_t")
      spark.sql("ANALYZE TABLE r14_stats_t COMPUTE STATISTICS FOR COLUMNS grp, value")
      val df = spark.table("r14_stats_t")
      val st = ShapeDispatch.catalogStats(df, Seq("grp"), Seq("value"))
      assert(st.isDefined, "catalog stats must resolve after ANALYZE under CBO")
      assert(st.get.source == "catalog")
      assert(st.get.rows == 5000)
      // distinctCount(grp) counts non-null values (3): the estimate is an
      // average-per-group, documented as skew-blind
      assert(st.get.groups >= 3 && st.get.groups <= 4)
      assert(st.get.maxRowsPerGroup >= 1250 && st.get.maxRowsPerGroup <= 1700)
      // global distinct(value) ≈ 49-50 bounds the per-group distinct
      assert(st.get.maxDistinctPerGroup > 30 && st.get.maxDistinctPerGroup < 70)
      // the dials take a complete, decisive catalog (zero probe)
      assert(ShapeDispatch.guardedStats(df, Seq("grp"), Seq("value"),
        ShapeDispatch.RowsPerGroupCutover, byDistinct = false).source == "catalog")
      spark.sql("DROP TABLE r14_stats_t")
    }
  }

  // ---- dial 1: the ranking family ---------------------------------------

  private def rankOut(df: DataFrame): DataFrame =
    df.select(col("grp"), col("value"), col("id"),
      col("row_number"), col("rank"), col("dense_rank"),
      col("n_group"), col("n_peers"))

  test("rankFunctionsAuto: both regimes value-identical; plan follows the choice") {
    val lo = ShapeDispatch.GroupStats(5000, 4, 1250, Long.MaxValue, "test")
    // regime 1: below cutover → window shape (windowspecdefinition over
    // the raw (grp, value) frame is IN the result's own plan)
    val windowPick = ShapeDispatch.rankFunctionsAuto(fixture, Seq("grp"),
      Seq("value"), Seq("id"), stats = Some(lo))
    val windowPlan = windowPick.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(grp#\\d+, value#".r.findFirstIn(windowPlan).isDefined,
      s"expected the raw-frame window shape:\n${windowPlan.take(1500)}")
    // regime 2: the largest group one row past the cutover → ranged
    // shape (the local-stat windows ran inside the eager checkpoint; the
    // result plan carries only the __pid-ordered bookkeeping windows)
    val hi = lo.copy(maxRowsPerGroup = ShapeDispatch.RowsPerGroupCutover + 1)
    val rangedPick = ShapeDispatch.rankFunctionsAuto(fixture, Seq("grp"),
      Seq("value"), Seq("id"), stats = Some(hi))
    val rangedPlan = rangedPick.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(grp#\\d+, value#".r.findFirstIn(rangedPlan).isEmpty,
      s"ranged pick must not window the raw frame by grp:\n${rangedPlan.take(1500)}")
    assert(rangedPlan.contains("windowspecdefinition(grp") &&
      rangedPlan.contains("__pid"),
      "ranged pick must carry the __pid-ordered bookkeeping windows")
    // value identity across the dial
    val a = rankOut(windowPick)
    val b = rankOut(rangedPick)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "the two regimes' outputs diverge")
  }

  test("q53 (auto) == q170 (forced ranged) on real lineitem") {
    // both drive the same oracle at the gate; here the multiset equality
    // is pinned engine-side too (full-duplicate rows may swap
    // row_number-derived quartiles; the multiset is invariant)
    val auto = QueryCatalog.rankFunctions(spark, sf)
    val ranged = QueryCatalog.rankFunctionsRanged(spark, sf)
    assert(auto.exceptAll(ranged).isEmpty && ranged.exceptAll(auto).isEmpty,
      "q53 and q170 must be multiset-identical")
  }

  test("q53 at gate SF picks the window shape (probe: max group ≪ cutover)") {
    val li = graft.io.Tables.table(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity")
    val st = ShapeDispatch.probeStats(li, Seq("l_returnflag"))
    assert(ShapeDispatch.decideByRows(st,
      ShapeDispatch.RowsPerGroupCutover) == WindowShape)
    val plan = QueryCatalog.rankFunctions(spark, sf)
      .queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(l_returnflag#\\d+, l_quantity#".r
        .findFirstIn(plan).isDefined,
      "q53 at sf0.001 must plan the window shape")
  }

  // ---- dial 2: percentiles ----------------------------------------------

  test("percentilesAuto: both regimes bit-identical; all-null groups dropped by both") {
    import spark.implicits._
    // an all-null group D next to the fixture groups: the buffering
    // aggregate's null row must be dropped to match the ranked form
    val withNullGrp = fixture.union(
      (0 until 10).map(i => ("d", null: java.lang.Double, 90000L + i))
        .toDF("grp", "value", "id"))
    val specs = Seq(ShapeDispatch.PercentileSpec("value",
      Seq(0.25, 0.5, 0.99), Seq("p25", "p50", "p99")))
    val buf = ShapeDispatch.percentilesAuto(withNullGrp, Seq("grp"), specs,
      force = Some(WindowShape))
    val rk = ShapeDispatch.percentilesAuto(withNullGrp, Seq("grp"), specs,
      force = Some(RangedShape))
    val a = buf.orderBy("grp").collect()
    val b = rk.orderBy("grp").collect()
    // the fixture's 4 groups (null is a group WITH values) survive; the
    // all-null group "d" must yield no row in either shape
    assert(a.length == 4 && b.length == 4, "the all-null group must yield no row")
    assert(!a.exists(r => r.getString(0) == "d") && !b.exists(r => r.getString(0) == "d"))
    assert(a.toSeq == b.toSeq, // Row equality = element equality incl. exact doubles
      s"percentile shapes diverge:\n${a.mkString("\n")}\nvs\n${b.mkString("\n")}")
    // the auto decision on this data: ~50 distinct per group → buffer form
    val auto = ShapeDispatch.percentilesAuto(withNullGrp, Seq("grp"), specs)
    assert(auto.queryExecution.executedPlan.toString.contains("percentile"),
      "auto must pick the buffering aggregate at 50 distinct values per group")
    // and with the largest group's distinct count past the cutover, the
    // ranked form
    val past = ShapeDispatch.DistinctPerGroupCutover + 1
    val ranked = ShapeDispatch.percentilesAuto(withNullGrp, Seq("grp"), specs,
      stats = Some(GroupStats(5010, 5, past, past, "test")))
    assert(!ranked.queryExecution.executedPlan.toString.contains("percentile("),
      "a distinct bound past the cutover must pick the ranked form")
    assert(ranked.orderBy("grp").collect().toSeq == a.toSeq)
  }

  test("equiDepthHistogramAuto: both regimes identical on the fixture") {
    val totally = fixture.filter(col("value").isNotNull)
    val w = ShapeDispatch.equiDepthHistogramAuto(totally, Seq("grp"), "value",
      Seq("id"), buckets = 4, force = Some(WindowShape))
    val r = ShapeDispatch.equiDepthHistogramAuto(totally, Seq("grp"), "value",
      Seq("id"), buckets = 4, force = Some(RangedShape))
    assert(w.exceptAll(r).isEmpty && r.exceptAll(w).isEmpty,
      "equi-depth shapes diverge under dispatch")
    // and the stats path picks the window form on this small frame
    val auto = ShapeDispatch.equiDepthHistogramAuto(totally, Seq("grp"), "value",
      Seq("id"), buckets = 4)
    assert(auto.exceptAll(w).isEmpty && w.exceptAll(auto).isEmpty)
  }

  // ---- dial 3: top-k per group -------------------------------------------

  test("topKPerGroupAuto: both regimes identical under a total order; plan follows") {
    val totally = fixture.filter(col("value").isNotNull) // (value, id) total
    val w = ShapeDispatch.topKPerGroupAuto(totally, Seq("grp"),
      Seq("value", "id"), k = 7, force = Some(WindowShape))
    val h = ShapeDispatch.topKPerGroupAuto(totally, Seq("grp"),
      Seq("value", "id"), k = 7, force = Some(RangedShape))
    assert(w.schema == h.schema,
      s"schemas diverge:\n${w.schema}\nvs\n${h.schema}")
    assert(w.exceptAll(h).isEmpty && h.exceptAll(w).isEmpty,
      "window and heap top-k diverge")
    assert(w.count() == 4 * 7)
    assert(h.queryExecution.executedPlan.toString.contains("topk_structs"),
      "heap pick must plan the bounded-heap aggregate")
    assert(!w.queryExecution.executedPlan.toString.contains("topk_structs"))
    // equality against the plain window definition
    val wref = Window.partitionBy("grp").orderBy(asc("value"), asc("id"))
    val ref = totally.withColumn("rn", row_number().over(wref)).filter(col("rn") <= 7)
    assert(h.exceptAll(ref).isEmpty && ref.exceptAll(h).isEmpty)
  }

  // ---- prefix-filter verify shapes (the sf4 grid's finding) ----------------

  test("prefixFilterPairs: broadcast-verify == join-verify, row for row") {
    // the two verification shapes must agree on the exact output contract
    // (pairs, integer inter/union, the rounded jaccard) — the r14 sf4
    // grid found join-verify shuffling pairs × token-arrays (828s at
    // sf4); broadcast-verify ships 16-byte pairs against a broadcast
    // token table. A zero budget steers the join shape; the auto gate
    // takes the broadcast shape on this (tiny) corpus.
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val joinForm = withConf(graft.dedup.Dedup.BroadcastVerifyBytesKey -> "0") {
      graft.dedup.Dedup.prefixFilterPairs(docs, "doc_id", "text", 1, 2, shingleN = 3)
    }
    val bcastForm = graft.dedup.Dedup.prefixFilterPairs(docs, "doc_id", "text",
      1, 2, shingleN = 3)
    assert(joinForm.schema == bcastForm.schema,
      s"schemas diverge:\n${joinForm.schema}\nvs\n${bcastForm.schema}")
    assert(joinForm.exceptAll(bcastForm).isEmpty &&
           bcastForm.exceptAll(joinForm).isEmpty,
      "verify shapes diverge")
    assert(joinForm.count() > 0, "fixture must produce pairs")

    // the hinted shape's plan: the token table broadcasts ONCE (one
    // BroadcastExchange, the second join reads its reuse) and no shuffle
    // carries a token array — candidates travel as bare id pairs
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val (cands, stoks, prefix, blocks) = graft.dedup.Dedup.prefixCandidates(
      docs, "doc_id", "text", 1, 2, 3)
    assert(graft.dedup.Dedup.planVerify(stoks, prefix).takeBroadcast,
      "the auto gate must pick the broadcast shape on the fixture")
    withConf(graft.dedup.Dedup.BroadcastVerifyBytesKey -> "0") {
      assert(!graft.dedup.Dedup.planVerify(stoks, prefix).takeBroadcast,
        "a zero budget must pick the join shape")
    }
    val hinted = graft.dedup.Dedup.verifyPairs(cands, stoks, broadcastTokens = true, 1, 2)
    try {
      hinted.collect() // finalizes this frame's own AdaptiveSparkPlan
      val plan = nodes(hinted.queryExecution.executedPlan)
      val planStr = hinted.queryExecution.executedPlan.toString
      val arrayCols = stoks.schema.fields.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]).map(_.name).toSet
      assert(arrayCols.nonEmpty)
      val tokenBroadcasts = plan.collect {
        case b: BroadcastExchangeExec if b.output.exists(a => arrayCols(a.name)) => b }
      assert(tokenBroadcasts.size == 1,
        s"the token table must broadcast once:\n${planStr.take(3000)}")
      assert(plan.exists {
        case r: ReusedExchangeExec => r.child.isInstanceOf[BroadcastExchangeExec]
        case _ => false }, s"the second join must reuse the broadcast:\n${planStr.take(3000)}")
      assert(!plan.exists {
        case e: ShuffleExchangeExec => e.output.exists(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        case _ => false }, s"a shuffle carries token arrays:\n${planStr.take(3000)}")
    } finally graft.dedup.Checkpoints.release(blocks)
  }
}
