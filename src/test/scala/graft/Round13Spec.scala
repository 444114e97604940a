package graft

import graft.ops.CoreOps
import graft.queries.QueryCatalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-13 additions: the ranking-function family and the per-group
  * running sum on ranged ranks (the plan-shape sweep the r12 verdict
  * briefed — no raw-frame window may partition by a low-cardinality
  * group). Everything here is an EQUALITY pin against the plain window
  * forms: the ranged construction must be invisible in the output.
  */
class Round13Spec extends SparkSpec {

  // the Round12Spec adversarial fixture: 3 fat groups + a null group,
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

  private def windowFamily(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("grp").orderBy(asc("value"), asc("id"))
    val wv = Window.partitionBy("grp").orderBy(asc("value")) // peers = value only
    df.select(col("grp"), col("value"), col("id"),
      row_number().over(w).cast("long").as("row_number"),
      rank().over(wv).cast("long").as("rank"),
      dense_rank().over(wv).cast("long").as("dense_rank"),
      percent_rank().over(wv).as("prnk"),
      cume_dist().over(wv).as("cdist"),
      ntile(4).over(w).as("quartile"))
  }

  test("groupedRankFunctions (general path) == window rank family on ties/null fixture") {
    val ranged = CoreOps.groupedRankFunctions(fixture, Seq("grp"),
        peerCols = Seq("value"), tieCols = Seq("id"))
      .select(col("grp"), col("value"), col("id"),
        col("row_number"), col("rank"), col("dense_rank"),
        CoreOps.percentRankFromRanks(col("rank"), col("n_group")).as("prnk"),
        CoreOps.cumeDistFromRanks(col("rank"), col("n_peers"), col("n_group")).as("cdist"),
        CoreOps.ntileFromRanks("row_number", "n_group", 4).cast("int").as("quartile"))
    val windowed = windowFamily(fixture)
    val diff = ranged.exceptAll(windowed)
    assert(diff.isEmpty,
      s"ranged rank family diverges:\n${diff.limit(5).collect().mkString("\n")}")
    assert(ranged.count() == fixture.count(),
      "every row must survive the null-safe join-backs")
  }

  test("groupedRankFunctions: many small groups also agree (the other regime)") {
    val many = fixture.withColumn("grp",
      concat_ws("_", col("grp"), (col("id") % 211).cast("string")))
    val ranged = CoreOps.groupedRankFunctions(many, Seq("grp"),
        peerCols = Seq("value"), tieCols = Seq("id"))
      .select(col("grp"), col("value"), col("id"),
        col("row_number"), col("rank"), col("dense_rank"),
        CoreOps.percentRankFromRanks(col("rank"), col("n_group")).as("prnk"),
        CoreOps.cumeDistFromRanks(col("rank"), col("n_peers"), col("n_group")).as("cdist"),
        CoreOps.ntileFromRanks("row_number", "n_group", 4).cast("int").as("quartile"))
    assert(ranged.exceptAll(windowFamily(many)).isEmpty)
  }

  test("ntileFromRanks == window ntile for B in {1, 3, 4, 7, 5000}") {
    // covers n % B = 0, front-loaded remainders, and B > group size
    val w = Window.partitionBy("grp").orderBy(asc("value"), asc("id"))
    val rn = CoreOps.groupedRankFunctions(fixture, Seq("grp"),
      peerCols = Seq("value", "id"), tieCols = Nil)
    // peers = (value, id) is a total order: rank == dense_rank ==
    // row_number, each equal to the window form over the full ORDER BY
    val windowed = fixture.select(col("grp"), col("value"), col("id"),
      row_number().over(w).cast("long").as("row_number"),
      rank().over(w).cast("long").as("rank"),
      dense_rank().over(w).cast("long").as("dense_rank"))
    assert(rn.select("grp", "value", "id", "row_number", "rank", "dense_rank")
      .exceptAll(windowed).isEmpty)
    for (b <- Seq(1, 3, 4, 7, 5000)) {
      val ranged = rn.select(col("grp"), col("value"), col("id"),
        CoreOps.ntileFromRanks("row_number", "n_group", b).cast("int").as("nt"))
      val windowed = fixture.select(col("grp"), col("value"), col("id"),
        ntile(b).over(w).as("nt"))
      assert(ranged.exceptAll(windowed).isEmpty, s"ntile($b) diverges")
    }
  }

  test("groupedRunningSum == window running sum (longs, null group, null values)") {
    // long values, nulls included: a row whose prefix holds only nulls
    // must get a NULL running sum in both shapes
    val lf = fixture.select(col("grp"),
      when(col("value").isNotNull, (col("value") * 7).cast("long")).as("v"),
      col("id"))
    val ranged = CoreOps.groupedRunningSum(lf, Seq("grp"), Seq("id"), "v",
      cumCol = "cum")
    val w = Window.partitionBy("grp").orderBy(asc("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = lf.withColumn("cum", sum(col("v")).over(w))
    val diff = ranged.select("grp", "v", "id", "cum")
      .exceptAll(windowed.select("grp", "v", "id", "cum"))
    assert(diff.isEmpty,
      s"running sums diverge:\n${diff.limit(5).collect().mkString("\n")}")
    assert(ranged.count() == lf.count())
    // leading nulls really occur in the fixture (i % 97 == 0 hits id 0)
    assert(windowed.filter(col("cum").isNull).count() > 0,
      "fixture must exercise the all-null prefix")
  }

  test("groupedRunningSum edges: empty input, one partition, one group") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long, Long)].toDF("grp", "v", "id")
    val e = CoreOps.groupedRunningSum(empty, Seq("grp"), Seq("id"), "v")
    assert(e.columns.contains("cum") && e.count() == 0)
    val lf = fixture.select(col("grp"), col("id"), lit(3L).as("v"))
    withConf("spark.sql.shuffle.partitions" -> "1") {
      val one = CoreOps.groupedRunningSum(lf, Seq("grp"), Seq("id"), "v")
      val w = Window.partitionBy("grp").orderBy(asc("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ww = lf.withColumn("cum", sum(col("v")).over(w))
      assert(one.select("grp", "id", "v", "cum")
        .exceptAll(ww.select("grp", "id", "v", "cum")).isEmpty)
    }
    val mono = lf.withColumn("grp", lit("only"))
    val g = CoreOps.groupedRunningSum(mono, Seq("grp"), Seq("id"), "v")
    val mx = g.agg(max("cum")).head.getLong(0)
    assert(mx == 3L * mono.count(), "single group must chain offsets across partitions")
  }

  test("q53 == the retired window form on real lineitem (duplicate keys included)") {
    // the synthetic lineitem repeats (orderkey, linenumber) — the exact
    // shape that broke a peers-unique shortcut — so this pin runs on the
    // real table, comparing MULTISETS (full-duplicate rows may swap
    // row_number-derived ntile values; the multiset is invariant)
    val li = graft.io.Tables.table(spark, sf, "lineitem")
    val w = Window.partitionBy("l_returnflag")
      .orderBy(asc("l_quantity"), asc("l_orderkey"), asc("l_linenumber"))
    val windowed = li.select(
      col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      percent_rank().over(w).as("prnk"),
      cume_dist().over(w).as("cdist"),
      ntile(4).over(w).as("quartile"))
    // r14: q53 itself now dispatches (and picks the window shape at this
    // SF); the ranged-form pin rides q170, the FORCED scale side
    val ranged = QueryCatalog.rankFunctionsRanged(spark, sf)
    assert(ranged.exceptAll(windowed).isEmpty && windowed.exceptAll(ranged).isEmpty,
      "ranged q170 must be multiset-identical to the window form")
  }

  test("q170 plan: no window partitions by the raw 3-value flag (every data window __pid-scoped)") {
    // the one-pass ranking materializes inside an eager checkpoint, so
    // (as with q150) the assertions run over EVERY execution of the run,
    // captured through a QueryExecutionListener: the ranged local rank
    // windows partition by (__pid, group); the only group-partitioned
    // windows run over the BOOKKEEPING frame (ordered by __pid) — a
    // raw-frame window would print
    // windowspecdefinition(l_returnflag#…, l_quantity#… ASC
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      QueryCatalog.rankFunctionsRanged(spark, sf).write.format("noop").mode("overwrite").save()
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      def all = plans.asScala.mkString("\n===\n")
      while (!all.contains("windowspecdefinition(__pid") &&
             System.nanoTime < deadline) Thread.sleep(100)
      val captured = all
      assert(captured.contains("windowspecdefinition(__pid"),
        s"expected __pid-partitioned local rank windows somewhere in the run:\n${captured.take(3000)}")
      assert(!"windowspecdefinition\\(l_returnflag#\\d+, l_quantity".r
          .findFirstIn(captured).isDefined,
        "a window still partitions the raw frame by l_returnflag")
    } finally spark.listenerManager.unregister(listener)
  }

  test("quantileNormalize == the retired window form (ties, null group, null values)") {
    // the r12-retired shape, replicated inline: global rank via
    // globalRowNumber (unchanged), per-group rank/size via the raw-frame
    // window quantileNormalize no longer plans
    val df = fixture.filter(col("value").isNotNull) // tieCol=id keeps order total
    val ranged = CoreOps.quantileNormalize(df, "grp", "value", "id", as = "nv")
    val ranked = CoreOps.globalRowNumber(df, Seq("value", "id"), rankCol = "__gi")
    val gn = ranked.agg(count(lit(1)).as("__gn"))
    val wS  = Window.partitionBy("grp").orderBy(asc("value"), asc("id"))
    val wSg = Window.partitionBy("grp")
    val indexed = ranked.crossJoin(broadcast(gn))
      .withColumn("__rk", row_number().over(wS).cast("long"))
      .withColumn("__ns", count(lit(1)).over(wSg))
      .withColumn("__ti",
        when(col("__ns") > 1, expr("1 + ((__rk - 1) * (__gn - 1)) DIV (__ns - 1)"))
          .otherwise(expr("1 + (__gn - 1) DIV 2")))
    val lookup = ranked.select(col("__gi").as("__ti"), col("value").as("nv"))
    val windowed = indexed.join(lookup, Seq("__ti"))
      .select("grp", "value", "id", "nv")
    val diff = ranged.select("grp", "value", "id", "nv").exceptAll(windowed)
    assert(diff.isEmpty,
      s"quantileNormalize diverges from the window form:\n${diff.limit(5).collect().mkString("\n")}")
    assert(ranged.count() == df.count())
  }

  test("q150 plan: no raw-frame window partitions by the source group") {
    // quantileNormalize's result is an EAGER output checkpoint, so the
    // result frame's own plan is a flat LogicalRDD scan — the windows
    // execute inside the checkpoint's execution. Capture EVERY execution
    // of the run through a QueryExecutionListener and assert over all of
    // them: the ranged (__pid, source) local-rank windows must appear,
    // the retired raw-frame source-partitioned window must not.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      QueryCatalog.quantileNormalizeQuery(spark, sf).collect()
      // the listener bus is async — wait for the ranged-window plan
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      def all = plans.asScala.mkString("\n===\n")
      while (!all.contains("windowspecdefinition(__pid") &&
             System.nanoTime < deadline) Thread.sleep(100)
      val captured = all
      assert(captured.contains("windowspecdefinition(__pid"),
        s"expected __pid-partitioned ranged windows somewhere in the run:\n${captured.take(3000)}")
      // the retired shape printed windowspecdefinition(source#…, quality#… ASC
      assert(!"windowspecdefinition\\(source#\\d+, quality".r.findFirstIn(captured).isDefined,
        "a window still partitions the raw frame by source")
    } finally spark.listenerManager.unregister(listener)
  }

  test("q71 == the retired window form, and plans NO WindowExec (bounded heap only)") {
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val h = conv(substring(md5(concat_ws("|", lit("qs"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val windowed = docs
      .select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(asc("h"), asc("doc_id"))))
      .filter(col("rk") <= 20)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy("source", "rk")
    val heap = QueryCatalog.quotaSample(spark, sf)
    // row-for-row (both ordered by source, rk; the order is unique)
    val (hw, ww) = (heap.collect().toSeq, windowed.collect().toSeq)
    assert(hw == ww, s"quota sample diverges: ${hw.take(3)} vs ${ww.take(3)}")
    heap.write.format("noop").mode("overwrite").save()
    val plan = heap.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q71 must plan no window at all:\n${plan.take(2000)}")
    assert(plan.contains("ObjectHashAggregate"),
      s"q71 must ride the bounded-heap typed aggregate:\n${plan.take(2000)}")
  }

  test("q56 == the retired running-sum window form on real documents") {
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = docs
      .select(col("doc_id"), col("source"),
        graft.text.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        expr("(cum - n_tokens) div 2048").as("pack_id"),
        (col("cum") - col("n_tokens") - expr("(cum - n_tokens) div 2048") * 2048).as("pack_offset"))
    val ranged = QueryCatalog.packSequences(spark, sf)
    val diff = ranged.exceptAll(windowed)
    assert(diff.isEmpty,
      s"packing diverges:\n${diff.limit(5).collect().mkString("\n")}")
    assert(ranged.count() == docs.count())
  }

  test("q20 == the retired lead() window form on real documents") {
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val sets = docs.select(col("source"), col("doc_id"),
      sort_array(graft.dedup.Dedup.shingleHashSet(col("text"), 3)).as("sh"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    val withNext = sets
      .withColumn("doc_b", lead("doc_id", 1).over(w))
      .filter(col("doc_b").isNotNull)
      .select(col("doc_id").as("doc_a"), col("doc_b"), col("sh").as("sh_a"))
    val windowed = withNext
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.ops.CoreOps.roundPortable(
          graft.dedup.Dedup.sortedJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
    val ranged = QueryCatalog.jaccardNeighbors(spark, sf)
    assert(ranged.exceptAll(windowed).isEmpty &&
           windowed.exceptAll(ranged).isEmpty,
      "rank+1 pairing must reproduce lead() exactly")
  }

  test("q93 top-3: bounded heap == the retired per-source ranking window") {
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val toks = docs.select(col("source"),
      explode(graft.text.TextOps.tokens(lower(col("text")))).as("tok"))
    val counts = toks.groupBy("source", "tok").agg(count(lit(1)).as("exact_n"))
    val windowed = counts
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(desc("exact_n"), asc("tok"))))
      .filter(col("rk") <= 3)
      .select("source", "tok", "rk", "exact_n")
    val heap = counts
      .groupBy("source").agg(graft.functions.TopKStructs.topk_structs(
        struct((-col("exact_n")).as("neg_n"), col("tok"), col("exact_n")), 3).as("tk"))
      .select(col("source"), posexplode(col("tk")))
      .select(col("source"), col("col.tok").as("tok"),
        (col("pos") + 1).cast("int").as("rk"), col("col.exact_n").as("exact_n"))
    assert(heap.exceptAll(windowed).isEmpty && windowed.exceptAll(heap).isEmpty)
  }

  test("groupedRankFunctions chain stress: one class spanning EVERY partition") {
    import spark.implicits._
    // a single group whose single peer value runs through all partitions
    // (the 100 TB dominant-value shape): rank/dense_rank = 1 everywhere,
    // n_peers = n — exercises the running-origin (__pts) and
    // next-genuine-start chains end to end
    val mono = (0 until 4000).map(i => ("g", 7.0, i.toLong)).toDF("grp", "value", "id")
    val r = CoreOps.groupedRankFunctions(mono, Seq("grp"),
      peerCols = Seq("value"), tieCols = Seq("id"))
    val agg = r.agg(
      min("rank"), max("rank"), min("dense_rank"), max("dense_rank"),
      min("n_peers"), max("n_peers"), min("n_group"), max("n_group"),
      countDistinct("row_number"), min("row_number"), max("row_number")).head
    assert(agg.getLong(0) == 1L && agg.getLong(1) == 1L, "rank must chain to 1")
    assert(agg.getLong(2) == 1L && agg.getLong(3) == 1L, "dense_rank must chain to 1")
    assert(agg.getLong(4) == 4000L && agg.getLong(5) == 4000L, "n_peers = whole class")
    assert(agg.getLong(6) == 4000L && agg.getLong(7) == 4000L)
    assert(agg.getLong(8) == 4000L && agg.getLong(9) == 1L && agg.getLong(10) == 4000L,
      "row_number must stay a gapless 1..n across the chain")
    // and a two-class split mid-stream: value flips once, both classes
    // span partitions
    val duo = (0 until 4000).map(i => ("g", if (i < 2500) 1.0 else 2.0, i.toLong))
      .toDF("grp", "value", "id")
    val r2 = CoreOps.groupedRankFunctions(duo, Seq("grp"),
      peerCols = Seq("value"), tieCols = Seq("id"))
    val w = Window.partitionBy("grp").orderBy(asc("value"), asc("id"))
    val wv = Window.partitionBy("grp").orderBy(asc("value"))
    val expected = duo.select(col("grp"), col("value"), col("id"),
      row_number().over(w).cast("long").as("row_number"),
      rank().over(wv).cast("long").as("rank"),
      dense_rank().over(wv).cast("long").as("dense_rank"))
    assert(r2.select("grp", "value", "id", "row_number", "rank", "dense_rank")
      .exceptAll(expected).isEmpty)
  }

  test("reserved working-column collisions are rejected loudly (r12 advisory)") {
    val bad = fixture.withColumn("__pid", lit(1))
    intercept[IllegalArgumentException] {
      CoreOps.groupedRowNumber(bad, Seq("grp"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      CoreOps.globalRowNumber(bad, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      CoreOps.groupedRunningSum(bad, Seq("grp"), Seq("id"), "value")
    }
    val badG = fixture.withColumn("__g_grp", lit(1))
    intercept[IllegalArgumentException] {
      CoreOps.groupedRowNumber(badG, Seq("grp"), Seq("id"))
    }
  }

  test("q169: split is a pure function of the near-dup component (no straddle)") {
    // verified near-dup pairs live inside components by construction
    // (ComponentsSpec pins pairs ⊆ components), so "every component maps
    // to exactly one split" IS the no-leakage property; also pin that the
    // content-addressed gates actually produce all three splits and that
    // q54 and q169 agree on the component labels
    val out = QueryCatalog.leakageSafeSplit(spark, sf)
    val straddle = out.groupBy("component")
      .agg(count_distinct(col("split")).as("ns")).filter(col("ns") > 1)
    assert(straddle.isEmpty, "a component straddles splits")
    val splits = out.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits == Set("train", "validation", "test"), s"got $splits")
    val q54 = QueryCatalog.dedupClusters(spark, sf).select("doc_id", "component")
    assert(out.select("doc_id", "component").exceptAll(q54).isEmpty,
      "q169 component labels diverge from q54's")
  }
}
