package graft

import graft.ops.CoreOps
import graft.queries.QueryCatalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 additions: the ranged per-group ranking primitive
  * (few-huge-groups scale shape) and its equi-depth histogram mode.
  * Everything here is an EQUALITY pin against the plain window forms —
  * the ranged construction must be invisible in the output.
  */
class Round12Spec extends SparkSpec {

  // deterministic mixed fixture: 3 fat groups + a null group, heavy value
  // ties, null values sprinkled — the shapes that break rank plumbing
  private lazy val fixture: DataFrame = {
    import spark.implicits._
    val rows = (0 until 5000).map { i =>
      val g = i % 4 match {
        case 0 => "a"; case 1 => "b"; case 2 => "c"; case 3 => null
      }
      val v: java.lang.Double =
        if (i % 97 == 0) null else (i * 2654435761L % 50).toDouble // heavy ties
      (g, v, i.toLong)
    }
    rows.toDF("grp", "value", "id")
  }

  test("groupedRowNumber == per-group window row_number (ties, null group, null values)") {
    val ranged = CoreOps.groupedRowNumber(fixture, Seq("grp"), Seq("value", "id"))
    val w = Window.partitionBy("grp").orderBy(asc("value"), asc("id"))
    val windowed = fixture.withColumn("rank", row_number().over(w).cast("long"))
    val diff = ranged.select("grp", "value", "id", "rank")
      .exceptAll(windowed.select("grp", "value", "id", "rank"))
    assert(diff.isEmpty, s"ranged ranks diverge:\n${diff.limit(5).collect().mkString("\n")}")
    assert(ranged.count() == fixture.count(),
      "ranged ranking must keep every row (null-safe group join)")
  }

  test("groupedRowNumber: many small groups also agree (the other regime)") {
    val many = fixture.withColumn("grp",
      concat_ws("_", col("grp"), (col("id") % 211).cast("string")))
    val ranged = CoreOps.groupedRowNumber(many, Seq("grp"), Seq("value", "id"))
    val w = Window.partitionBy("grp").orderBy(asc("value"), asc("id"))
    val windowed = many.withColumn("rank", row_number().over(w).cast("long"))
    assert(ranged.select("grp", "value", "id", "rank")
      .exceptAll(windowed.select("grp", "value", "id", "rank")).isEmpty)
  }

  test("equiDepthHistogram rangedRanks=true is bit-identical to the window form") {
    // fixture histogram (non-null values only — rank order puts nulls
    // first identically in both forms, but lo/min over a null bucket is
    // engine-identical anyway; keep them in to prove it)
    val a = CoreOps.equiDepthHistogram(fixture, Seq("grp"), "value",
      Seq("id"), buckets = 8, rangedRanks = false).collect().toSet
    val b = CoreOps.equiDepthHistogram(fixture, Seq("grp"), "value",
      Seq("id"), buckets = 8, rangedRanks = true).collect().toSet
    assert(a == b, s"histograms diverge:\nwindow=${a.take(5)}\nranged=${b.take(5)}")
    // and on the real lineitem shape q129 runs (3 fat groups)
    val li = graft.io.Tables.table(spark, sf, "lineitem")
    val c = CoreOps.equiDepthHistogram(li, Seq("l_returnflag"),
      "l_extendedprice", Seq("l_orderkey", "l_linenumber"), buckets = 8,
      rangedRanks = false).collect().toSet
    val d = CoreOps.equiDepthHistogram(li, Seq("l_returnflag"),
      "l_extendedprice", Seq("l_orderkey", "l_linenumber"), buckets = 8,
      rangedRanks = true).collect().toSet
    assert(c == d)
  }

  test("groupedRowNumber edges: empty input, one partition, one group") {
    import spark.implicits._
    val empty = Seq.empty[(String, Double, Long)].toDF("grp", "value", "id")
    val e = CoreOps.groupedRowNumber(empty, Seq("grp"), Seq("value", "id"))
    assert(e.columns.contains("rank") && e.count() == 0)
    // a single range partition degenerates to the plain window — ranks agree
    withConf("spark.sql.shuffle.partitions" -> "1") {
      val one = CoreOps.groupedRowNumber(fixture, Seq("grp"), Seq("value", "id"))
      val w = Window.partitionBy("grp").orderBy(asc("value"), asc("id"))
      val ww = fixture.withColumn("rank", row_number().over(w).cast("long"))
      assert(one.select("grp", "value", "id", "rank")
        .exceptAll(ww.select("grp", "value", "id", "rank")).isEmpty)
    }
    // one group spanning every partition exercises the offset chain
    val mono = fixture.withColumn("grp", lit("only"))
    val g = CoreOps.groupedRowNumber(mono, Seq("grp"), Seq("value", "id"))
    val ranks = g.select("rank").collect().map(_.getLong(0)).sorted
    assert(ranks.head == 1L && ranks.last == ranks.length.toLong &&
      ranks.distinct.length == ranks.length,
      "single group must get a gapless 1..n ranking across partitions")
  }

  test("rankedPercentiles is BIT-identical to the buffering percentile aggregate") {
    // the interpolation replicates Percentile.getPercentile in evaluation
    // order, so equality is exact doubles, not approximate — on the
    // adversarial fixture (ties, null group, null values) and on the
    // exact (column, p) pairs q36 runs
    val ps = Seq(0.0, 0.5, 0.9, 0.99, 1.0)
    val outs = ps.map(p => s"p${(p * 100).toInt}")
    val ranked = CoreOps.rankedPercentiles(fixture, Seq("grp"), "value", ps, outs)
    val agged = fixture.groupBy("grp").agg(
      expr("percentile(value, 0.0)").as("p0"),
      expr("percentile(value, 0.5)").as("p50"),
      expr("percentile(value, 0.9)").as("p90"),
      expr("percentile(value, 0.99)").as("p99"),
      expr("percentile(value, 1.0)").as("p100"))
    val r = ranked.collect().map(x => x.getString(0) -> x.toSeq.tail).toMap
    val a = agged.collect().map(x => x.getString(0) -> x.toSeq.tail).toMap
    // the aggregate keeps all-null groups (null result); ranked drops them
    val aNonNull = a.filter(_._2.exists(_ != null))
    assert(r == aNonNull, s"percentiles diverge:\nranked=$r\nagg=$aNonNull")

    val li = graft.io.Tables.table(spark, sf, "lineitem")
    val rq = CoreOps.rankedPercentiles(li, Seq("l_returnflag"), "l_quantity",
        Seq(0.5, 0.9), Seq("p50", "p90"))
      .collect().map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    val aq = li.groupBy("l_returnflag").agg(
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.9)").as("p90"))
      .collect().map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(rq == aq, s"lineitem percentiles diverge:\n$rq\n$aq")
  }

  test("q171 plan: every window is (__pid, group)-partitioned — no group-only sort task") {
    // r15: q129 rides equiDepthHistogramAuto (window shape at gate SFs);
    // the ranged-plan pin moves to its forced twin q171 — same plan this
    // test always pinned, now behind the dispatcher's force path
    val df = QueryCatalog.equiDepthHistRanged(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the offsets window runs over the (pid, group) COUNTS frame and the
    // local-rank window over (pid, group) partitions; a window partitioned
    // by the group alone would be the one-task-per-group trap
    val groupOnly = "windowspecdefinition\\(l_returnflag#\\d+, l_extendedprice".r
    assert(groupOnly.findFirstIn(plan).isEmpty,
      s"found a group-only data window:\n${plan.take(2000)}")
    assert(plan.contains("windowspecdefinition(__pid"),
      s"local rank must partition by __pid:\n${plan.take(2000)}")
  }
}
