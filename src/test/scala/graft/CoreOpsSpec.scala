package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.ops.CoreOps._

class CoreOpsSpec extends SparkSpec {
  import spark.implicits._

  test("surrogateKey is deterministic and null-safe (dbt_utils semantics)") {
    val df = Seq(
      (Some(1L), Some("GERMANY")),
      (Some(1L), Some("GERMANY")),
      (None: Option[Long], Some("GERMANY")),
      (Some(1L), None: Option[String])
    ).toDF("id", "name")
      .select(surrogateKey(col("id"), col("name")).as("k"))
    val keys = df.collect().map(_.getString(0))
    assert(keys(0) == keys(1), "same inputs → same key")
    assert(keys(0) != keys(2) && keys(0) != keys(3) && keys(2) != keys(3),
      "null in different positions → distinct keys (no concat_ws null-dropping collision)")
    assert(keys.forall(_.matches("[0-9a-f]{32}")), "md5 hex")
  }

  test("surrogateKey matches manual md5 of the dbt concat form") {
    val k = Seq(("a")).toDF("c").select(surrogateKey(col("c"), lit(7)).as("k")).head().getString(0)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("a-7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(k == expected)
  }

  test("groupMax assigns per-group maximum to every row (A9)") {
    val df = Seq(("i1", 1), ("i1", 5), ("i1", 3), ("i2", 2)).toDF("inv", "v")
    val out = groupMax(df, "inv", "v", "vmax").collect()
    assert(out.filter(_.getString(0) == "i1").forall(_.getInt(2) == 5))
    assert(out.filter(_.getString(0) == "i2").forall(_.getInt(2) == 2))
  }

  test("dedupKeepLatest keeps exactly one row per key, by order with tie-break (A10)") {
    val df = Seq(("u1", 10, 1), ("u1", 10, 2), ("u1", 5, 9), ("u2", 1, 1)).toDF("u", "ts", "id")
    val out = dedupKeepLatest(df, Seq("u"), Seq(desc("ts"), desc("id")))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    assert(out.toSeq == Seq(("u1", 10, 2), ("u2", 1, 1)))
  }

  test("topK returns exactly k rows in total order") {
    val df = (1 to 100).map(i => (i, s"r$i")).toDF("n", "s")
    val out = topK(df, 5, desc("n")).collect().map(_.getInt(0))
    assert(out.toSeq == Seq(100, 99, 98, 97, 96))
  }

  test("topK plans as TakeOrderedAndProject (no global sort materialization)") {
    val df = (1 to 100).map(i => (i, s"r$i")).toDF("n", "s")
    val plan = topK(df, 5, desc("n")).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-K physical operator, got:\n$plan")
  }

  test("sumMoney is exact and order-independent") {
    val df = (1 to 10000).map(i => i / 100.0).toDF("v")
    val a = df.agg(sumMoney(col("v"))).head().getDouble(0)
    val b = df.repartition(13).agg(sumMoney(col("v"))).head().getDouble(0)
    assert(a == b, "decimal path must not depend on partitioning")
    assert(a == 500050.0)
  }

  test("calendarParts uses 1=Sunday..7=Saturday weekday convention (D5)") {
    val df = Seq("2026-08-09 10:30:00").toDF("s") // a Sunday
      .select(to_timestamp(col("s")).as("ts"))
    val parts = calendarParts(col("ts")).toMap
    val row = df.select(parts("year"), parts("weekday"), parts("hour"), parts("minute")).head()
    assert(row.getInt(0) == 2026 && row.getInt(1) == 1 && row.getInt(2) == 10 && row.getInt(3) == 30)
  }

  test("mergeInto: replace, delete, insert, and idempotent unmatched-delete") {
    import spark.implicits._
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (2L, "B", false), // matched upsert → replaced
      (3L, "c", true),  // matched delete → removed
      (4L, "D", false), // unmatched upsert → inserted
      (9L, "x", true)   // unmatched delete → no-op
    ).toDF("k", "v", "is_delete")
    val out = graft.ops.CoreOps.mergeInto(target, changes, "k")
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (2L, "B"), (4L, "D")), s"merge semantics broke: $out")
    // merging an empty change set is the identity
    val id = graft.ops.CoreOps.mergeInto(target, changes.limit(0), "k")
      .as[(Long, String)].collect().toSet
    assert(id == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("topKPerGroupAuto heap equals the window form row-for-row") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val df = (1L to 2000L).map(i => (s"g${i % 7}", i, rng.nextInt(500).toDouble))
      .toDF("g", "id", "score")
    // score DESC encoded as a negated column (the q71 convention)
    val heapDf = graft.ops.ShapeDispatch.topKPerGroupAuto(
        df.withColumn("neg", -col("score")), Seq("g"), Seq("neg", "id"), 4,
        rnCol = "rank", force = Some(graft.ops.ShapeDispatch.RangedShape))
      .select("g", "id", "score", "rank")
    assert(heapDf.queryExecution.executedPlan.toString.contains("topk_structs"))
    val heap = heapDf.as[(String, Long, Double, Int)].collect().toSet
    val win = df.withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("g")
            .orderBy(col("score").desc, col("id").asc)))
      .filter(col("rank") <= 4)
      .as[(String, Long, Double, Int)].collect().toSet
    assert(heap == win, s"bounded-heap diverged from the window form")
  }

  test("snapshotDiff round-trips mergeInto: diff(old, merge(old, ch)) == ch's classes") {
    import spark.implicits._
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (5L, "e", 50.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (2L, "b", 21.0, false), // update
      (3L, "c", 30.0, true),  // delete
      (4L, "d", 40.0, false), // insert
      (5L, "e", 50.0, false)  // upsert equal to current → diff must NOT report it
    ).toDF("k", "name", "bal", "is_delete")
    val merged = graft.ops.CoreOps.mergeInto(target, changes, "k")
    val diff = graft.ops.CoreOps.snapshotDiff(target, merged, "k")
      .as[(Long, String)].collect().toSet
    assert(diff == Set((2L, "update"), (3L, "delete"), (4L, "insert")),
      s"CDC derivation diverged: $diff")
  }

  test("globalRowNumber equals the naive global window rank-for-rank, distributed") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val df = (1L to 5000L).map(i => (i, rng.nextDouble())).toDF("id", "v")
    withConf("spark.sql.shuffle.partitions" -> "7") {
      val dist = graft.ops.CoreOps.globalRowNumber(df, Seq("v", "id"))
        .select("id", "rank").as[(Long, Long)].collect().toMap
      val naive = df.withColumn("rank",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("id"))))
        .select("id", "rank").as[(Long, Int)].collect().map { case (i, r) => i -> r.toLong }.toMap
      assert(dist == naive, "distributed ranks diverged from the global window")
      // and the window is PARTITIONED (by __pid) — never the global
      // single-partition window this operator exists to avoid (AQE may
      // still coalesce tiny test shuffles, so assert the plan, not the
      // runtime partition count)
      val ranked = graft.ops.CoreOps.globalRowNumber(df, Seq("v", "id"))
      ranked.write.format("noop").mode("overwrite").save()
      val plan = ranked.queryExecution.executedPlan.toString
      assert(plan.contains("windowspecdefinition(__pid"),
        s"window must partition by __pid:\n${plan.take(1500)}")
    }
  }

  test("equiDepthHistogram: equal-population buckets, contiguous disjoint ranges") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // skewed values on purpose — equal-WIDTH buckets would collapse here
    val rows = (1 to 997).map(i => (if (i % 3 == 0) "a" else "b", math.exp(rng.nextGaussian() * 2), i.toLong))
    val df = rows.toDF("g", "v", "id")
    val hist = graft.ops.CoreOps.equiDepthHistogram(df, Seq("g"), "v", Seq("id"), 8)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    hist.groupBy(_._1).foreach { case (g, bs) =>
      assert(bs.map(_._2).sorted.toSeq == (0 until 8), s"group $g: buckets not dense")
      val sizes = bs.map(_._3)
      assert(sizes.max - sizes.min <= 1, s"group $g: not equi-depth: ${sizes.toSeq}")
      assert(sizes.sum == rows.count(_._1 == g))
      // ranges ordered and non-overlapping up to tied boundary values
      val sorted = bs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(lo, hi) => assert(hi._4 >= lo._5 - 1e-12,
          s"group $g: bucket ${hi._2} lo ${hi._4} < previous hi ${lo._5}")
        case _ => ()
      }
      sorted.foreach { case (_, _, _, lo, hi) => assert(lo <= hi) }
    }
  }

  test("saltedJoin matches plain join results while spreading hot keys") {
    val big = (1 to 1000).map(i => (if (i % 10 == 0) "cold" + i else "HOT", i)).toDF("k", "v")
    val small = Seq(("HOT", "h"), ("cold10", "c")).toDF("k", "name")
    val plain  = big.join(small, Seq("k")).collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val salted = saltedJoin(big, small, "k", col("v"), 8)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(salted == plain)
    assert(plain.count(_._1 == "HOT") == 900)
  }

  test("parseTimestamp coerces unparseable input to null (D1, errors='coerce')") {
    val df = Seq("08/09/2026 10:30 AM", "garbage").toDF("s")
      .select(parseTimestamp(col("s"), "MM/dd/yyyy hh:mm a").as("ts"))
    val vals = df.collect()
    assert(vals(0).getTimestamp(0) != null && vals(1).isNullAt(0))
  }

  test("asofJoin: latest right at-or-before left, orderkey tie-break, null when none precedes") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, ts("2024-01-01 10:00:00")), // after two orders
      (2L, 7L, ts("2024-01-01 09:00:00")), // EXACTLY at an order ts → <= matches
      (3L, 7L, ts("2024-01-01 07:59:59")), // before every order → null
      (4L, 8L, ts("2024-01-01 10:00:00"))  // key with no orders at all → null
    ).toDF("event_id", "user_id", "ts_sec")
    val right = Seq(
      (7L, ts("2024-01-01 08:00:00"), 100L),
      (7L, ts("2024-01-01 09:00:00"), 200L),
      (7L, ts("2024-01-01 09:00:00"), 201L) // same ts: greatest key must win
    ).toDF("user_id", "o_orderdate", "o_orderkey")
    val out = asofJoin(left, right, "user_id", "ts_sec", "o_orderdate",
        "o_orderkey", Seq("o_orderkey"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out == Map(1L -> 201L, 2L -> 201L, 3L -> -1L, 4L -> -1L), s"got $out")
  }
}
