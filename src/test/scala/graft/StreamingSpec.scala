package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("file readStream drained with Trigger.AvailableNow matches the batch aggregation") {
    // the production source path MemoryStream doesn't exercise: schema'd
    // parquet directory in, windowed aggregation, Complete-mode memory sink
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    val batchEvents = graft.io.Tables.events(spark, sf)
    batchEvents.write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(batchEvents.schema).parquet(dir)
    val q = EventStreams.windowedCounts(streamed)
      .writeStream.format("memory").queryName("file_stream_test")
      .outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val stream = spark.sql(
        "SELECT window_start, event_type, n_events FROM file_stream_test")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = EventStreams.windowedCounts(batchEvents)
        .select("window_start", "event_type", "n_events")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(stream == batch,
        s"stream/batch divergence: ${stream.size} vs ${batch.size} windows")
      assert(stream.values.sum == batchEvents.count())
    } finally q.stop()
  }

  test("windowedCounts over a MemoryStream: tumbling windows + watermark") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    source.addData(
      Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:40:00"), 2, "click", 2.0),
      Event(3, ts("2024-01-01 01:10:00"), 1, "view", 4.0))
    val q = EventStreams.runToMemory(
      EventStreams.windowedCounts(source.toDF()), "wc_test")
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM wc_test ORDER BY window_start, event_type").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Timestamp]("window_start") == ts("2024-01-01 00:00:00"))
      assert(rows(0).getAs[Long]("n_events") == 2 && rows(0).getAs[Double]("total_value") == 3.0)
      assert(rows(1).getAs[String]("event_type") == "view")
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped in Append mode") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = EventStreams.runToMemory(
      EventStreams.windowedCounts(source.toDF(), window_ = "1 hour", watermark = "1 hour"),
      "late_test", OutputMode.Append())
    try {
      source.addData(Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // advance watermark far past the first window
      source.addData(Event(2, ts("2024-01-01 06:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // this event is 5+ hours late — must be dropped
      source.addData(Event(3, ts("2024-01-01 00:20:00"), 1, "click", 100.0))
      q.processAllAvailable()
      val first = spark.sql(
        "SELECT total_value FROM late_test WHERE window_start = timestamp'2024-01-01 00:00:00'").collect()
      assert(first.forall(_.getDouble(0) == 1.0), "late row leaked into closed window")
    } finally q.stop()
  }

  test("checkGate: clean batches flow to the sink, a dirty batch fails the query") {
    import graft.checks._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val seen = new java.util.concurrent.atomic.AtomicLong
    val q = EventStreams.checkGate(source.toDF(),
        Seq(NoMissing("event_id"), NoFailedRows("neg_value", org.apache.spark.sql.functions.col("value") < 0))) {
        (batch, _) => seen.addAndGet(batch.count())
      }.start()
    try {
      source.addData(Event(1, ts("2024-01-01 00:00:01"), 1, "click", 1.0))
      q.processAllAvailable()
      assert(seen.get() == 1, "clean batch reaches the sink")
      source.addData(Event(2, ts("2024-01-01 00:00:02"), 1, "click", -5.0))
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      assert(failed.getMessage.contains("checks failed") ||
             Option(failed.getCause).exists(_.getMessage.contains("checks failed")))
      assert(seen.get() == 1, "dirty batch must not reach the sink")
    } finally if (q.isActive) q.stop()
  }

  test("dedupStream drops duplicate event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = EventStreams.dedupStream(source.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      source.addData(
        Event(1, ts("2024-01-01 00:00:01"), 1, "click", 1.0),
        Event(1, ts("2024-01-01 00:00:01"), 1, "click", 1.0), // same batch dup
        Event(2, ts("2024-01-01 00:00:02"), 1, "view", 2.0))
      q.processAllAvailable()
      source.addData(Event(1, ts("2024-01-01 00:00:03"), 1, "click", 1.0)) // cross-batch dup
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup_test").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L), s"expected deduped ids, got ${ids.toSeq}")
    } finally q.stop()
  }

  test("anomalies: per-user EWMA state flags outliers across batches, flatMap cardinality") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = EventStreams.anomalies(source.toDS(), alpha = 0.5, threshold = 3.0, minEvents = 3)
      .writeStream.format("memory").queryName("anom_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: three calm events build the baseline — below minEvents at
      // each point, so NO anomaly rows (flatMap emits zero)
      source.addData(
        Event(1, ts("2024-01-01 00:00:01"), 7, "click", 10.0),
        Event(2, ts("2024-01-01 00:00:02"), 7, "click", 10.0),
        Event(3, ts("2024-01-01 00:00:03"), 7, "click", 10.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM anom_test").head().getLong(0) == 0)
      // batch 2: a 10× spike against the carried EWMA state (~10) → flagged;
      // the calm event after it is not
      source.addData(
        Event(4, ts("2024-01-01 00:00:04"), 7, "click", 100.0),
        Event(5, ts("2024-01-01 00:00:05"), 7, "click", 10.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, ratio FROM anom_test").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(4L), s"got ${rows.toSeq}")
      assert(math.abs(rows.head.getDouble(1) - 10.0) < 0.01)
      // a different user has independent state: its first events never flag
      source.addData(Event(6, ts("2024-01-01 00:00:06"), 8, "click", 500.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM anom_test").head().getLong(0) == 1)
    } finally q.stop()
  }

  test("attribution: stream-stream interval join matches purchases within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.attribution(clicks.toDS(), purchases.toDS(), horizon = "1 hour")
      .writeStream.format("memory").queryName("attr_test")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        Event(1, ts("2024-01-01 10:00:00"), 7, "click", 0.0),
        Event(2, ts("2024-01-01 10:00:00"), 8, "click", 0.0))
      purchases.addData(
        Event(50, ts("2024-01-01 10:30:00"), 7, "purchase", 9.99),  // in horizon
        Event(51, ts("2024-01-01 11:30:00"), 7, "purchase", 5.00),  // past horizon
        Event(52, ts("2024-01-01 09:59:00"), 7, "purchase", 1.00),  // before click
        Event(53, ts("2024-01-01 10:05:00"), 9, "purchase", 2.00))  // other user
      q.processAllAvailable()
      val rows = spark.sql("SELECT click_id, purchase_id FROM attr_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 50L)), s"got $rows")
    } finally q.stop()
  }

  test("attributionOuter: unconverted clicks emit null-padded once the watermark closes their horizon") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.attributionOuter(clicks.toDS(), purchases.toDS(),
        horizon = "1 hour", watermark = "1 hour")
      .writeStream.format("memory").queryName("attr_outer_test")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        Event(1, ts("2024-01-01 10:00:00"), 7, "click", 0.0),  // converts
        Event(2, ts("2024-01-01 10:00:00"), 8, "click", 0.0))  // never converts
      purchases.addData(
        Event(50, ts("2024-01-01 10:30:00"), 7, "purchase", 9.99))
      q.processAllAvailable()
      // before the watermark passes click 2's horizon the engine cannot
      // prove a purchase isn't coming — no null row yet
      val early = spark.sql("SELECT click_id FROM attr_outer_test WHERE purchase_id IS NULL")
        .count()
      assert(early == 0, "outer result must wait for the watermark")
      // advance BOTH watermarks well past 11:00 (click horizon end) + delay
      clicks.addData(Event(3, ts("2024-01-01 14:00:00"), 99, "click", 0.0))
      purchases.addData(Event(60, ts("2024-01-01 14:00:00"), 99, "purchase", 1.0))
      q.processAllAvailable()
      val matched = spark.sql(
        "SELECT click_id, purchase_id FROM attr_outer_test WHERE purchase_id IS NOT NULL")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val unmatchedRows = spark.sql(
        "SELECT click_id, purchase_ts, purchase_value FROM attr_outer_test WHERE purchase_id IS NULL")
        .collect()
      assert(matched.contains((1L, 50L)), s"converted click must join: $matched")
      assert(unmatchedRows.map(_.getLong(0)).toSeq == Seq(2L),
        s"exactly the unconverted click emits null-padded: ${unmatchedRows.toSeq}")
      assert(unmatchedRows.forall(r => r.isNullAt(1) && r.isNullAt(2)),
        "purchase columns must be null on the outer row")
    } finally q.stop()
  }

  test("gapSessions under readStream: watermark closes sessions, Append emits them once") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = EventStreams.gapSessions(source.toDF(), watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("gap_sess_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 7: two events 10 min apart (one session), then one 80 min
      // later (second session); user 8: one event
      source.addData(
        Event(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
        Event(2, ts("2024-01-01 00:10:00"), 7, "click", 2.0),
        Event(3, ts("2024-01-01 01:30:00"), 7, "click", 4.0),
        Event(4, ts("2024-01-01 00:05:00"), 8, "view", 8.0))
      q.processAllAvailable()
      // push the watermark far past every session end so they all close
      source.addData(Event(99, ts("2024-01-02 00:00:00"), 9, "click", 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT user_id, session_start, session_end, n_events, session_value
          |FROM gap_sess_test ORDER BY user_id, session_start""".stripMargin)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
      assert(rows.toSeq == Seq(
        (7L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:40:00"), 2L, 3.0),
        (7L, ts("2024-01-01 01:30:00"), ts("2024-01-01 02:00:00"), 1L, 4.0),
        (8L, ts("2024-01-01 00:05:00"), ts("2024-01-01 00:35:00"), 1L, 8.0)),
        s"got ${rows.toSeq}")
      // the watermark-advancing event's own session is still open: not emitted
      assert(!rows.exists(_._1 == 9L), "open session leaked into Append output")
    } finally q.stop()
  }

  test("gapSessions survives a checkpointed restart: emit-once across runs, rows match batch") {
    // The production shape: file source -> session windows -> file sink,
    // with a checkpoint carrying watermark + session state across process
    // restarts. Two runs over four time-ordered file chunks; Append mode
    // must emit every closed session exactly once ACROSS runs, and each
    // emitted row must equal the batch gapSessions result bit-for-bit.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("gap_ckpt_").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    val ev = graft.io.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val Array(t0, t1) = ev.agg(min(col("ts")), max(col("ts"))).head()
      .toSeq.map(_.asInstanceOf[java.sql.Timestamp].getTime).toArray
    // four time-range chunks written as one file each, in order (the file
    // source processes by modification time; one file per microbatch so
    // the watermark advances between batches)
    def chunk(i: Int): org.apache.spark.sql.DataFrame = {
      val lo = t0 + (t1 - t0) * i / 4; val hi = t0 + (t1 - t0) * (i + 1) / 4
      ev.filter(unix_millis(col("ts")) >= lo && (if (i == 3) lit(true) else unix_millis(col("ts")) < hi))
    }
    def writeChunk(i: Int): Unit = {
      chunk(i).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(1100) // distinct mtimes => deterministic file order
    }
    val schema = ev.schema
    def runOnce(): Unit = {
      val q = EventStreams.gapSessions(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inDir),
          watermark = Some("10 minutes"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish in time")
    }
    writeChunk(0); writeChunk(1)
    runOnce()
    val afterRun1 = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(afterRun1.nonEmpty, "first run should emit sessions closed by the watermark")
    writeChunk(2); writeChunk(3)
    runOnce()
    val afterRun2 = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4))).toSeq
    // emit-once across the restart: run 2 only appends, never re-emits
    assert(afterRun2.size == afterRun2.toSet.size, "duplicate sessions emitted")
    assert(afterRun1.toSet.subsetOf(afterRun2.toSet), "restart re-emitted or lost run-1 sessions")
    assert(afterRun2.size > afterRun1.size, "second run should close more sessions")
    // every emitted session equals its batch-mode counterpart exactly
    val batch = EventStreams.gapSessions(ev).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4))).toSet
    val leaked = afterRun2.filterNot(batch.contains)
    assert(leaked.isEmpty, s"streamed sessions diverge from batch: ${leaked.take(3)}")
  }

  test("streaming corpus prefix: quality gate + exact dedup, one doc per fingerprint") {
    // The clean-corpus PREFIX (quality filter -> fingerprint dedup) as a
    // stream: the shape an ingestion pipeline runs as documents arrive.
    // dropDuplicates keeps all fingerprint state (no event time on docs);
    // a production stream bounds it with dropDuplicatesWithinWatermark.
    // The near-dup LSH stage stays batch (corpus self-join; SCALE.md).
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions._
    import graft.text.TextOps
    val root = java.nio.file.Files.createTempDirectory("corpus_stream_").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    val docs = graft.io.Tables.table(spark, sf, "documents").select("doc_id", "text")
    val cut = docs.count() / 2
    docs.filter(col("doc_id") < cut).coalesce(1).write.mode("append").parquet(inDir)
    docs.filter(col("doc_id") >= cut).coalesce(1).write.mode("append").parquet(inDir)
    def cleanPrefix(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .filter(col("quality") >= 0.5)
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .dropDuplicates("fp")
    val q = cleanPrefix(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(inDir))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in time")
    val streamed = spark.read.parquet(outDir).select("doc_id", "fp", "quality").collect()
    val batch = cleanPrefix(docs).select("doc_id", "fp", "quality").collect()
    // same surviving fingerprint set and cardinality (which duplicate
    // survives is arrival-order-specific; the set contract is the operator)
    assert(streamed.map(_.getString(1)).toSet == batch.map(_.getString(1)).toSet,
      "streamed fingerprint set diverges from batch")
    assert(streamed.length == streamed.map(_.getString(1)).distinct.length,
      "streaming dedup emitted a fingerprint twice")
    assert(streamed.forall(_.getDouble(2) >= 0.5), "quality gate leaked a low-quality doc")
  }

  test("observedStream: gate metrics ride each micro-batch's progress event") {
    import graft.checks._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val checks = Seq(NoMissing("event_type"),
      NoFailedRows("neg_value", org.apache.spark.sql.functions.col("value") < 0))
    val q = CheckSuite.observedStream(source.toDF(), checks)
      .writeStream.format("memory").queryName("obs_stream_test")
      .outputMode(OutputMode.Append()).start()
    try {
      source.addData(
        Event(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
        Event(2, ts("2024-01-01 00:01:00"), 7, null, -2.0),
        Event(3, ts("2024-01-01 00:02:00"), 8, "view", 3.0))
      q.processAllAvailable()
      val metricRows = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("graft_checks")))
      assert(metricRows.nonEmpty, "no observed metrics on any progress event")
      val results = CheckSuite.decodeObservedRow(metricRows.last, checks)
      val byName = results.map(r => r.check -> r).toMap
      assert(byName(checks.head.name).metric == 1 && !byName(checks.head.name).passed,
        "null event_type must fail the missing gate for this batch")
      assert(byName(checks(1).name).metric == 1 && !byName(checks(1).name).passed,
        "negative value must fail the failed-rows gate for this batch")
    } finally q.stop()
  }

  test("MetricsRepo.appendStreamProgress: per-batch gate metrics land as runs") {
    import graft.checks._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val checks = Seq(NoMissing("event_type"),
      NoFailedRows("neg_value", org.apache.spark.sql.functions.col("value") < 0))
    val repo = java.nio.file.Files.createTempDirectory("metrics_stream").toString
    val q = CheckSuite.observedStream(source.toDF(), checks)
      .writeStream.format("memory").queryName("obs_repo_test")
      .outputMode(OutputMode.Append()).start()
    try {
      source.addData(
        Event(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
        Event(2, ts("2024-01-01 00:01:00"), 7, null, 1.0))
      q.processAllAvailable()
      source.addData(
        Event(3, ts("2024-01-01 00:02:00"), 8, "view", -3.0),
        Event(4, ts("2024-01-01 00:03:00"), 8, "view", -4.0))
      q.processAllAvailable()
      val last = MetricsRepo.appendStreamProgress(spark, repo, q, checks)
      assert(last >= 1L, "two batches should have appended")
      // idempotence: a second sweep from the same cursor appends nothing
      assert(MetricsRepo.appendStreamProgress(spark, repo, q, checks,
        sinceBatch = last) == last)
      val log = MetricsRepo.load(spark, repo)
        .select("run_seq", "check", "metric")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      // batch 0: one null event_type, no negatives; batch 1: two negatives
      assert(log.contains((0L, checks.head.name, 1.0)))
      assert(log.contains((0L, checks(1).name, 0.0)))
      assert(log.contains((1L, checks(1).name, 2.0)))
      // the drift diff runs unchanged over the streaming log: neg_value
      // 0 → 2 is a flagged jump
      val d = MetricsRepo.drift(spark, repo, tolerance = 0.5)
        .filter(org.apache.spark.sql.functions.col("check") === checks(1).name
          && org.apache.spark.sql.functions.col("run_seq") === 1L)
        .select("is_drift").collect()
      assert(d.length == 1 && d.head.getBoolean(0), "0 → 2 negatives must flag drift")
    } finally q.stop()
  }

  test("funnelProgress: per-user step machine advances across batches, order-free within") {
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.Event
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val steps = Seq("view", "click", "purchase")
    val q = EventStreams.funnelProgress(source.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_stream_test")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1 deliberately out of arrival order: the click precedes the
      // view in the sequence but sorts after it by event time
      source.addData(
        Event(3, ts("2024-01-01 00:05:00"), 1, "click", 0.0),
        Event(1, ts("2024-01-01 00:01:00"), 1, "view", 0.0),
        Event(2, ts("2024-01-01 00:01:00"), 2, "purchase", 0.0)) // wrong first step
      q.processAllAvailable()
      val afterB1 = spark.table("funnel_stream_test")
        .select("user_id", "steps_reached")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(afterB1(1L) == 2, "view then click (sorted by event time) = 2 steps")
      assert(afterB1(2L) == 0, "purchase before any view advances nothing")
      // batch 2: user 1 completes; user 2 starts the funnel properly
      source.addData(
        Event(4, ts("2024-01-01 00:09:00"), 1, "purchase", 0.0),
        Event(5, ts("2024-01-01 00:10:00"), 2, "view", 0.0))
      q.processAllAvailable()
      val fin = spark.table("funnel_stream_test")
        .groupBy("user_id").agg(org.apache.spark.sql.functions.max("steps_reached").as("r"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(fin(1L) == 3, "user 1 completes the funnel across batches")
      assert(fin(2L) == 1, "user 2's late-batch view counts; earlier purchase does not rewind")
    } finally q.stop()
  }

  test("funnel readout parity: foreachBatch log gated equal to batch funnelSteps in-order") {
    // The corpusDedupStream contract pattern applied to the funnel:
    // (1) for an IN-ORDER feed (every batch's events later than the
    //     previous batch's), the streaming readout over the foreachBatch
    //     progress log is EQUAL to CoreOps.funnelSteps on the same events
    //     (gap wider than the feed ⇒ one session per user), per user and
    //     per step;
    // (2) the documented no-rewind trade-off: a step arriving in a LATER
    //     batch than a subsequent step can only lower the stream's count
    //     (stream ≤ batch per user) — pinned on a planted late click.
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val logDir = java.nio.file.Files.createTempDirectory("graft_funnel_log")
      .toFile.getAbsolutePath + "/log"
    val source = MemoryStream[Event]
    val q = EventStreams.funnelProgressLog(
      EventStreams.funnelProgress(source.toDS(), steps), logDir)
    val batch1 = Seq(
      Event(1, ts("2024-01-01 00:01:00"), 1, "view", 0.0),
      Event(2, ts("2024-01-01 00:02:00"), 1, "click", 0.0),
      Event(3, ts("2024-01-01 00:01:30"), 2, "view", 0.0),
      Event(4, ts("2024-01-01 00:03:00"), 3, "purchase", 0.0)) // wrong first step
    val batch2 = Seq(
      Event(5, ts("2024-01-01 00:05:00"), 1, "purchase", 0.0),
      Event(6, ts("2024-01-01 00:06:00"), 2, "click", 0.0),
      Event(7, ts("2024-01-01 00:07:00"), 3, "view", 0.0))
    try {
      source.addData(batch1: _*); q.processAllAvailable()
      source.addData(batch2: _*); q.processAllAvailable()

      val streamed = EventStreams.funnelReadout(spark, logDir, steps)
        .select("step_idx", "n_reached").as[(Int, Long)].collect().toMap
      val sess = graft.ops.CoreOps.funnelSteps(
        (batch1 ++ batch2).toDF(), "user_id", "event_type", "ts", "event_id",
        gapSec = 86400L, steps = steps) // gap wider than the feed: 1 session/user
      val batchPerUser = sess.groupBy("user_id")
        .agg(org.apache.spark.sql.functions.max("steps_reached").as("r"))
        .as[(Long, Int)].collect().toMap
      val batchCounts = steps.indices.map(i =>
        i -> batchPerUser.values.count(_ >= i + 1).toLong).toMap
      assert(streamed == batchCounts,
        s"in-order readout must equal batch funnelSteps: $streamed vs $batchCounts")
      assert(batchPerUser == Map(1L -> 3, 2L -> 2, 3L -> 1))

      // (2) late cross-batch step: user 4's click belongs BETWEEN its view
      // and purchase but arrives a batch after the purchase. The stream
      // advances view→click (click is next-expected and later than the
      // view) but never revisits the purchase: stream=2 < batch=3.
      source.addData(
        Event(8, ts("2024-01-01 01:00:00"), 4, "view", 0.0),
        Event(9, ts("2024-01-01 01:05:00"), 4, "purchase", 0.0))
      q.processAllAvailable()
      source.addData(Event(10, ts("2024-01-01 01:02:00"), 4, "click", 0.0))
      q.processAllAvailable()
      val lateStream = EventStreams.funnelReadout(spark, logDir, steps)
        .select("step_idx", "n_reached").as[(Int, Long)].collect().toMap
      val lateBatch = graft.ops.CoreOps.funnelSteps(
        (batch1 ++ batch2 ++ Seq(
          Event(8, ts("2024-01-01 01:00:00"), 4, "view", 0.0),
          Event(9, ts("2024-01-01 01:05:00"), 4, "purchase", 0.0),
          Event(10, ts("2024-01-01 01:02:00"), 4, "click", 0.0))).toDF(),
        "user_id", "event_type", "ts", "event_id", gapSec = 86400L, steps = steps)
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.max("steps_reached").as("r"))
        .as[(Long, Int)].collect().toMap
      assert(lateBatch(4L) == 3, "batch sees the full in-between sequence")
      assert(lateStream(2) == lateBatch.values.count(_ >= 3) - 1,
        "no-rewind: the stream must under-count user 4's purchase")
      // ...and never OVER-counts: each step's stream count ≤ batch count
      steps.indices.foreach { i =>
        assert(lateStream(i) <= lateBatch.values.count(_ >= i + 1),
          s"stream over-counts step $i")
      }
    } finally q.stop()
  }

  test("corpusDedupStream: state stays bounded while set-contract matches batch") {
    // The BOUNDED-STATE corpus dedup (dropDuplicatesWithinWatermark):
    // (1) inside the lateness window it behaves exactly like the batch
    //     dropDuplicates run — same surviving fingerprint set, no fp twice;
    // (2) fingerprints older than the watermark are EVICTED — state is
    //     proportional to churn × window, not corpus size (the
    //     stateOperators row count drops after the watermark jumps);
    // (3) the documented trade-off: a duplicate arriving after its
    //     original was evicted is re-emitted (periodic batch dedup — q14 —
    //     reconciles downstream).
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.Doc
    def doc(id: Long, minute: Long, text: String) =
      Doc(id, new java.sql.Timestamp(1704067200000L + minute * 60000L), text)
    def text(i: Int) = s"synthetic document $i about subject $i with enough words"
    val source = MemoryStream[Doc]
    val q = EventStreams.corpusDedupStream(
        source.toDF(), minQuality = 0.0, watermark = "30 minutes")
      .writeStream.format("memory").queryName("corpus_dedup_bounded")
      .outputMode(OutputMode.Append()).start()
    try {
      // phase A: 15 unique docs + 3 duplicates, all inside the window
      source.addData((1 to 10).map(i => doc(i, i, text(i)))
        :+ doc(101, 5, text(1)) :+ doc(102, 6, text(2)): _*)
      q.processAllAvailable()
      source.addData((11 to 15).map(i => doc(i, 9 + i, text(i)))
        :+ doc(103, 21, text(3)): _*)
      q.processAllAvailable()
      val phaseA = spark.sql("SELECT doc_id, fp FROM corpus_dedup_bounded").collect()
      import spark.implicits._
      val batchSet = EventStreams.corpusDedupBatch(
        ((1 to 10).map(i => doc(i, i, text(i))) ++ Seq(doc(101, 5, text(1)), doc(102, 6, text(2)))
          ++ (11 to 15).map(i => doc(i, 9 + i, text(i))) :+ doc(103, 21, text(3))).toDF(),
        minQuality = 0.0)
        .select("fp").collect().map(_.getString(0)).toSet
      assert(phaseA.map(_.getString(1)).toSet == batchSet,
        "streamed fingerprint set diverges from the batch dropDuplicates run")
      assert(phaseA.length == phaseA.map(_.getString(1)).distinct.length,
        "a fingerprint was emitted twice inside the window")
      assert(phaseA.length == 15, s"expected 15 unique docs, got ${phaseA.length}")

      // phase B: jump event time ~10 hours → watermark passes phase A
      source.addData((16 to 20).map(i => doc(i, 600 + i, text(i))): _*)
      q.processAllAvailable()
      // eviction applies on the NEXT batch after the watermark advances
      source.addData(((21 to 25).map(i => doc(i, 630 + i, text(i)))
        :+ doc(104, 640, text(1))): _*)
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      // 21 distinct fps seen; unbounded state would hold all of them.
      // Bounded: only the post-jump fps (16-25 + the re-added text(1)) remain.
      assert(stateRows <= 11, s"state not evicted: $stateRows rows retained")

      // phase C: the evicted fingerprint was re-emitted (the trade-off)
      val all = spark.sql("SELECT fp FROM corpus_dedup_bounded").collect().map(_.getString(0))
      val fp1 = phaseA.find(_.getLong(0) == 1L).map(_.getString(1)).get
      assert(all.count(_ == fp1) == 2,
        "duplicate after eviction must re-emit (bounded-state contract)")
      assert(all.length == 26 && all.toSet.size == 25,
        s"expected 25 unique docs + 1 re-emit, got ${all.length}/${all.toSet.size}")
    } finally q.stop()
  }

  test("sessionize maintains per-user state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val sessions = EventStreams.sessionize(source.toDS())
    val q = sessions.writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Update()).start()
    try {
      source.addData(Event(1, ts("2024-01-01 00:00:01"), 7, "click", 2.0))
      q.processAllAvailable()
      source.addData(Event(2, ts("2024-01-01 00:00:05"), 7, "click", 3.0))
      q.processAllAvailable()
      val latest = spark.sql(
        "SELECT n_events, total_value FROM sess_test WHERE user_id = 7 ORDER BY n_events DESC").head()
      assert(latest.getLong(0) == 2 && latest.getDouble(1) == 5.0)
    } finally q.stop()
  }

  test("rollupStream: streaming monoid state equals the batch aggregate exactly, any batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val source = MemoryStream[Event]
    val q = EventStreams.runToMemory(
      EventStreams.rollupStream(source.toDS()).toDF(), "rollup_test")
    // values chosen to exercise decimal(18,4) rounding (HALF_UP at the
    // 5th digit) — the case a double accumulator would drift on
    val b1 = Seq(Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.00005),
                 Event(2, ts("2024-01-01 00:20:00"), 2, "view",  2.5),
                 Event(3, ts("2024-01-01 00:30:00"), 1, "view",  0.12344))
    val b2 = Seq(Event(4, ts("2024-01-01 01:00:00"), 1, "buy",   10.0),
                 Event(5, ts("2024-01-01 01:30:00"), 3, "click", 7.77777))
    val b3 = Seq(Event(6, ts("2024-01-01 02:00:00"), 2, "click", 0.00004),
                 // sub-millisecond pair: getTime is equal for both, so a
                 // maxBy(_.getTime) state would keep whichever arrives
                 // first — the full-Timestamp ordering must keep .0009
                 Event(7, ts("2024-01-01 02:00:00.0001"), 4, "view", 1.0),
                 Event(8, ts("2024-01-01 02:00:00.0009"), 4, "view", 1.0))
    try {
      Seq(b1, b2, b3).foreach { b => source.addData(b: _*); q.processAllAvailable() }
      // update-mode emissions accumulate; n_events is monotone per user,
      // so max_by picks each user's final state
      val streamed = spark.sql(
        """SELECT user_id, max(n_events) AS n_events,
          |  max_by(value_1e4, n_events) AS value_1e4,
          |  max_by(last_ts, n_events) AS last_ts
          |FROM rollup_test GROUP BY user_id""".stripMargin)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getAs[Timestamp]("last_ts"))).toMap
      // the batch aggregate q119 gates: count / exact decimal sum / max ts
      val batch = (b1 ++ b2 ++ b3).toDS()
        .groupBy(col("user_id")).agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).as("dec"),
          max(col("ts")).as("last_ts"))
        .collect().map { r =>
          val scaled = r.getDecimal(2).movePointRight(4).longValueExact()
          r.getLong(0) -> (r.getLong(1), scaled, r.getAs[Timestamp]("last_ts"))
        }.toMap
      assert(streamed == batch,
        s"streaming state diverged from the batch monoid:\n  stream=$streamed\n  batch=$batch")
    } finally q.stop()
  }

  test("rollupStream state survives stop/restart via checkpoint (fault tolerance)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[Event]
    val root = java.nio.file.Files.createTempDirectory("rollup_ckpt_").toString
    val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    // memory sink can't recover from a checkpoint — the recoverable
    // production shape is the foreachBatch upsert log (funnelProgressLog)
    def start() = EventStreams.rollupStream(source.toDS()).toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir); ()
      }
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    source.addData(
      Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:20:00"), 1, "view",  2.0))
    q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint: per-user state must RESUME, not reset,
    // and the already-committed micro-batch must not replay (counts would
    // read 5, not 3, if it did)
    val q2 = start()
    try {
      source.addData(Event(3, ts("2024-01-01 01:00:00"), 1, "buy", 3.0))
      q2.processAllAvailable()
      val last = spark.read.parquet(outDir)
        .filter(org.apache.spark.sql.functions.col("user_id") === 1L)
        .orderBy(org.apache.spark.sql.functions.desc("n_events"))
        .select("n_events", "value_1e4").head()
      assert(last.getLong(0) == 3, s"state must resume across restart, got ${last.getLong(0)}")
      assert(last.getLong(1) == 60000L, s"sum must carry across restart, got ${last.getLong(1)}")
    } finally q2.stop()
  }

  test("rollupStream restart under the RocksDB state store provider (spillable state)") {
    // the default HDFSBackedStateStoreProvider keeps every key's state on
    // the executor heap — at a 100 TB-scale keyspace state must spill;
    // RocksDB is the production provider. Same stop/restart contract,
    // with the provider recorded in (and recovered from) the checkpoint.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val source = MemoryStream[Event]
      val root = java.nio.file.Files.createTempDirectory("rollup_rocks_").toString
      val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
      def start() = EventStreams.rollupStream(source.toDS()).toDF()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outDir); ()
        }
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt).start()
      val q1 = start()
      source.addData(
        Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 00:20:00"), 1, "view",  2.0))
      q1.processAllAvailable()
      // the provider must actually be RocksDB, not silently the default:
      // its state-operator custom metrics are rocksdb-prefixed
      import scala.jdk.CollectionConverters._
      val metrics = q1.lastProgress.stateOperators.head.customMetrics.keySet().asScala
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"expected rocksdb state metrics, got: $metrics")
      q1.stop()
      val q2 = start()
      try {
        source.addData(Event(3, ts("2024-01-01 01:00:00"), 1, "buy", 3.0))
        q2.processAllAvailable()
        val last = spark.read.parquet(outDir)
          .filter(org.apache.spark.sql.functions.col("user_id") === 1L)
          .orderBy(org.apache.spark.sql.functions.desc("n_events"))
          .select("n_events", "value_1e4").head()
        assert(last.getLong(0) == 3,
          s"RocksDB state must resume across restart, got ${last.getLong(0)}")
        assert(last.getLong(1) == 60000L,
          s"sum must carry across restart, got ${last.getLong(1)}")
      } finally q2.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("percentileStream: t-digest state accumulates across batches; readout equals a same-order replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val source = MemoryStream[Event]
    val q = EventStreams.runToMemory(
      EventStreams.percentileStream(source.toDS()).toDF(), "pctl_test")
    val b1 = (1 to 60).map(i => Event(i, ts("2024-01-01 00:10:00"), i, "click", i.toDouble))
    val b2 = (61 to 100).map(i => Event(i, ts("2024-01-01 00:20:00"), i, "click", i.toDouble))
    try {
      Seq(b1, b2).foreach { b => source.addData(b: _*); q.processAllAvailable() }
      val rows = spark.sql(
        """SELECT event_type, max(n) AS n,
          |  max_by(p50, n) AS p50, max_by(p95, n) AS p95, max_by(p99, n) AS p99
          |FROM pctl_test GROUP BY event_type""".stripMargin).collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getLong(1) == 100L, "state must span both batches")
      val (p50, p95, p99) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(p50 <= p95 && p95 <= p99, "quantiles must be monotone")
      // t-digest on 1..100: interpolated quantiles land near the exact ones
      assert(math.abs(p50 - 50.5) <= 3.0, s"p50=$p50")
      assert(math.abs(p95 - 95.0) <= 3.0, s"p95=$p95")
      assert(p99 >= 95.0 && p99 <= 100.0, s"p99=$p99")
    } finally q.stop()
  }

  test("heavyHittersStream: Space-Saving state spans batches; estimates respect the error bound") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val source = MemoryStream[Event]
    val q = EventStreams.runToMemory(
      EventStreams.heavyHittersStream(source.toDS(), k = 8, top = 3).toDF(), "hh_test")
    // user 7 is hot (60 of 100 events), split across two batches
    val b1 = (1 to 50).map(i => Event(i, ts("2024-01-01 00:10:00"),
      if (i <= 30) 7L else i.toLong, "click", 1.0))
    val b2 = (51 to 100).map(i => Event(i, ts("2024-01-01 00:20:00"),
      if (i <= 80) 7L else i.toLong, "click", 1.0))
    try {
      Seq(b1, b2).foreach { b => source.addData(b: _*); q.processAllAvailable() }
      val r = spark.sql(
        """SELECT max(n) AS n, max_by(eps, n) AS eps,
          |  max_by(items, n) AS items, max_by(estimates, n) AS est
          |FROM hh_test""".stripMargin).collect().head
      assert(r.getLong(0) == 100L, "state must span both batches")
      val items = r.getSeq[String](2)
      val est   = r.getSeq[Long](3)
      val eps   = r.getLong(1)
      assert(items.head == "7", s"hot user must lead, got $items")
      // Space-Saving contract: est(x) − true(x) ∈ [0, eps]; true(7) = 60
      assert(est.head >= 60L && est.head <= 60L + eps,
        s"est=${est.head} eps=$eps")
    } finally q.stop()
  }

  test("typeCountsStream (transformWithState): MapState totals across batches equal the batch aggregate") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val source = MemoryStream[Event]
      val q = EventStreams.runToMemory(
        EventStreams.typeCountsStream(source.toDS()).toDF(), "twst_test")
      val b1 = Seq(Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.00005),
                   Event(2, ts("2024-01-01 00:20:00"), 1, "view",  2.5),
                   Event(3, ts("2024-01-01 00:30:00"), 2, "click", 0.12344))
      val b2 = Seq(Event(4, ts("2024-01-01 01:00:00"), 1, "click", 10.0),
                   Event(5, ts("2024-01-01 01:30:00"), 2, "view",  7.77777))
      try {
        Seq(b1, b2).foreach { b => source.addData(b: _*); q.processAllAvailable() }
        val streamed = spark.sql(
          """SELECT user_id, event_type, max(n) AS n, max_by(value_1e4, n) AS v
            |FROM twst_test GROUP BY user_id, event_type""".stripMargin)
          .as[(Long, String, Long, Long)].collect()
          .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
        val batch = (b1 ++ b2).toDS()
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).as("dec"))
          .collect().map { r =>
            (r.getLong(0), r.getString(1)) ->
              (r.getLong(2), r.getDecimal(3).movePointRight(4).longValueExact())
          }.toMap
        assert(streamed == batch,
          s"composite MapState must equal the batch rollup\n$streamed\nvs\n$batch")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("nearDupStream: cross-batch candidate pairs equal the batch LSH pair set") {
    // the streaming detector buckets by the SAME signature + band keys as
    // Dedup.minhashCandidatePairs (shared bandStructs), so its distinct
    // pair set over a 2-batch feed must EQUAL the batch run over the
    // union corpus — including pairs whose two members arrive in
    // DIFFERENT batches (the case exact streaming dedup cannot see)
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.Doc
    def doc(id: Long, text: String) =
      Doc(id, new java.sql.Timestamp(1704067200000L + id * 60000L), text)
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus1 = Seq(
      doc(1, base),
      doc(2, base + " extra"),                     // near-dup of 1, same batch
      doc(3, "completely different words about spark shuffles and partitions"),
      doc(4, "another unrelated document mentioning catalyst and tungsten engines"))
    val corpus2 = Seq(
      doc(5, base.replace("today", "tonight")),     // near-dup of 1/2, LATER batch
      doc(6, "completely different words about spark shuffles and partitions !"), // near-dup of 3
      doc(7, "fresh content with no relatives anywhere in this stream at all"))
    val source = MemoryStream[Doc]
    val q = EventStreams.runToMemory(
      EventStreams.nearDupStream(source.toDS()).toDF(), "ndup_test",
      mode = org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      source.addData(corpus1: _*); q.processAllAvailable()
      source.addData(corpus2: _*); q.processAllAvailable()
      val streamed = spark.sql("SELECT DISTINCT doc_a, doc_b FROM ndup_test")
        .as[(Long, Long)].collect().toSet
      val batch = graft.dedup.Dedup.minhashCandidatePairs(
          (corpus1 ++ corpus2).toDF(), "doc_id", "text")
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(streamed == batch,
        s"streaming pair set must equal batch LSH:\nstream $streamed\nbatch  $batch")
      assert(streamed.contains((1L, 5L)) || streamed.contains((2L, 5L)),
        s"a cross-batch near-dup pair must surface: $streamed")
    } finally q.stop()
  }

  test("nearDupStream state survives stop/restart via checkpoint: cross-RUN pairs still surface") {
    // the bucket-keyed signature state must RESUME across a restart — a
    // near-dup whose first copy arrived before the stop and second copy
    // after must still pair (state reset would silently lose it), and the
    // committed batch must not replay (no duplicate emissions)
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.Doc
    def doc(id: Long, text: String) =
      Doc(id, new java.sql.Timestamp(1704067200000L + id * 60000L), text)
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val source = MemoryStream[Doc]
    val root = java.nio.file.Files.createTempDirectory("ndup_ckpt_").toString
    val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    def start() = EventStreams.nearDupStream(source.toDS()).toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir); ()
      }
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    source.addData(doc(1, base), doc(2, "unrelated words about catalyst planning and shuffles"))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      source.addData(doc(3, base + " thirteen"))
      q2.processAllAvailable()
      val pairs = spark.read.parquet(outDir)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
      assert(pairs.contains((1L, 3L)),
        s"pre-restart doc must pair with post-restart near-dup: $pairs")
      // a pair may surface once per shared band (≤ 4) but never more —
      // a replayed batch would double those emissions
      assert(pairs.count(_ == ((1L, 3L))) <= 4, s"replay-duplicated emissions: $pairs")
      assert(!pairs.exists(p => p == ((1L, 2L)) || p == ((2L, 3L))),
        s"unrelated doc must not pair: $pairs")
    } finally q2.stop()
  }

  test("nearDupStream stateTtl: pre-expiry pairs surface, expired buckets evict (state rows drop), post-expiry dups miss") {
    // the r13 watch item's dial: an EVENT-TIME TTL bounds bucket COUNT
    // by ingest churn × TTL instead of corpus vocabulary — and being
    // event-time, the whole contract is data-driven (no sleeps):
    //  (1) pairs inside the TTL window surface exactly as with NoTimeout;
    //  (2) once the watermark passes last-touch + TTL, untouched buckets
    //      evict — pinned on the state store's own row count from the
    //      progress feed;
    //  (3) a duplicate arriving after its bucket expired pairs with
    //      nothing (the documented recall trade the batch reconciliation
    //      restores).
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.Doc
    val t0 = 1704067200000L
    def doc(id: Long, minute: Long, text: String) =
      Doc(id, new java.sql.Timestamp(t0 + minute * 60000L), text)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val source = MemoryStream[Doc]
    val q = EventStreams.runToMemory(
      EventStreams.nearDupStream(source.toDS(), stateTtl = Some("10 minutes"),
        ttlLateness = "0 seconds").toDF(),
      "ndup_ttl_test",
      mode = org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      def stateRows: Long = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      // batch 1 (event times 0-1 min): a same-window near-dup pair must
      // surface (contract 1); buckets' TTL clock = max ts + 10 min
      source.addData(doc(1, 0, base), doc(2, 1, base + " extra"))
      q.processAllAvailable()
      val early = spark.sql("SELECT DISTINCT doc_a, doc_b FROM ndup_ttl_test")
        .as[(Long, Long)].collect().toSet
      assert(early.contains((1L, 2L)), s"in-window pair must surface: $early")
      val rowsAfterB1 = stateRows
      assert(rowsAfterB1 > 0, "bucket state must exist after batch 1")
      // batch 2: UNRELATED content 30 event-minutes later pushes the
      // watermark past the batch-1 buckets' expiry → they evict
      source.addData(doc(3, 30, "totally unrelated words about tungsten codegen and exchanges"))
      q.processAllAvailable()
      // the eviction runs in the follow-up batch the advanced watermark
      // triggers; progress metrics may trail one batch — poll briefly
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (stateRows >= rowsAfterB1 && System.nanoTime < deadline) Thread.sleep(100)
      val rowsAfterB2 = stateRows
      assert(rowsAfterB2 < rowsAfterB1,
        s"expired buckets must leave the state store: $rowsAfterB1 -> $rowsAfterB2 (contract 2)")
      // batch 3: a near-dup of doc 1 arriving AFTER expiry pairs with
      // nothing (contract 3 — the recall trade, stated not hidden)
      source.addData(doc(4, 31, base + " omega"))
      q.processAllAvailable()
      val late = spark.sql("SELECT DISTINCT doc_a, doc_b FROM ndup_ttl_test")
        .as[(Long, Long)].collect().toSet
      assert(!late.exists(p => p._1 == 1L && p._2 == 4L),
        s"post-expiry duplicate must NOT pair against the evicted bucket: $late")
      assert(late.contains((1L, 2L)), "earlier emissions are append-mode history")
    } finally q.stop()
  }
}
