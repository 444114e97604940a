package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference is pure batch (SURVEY.md §1:
  * schedule=None, no watermarks/windows/state anywhere), so this module is
  * the forward-looking extension: the same aggregations the batch reports
  * compute, expressed over an unbounded events stream.
  *
  * Contract: transforms take/return streaming Datasets so they compose under
  * `readStream → transform → writeStream`; tests drive them with a
  * MemoryStream source and a memory sink.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionSummary(user_id: Long, n_events: Long, total_value: Double,
                                  first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp)

  /** Windowed per-type rollup with a watermark: tumbling window on event
    * time; late data beyond the watermark is dropped, which bounds state —
    * the only viable contract for an unbounded 100 TB/day stream.
    */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.ops.CoreOps.sumMoney(col("value")).as("total_value")
      )
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("event_type"), col("n_events"), col("total_value"))

  /** Gap-based sessions via the NATIVE `session_window` operator — the
    * declarative alternative to [[sessionize]]'s custom state: Spark's
    * session-window state store merges touching [ts, ts+gap) intervals per
    * key, state bounded by open sessions once a watermark is set. The same
    * call runs in batch (watermark = None; EliminateEventTimeWatermark
    * drops the node) and under readStream (pass a watermark; Append mode
    * emits each session once it closes). Boundary semantics: an event
    * exactly `gap` after its predecessor MERGES (touching windows count as
    * overlapping) — pinned by Round5Spec and the q64 oracle.
    */
  def gapSessions(events: DataFrame, tsCol: String = "ts",
                  gap: String = "30 minutes",
                  watermark: Option[String] = None): DataFrame = {
    val base = watermark.fold(events)(events.withWatermark(tsCol, _))
    base
      .groupBy(col("user_id"), session_window(col(tsCol), gap).as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.ops.CoreOps.sumMoney(col("value")).as("session_value"))
      .select(col("user_id"),
        col("sw.start").as("session_start"), col("sw.end").as("session_end"),
        col("n_events"), col("session_value"))
  }

  /** Per-user session aggregation via mapGroupsWithState: custom state
    * keyed by user; state is one small case class per live user — bounded
    * by active users, not by stream length.
    *
    * `gapSeconds = Some(g)` closes sessions after g seconds of
    * processing-time inactivity (ProcessingTimeTimeout). Caveat: with a
    * processing-time timeout registered, the microbatch engine runs
    * continuous empty batches to fire timers — correct for a production
    * stream, but `processAllAvailable()` never settles; tests use the
    * default None (NoTimeout ⇒ running session summaries, Update mode).
    */
  def sessionize(events: Dataset[Event], gapSeconds: Option[Long] = None): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (gapSeconds.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionSummary, SessionSummary](timeoutConf) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionSummary]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            s
          } else {
            val evs  = batch.toSeq
            val prev = state.getOption
            val all  = SessionSummary(
              userId,
              prev.map(_.n_events).getOrElse(0L) + evs.size,
              prev.map(_.total_value).getOrElse(0.0) + evs.map(_.value).sum,
              (prev.map(_.first_ts) ++ evs.map(_.ts)).minBy(_.getTime),
              (prev.map(_.last_ts) ++ evs.map(_.ts)).maxBy(_.getTime)
            )
            state.update(all)
            gapSeconds.foreach(g => state.setTimeoutDuration(g * 1000))
            all
          }
      }
  }

  final case class Anomaly(user_id: Long, event_id: Long, value: Double,
                           ewma: Double, ratio: Double)
  final case class Ewma(mean: Double, n: Long)

  /** Streaming per-key anomaly detection via flatMapGroupsWithState: one
    * EWMA per active user (state = a single double — bounded by live keys,
    * never by stream length); an event whose value exceeds `threshold` ×
    * the running EWMA emits an anomaly row, so output cardinality is
    * 0..n per batch — the flatMap (not map) state contract. Deterministic:
    * events fold in (ts, event_id) order within each batch.
    */
  def anomalies(events: Dataset[Event], alpha: Double = 0.2,
                threshold: Double = 3.0, minEvents: Int = 3): Dataset[Anomaly] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Ewma, Anomaly](OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[Ewma]) =>
          val ordered = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(Ewma(0.0, 0L))
          val out = Seq.newBuilder[Anomaly]
          ordered.foreach { e =>
            if (st.n >= minEvents && st.mean > 0 && e.value > threshold * st.mean)
              out += Anomaly(userId, e.event_id, e.value, st.mean, e.value / st.mean)
            st = if (st.n == 0L) Ewma(e.value, 1L)
                 else Ewma(alpha * e.value + (1 - alpha) * st.mean, st.n + 1)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class FunnelProgress(user_id: Long, steps_reached: Int,
                                  last_step_ts: Option[java.sql.Timestamp])

  /** Streaming funnel via mapGroupsWithState — the streaming face of
    * [[graft.ops.CoreOps.funnelSteps]]'s step machine, per USER lifetime
    * (no session cut): state is (steps_reached, last_step_ts) — two
    * fields per live user, bounded by active keys, never by stream
    * length. A batch's events fold in (ts, event_id) order, advancing
    * one step whenever the next expected type arrives strictly after the
    * previous step's timestamp — the same strict-progression rule as the
    * batch operator. Update-mode emissions carry each user's current
    * progress per batch.
    *
    * Cross-batch caveat (the corpusDedupStream trade-off, stated rather
    * than hidden): state never rewinds, so a step event arriving LATE —
    * after a later-typed event already advanced past it in a previous
    * batch — is not retroactively applied; within a batch, arrival order
    * doesn't matter (events sort by event time before folding).
    */
  def funnelProgress(events: Dataset[Event],
                     steps: Seq[String]): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty, "at least one funnel step")
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelProgress, FunnelProgress](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelProgress]) =>
          val ordered = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(FunnelProgress(userId, 0, None))
          ordered.foreach { e =>
            if (st.steps_reached < steps.length
                && e.event_type == steps(st.steps_reached)
                && st.last_step_ts.forall(t => e.ts.getTime > t.getTime)) {
              st = FunnelProgress(userId, st.steps_reached + 1, Some(e.ts))
            }
          }
          state.update(st)
          st
      }
  }

  final case class RollupState(user_id: Long, n_events: Long,
                               value_1e4: Long, last_ts: java.sql.Timestamp)

  /** Streaming incremental rollup — the streaming face of q119's
    * commutative-monoid aggregate maintenance
    * ([[graft.queries.QueryCatalog.incrementalAggMerge]]): per-user
    * (count, exact scaled-decimal sum, max ts) state merged under
    * mapGroupsWithState. The money sum is carried as a LONG of 1e4-scaled
    * units — each event's value rounds exactly like Spark's
    * `cast(decimal(18,4))` (BigDecimal.valueOf → setScale HALF_UP), and
    * long addition is the decimal monoid with zero drift, so the
    * streaming state equals the batch aggregate EXACTLY for any batch
    * split (StreamingSpec pins the parity). State is 3 fields per live
    * user — bounded by active keys, never stream length; Update-mode
    * emissions are the upsert feed a state table compacts.
    */
  def rollupStream(events: Dataset[Event]): Dataset[RollupState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[RollupState, RollupState](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[RollupState]) =>
          val evs  = batch.toSeq
          val add  = evs.map(e =>
            BigDecimal(e.value).setScale(4, BigDecimal.RoundingMode.HALF_UP)
              .bigDecimal.movePointRight(4).longValueExact()).sum
          val prev = state.getOption
          // full Timestamp ordering, NOT maxBy(_.getTime): getTime is
          // millisecond-truncated, and the batch max(ts) this state is
          // contractually equal to compares at full (nanos) precision
          val next = RollupState(
            userId,
            prev.map(_.n_events).getOrElse(0L) + evs.size,
            prev.map(_.value_1e4).getOrElse(0L) + add,
            (prev.map(_.last_ts) ++ evs.map(_.ts))
              .max(Ordering.fromLessThan[java.sql.Timestamp](_.before(_))))
          state.update(next)
          next
      }
  }

  /** foreachBatch sink for [[funnelProgress]]: append each Update-mode
    * micro-batch's per-user progress rows to a parquet log (`batch_id`
    * carried for provenance). The log is an upsert stream in the
    * compacted-topic sense, but steps_reached is MONOTONE per user (the
    * step machine never rewinds), so the live readout needs no
    * latest-row dedup — max(steps_reached) per user IS the current
    * state, making the readout order-free over the append log. At scale
    * the same foreachBatch body lands in an upsert sink keyed by user;
    * parquet-append + aggregate-on-read is the dependency-free
    * equivalent with identical semantics.
    */
  def funnelProgressLog(progress: Dataset[FunnelProgress],
                        logPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    progress.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[FunnelProgress], batchId: Long) =>
        batch.toDF().withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(logPath)
        ()
      }
      .start()

  /** Per-step readout over the [[funnelProgressLog]] parquet log:
    * n_reached(i) = users whose live steps_reached ≥ i+1 — the streaming
    * face of the q114 funnel report at per-user-lifetime granularity
    * (batch equivalent: [[graft.ops.CoreOps.funnelSteps]] with a gap
    * wider than the feed, one session per user). StreamingSpec gates
    * this EQUAL to the batch operator for in-order feeds; the no-rewind
    * caveat means a cross-batch late step event can only make the stream
    * UNDER-count a user's progress (stream ≤ batch per user, never
    * over), which the same spec pins on a planted late arrival.
    */
  def funnelReadout(spark: org.apache.spark.sql.SparkSession, logPath: String,
                    steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "at least one funnel step")
    val live = graft.io.Tables.parquet(spark, logPath)
      .groupBy("user_id").agg(max(col("steps_reached")).as("steps_reached"))
    val counts = steps.indices.map(i =>
      sum(when(col("steps_reached") >= i + 1, 1L).otherwise(0L)).as(s"c$i"))
    val agg = live.agg(counts.head, counts.tail: _*)
    val rows = steps.zipWithIndex.map { case (st, i) =>
      struct(lit(i).as("step_idx"), lit(st).as("step"), col(s"c$i").as("n_reached"))
    }
    agg.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Watermarked stream-stream interval join — attribution: each click
    * joined to the same user's purchases within the following
    * `horizon`. Both sides carry watermarks and the join condition bounds
    * event time on both ends, so Spark can evict join state once the
    * watermark passes a row's match window — state is O(rows inside the
    * horizon), never O(stream). Unbounded/unwatermarked stream-stream
    * joins are rejected by Spark for exactly that reason.
    */
  def attribution(clicks: Dataset[Event], purchases: Dataset[Event],
                  horizon: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    attributionJoin(clicks, purchases, horizon, watermark, "inner")

  /** LEFT-OUTER watermarked stream-stream join — the attribution variant
    * that also reports NON-conversions: a click with no purchase inside
    * its horizon emits once, null-padded, when the watermark passes the
    * end of its match window (before that the engine cannot know no
    * purchase is coming — outer results are inherently watermark-delayed,
    * the semantics StreamingSpec pins). Same bounded state as the inner
    * form; this is the variant a funnel/attrition report needs, since
    * unconverted clicks ARE the signal.
    */
  def attributionOuter(clicks: Dataset[Event], purchases: Dataset[Event],
                       horizon: String = "1 hour",
                       watermark: String = "2 hours"): DataFrame =
    attributionJoin(clicks, purchases, horizon, watermark, "left_outer")

  private def attributionJoin(clicks: Dataset[Event], purchases: Dataset[Event],
                              horizon: String, watermark: String,
                              joinType: String): DataFrame = {
    val c = clicks.toDF("c_event_id", "c_ts", "c_user_id", "c_type", "c_value")
      .withWatermark("c_ts", watermark)
    val p = purchases.toDF("p_event_id", "p_ts", "p_user_id", "p_type", "p_value")
      .withWatermark("p_ts", watermark)
    c.join(p, expr(
        s"""c_user_id = p_user_id AND
           |p_ts >= c_ts AND p_ts <= c_ts + INTERVAL $horizon""".stripMargin),
        joinType)
      .select(col("c_user_id").as("user_id"),
              col("c_event_id").as("click_id"), col("p_event_id").as("purchase_id"),
              col("c_ts").as("click_ts"), col("p_ts").as("purchase_ts"),
              col("p_value").as("purchase_value"))
  }

  /** readStream → transform → writeStream wiring used by tests: memory sink,
    * Update mode (windowedCounts emits updated aggregates per trigger).
    */
  def runToMemory(df: DataFrame, queryName: String, mode: OutputMode = OutputMode.Update()) =
    df.writeStream.format("memory").queryName(queryName).outputMode(mode).start()

  /** Streaming exact dedup: drop repeated keys while their event time is
    * within the watermark — the unbounded-stream analog of
    * Dedup.exactDedup. State holds only keys newer than the watermark, so
    * it is bounded by the churn inside the lateness window, not by stream
    * length (the property that makes dedup viable on an endless stream).
    */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Arriving document with an ingest/event time — the unit of streaming
    * corpus preparation. */
  final case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)

  /** Streaming corpus-prefix dedup with BOUNDED state — the production
    * variant of the clean-corpus prefix (quality filter → fingerprint →
    * exact dedup) for an endless document stream. Plain dropDuplicates
    * keeps every fingerprint ever seen (state ∝ corpus); this keeps only
    * fingerprints whose event time is inside the lateness window, so
    * state ∝ ingest churn × window — the invariant that makes the
    * operator viable on an unbounded stream. The trade-off is explicit:
    * a duplicate arriving AFTER its original left the window is
    * re-emitted (downstream periodic batch dedup — q14 — reconciles;
    * StreamingSpec proves both sides of the contract).
    */
  def corpusDedupStream(docs: DataFrame, minQuality: Double = 0.5,
                        watermark: String = "30 minutes"): DataFrame =
    docs
      .withColumn("quality", graft.text.TextOps.qualityScore(col("text")))
      .filter(col("quality") >= minQuality)
      .withColumn("fp", graft.text.TextOps.fingerprint(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Batch analog of [[corpusDedupStream]] (no watermark, global dedup):
    * what the periodic reconciliation run computes — and the oracle the
    * streaming variant's inside-the-window behavior must match.
    */
  def corpusDedupBatch(docs: DataFrame, minQuality: Double = 0.5): DataFrame =
    docs
      .withColumn("quality", graft.text.TextOps.qualityScore(col("text")))
      .filter(col("quality") >= minQuality)
      .withColumn("fp", graft.text.TextOps.fingerprint(col("text")))
      .dropDuplicates("fp")

  final case class NearDupCandidate(doc_a: Long, doc_b: Long, agree: Double)

  /** Streaming NEAR-duplicate detection — the unbounded-stream face of
    * the batch MinHash-LSH candidate machinery (q19): every arriving
    * document is checked against all PRIOR documents sharing any of its
    * LSH band buckets, so cross-batch near-dups surface the moment the
    * second copy arrives. Exact streaming dedup ([[dedupStream]],
    * [[corpusDedupStream]]) only catches byte-identical content; this is
    * the fuzzy tier.
    *
    * Construction: the per-doc projection computes the SAME k-hash
    * MinHash signature and xxhash64 band keys as the batch path (shared
    * [[graft.dedup.Dedup.bandStructs]] — bit-identical bucketing), then
    * `flatMapGroupsWithState` keyed by (band, band_key) holds each live
    * bucket's (doc_id, signature) list. An incoming doc pairs against
    * the retained bucket AND its same-batch predecessors (what batch
    * banding would pair), emits (min_id, max_id, signature-agreement
    * fraction), and joins the state. The SAME pair can surface from
    * several bands/batches — consumers take the distinct set, exactly
    * like the batch path's `.distinct()`.
    *
    * State contract: one bucket's state is its (id, 16-long sig) list —
    * 136 bytes/doc. Genuinely-distinct corpora keep buckets tiny (the
    * LSH argument); `maxBucket` is the poison-bucket guard for
    * boilerplate-heavy streams: an overflowing bucket still COMPARES new
    * docs against its retained members but stops retaining beyond the
    * cap (pairs between two post-cap arrivals in the same degenerate
    * bucket are the sacrificed recall — the batch reconciliation run,
    * q19/q54, restores them; the streaming tier exists for freshness,
    * not as the system of record). Assumes doc_ids are unique upstream
    * ([[corpusDedupStream]] is the exact-dedup stage ahead of this one).
    *
    * `stateTtl` (r14, the r13 watch item): with `NoTimeout` the BUCKET
    * COUNT grows with all history — per-bucket size is capped, total
    * state is not, so a long-lived stream retains one (band, band_key)
    * entry per vocabulary-distinct band forever. An optional EVENT-TIME
    * TTL (e.g. `Some("6 hours")`) evicts a bucket once the stream's
    * watermark passes `last touch + TTL`: a duplicate arriving after
    * its bucket expired pairs with nothing — exactly the `maxBucket`
    * recall trade, and exactly what the periodic batch reconciliation
    * restores. The dial bounds state by ingest CHURN × TTL instead of
    * corpus vocabulary. Event time (not processing time) on purpose:
    * eviction is a pure function of the DATA, so tests and replays are
    * deterministic, a restarted query resumes the same clock, and —
    * mechanically — a processing-time timeout forces the engine to run
    * micro-batches continuously (`shouldRunAnotherBatch` is
    * unconditionally true there), busy-spinning an idle stream.
    * `None` keeps the dedup-against-all-history semantics unchanged
    * (StreamingSpec pins both contracts). With a TTL the source must
    * carry honest event times: the watermark delay (`ttlLateness`)
    * bounds how out-of-order arrivals may be, same as every other
    * watermarked operator here.
    */
  def nearDupStream(docs: Dataset[Doc], shingleN: Int = 3, k: Int = 16,
                    rowsPerBand: Int = 4,
                    maxBucket: Int = 4096,
                    stateTtl: Option[String] = None,
                    ttlLateness: String = null): Dataset[NearDupCandidate] = {
    import docs.sparkSession.implicits._
    require(k % rowsPerBand == 0, "k must divide into bands evenly")
    // With a TTL the watermark DROPS late rows outright — "0 seconds"
    // discards every out-of-order arrival, a recall cliff relative to
    // the NoTimeout path. There is no safe universal default, so the
    // caller must state the source's out-of-orderness explicitly
    // (r14 ADVICE: the old silent "0 seconds" default hid the cliff).
    require(stateTtl.isEmpty || ttlLateness != null,
      "nearDupStream(stateTtl=...): choose ttlLateness explicitly — the " +
        "watermark delay bounds how out-of-order arrivals may be; '0 " +
        "seconds' drops ALL late rows, which is a deliberate decision, " +
        "not a default")
    val bands = k / rowsPerBand
    val ttlMs: Option[Long] =
      stateTtl.map(s => scala.concurrent.duration.Duration(s).toMillis)
    val tsSafe =
      // a null event time cannot participate in event-time eviction (and
      // NPEs the timeout bookkeeping): with a TTL, reject such rows up
      // front instead of failing mid-batch. The NoTimeout path keeps
      // accepting them — it never reads the clock.
      if (stateTtl.isDefined) docs.toDF().filter(col("ts").isNotNull)
      else docs.toDF()
    val bandedDf = tsSafe
      .select(col("doc_id"), col("ts"),
        graft.dedup.Dedup.minhashSignature(col("text"), shingleN, k).as("sig"))
      .select(col("doc_id"), col("ts"), col("sig"),
        explode(array(graft.dedup.Dedup.bandStructs(col("sig"), bands, rowsPerBand): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.band_key").as("band_key"),
        col("doc_id"), col("sig"), col("ts"))
    val banded =
      (if (stateTtl.isDefined) bandedDf.withWatermark("ts", ttlLateness)
       else bandedDf)
        .as[(Int, Long, Long, Array[Long], java.sql.Timestamp)]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    banded
      .groupByKey { case (band, key, _, _, _) => (band, key) }
      .flatMapGroupsWithState[Seq[(Long, Array[Long])], NearDupCandidate](
        OutputMode.Append(), timeoutConf) {
        case (_, rows, state) =>
          if (state.hasTimedOut) {
            // the watermark passed this bucket's last touch + TTL with no
            // new data: evict. A later copy of this content starts a
            // fresh bucket (the documented recall trade, restored by
            // batch reconciliation).
            state.remove()
            Iterator.empty
          } else {
            var bucket = state.getOption.getOrElse(Seq.empty)
            val out = Seq.newBuilder[NearDupCandidate]
            // deterministic within-batch order so a re-executed task emits
            // the same pairs against the same retained prefix
            val batch = rows.toSeq.sortBy(_._3)
            batch.foreach { case (_, _, id, sig, _) =>
              bucket.foreach { case (oid, osig) =>
                if (oid != id) {
                  val agree = sig.indices.count(i => sig(i) == osig(i)).toDouble / k
                  out += NearDupCandidate(math.min(id, oid), math.max(id, oid), agree)
                }
              }
              if (bucket.size < maxBucket) bucket = bucket :+ (id -> sig)
            }
            state.update(bucket)
            // a touch restarts the bucket's TTL clock: expire at the max
            // event time seen + TTL (clamped above the current watermark,
            // which a straggler batch may already have passed)
            ttlMs.foreach { ms =>
              val maxTs = batch.map(_._5.getTime).max
              state.setTimeoutTimestamp(
                math.max(maxTs + ms, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  final case class DigestReadout(event_type: String, n: Long,
                                 p50: Double, p95: Double, p99: Double)

  /** Streaming percentile monitor: per event type, a t-digest of the
    * value distribution maintained ACROSS micro-batches under
    * mapGroupsWithState — each trigger emits the refreshed p50/p95/p99.
    * This is the mergeable-sketch state pattern: the
    * [[graft.functions.TDigest]] summary is O(compression) per live key
    * no matter how long the stream runs (the unbounded dual — buffering
    * every value — is exactly what the batch q69 aggregate exists to
    * avoid), and the same bytes round-trip through the state store, so
    * RocksDB spilling and checkpointed restart work unchanged
    * (StreamingSpec covers the rollup analog). Update-mode emissions
    * are the monitor feed an alerting sink consumes.
    */
  def percentileStream(events: Dataset[Event]): Dataset[DigestReadout] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[Array[Byte], DigestReadout](GroupStateTimeout.NoTimeout) {
        (etype: String, batch: Iterator[Event], state: GroupState[Array[Byte]]) =>
          val d = state.getOption
            .map(graft.functions.TDigest.fromBytes)
            .getOrElse(new graft.functions.TDigest(100.0))
          batch.foreach(e => d.add(e.value))
          state.update(d.toBytes)
          DigestReadout(etype, d.totalWeight.toLong,
            d.quantile(0.5), d.quantile(0.95), d.quantile(0.99))
      }
  }

  final case class HHReadout(event_type: String, n: Long, eps: Long,
                             items: Seq[String], estimates: Seq[Long])

  /** Streaming heavy-hitters monitor: per event type, a Space-Saving
    * summary of user activity maintained across micro-batches — each
    * trigger emits the refreshed top users with their estimates and the
    * summary's error bound (est − true ∈ [0, eps], the q95 contract).
    * Same mergeable-sketch state pattern as [[percentileStream]]: k
    * counters per live key forever, byte-serialized through the state
    * store, so RocksDB and checkpointed restart work unchanged.
    */
  def heavyHittersStream(events: Dataset[Event], k: Int = 8,
                         top: Int = 5): Dataset[HHReadout] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[Array[Byte], HHReadout](GroupStateTimeout.NoTimeout) {
        (etype: String, batch: Iterator[Event], state: GroupState[Array[Byte]]) =>
          val s = state.getOption
            .map(graft.functions.SSSummary.fromBytes)
            .getOrElse(new graft.functions.SSSummary(k))
          batch.foreach(e => s.add(e.user_id.toString))
          state.update(s.toBytes)
          val topItems = s.estimates.toSeq
            .sortBy { case (item, est) => (-est, item) }.take(top)
          HHReadout(etype, s.total, s.errorBound,
            topItems.map(_._1), topItems.map(_._2))
      }
  }

  final case class TypeCount(user_id: Long, event_type: String,
                             n: Long, value_1e4: Long)

  /** Per-(user, type) running totals under `transformWithState` — the
    * Spark 4 arbitrary-state API, demonstrated on the COMPOSITE state
    * shape that motivates it: a MapState[event_type → (count, exact
    * 1e4-scaled sum)] per user, where the old mapGroupsWithState API
    * forces the whole map into one serialized blob per update (every
    * batch rewrites every type's counters; MapState touches only the
    * types the batch saw). State stays exact-decimal (the q119/rollup
    * convention) and per-entry bounded; requires the RocksDB state
    * store provider (the API's backing store), which StreamingSpec
    * already exercises for restart coverage.
    */
  class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, TypeCount] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, (Long, Long)] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, (Long, Long)]("typeCounts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
      rows.foreach { e =>
        val add = BigDecimal(e.value).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.movePointRight(4).longValueExact()
        val cur = touched.getOrElse(e.event_type,
          if (counts.containsKey(e.event_type)) counts.getValue(e.event_type)
          else (0L, 0L))
        touched(e.event_type) = (cur._1 + 1L, cur._2 + add)
      }
      touched.foreach { case (t, v) => counts.updateValue(t, v) }
      touched.iterator.map { case (t, (n, s)) => TypeCount(key, t, n, s) }
    }
  }

  def typeCountsStream(events: Dataset[Event]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming quality gate — the Soda-gate analog for streams
    * (check_function.py:22-23 semantics per micro-batch): each batch is
    * evaluated against the checks; a failing batch throws, failing the
    * query, BEFORE the sink sees it. `sink` receives only clean batches.
    */
  def checkGate(df: DataFrame, checks: Seq[graft.checks.Check])
               (sink: (DataFrame, Long) => Unit) =
    df.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
      val b = batch.toDF()
      graft.checks.CheckSuite.run(b, checks)
      sink(b, id)
    }
}
