package graft.checks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deequ-style metrics repository: persist per-run check metrics to an
  * append-only parquet log keyed by run, and diff consecutive runs for
  * anomaly detection. This is the run-over-run complement of the q108
  * drift gate — q108 derives its series from the DATA (per ingest day);
  * the repository accumulates it from PIPELINE RUNS, so regressions show
  * up even when each individual run's gate passes (e.g. a slowly growing
  * duplicate count that never crosses an absolute threshold).
  *
  * Layout: one small parquet append per run (metric cardinality ≪ data
  * cardinality, so file count ∝ runs and never needs compaction); the
  * drift query reads the whole log — at any realistic run count that is
  * kilobytes — and windows per check over the caller-supplied run
  * sequence. Callers own `runSeq` ordering (a monotonically increasing
  * build/run number) so the repository stays deterministic and
  * wall-clock-free.
  */
object MetricsRepo {

  /** Append one run's results. `runSeq` orders runs (caller-owned,
    * monotone); `runId` is the free-form label carried alongside. */
  def append(spark: SparkSession, path: String, runSeq: Long, runId: String,
             results: Seq[CheckResult]): Unit = {
    import spark.implicits._
    results.toDF()
      .select(lit(runSeq).as("run_seq"), lit(runId).as("run_id"),
        col("check"), col("metric"), col("passed"))
      .coalesce(1)
      .write.mode("append").parquet(path)
  }

  /** The full metric log: (run_seq, run_id, check, metric: double, passed). */
  def load(spark: SparkSession, path: String): DataFrame =
    graft.io.Tables.parquet(spark, path)

  /** Append every micro-batch's observed gate metrics from a finished or
    * running [[org.apache.spark.sql.streaming.StreamingQuery]]'s progress
    * history into the repository: batchId becomes `run_seq` (Spark's own
    * monotone restart-safe sequence), so the same drift() query serves
    * batch pipelines and streams. Call after (or periodically while) the
    * stream runs; already-appended batches are skipped via `sinceBatch`.
    * Returns the highest batchId appended (pass it back as the next
    * `sinceBatch`). Metrics ride progress events — this never touches the
    * stream's data path.
    */
  def appendStreamProgress(spark: SparkSession, path: String,
                           query: org.apache.spark.sql.streaming.StreamingQuery,
                           checks: Seq[Check], observeName: String = "graft_checks",
                           sinceBatch: Long = -1L): Long = {
    var last = sinceBatch
    query.recentProgress.toSeq
      .filter(_.batchId > sinceBatch)
      .sortBy(_.batchId)
      .foreach { p =>
        Option(p.observedMetrics.get(observeName)).foreach { row =>
          append(spark, path, p.batchId, s"batch-${p.batchId}",
            CheckSuite.decodeObservedRow(row, checks))
          last = math.max(last, p.batchId)
        }
      }
    last
  }

  /** Retention/compaction for the append-only run log. Policy: keep the
    * most recent `keepRuns` distinct runs at FULL granularity; COARSEN
    * older history to one representative run per `coarsenEvery`-wide
    * run_seq bucket — the bucket's LAST run, kept WHOLE (all its checks),
    * so any retained run is internally consistent and the drift query
    * still sees a long-baseline trend at reduced resolution. Bounds both
    * the row count (≈ keepRuns·checks + history/coarsenEvery·checks) and
    * the file count (each append is one file; the rewrite collapses them)
    * on a years-of-runs deployment, where the unbounded append log would
    * otherwise grow without limit and tax every drift() read.
    *
    * Effect on drift(): within the full-granularity window, predecessors
    * are unchanged; across the coarsened history, "previous run" becomes
    * the previous RETAINED run, so a flagged jump means "moved more than
    * tolerance since the last snapshot" — the correct reading for
    * long-baseline trend review, stated here rather than hidden.
    *
    * The rewrite lands in `<path>__compact` then swaps via the
    * filesystem's rename — not atomic against a concurrent reader on
    * object stores; at scale this compaction belongs in a table format
    * with atomic commit (the run-log analog of SCALE.md's
    * storage-ownership rule), and callers serialize compaction with
    * appends (one owner, e.g. the nightly run) either way. Idempotent:
    * re-compacting an already-compacted log is a no-op on the retained
    * set.
    */
  def compact(spark: SparkSession, path: String, keepRuns: Int = 100,
              coarsenEvery: Long = 10L): Unit = {
    require(keepRuns > 0 && coarsenEvery > 0, "retention knobs must be positive")
    val log = load(spark, path)
    // cutoff = smallest run_seq inside the full-granularity window; a
    // single-row driver read of an aggregate over the (tiny) run list
    val seqs = log.select("run_seq").distinct()
      .orderBy(col("run_seq").desc).limit(keepRuns)
      .agg(min("run_seq")).collect()
    if (!seqs.isEmpty && !seqs.head.isNullAt(0)) {
      val cutoff = seqs.head.getLong(0)
      val recent = log.filter(col("run_seq") >= cutoff)
      val coarse = log.filter(col("run_seq") < cutoff)
        .withColumn("__keep", col("run_seq") ===
          max(col("run_seq")).over(Window.partitionBy(
            floor(col("run_seq") / lit(coarsenEvery)))))
        .filter(col("__keep")).drop("__keep")
      val tmp = path + "__compact"
      recent.unionByName(coarse)
        .select("run_seq", "run_id", "check", "metric", "passed")
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
      // backup-first swap: at every point of this sequence a full copy of
      // the log exists under SOME name (a delete-then-rename would leave a
      // crash window with no data at all — the backup makes any crash
      // manually recoverable). Stale backups from a prior crash are
      // cleared first so the rename cannot fail on an existing target.
      val p = new org.apache.hadoop.fs.Path(path)
      val bak = new org.apache.hadoop.fs.Path(path + "__old")
      fs.delete(bak, true)
      fs.rename(p, bak)
      fs.rename(new org.apache.hadoop.fs.Path(tmp), p)
      fs.delete(bak, true)
      ()
    }
  }

  /** Run-over-run drift: each (check, run) beside the previous run's
    * metric, flagged when the metric moved by more than `tolerance`
    * relative to its predecessor (|cur − prev| > tolerance · max(prev, 1);
    * the max(…, 1) floor keeps zero-metric checks — the common "0 bad
    * rows" case — from flagging on any nonzero wobble of size ≤ tolerance
    * and from dividing by zero). The first observation of a check has no
    * predecessor and is never flagged.
    */
  def drift(spark: SparkSession, path: String,
            tolerance: Double = 0.5): DataFrame = {
    val w = Window.partitionBy("check").orderBy("run_seq")
    load(spark, path)
      .withColumn("prev_metric", lag(col("metric"), 1).over(w))
      .withColumn("is_drift",
        col("prev_metric").isNotNull &&
          abs(col("metric") - col("prev_metric")) >
            greatest(col("prev_metric"), lit(1.0)) * lit(tolerance))
      .select(col("run_seq"), col("run_id"), col("check"), col("metric"),
        col("prev_metric"), col("is_drift"))
  }
}
