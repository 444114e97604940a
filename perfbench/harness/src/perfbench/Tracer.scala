package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

import scala.collection.mutable

/** Running totals read from Spark's public callbacks: the scheduler and
  * executor side from a `SparkListener`, plan phase times from a
  * `QueryExecutionListener`, and Janino compile time and count from
  * `CodeGenerator.compileTime` and `CodegenMetrics`. The harness takes a
  * [[Snapshot]] before and after each span and records the difference;
  * job intervals are kept whole for the outside-jobs union.
  */
final class Tracer extends SparkListener with QueryExecutionListener {

  private val planPhases =
    Set(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING)

  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, gcMs = 0L
  private var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  private var inputBytes, outputBytes = 0L
  private var planMs = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  // RDD block bytes (persisted and checkpointed); the peak resets per span
  private val blockBytes = mutable.Map.empty[String, Long]
  private var storageNow, storagePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      storageNow += bytes - blockBytes.getOrElse(key, 0L)
      if (bytes == 0L) blockBytes.remove(key) else blockBytes(key) = bytes
      storagePeak = math.max(storagePeak, storageNow)
    }
  }

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.collect {
      case (phase, summary) if planPhases(phase) => summary.durationMs
    }.sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  def resetStoragePeak(): Unit = synchronized { storagePeak = storageNow }

  def snapshot(): Tracer.Snapshot = synchronized {
    Tracer.Snapshot(jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite,
      shuffleRead, fetchWaitMs, spill, inputBytes, outputBytes, planMs,
      CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      storagePeak)
  }

  def intervals: Seq[(Long, Long)] = synchronized { jobIntervals.toSeq }
}

object Tracer {

  /** Counter values at one instant. `compileNs` and `compiles` are
    * JVM-wide; everything else counts this session's events.
    */
  final case class Snapshot(
      jobs: Long, stages: Long, tasks: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long,
      spill: Long, inputBytes: Long, outputBytes: Long, planMs: Long,
      compileNs: Long, compiles: Long, storagePeak: Long) {

    /** Counters as deltas from `before`; the storage peak is taken as is. */
    def minus(before: Snapshot): Seq[(String, Double)] = Seq(
      "jobs" -> (jobs - before.jobs).toDouble,
      "stages" -> (stages - before.stages).toDouble,
      "tasks" -> (tasks - before.tasks).toDouble,
      "run_s" -> (runMs - before.runMs) / 1e3,
      "cpu_s" -> (cpuNs - before.cpuNs) / 1e9,
      "gc_s" -> (gcMs - before.gcMs) / 1e3,
      "shuffle_write_mb" -> (shuffleWrite - before.shuffleWrite) / 1e6,
      "shuffle_read_mb" -> (shuffleRead - before.shuffleRead) / 1e6,
      "fetch_wait_s" -> (fetchWaitMs - before.fetchWaitMs) / 1e3,
      "spill_mb" -> (spill - before.spill) / 1e6,
      "input_mb" -> (inputBytes - before.inputBytes) / 1e6,
      "output_mb" -> (outputBytes - before.outputBytes) / 1e6,
      "plan_s" -> (planMs - before.planMs) / 1e3,
      "compile_s" -> (compileNs - before.compileNs) / 1e9,
      "compiles" -> (compiles - before.compiles).toDouble,
      "storage_peak_mb" -> storagePeak / 1e6)
  }
}
