package graft.tools

import graft.Harness

/** Diagnostic main: steady-state per-query timing — run named catalog
  * queries N times each INSIDE one JVM (same session/warmup/caches as
  * graft.Bench, same cache-release-after semantics per iteration), with
  * executor CPU time per run from a SparkListener. Separates the
  * per-query codegen-compile/first-run cost (run 1) from the
  * steady-state cost (min of later runs), and the min-estimator CPU
  * seconds are immune to the box's rotating wall-clock straggler.
  * Each run line also prints `compiles=N`, the Janino compilations the
  * run paid (the `CodegenMetrics` compilation count delta): run 1 in a
  * fresh JVM gives the query's distinct generated-class keys while they
  * fit Spark's codegen cache, and runs 2+ its steady recompiles. Beside
  * it, `jobs=N` counts the Spark jobs the run started.
  *
  *   runMain graft.tools.SoloRuns <sfDir> <runs> <q1,q2,...>
  *
  * All three arguments are required.
  */
object SoloRuns {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: SoloRuns <sfDir> <runs> <q1,q2,...>")
    val dir = args(0)
    val runs = args(1).toInt
    val names = Harness.names(args(2))
    Harness.requireKnown(names)
    val spark = Harness.session(Harness.threads(defaultCpus = 16))
    spark.sparkContext.setLogLevel("ERROR")
    Harness.warmUp(spark, dir)

    val cpuNanos = new java.util.concurrent.atomic.AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        cpuNanos.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // listener-bus events are delivered asynchronously: settle before each
    // CPU sample so one run's late stage events don't bleed into the next
    // run's delta (r18 ADVICE). The bus API is private[spark]; poll the
    // counter until it stops moving instead (50ms quiet, 1s cap). A sample
    // taken at the cap prints a note: the CPU delta ending at it may be
    // undercounted.
    def settledCpu(at: => String): Long = {
      val deadline = System.nanoTime() + 1000000000L
      var prev = cpuNanos.get()
      var quietSince = System.nanoTime()
      while (System.nanoTime() < deadline &&
             System.nanoTime() - quietSince < 50000000L) {
        Thread.sleep(10)
        val cur = cpuNanos.get()
        if (cur != prev) { prev = cur; quietSince = System.nanoTime() }
      }
      if (System.nanoTime() - quietSince < 50000000L)
        println(s"[solo] note: $at: CPU counter still moving at the 1s settle " +
          "cap; the cpu= delta ending here may be undercounted")
      prev
    }

    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    var failures = 0
    for (name <- names) {
      var best = Double.MaxValue; var bestCpu = Double.MaxValue
      for (r <- 1 to runs) {
        val c0 = settledCpu(s"q=$name run=$r start")
        val k0 = compiles(); val j0 = jobs.get()
        // one-query sweep: the harness releases this query's caches after
        // every run, so each iteration re-pays the fill the bench charges it
        val run = Harness.runSorted(spark, dir, Some(Seq(name))) { (_, df) =>
          df.write.format("noop").mode("overwrite").save()
        }.head
        val cpu = (settledCpu(s"q=$name run=$r end") - c0) / 1e9
        val k = compiles() - k0; val j = jobs.get() - j0
        run.error match {
          case Some(e) =>
            failures += 1
            println(s"[solo] q=$name run=$r FAILED: $e")
          case None =>
            if (r > 1) { best = math.min(best, run.seconds); bestCpu = math.min(bestCpu, cpu) }
            println(f"[solo] q=$name run=$r wall=${run.seconds}%.2fs cpu=$cpu%.1fs compiles=$k jobs=$j")
        }
      }
      // no successful run after the first leaves no steady-state sample:
      // skip the line rather than print Double.MaxValue garbage (r18 ADVICE)
      if (best < Double.MaxValue)
        println(f"[solo] q=$name STEADY wall=$best%.2fs cpu=$bestCpu%.1fs (min over runs 2..$runs)")
      else
        println(s"[solo] q=$name STEADY unavailable (no successful run among 2..$runs)")
    }
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
