package graft.tools

import org.apache.spark.sql.SparkSession

/** Diagnostic main: steady-state per-query timing — run named catalog
  * queries N times each INSIDE one JVM (same session/warmup/caches as
  * graft.Bench, same cache-release-after semantics per iteration), with
  * executor CPU time per run from a SparkListener. Separates the
  * per-query codegen-compile/first-run cost (run 1) from the
  * steady-state cost (min of later runs), and the min-estimator CPU
  * seconds are immune to the box's rotating wall-clock straggler.
  *
  *   runMain graft.tools.SoloRuns <sfDir> <runs> <q1,q2,...>
  */
object SoloRuns {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val names = args.drop(2).headOption
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq("q06_fct_line_value"))
    val threads = math.min(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_THREADS", "16").toInt)
    val spark = SparkSession.builder().master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000).selectExpr("md5(cast(id as string)) h").groupBy("h").count().count()
    spark.read.parquet(s"$dir/lineitem.parquet").limit(1000).count()

    val cpuNanos = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        cpuNanos.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
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

    val catalog = graft.SparkEntry.queries
    for (name <- names) {
      val fn = catalog.getOrElse(name,
        sys.error(s"unknown query $name; known: ${catalog.keys.toSeq.sorted.take(5)}..."))
      var best = Double.MaxValue; var bestCpu = Double.MaxValue
      for (r <- 1 to runs) {
        val c0 = settledCpu(s"q=$name run=$r start"); val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val cpu = (settledCpu(s"q=$name run=$r end") - c0) / 1e9
        // release per-query caches exactly as Bench does, so every
        // iteration re-pays the fill the bench charges this query
        graft.queries.QueryCatalog.cacheReleaseAfter.get(name)
          .foreach(_.foreach(release => release(spark, dir)))
        graft.dedup.Checkpoints.releaseOutputs()
        if (r > 1) { best = math.min(best, sec); bestCpu = math.min(bestCpu, cpu) }
        println(f"[solo] q=$name run=$r wall=$sec%.2fs cpu=$cpu%.1fs")
      }
      // runs < 2 leaves no steady-state sample: skip the line rather than
      // print Double.MaxValue garbage (r18 ADVICE)
      if (runs >= 2)
        println(f"[solo] q=$name STEADY wall=$best%.2fs cpu=$bestCpu%.1fs (min over runs 2..$runs)")
      else
        println(s"[solo] q=$name STEADY unavailable (runs=$runs < 2)")
    }
    spark.stop()
  }
}
