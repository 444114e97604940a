package graft.tools

import graft.Harness

/** Diagnostic main (not part of the library surface).
  *
  *   runMain graft.tools.PlanDump <outDir> <suffix> <query1,query2,...> [sfDir] [--executed]
  *
  * Writes the FULL `.explain("formatted")` output of each named driver
  * query to `<outDir>/<query>_<suffix>.txt` — the optimization rounds'
  * plan-evidence files (plans/rN/<q>_{before,after}.txt). Runs
  * under Bench's session ([[graft.Harness.session]], local[16] default)
  * so the captured plan is the plan the bench executes, not a
  * different-config cousin. Queries that do eager work at construction
  * (localCheckpoint loops) execute that work here; the dump is the
  * final frame's plan either way.
  *
  * With `--executed` (r19, VERDICT r18 item 1): each query is first
  * driven to completion through its own QueryExecution
  * (`toRdd.foreach`, which finalizes every AdaptiveSparkPlan), and the
  * dump is the FINAL adaptive plan (`isFinalPlan=true`) — the plan AQE
  * actually ran, with runtime join-strategy conversions and
  * AQEShuffleRead coalescing visible. The pre-execution dumps r18
  * committed are initial plans and cannot verify broadcast claims on
  * InMemoryRelation-fed joins; these can.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...> [sfDir] [--executed]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = Harness.names(args(2))
    val executed = args.contains("--executed")
    val dir = args.drop(3).filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.1")
    Harness.requireKnown(names)
    val spark = Harness.session(Harness.threads(defaultCpus = 16))
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    // sorted like Bench, releasing each query's caches and output
    // checkpoints after its dump: a later query's final plan is then
    // captured under the storage pressure the bench gives it
    val failed = Harness.runSorted(spark, dir, Some(names)) { (q, df) =>
      val qe = df.queryExecution
      if (executed) {
        // Execute THIS QueryExecution (a noop write would plan a separate
        // write command and leave this one's AdaptiveSparkPlan unfinalized).
        spark.sparkContext.setJobDescription(s"plandump:$q")
        qe.toRdd.foreach(_ => ())
      }
      val txt = qe.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(outDir.resolve(s"${q}_$suffix.txt"), txt)
      println(s"[plandump] wrote ${q}_$suffix.txt (${txt.length} chars)" +
        (if (executed) s" isFinalPlan=${txt.contains("isFinalPlan=true")}" else ""))
    }.collect { case Harness.Outcome(q, _, Some(e)) =>
      System.err.println(s"[plandump] $q failed: $e")
      q
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
