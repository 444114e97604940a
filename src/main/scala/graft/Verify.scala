package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated name filter (local
    // iteration; exact names, a trailing `*` for a prefix)]
    // the docs-table override is a bench-only control knob; a Verify run
    // with it set would compare Heaps-corpus results against a
    // documents-table oracle and fail (or worse, half-pass) with no
    // visible cause — refuse outright (the r12 advisory)
    if (sys.env.contains("SPARK_GRAFT_DOCS_TABLE")) {
      System.err.println(
        "[verify] SPARK_GRAFT_DOCS_TABLE is set — the correctness gate " +
          "must run on the real documents table. Unset it and re-run.")
      sys.exit(2)
    }
    val sfDir  = args(0)
    val outDir = args(1)
    val only = args.lift(2).map(Harness.names)
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val failed = Harness.runSorted(spark, sfDir, only) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.collect { case Harness.Outcome(name, _, Some(e)) =>
      System.err.println(s"[verify] $name failed: $e")
      name
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
