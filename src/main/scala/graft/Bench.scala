package graft

import graft.queries.QueryCatalog

/** Benchmark main: times every catalog query (or the
  * `SPARK_GRAFT_BENCH_ONLY` subset) on `SPARK_GRAFT_SF_DIR` and prints
  * one JSON line, after a `[bench] entry rows=N` smoke line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.threads(defaultCpus = 4))
    println(s"[bench] entry rows=${SparkEntry.entry(spark).count()}")
    // the smoke filled the entry directory's star: drop it so a bench on
    // that directory still charges the fill to q02-q06
    QueryCatalog.sessionCaches.foreach(_.invalidate(spark, SparkEntry.EntryDir))
    Harness.warmUp(spark, sfDir)
    // r19: the r18 operator-JIT warmup block (bb7feb8) is REVERTED. Its
    // claimed -40s came from a cross-window comparison; the honest
    // same-window interleaved 3v3 on/off A/B this round
    // (tools/bench_r19/before/ vs tools/bench_r19/warmup_off/, same
    // binary, env-toggled) could not reproduce it: per-query median-sum
    // 215.9s (on) vs 205.3s (off) — OFF faster — while the min-sum says
    // the opposite (179.9 vs 185.6). Two failed reproductions (the final
    // r18 gate's 1.02x and this one) mean the block's effect is not
    // distinguishable from window noise on this box, so the harness goes
    // back to minimal per the r18 VERDICT (item 2).
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ > 0).sum
    }
    val gc0 = gcMillis
    val wall0 = System.nanoTime()
    // SPARK_GRAFT_BENCH_ONLY=q54_dedup_clusters,q100_containment_dups,...
    // runs a named subset — the sf1 scale-validation harness;
    // shared-cache cost then lands on the subset's first sorted consumer.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(Harness.names)
    // Time a materializing action: the noop sink consumes every output row
    // in full, so projection work is NOT column-pruned away the way it is
    // under count() (Catalyst prunes all columns for a bare count, turning
    // projection-heavy queries into near-empty scans — the r1 bench lie).
    // A failing query must NOT pass silently as a fast time: its error is
    // recorded and the run exits nonzero at the end.
    val results = Harness.runSorted(spark, sfDir, only) { (_, df) =>
      df.write.format("noop").mode("overwrite").save()
    }
    val qs = results.map(r => s"\"" + r.name + "\":" + r.seconds)
      .mkString("{", ",", "}")
    val errors = results.collect { case Harness.Outcome(name, _, Some(e)) => name -> e.take(300) }
    val errs = errors.map { case (k, v) => s"${Harness.jsonString(k)}:${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    val total = results.map(_.seconds).sum
    // value = sum of sequential per-query wall times (comparable across
    // rounds). gc_sec/wall_sec are diagnostics: gc_sec ≫ 0 or
    // wall_sec ≫ value means the run was GC-bound / box-contended and the
    // per-query numbers carry that noise.
    val diag = s""""wall_sec":${(System.nanoTime() - wall0) / 1e9},"gc_sec":${(gcMillis - gc0) / 1e3}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$diag,"errors":$errs,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // Full result also lands in a file: the driver's BENCH_r*.json keeps
    // only a truncated stdout tail, which lost q01-q32 in round 5.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $out failed: $e") }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
