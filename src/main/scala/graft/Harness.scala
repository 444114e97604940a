package graft

import graft.dedup.Checkpoints
import graft.queries.QueryCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness behind graft's mains (Bench, Verify, SoloRuns,
  * PlanDump and the diagnostic tools): the session-conf policy and the
  * per-query release protocol live here and nowhere else.
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** The session conf for `local[n]`, as a value (HarnessSpec pins it). */
  def conf(n: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$n]",
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // rounds 1-6 testdata has TIMESTAMP(NANOS) columns: read as long,
    // converted in io.Tables
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // the 10MB default starves obvious broadcasts at local[16+]
    "spark.sql.autoBroadcastJoinThreshold" -> "64m")

  /** Get or create the `local[n]` session with [[conf]] applied. */
  def session(n: Int): SparkSession = {
    val spark = conf(n).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Thread count for the timing mains: `SPARK_GRAFT_CPUS` (default
    * `defaultCpus`) capped at `SPARK_GRAFT_BENCH_MAX_THREADS` (default
    * 16). Official numbers run at most local[16]: the bench host (a
    * Firecracker microVM) has a host-side rotating single-task
    * straggler, and fewer concurrent threads both lower the stall
    * hit-rate and shrink the per-stall damage (BENCH_STUDY_r07.md, 3
    * full sf0.1 runs each: local[16] median 144.8s, local[32] 193.4s,
    * local[32] + speculation 277.9s — the re-launched copy stalls just
    * as often).
    */
  def threads(defaultCpus: Int): Int = math.min(
    sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString).toInt,
    sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_THREADS", "16").toInt)

  /** Warm the JVM, codegen and parquet-footer paths so the first timed
    * query doesn't absorb session start-up (~5-7s otherwise). */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.range(100000).selectExpr("md5(cast(id as string)) h").groupBy("h").count().count()
    graft.io.Tables.parquet(spark, s"$dir/lineitem.parquet").limit(1000).count()
  }

  /** Comma-separated query names: empty tokens from stray commas are
    * dropped, so "q31," never silently selects the full catalog. */
  def names(csv: String): Seq[String] = csv.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  /** Name filter: tokens are EXACT names (a bare "q16" would otherwise
    * also select q160-q169); a trailing `*` opts into prefix matching
    * (`q142*`). `None` selects everything. */
  def selected(only: Option[Seq[String]], name: String): Boolean =
    only.forall(_.exists(tok =>
      if (tok.endsWith("*")) name.startsWith(tok.dropRight(1)) else name == tok))

  /** One query's outcome: wall seconds (frame construction included —
    * eager queries do most of their work before any action) and the
    * error message if it threw. */
  final case class Outcome(name: String, seconds: Double, error: Option[String])

  /** The release protocol after one query of a sorted sweep: the
    * session caches whose last sorted consumer it is
    * ([[QueryCatalog.cacheReleaseAfter]]), then every output
    * checkpoint its result held. */
  private def release(spark: SparkSession, dir: String, name: String): Unit = {
    QueryCatalog.cacheReleaseAfter.get(name).foreach(_.foreach(_(spark, dir)))
    Checkpoints.releaseOutputs()
  }

  /** Run the selected queries in sorted name order, handing each
    * result to `consume`. A query that throws is recorded and the sweep
    * keeps going; [[release]] runs after every query, failures
    * included.
    *
    * Sorted order puts shared-materialization cost on the query that
    * owns it (q02-q05 fill the dim caches, q06 the fact, the reports
    * then read them) and drives the session-cache lifecycle: each cache
    * is released after its last sorted consumer, so the storage pool
    * doesn't evict execution memory for the tail queries (the round-5
    * 4-12x q80/q81 tail slowdown).
    */
  def runSorted(spark: SparkSession, dir: String, only: Option[Seq[String]] = None,
                catalog: Map[String, Query] = SparkEntry.queries)
               (consume: (String, DataFrame) => Unit): Seq[Outcome] =
    catalog.toSeq.sortBy(_._1).filter { case (name, _) => selected(only, name) }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val error =
          try { consume(name, fn(spark, dir)); None }
          catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
        val sec = (System.nanoTime() - t0) / 1e9
        release(spark, dir, name)
        Outcome(name, sec, error)
      }

  /** A JSON string literal: backslash, quote and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Fail fast on names the catalog doesn't know (the mains that take
    * an explicit query list). */
  def requireKnown(requested: Seq[String]): Unit = {
    val unknown = requested.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries ${unknown.mkString(",")}; " +
      s"known: ${SparkEntry.queries.keys.toSeq.sorted.take(5).mkString(",")}...")
  }
}
