package perfbench

import graft.SparkEntry
import graft.dedup.Checkpoints
import graft.queries.QueryCatalog
import graft.util.SessionScoped
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in a fresh JVM.
  *
  *   perfbench.Harness --workload <name> --data <dir> --out <json>
  *       --oracle-out <dir> --seconds <s> --trace <0|1>
  *       [--launched-ms <epoch ms>] [--setups 5] [--min-steady 2]
  *
  * Set-up (session start and input registration) is repeated `--setups`
  * times; the first set-up is timed from `--launched-ms`, the process
  * launch, the others from a full session stop. The
  * timed window then runs one cold pass, which writes every query's
  * result as parquet under `--oracle-out` for the oracle check, and
  * steady passes, whose queries end in a noop-sink write, until
  * `--seconds` have elapsed and `--min-steady` steady passes ran. Then
  * the caches are released and the live heap is read after a full GC.
  * All spans go to `--out` as JSON at exit.
  *
  * With `--trace 1` the run attaches [[Tracer]] to the session it created
  * and records each span's scheduler, executor, plan and codegen
  * counters; the end-to-end run attaches nothing.
  */
object Harness {

  val Threads = 4
  // no new pass starts after this long, whatever --min-steady asks
  val MaxWindowSeconds = 120.0

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  final case class Span(name: String, kind: String, module: String,
      pass: Int, parent: String, startMs: Double, endMs: Double,
      ok: Boolean = true, error: String = "",
      layer: Seq[(String, Double)] = Nil, extra: Seq[(String, Double)] = Nil)

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = Workloads.byName(need("workload"))
    val dir = need("data")
    val out = need("out")
    val oracleOut = need("oracle-out")
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val launchedMs = opt.get("launched-ms").map(_.toDouble).getOrElse(anchorMs)
    val nSetups = opt.getOrElse("setups", "5").toInt
    val minSteady = opt.getOrElse("min-steady", "2").toInt

    val queries = SparkEntry.queries
    val missing = workload.steps.map(_.query).filterNot(queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: ${missing.mkString(", ")}")

    val spans = mutable.ArrayBuffer.empty[Span]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$Threads]")
        .appName(s"perfbench-${workload.name}")
        .config("spark.sql.shuffle.partitions", Threads.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def setUp(): SparkSession = {
      val s = newSession()
      Tables.foreach(t => graft.io.Tables.table(s, dir, t).schema)
      s
    }

    def releaseAll(s: SparkSession): Unit = {
      QueryCatalog.sessionCaches.foreach(_.invalidate(s, dir))
      Checkpoints.releaseOutputs()
    }

    def tearDown(s: SparkSession): Unit = {
      releaseAll(s)
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    // ---- set-up ------------------------------------------------------------
    var spark: SparkSession = null
    var setupStart = launchedMs
    for (_ <- 0 until nSetups) {
      if (spark != null) { tearDown(spark); setupStart = nowMs }
      spark = setUp()
      spans += Span("setup", "setup", "setup", -1, "run", setupStart, nowMs)
    }
    val sc = spark.sparkContext

    val tracer: Option[Tracer] = if (!traced) None else {
      val t = new Tracer
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    }
    def drain(pass: Int): Unit = tracer.foreach { _ =>
      val t0 = nowMs
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      spans += Span("trace.drain", "trace", "trace", pass, s"pass$pass", t0, nowMs)
    }

    def releaseSpan(pass: Int, all: Boolean): Unit = {
      val t0 = nowMs
      if (all) releaseAll(spark) else Checkpoints.releaseOutputs()
      val live = if (all) SessionScoped.totalEntries else 0
      spans += Span("cache.release", "release", "cache.release", pass, s"pass$pass",
        t0, nowMs, extra = if (all) Seq("live_entries" -> live.toDouble) else Nil)
      if (all) {
        attempted += 1
        if (live != 0) failures += s"pass $pass: $live session-cache entries live after release"
      }
    }

    // The cold pass writes each result as parquet for the oracle check, the
    // way a one-shot run materializes its tables; steady passes end in the
    // noop sink, which consumes every row without writing.
    def runQuery(step: Workloads.Step, pass: Int): Unit = {
      val before = tracer.map { t => t.resetStoragePeak(); t.snapshot() }
      val t0 = nowMs
      val err =
        try {
          val df = queries(step.query)(spark, dir)
          if (pass == 0) df.write.mode("overwrite").parquet(s"$oracleOut/${step.query}")
          else noop(df)
          ""
        } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(300) }
      val t1 = nowMs
      attempted += 1
      if (err.nonEmpty) failures += s"pass $pass ${step.query}: $err"
      releaseSpan(pass, all = false)
      drain(pass)
      val layer = (tracer zip before).map { case (t, b) => t.snapshot().minus(b) }.getOrElse(Nil)
      spans += Span(step.query, "query", step.module, pass, s"pass$pass", t0, t1,
        ok = err.isEmpty, error = err, layer = layer)
    }

    // ---- timed window ----------------------------------------------------------
    Files.createDirectories(Paths.get(oracleOut))
    val windowStart = nowMs
    def elapsedS: Double = (nowMs - windowStart) / 1e3
    var pass = 0
    while (pass == 0 ||
        ((elapsedS < seconds || pass - 1 < minSteady) && elapsedS < MaxWindowSeconds)) {
      val p0 = nowMs
      workload.steps.foreach(runQuery(_, pass))
      releaseSpan(pass, all = true)
      drain(pass)
      spans += Span("pass", if (pass == 0) "cold" else "steady", "pass", pass, "run", p0, nowMs)
      pass += 1
    }

    val oracleSql = SparkEntry.oracleSql
    val sqlJson = workload.steps.map(_.query).flatMap { q =>
      oracleSql.get(q) match {
        case Some(sql) => Some(s"${Json.str(q)}:${Json.str(sql)}")
        case None => failures += s"$q has no oracle SQL"; None
      }
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$oracleOut/oracle_sql.json"), sqlJson)

    // ---- live heap after a full GC -----------------------------------------------
    // Each heap pool's usage as the last collection left it: unlike the
    // current usage, it excludes what other threads allocated since. Spark's
    // ContextCleaner frees shuffle and broadcast state only after a GC has
    // found its owners unreachable, so collect until the figure settles.
    releaseAll(spark)
    def afterGcMb(): Double = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
    }
    var liveHeapMb = afterGcMb()
    var settled = false
    for (_ <- 1 to 5 if !settled) {
      val next = afterGcMb()
      settled = next > liveHeapMb - 0.5
      liveHeapMb = math.min(liveHeapMb, next)
    }

    val jobs = tracer.map(_.intervals).getOrElse(Nil)
    spark.stop()

    val json = Json.obj(Seq(
      "workload" -> Json.str(workload.name),
      "trace" -> traced.toString,
      "threads" -> Threads.toString,
      "queries" -> workload.steps.map(q => Json.str(q.query)).mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "live_heap_mb" -> Json.num(liveHeapMb),
      "jobs" -> jobs.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]"),
      "spans" -> spans.map(spanJson(_, workload.name)).mkString("[\n", ",\n", "]")))
    Files.writeString(Paths.get(out), json + "\n")
  }

  private def spanJson(s: Span, workload: String): String = Json.obj(Seq(
    "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
    "module" -> Json.str(s.module), "workload" -> Json.str(workload),
    "pass" -> s.pass.toString, "parent" -> Json.str(s.parent),
    "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
    "ok" -> s.ok.toString, "error" -> Json.str(s.error),
    "layer" -> Json.obj(s.layer.map { case (k, v) => k -> Json.num(v) }),
    "extra" -> Json.obj(s.extra.map { case (k, v) => k -> Json.num(v) })))
}

/** Just enough JSON output for the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
