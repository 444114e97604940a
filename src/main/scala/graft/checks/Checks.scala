package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Data-quality check engine — the reference's second "query language"
  * (Soda Core, SURVEY.md §2.6). Reference runner:
  * include/soda/check_function.py:2-24 — builds a scan, executes all checks,
  * raises on any failure, halting the pipeline.
  *
  * Design: a small Check ADT evaluated as DataFrame aggregations. All
  * metric checks for one suite run in a SINGLE aggregation pass
  * (one job, one scan over the table — at 100 TB you cannot afford one
  * scan per check, which is what Soda does with one SQL query per check).
  * Schema checks are metadata-only and free.
  *
  * A result's `metric` is a Double: the violation count for C1-C5 and C7,
  * the column's true minimum for C6 (a minimum price of 2.5 reads 2.5).
  * Over no rows, a count check reads 0 and passes, while [[MinAtLeast]]
  * has no minimum: it reads NaN and FAILS — a gate over an empty table
  * does not pass on a vacuous bound.
  */
sealed trait Check { def name: String }

/** C1 — schema: when required column missing
  * (include/soda/checks/sources/raw_invoices.yml:4). */
final case class RequiredColumns(columns: Seq[String]) extends Check {
  val name = s"schema_required[${columns.mkString(",")}]"
}

/** C2 — schema: when wrong column type
  * (include/soda/checks/sources/raw_invoices.yml:5-12). */
final case class ColumnTypes(expected: Map[String, DataType]) extends Check {
  val name = s"schema_types[${expected.keys.toSeq.sorted.mkString(",")}]"
}

/** C3 — duplicate_count(col) = 0
  * (include/soda/checks/transform/dim_customer.yml:8-9). */
final case class NoDuplicates(column: String) extends Check {
  val name = s"duplicate_count[$column]"
}

/** C4 — missing_count(col) = 0
  * (include/soda/checks/transform/dim_customer.yml:10-11). */
final case class NoMissing(column: String) extends Check {
  val name = s"missing_count[$column]"
}

/** C5 — invalid_count(col) = 0 with valid min/max
  * (include/soda/checks/transform/dim_datetime.yml:9-12). */
final case class InRange(column: String, lo: Double, hi: Double) extends Check {
  val name = s"invalid_count[$column in ($lo,$hi)]"
}

/** C6 — min(col) threshold: fail when min < bound
  * (include/soda/checks/transform/dim_product.yml:19-20). */
final case class MinAtLeast(column: String, bound: Double) extends Check {
  val name = s"min[$column >= $bound]"
}

/** C7 — failed rows: fail if predicate matches any row
  * (include/soda/checks/transform/fct_invoice_line_value.yml:13-18). */
final case class NoFailedRows(label: String, predicate: Column) extends Check {
  val name = s"failed_rows[$label]"
}

final case class CheckResult(check: String, metric: Double, passed: Boolean)

final case class CheckFailedException(failures: Seq[CheckResult])
    extends RuntimeException(
      s"checks failed: ${failures.map(f => s"${f.check}(metric=${f.metric})").mkString("; ")}")

object CheckSuite {

  private def schemaResults(df: DataFrame, checks: Seq[Check]): Seq[CheckResult] =
    checks.collect {
      case c @ RequiredColumns(cols) =>
        val present = df.schema.fieldNames.toSet
        val missing = cols.count(!present.contains(_))
        CheckResult(c.name, missing.toDouble, missing == 0)
      case c @ ColumnTypes(expected) =>
        val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap
        val wrong  = expected.count { case (n, t) => !actual.get(n).contains(t) }
        CheckResult(c.name, wrong.toDouble, wrong == 0)
    }

  /** Each metric check → one named aggregate Column (`m0..mN`), plus the
    * decoder turning the single aggregated row back into results. Shared
    * by [[evaluate]] (dedicated one-pass agg) and [[observed]] (inline
    * observe() metrics). `approxDuplicates` swaps the exact
    * count_distinct for HLL++ — observe() disallows distinct aggregates.
    */
  private def metricAggs(checks: Seq[Check], approxDuplicates: Boolean)
      : (Seq[Column], org.apache.spark.sql.Row => Seq[CheckResult]) = {
    val metricChecks: Seq[(Check, Column)] = checks.collect {
      case c @ NoDuplicates(colName) =>
        // #values appearing >1 — via distinct-vs-total (two aggregates,
        // still one pass): dup groups exist iff count > countDistinct.
        // The approx path clamps at 0: HLL++ can estimate MORE distincts
        // than rows, and a negative metric would read as corrupt. It can
        // also estimate fewer on duplicate-free data (spurious positive) —
        // callers gating on the approx variant must apply a tolerance, not
        // treat metric > 0 as a hard failure (see observed() scaladoc).
        c -> (if (approxDuplicates)
                greatest(lit(0L),
                  count(col(colName)) - approx_count_distinct(col(colName)))
              else (count(col(colName)) - count_distinct(col(colName))))
      case c @ NoMissing(colName) =>
        c -> sum(when(col(colName).isNull, 1L).otherwise(0L))
      case c @ InRange(colName, lo, hi) =>
        c -> sum(when(col(colName) < lo || col(colName) > hi, 1L).otherwise(0L))
      case c @ MinAtLeast(colName, _) =>
        c -> min(col(colName)).cast("double") // the raw min, not a violation count
      case c @ NoFailedRows(_, pred) =>
        c -> sum(when(pred, 1L).otherwise(0L))
    }
    val aggExprs = metricChecks.zipWithIndex.map {
      case ((_: MinAtLeast, expr), i) => expr.as(s"m$i")
      case ((_, expr), i)             => coalesce(expr.cast("long"), lit(0L)).as(s"m$i")
    }
    val decode = (row: org.apache.spark.sql.Row) =>
      metricChecks.zipWithIndex.map {
        case ((c @ MinAtLeast(_, bound), _), i) =>
          val v = if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
          CheckResult(c.name, v, !v.isNaN && v >= bound)
        case ((c, _), i) =>
          val v = row.getLong(i)
          CheckResult(c.name, v.toDouble, v == 0L)
      }
    (aggExprs, decode)
  }

  /** Evaluate all checks. Metric checks fuse into one aggregate expression
    * list ⇒ one scan of `df` total; schema checks read only `df.schema`.
    */
  def evaluate(df: DataFrame, checks: Seq[Check]): Seq[CheckResult] = {
    val (aggExprs, decode) = metricAggs(checks, approxDuplicates = false)
    val metricResults =
      if (aggExprs.isEmpty) Seq.empty
      else decode(df.agg(aggExprs.head, aggExprs.tail: _*).collect()(0))
    schemaResults(df, checks) ++ metricResults
  }

  /** The ZERO-SCAN gate: attach the suite's metric aggregates to `df` as
    * an `observe()` node — they evaluate inline with WHATEVER action the
    * consumer runs next (the write the pipeline was doing anyway), so the
    * gate costs no extra pass at all; [[evaluate]] spends one dedicated
    * scan. Returns the instrumented frame plus the [[Observation]] handle
    * (the handle survives the action — `df.write` plans its own
    * QueryExecution, so plan-attached metrics would be invisible to the
    * original frame). Read with [[observedResults]] AFTER an action.
    * Caveat: observe() disallows distinct aggregates, so [[NoDuplicates]]
    * runs on HLL++ `approx_count_distinct` here — a ~2% estimate can
    * false-alarm (or miss) a tiny duplicate count; keep exact-dup gates
    * on [[evaluate]].
    */
  def observed(df: DataFrame, checks: Seq[Check])
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val (aggExprs, _) = metricAggs(checks, approxDuplicates = true)
    val obs = org.apache.spark.sql.Observation()
    if (aggExprs.isEmpty) (df, obs)
    else (df.observe(obs, aggExprs.head, aggExprs.tail: _*), obs)
  }

  /** Streaming variant of [[observed]]: name-based observe() (the
    * [[org.apache.spark.sql.Observation]] handle is batch-only). Each
    * micro-batch's gate metrics arrive on
    * `StreamingQueryProgress.observedMetrics(name)` — decode them with
    * [[decodeObservedRow]]. Metrics are PER MICRO-BATCH (an aggregate
    * over the batch's rows), which is exactly the granularity a
    * streaming gate alerts on.
    */
  def observedStream(df: DataFrame, checks: Seq[Check],
                     name: String = "graft_checks"): DataFrame = {
    val (aggExprs, _) = metricAggs(checks, approxDuplicates = true)
    if (aggExprs.isEmpty) df else df.observe(name, aggExprs.head, aggExprs.tail: _*)
  }

  /** Decode one observed-metrics row (from a micro-batch progress event)
    * into results for the METRIC checks (schema checks are plan-time;
    * evaluate them once on the frame, not per batch).
    */
  def decodeObservedRow(row: org.apache.spark.sql.Row,
                        checks: Seq[Check]): Seq[CheckResult] =
    metricAggs(checks, approxDuplicates = true)._2(row)

  /** Decode the metrics an action on the [[observed]] frame captured.
    * Throws if no action has completed yet.
    */
  def observedResults(df: DataFrame, observation: org.apache.spark.sql.Observation,
                      checks: Seq[Check]): Seq[CheckResult] = {
    val (aggExprs, decode) = metricAggs(checks, approxDuplicates = true)
    val metricResults =
      if (aggExprs.isEmpty) Seq.empty
      else observation.future.value match {
        case Some(scala.util.Success(row)) => decode(row)
        case Some(scala.util.Failure(e))   => throw e
        case None => throw new IllegalStateException(
          "no observed metrics yet — run an action on the observed() frame first")
      }
    schemaResults(df, checks) ++ metricResults
  }

  /** Gate semantics: throw on any failure, mirroring the reference's
    * `raise ValueError` halting the DAG (check_function.py:22-23). */
  def run(df: DataFrame, checks: Seq[Check]): Seq[CheckResult] = {
    val results  = evaluate(df, checks)
    val failures = results.filterNot(_.passed)
    if (failures.nonEmpty) throw CheckFailedException(failures)
    results
  }

  /** Evaluate several (table, checks) suites CONCURRENTLY: each table still
    * fuses to one aggregation pass, but the per-table collect jobs run
    * simultaneously on the shared scheduler instead of serializing on the
    * driver thread — locally that overlaps the 5 small gate jobs of a
    * pipeline run; on a cluster it also overlaps their scans. Results keep
    * the input order. SparkSession job submission is thread-safe; the pool
    * is bounded and torn down before returning.
    */
  def evaluateAll(suites: Seq[(DataFrame, Seq[Check])]): Seq[Seq[CheckResult]] = {
    if (suites.isEmpty) return Seq.empty
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(suites.length, 8))
    try {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[Seq[CheckResult]]] =
        suites.map { case (df, cs) =>
          (() => evaluate(df, cs)): java.util.concurrent.Callable[Seq[CheckResult]]
        }
      pool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
    } finally pool.shutdown()
  }

  /** [[run]] over several suites concurrently: all failures across all
    * tables are collected into ONE exception (a pipeline gate wants the
    * full failure list, not the first table's). */
  def runAll(suites: Seq[(DataFrame, Seq[Check])]): Seq[Seq[CheckResult]] = {
    val results  = evaluateAll(suites)
    val failures = results.flatten.filterNot(_.passed)
    if (failures.nonEmpty) throw CheckFailedException(failures)
    results
  }

  /** k-anonymity audit — the governance dual of the C3-C7 row gates: a
    * row is re-identifiable when its QUASI-IDENTIFIER combination (the
    * attribute tuple an adversary can observe externally) is shared by
    * fewer than k rows. Returns one row per observed combination with
    * its population and an `at_risk` flag; a release gate then fails on
    * `at_risk` rows or suppresses/generalizes them. One hash aggregate
    * on the quasi columns — shuffle ∝ |combinations|, with map-side
    * partial aggregation doing the heavy lifting at 100 TB.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column")
    require(k >= 1, "k must be >= 1")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .withColumn("at_risk", col("group_size") < k)
  }

  /** l-diversity audit — [[kAnonymity]]'s necessary complement: a QI
    * group can be large (k-anonymous) yet still leak if every member
    * shares the SAME sensitive value (the homogeneity attack — "all ten
    * people matching those quasi-identifiers are in debt"). A group is
    * at risk when its sensitive attribute takes fewer than `l` distinct
    * values. Same single hash-aggregate shape as kAnonymity, with the
    * distinct count riding the same shuffle.
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column")
    require(l >= 1, "l must be >= 1")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        count_distinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("at_risk", col("n_sensitive") < l)
  }
}
