package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.checks._

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Some("a"), 5.0),
    (2L, Some("b"), 3.0),
    (2L, None, -1.0)
  ).toDF("id", "name", "price")

  test("C1 RequiredColumns: missing column fails with count of absentees") {
    val r = CheckSuite.evaluate(df, Seq(RequiredColumns(Seq("id", "nope", "alsono"))))
    assert(!r.head.passed && r.head.metric == 2)
    assert(CheckSuite.evaluate(df, Seq(RequiredColumns(Seq("id", "name")))).head.passed)
  }

  test("C2 ColumnTypes: wrong type fails") {
    assert(CheckSuite.evaluate(df, Seq(ColumnTypes(Map("id" -> LongType, "price" -> DoubleType)))).head.passed)
    assert(!CheckSuite.evaluate(df, Seq(ColumnTypes(Map("id" -> StringType)))).head.passed)
  }

  test("C3 NoDuplicates: duplicate key detected") {
    val r = CheckSuite.evaluate(df, Seq(NoDuplicates("id")))
    assert(!r.head.passed && r.head.metric == 1) // one extra row beyond distinct
    assert(CheckSuite.evaluate(df.filter($"price" > 0), Seq(NoDuplicates("id"))).head.passed)
  }

  test("C4 NoMissing: null count") {
    val r = CheckSuite.evaluate(df, Seq(NoMissing("name")))
    assert(!r.head.passed && r.head.metric == 1)
    assert(CheckSuite.evaluate(df, Seq(NoMissing("id"))).head.passed)
  }

  test("C5 InRange: out-of-range counted") {
    val r = CheckSuite.evaluate(df, Seq(InRange("price", 0, 10)))
    assert(!r.head.passed && r.head.metric == 1)
  }

  test("C6 MinAtLeast: aggregate bound") {
    assert(!CheckSuite.evaluate(df, Seq(MinAtLeast("price", 0))).head.passed)
    assert(CheckSuite.evaluate(df.filter($"price" > 0), Seq(MinAtLeast("price", 0))).head.passed)
    // the metric is the true minimum, not a truncated one
    val frac = CheckSuite.evaluate(Seq(2.5, 4.0).toDF("price"), Seq(MinAtLeast("price", 0))).head
    assert(frac.passed && frac.metric == 2.5, s"min metric ${frac.metric}")
    // no rows, no minimum: the gate fails rather than pass vacuously
    val empty = CheckSuite.evaluate(df.filter($"price" > 100), Seq(MinAtLeast("price", 0))).head
    assert(!empty.passed && empty.metric.isNaN)
  }

  test("C7 NoFailedRows: predicate rows fail the check") {
    val r = CheckSuite.evaluate(df, Seq(NoFailedRows("neg_price", col("price") < 0)))
    assert(!r.head.passed && r.head.metric == 1)
  }

  test("run() throws CheckFailedException listing only failures (gate semantics)") {
    val e = intercept[CheckFailedException] {
      CheckSuite.run(df, Seq(NoMissing("id"), NoDuplicates("id")))
    }
    assert(e.failures.size == 1 && e.failures.head.check.contains("duplicate_count"))
  }

  test("all metric checks evaluate in a single aggregation pass (one job)") {
    val jobs = jobsStartedBy {
      CheckSuite.evaluate(df, Seq(NoDuplicates("id"), NoMissing("name"),
        InRange("price", 0, 10), MinAtLeast("price", 0),
        NoFailedRows("neg", col("price") < 0)))
    }
    // 5 metric checks must NOT cost 5 scans; one agg plan (+AQE child
    // jobs) stays well under one-job-per-check.
    assert(jobs < 5, s"expected fused aggregation, got $jobs jobs for 5 checks")
  }

  test("observed(): the gate rides the consumer's action — zero extra scans") {
    val checks = Seq(NoMissing("name"), InRange("price", -5, 10),
      MinAtLeast("price", -5), NoFailedRows("neg2", col("price") < -2),
      NoDuplicates("id"), RequiredColumns(Seq("id", "name")))
    val (obs, handle) = CheckSuite.observed(df, checks)
    val actionJobs = jobsStartedBy {
      obs.write.format("noop").mode("overwrite").save() // the consumer's OWN action
    }
    assert(actionJobs <= 2, s"observed gate must not add scan jobs, saw $actionJobs")
    val results = CheckSuite.observedResults(obs, handle, checks)
    val byName = results.map(r => r.check -> r).toMap
    assert(byName(NoMissing("name").name).metric == 1 && !byName(NoMissing("name").name).passed)
    assert(byName(InRange("price", -5, 10).name).passed)
    assert(byName(MinAtLeast("price", -5).name).passed)
    assert(byName(NoFailedRows("neg2", col("price") < -2).name).passed)
    // duplicate count is approx (HLL++) under observe; exact value 1 here
    assert(!byName(NoDuplicates("id").name).passed)
    assert(byName(RequiredColumns(Seq("id", "name")).name).passed)
    // matches the dedicated-pass evaluator on everything exact
    val exact = CheckSuite.evaluate(df, checks.filterNot(_.isInstanceOf[NoDuplicates]))
    exact.foreach(e => assert(byName(e.check).passed == e.passed, s"observed diverges on ${e.check}"))
  }

  test("observedResults before any action: clear error, not a wrong answer") {
    val (obs, handle) = CheckSuite.observed(df, Seq(NoMissing("name")))
    intercept[IllegalStateException] {
      CheckSuite.observedResults(obs, handle, Seq(NoMissing("name")))
    }
  }

  test("q23 gate report: ten rows from CheckSuite suites, order and schema pinned") {
    val report = graft.queries.QueryCatalog.checksReport(spark, sf)
    assert(report.schema == StructType(Seq(
      StructField("check_name", StringType, nullable = false),
      StructField("metric", DoubleType, nullable = false),
      StructField("passed", BooleanType, nullable = false))))
    val rows = report.collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2))).toSeq
    // the rows q23 returned on testdata before it ran on CheckSuite
    assert(rows == Seq(
      ("dup_customer_key", 0.0, true), ("missing_customer_key", 0.0, true),
      ("dup_date_key", 0.0, true), ("invalid_weekday", 0.0, true),
      ("dup_product_key", 0.0, true), ("min_price", 900.0, true),
      ("dup_invoice_key", 0.0, true), ("missing_invoice_key", 0.0, true),
      ("fct_negative_total_price", 0.0, true),
      ("report_year_min_revenue", 244175.0584, true)))
  }

  test("reference Soda gate port: star-schema checks all pass on testdata") {
    val dimc = graft.model.Star.dimCustomer(spark, sf)
    val res = CheckSuite.run(dimc, Seq(
      RequiredColumns(Seq("customer_key", "customer_id", "nation")),
      NoDuplicates("customer_key"),
      NoMissing("customer_key")))
    assert(res.forall(_.passed))
  }
}
