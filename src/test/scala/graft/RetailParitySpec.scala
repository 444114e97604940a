package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Retail
import graft.report.Reports
import graft.checks._

/** Reference-fidelity spec: replay the reference pipeline on its OWN schema
  * with fixture rows covering every edge FIXTURES.md §A1 requires, then
  * assert the ported semantics of all 10 Soda check files (SURVEY.md §5.2).
  */
class RetailParitySpec extends SparkSpec {
  import spark.implicits._

  /** raw_invoices after pandas would read the CSV: Kaggle-shaped timestamps,
    * float CustomerID (null-forced), negative qty on cancellations.
    * Covers: null CustomerID, null Description, unparseable InvoiceDate,
    * Quantity ≤ 0, UnitPrice ≤ 0, one invoice with two line timestamps
    * (Δ=1 min), a 'C' cancellation, a Country absent from the seed, and a
    * duplicate full row. No Saturday dates (the weekday-check wrinkle).
    */
  private lazy val raw = Seq(
    ("536365", "85123A", Some("HOLDER"), 6L, "12/1/2010 8:26", 2.55, Some(17850.0), "United Kingdom"),
    ("536365", "71053", Some("LANTERN"), 8L, "12/1/2010 8:26", 3.39, Some(17850.0), "United Kingdom"),
    // invoice with mixed line timestamps (Δ = 1 minute) → A9 normalizes
    ("536380", "22960", Some("JAM"), 2L, "12/1/2010 9:41", 4.25, Some(17809.0), "France"),
    ("536380", "22913", Some("CAKE"), 3L, "12/1/2010 9:42", 5.95, Some(17809.0), "France"),
    // null CustomerID (dropped by dim_customer, transitively by dim_invoice)
    ("536414", "22139", None: Option[String], 56L, "12/1/2010 11:45", 1.25, None: Option[Double], "United Kingdom"),
    // cancellation: 'C' prefix + negative quantity (dropped by fct)
    ("C536379", "D", Some("Discount"), -1L, "12/1/2010 9:41", 27.5, Some(14527.0), "United Kingdom"),
    // zero price (dropped by dim_product)
    ("536367", "84879", Some("BIRD"), 32L, "12/1/2010 8:34", 0.0, Some(13047.0), "United Kingdom"),
    // unparseable date → coerced to null
    ("536999", "11111", Some("MYSTERY"), 1L, "not a date", 9.99, Some(12345.0), "Atlantis"),
    // duplicate full row (exercises DISTINCT)
    ("536368", "22960", Some("JAM"), 2L, "12/1/2010 8:34", 4.25, Some(13047.0), "United Kingdom"),
    ("536368", "22960", Some("JAM"), 2L, "12/1/2010 8:34", 4.25, Some(13047.0), "United Kingdom")
  ).toDF("InvoiceNo", "StockCode", "Description", "Quantity", "InvoiceDate", "UnitPrice", "CustomerID", "Country")

  /** The FULL 239-row country seed, post-ALTER shape (Retail.countrySeed,
    * reference include/table/country.sql:11-259) — real join coverage
    * including the NULL-iso3 territories and apostrophe names. */
  private lazy val country = Retail.countrySeed(spark)

  private lazy val pre     = Retail.preprocess(raw)
  private lazy val dimCust = Retail.dimCustomer(pre, country)
  private lazy val dimDt   = Retail.dimDatetime(pre)
  private lazy val dimProd = Retail.dimProduct(pre)
  private lazy val dimInv  = Retail.dimInvoice(pre, dimCust)
  private lazy val fct     = Retail.fctInvoiceLineValue(pre, dimDt, dimProd, dimInv)

  test("preprocess: window-max normalizes the split invoice; bad dates coerce to null") {
    val ts536380 = pre.filter($"InvoiceNo" === "536380").select("InvoiceDate")
      .distinct().collect().map(_.getString(0))
    assert(ts536380.toSeq == Seq("12/01/2010 09:42 AM"), "both lines get the max timestamp")
    assert(pre.filter($"InvoiceNo" === "536999").head().getAs[String]("InvoiceDate") == null)
  }

  test("Soda gate 1: raw_invoices + country schema checks (sources/*.yml)") {
    // sources/raw_invoices.yml:4-12
    CheckSuite.run(pre, Seq(
      RequiredColumns(Seq("InvoiceNo", "StockCode", "Quantity", "InvoiceDate", "UnitPrice", "CustomerID", "Country")),
      ColumnTypes(Map(
        "InvoiceNo" -> StringType, "StockCode" -> StringType, "Quantity" -> LongType,
        "InvoiceDate" -> StringType, "UnitPrice" -> DoubleType,
        "CustomerID" -> DoubleType, "Country" -> StringType))))
    // sources/country.yml:4-10
    CheckSuite.run(country, Seq(
      RequiredColumns(Seq("iso", "name", "iso3", "numcode", "phonecode")),
      ColumnTypes(Map("iso" -> StringType, "name" -> StringType, "iso3" -> StringType,
        "numcode" -> IntegerType, "phonecode" -> IntegerType))))
  }

  test("Soda gate 2: transform checks (transform/*.yml, 5 files)") {
    // dim_customer.yml: schema + unique + non-null key
    CheckSuite.run(dimCust, Seq(
      RequiredColumns(Seq("customer_key", "customer_id", "country", "iso")),
      NoDuplicates("customer_key"), NoMissing("customer_key")))
    // dim_datetime.yml: schema + weekday ∈ [0,6] (passes only because the
    // data has no Saturday = our 7 — replicated wrinkle, SURVEY.md §2.3 D5)
    CheckSuite.run(dimDt, Seq(
      RequiredColumns(Seq("datetime_id", "datetime")),
      InRange("weekday", 0, 6),
      NoDuplicates("datetime_id"), NoMissing("datetime_id")))
    // dim_product.yml: schema + unique + non-null + min(price) >= 0
    CheckSuite.run(dimProd, Seq(
      RequiredColumns(Seq("product_key", "stock_code", "description", "price")),
      NoDuplicates("product_key"), NoMissing("product_key"),
      MinAtLeast("price", 0)))
    // dim_invoices.yml: schema + non-null + unique key
    CheckSuite.run(dimInv, Seq(
      RequiredColumns(Seq("invoice_key", "invoiceno", "invoicedate", "customer_key")),
      NoMissing("invoice_key"), NoDuplicates("invoice_key")))
    // fct_invoice_line_value.yml: schema + failed-rows total_price < 0
    CheckSuite.run(fct, Seq(
      RequiredColumns(Seq("invoice_key", "product_key", "date_key", "quantity", "total_price")),
      NoFailedRows("positive_total_price", col("total_price") < 0)))
  }

  test("Soda gate 3: report checks (report/*.yml, 3 files)") {
    val rc = Retail.reportCustomerInvoices(fct, dimInv, dimCust)
    val rp = Retail.reportProductInvoices(fct, dimProd)
    val ry = Reports.yearInvoicesFrom(fct, dimDt)
    CheckSuite.run(rc, Seq(NoMissing("country"), MinAtLeast("total_invoices", 1)))
    CheckSuite.run(rp, Seq(NoMissing("stock_code"), MinAtLeast("total_quantity_sold", 1)))
    CheckSuite.run(ry, Seq(MinAtLeast("num_invoices", 0)))
  }

  test("exclusion semantics: null customers, cancellations, zero prices, dup rows") {
    // null-CustomerID invoice excluded from dim_customer AND (via J2) dim_invoice
    assert(dimCust.filter($"customer_id".isNull).count() == 0)
    assert(dimInv.filter($"invoiceno" === "536414").count() == 0)
    // cancellation line (negative qty) excluded from fct
    assert(fct.count() > 0 && fct.filter($"quantity" <= 0).count() == 0)
    // zero-price product excluded from dim_product → its line drops from fct (J3)
    assert(dimProd.filter($"price" <= 0).count() == 0)
    // duplicate full row collapses: invoice 536368 contributes 1 product row
    assert(dimProd.filter($"stock_code" === "22960").count() == 1)
    // left-join miss: unknown Country yields null iso but keeps the customer
    assert(dimCust.filter($"country" === "Atlantis" && $"iso".isNull).count() == 1)
  }

  test("country seed: full 239 rows with NULL territories and apostrophe names (S7-S10)") {
    assert(country.count() == 239)
    // 13 NULL-iso3/numcode territories survive the load (country.sql's
    // DEFAULT NULL rows — Antarctica, Bouvet Island, Aland Islands, ...)
    assert(country.filter($"iso3".isNull && $"numcode".isNull).count() == 13)
    assert(country.filter($"name" === "Antarctica" && $"iso3".isNull).count() == 1)
    // SQL-escaped apostrophes ('') land as literal apostrophes
    assert(country.filter($"name" === "Cote D'Ivoire").count() == 1)
    assert(country.filter($"name".contains("People's")).count() == 2)
    // post-ALTER shape: id/original-name dropped, nicename renamed
    assert(country.columns.toSeq == Seq("iso", "name", "iso3", "numcode", "phonecode"))
    // and the raw (pre-ALTER) shape retains all 7 seed columns
    assert(Retail.countrySeedRaw(spark).columns.toSeq ==
      Seq("id", "iso", "name", "nicename", "iso3", "numcode", "phonecode"))
  }

  test("report values: line counts vs distinct-invoice counts (A2 vs A5 trap)") {
    val rc = Retail.reportCustomerInvoices(fct, dimInv, dimCust).collect()
    val uk = rc.find(_.getString(0) == "United Kingdom").get
    // UK fct lines: 536365×2 + 536368×1 (dup collapsed in dims but fct keeps
    // both physical lines? No — fct is built from raw lines, dup row = 2 lines)
    assert(uk.getLong(2) >= 3, s"UK line count ${uk.getLong(2)}")
    val ry = Reports.yearInvoicesFrom(fct, dimDt).collect()
    assert(ry.forall(r => r.getLong(2) <= fct.count()))
  }
}
