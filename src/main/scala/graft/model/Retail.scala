package graft.model

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.CoreOps._

/** The reference pipeline on its OWN schema (raw_invoices + country), so a
  * user of `adedamola26/data-pipeline-4-online-retail` can switch engines
  * without renaming a column: same preprocess, same dims, same fact, same
  * reports, checked by the same (ported) Soda gates in RetailParitySpec.
  *
  * Sources:
  *   preprocess  dags/online_retail.py:34-50
  *   dim_customer  include/dbt/models/transform/dim_customer.sql:1-13
  *   dim_datetime  include/dbt/models/transform/dim_datetime.sql:1-18
  *   dim_product   include/dbt/models/transform/dim_product.sql:1-8
  *   dim_invoice   include/dbt/models/transform/dim_invoice.sql:1-16
  *   fct           include/dbt/models/transform/fct_invoice_line_value.sql:1-22
  *   reports       include/dbt/models/report/report_*.sql (year:
  *                 graft.report.Reports.yearInvoicesFrom)
  */
object Retail {

  /** Kaggle CSV timestamp shape ("12/1/2010 8:26") and the pandas output
    * shape ('%m/%d/%Y %I:%M %p' → "12/01/2010 08:26 AM"). */
  val RawTsFormat  = "M/d/yyyy H:mm"
  val NormTsFormat = "MM/dd/yyyy hh:mm a"

  /** The full 239-row country seed (reference include/table/country.sql:
    * 11-250 — the public-domain ISO-3166 country/phone-code table),
    * re-serialized as a TSV resource, in the PRE-ALTER shape
    * (id, iso, name, nicename, iso3, numcode, phonecode). Carries the
    * interesting rows: 13 NULL iso3/numcode territories (Antarctica,
    * Bouvet Island, Aland Islands, ...) and apostrophe names
    * ("Cote D'Ivoire", "Lao People's Democratic Republic"). 239 rows is
    * driver-trivial: parsed locally, parallelized as one partition.
    */
  def countrySeedRaw(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("iso", StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("nicename", StringType, nullable = false),
      StructField("iso3", StringType, nullable = true),
      StructField("numcode", IntegerType, nullable = true),
      StructField("phonecode", IntegerType, nullable = false)))
    val in = getClass.getResourceAsStream("/graft/country_seed.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    val rows =
      try src.getLines().map { l =>
        val f = l.split('\t')
        Row(f(0).toInt, f(1), f(2), f(3),
            if (f(4) == "\\N") null else f(4),
            if (f(5) == "\\N") null else Integer.valueOf(f(5).toInt),
            f(6).toInt)
      }.toList
      finally src.close()
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** The seed after the reference's post-load ALTERs (country.sql:252-259):
    * DROP id, DROP name, RENAME nicename→name — the S9/S10 shape
    * dim_customer joins against (iso, name, iso3, numcode, phonecode).
    */
  def countrySeed(spark: SparkSession): DataFrame =
    countrySeedRaw(spark)
      .drop("id")                             // S9 (country.sql:252-253)
      .drop("name")                           // S9 (country.sql:255-256)
      .withColumnRenamed("nicename", "name")  // S10 (country.sql:258-259)
      .select("iso", "name", "iso3", "numcode", "phonecode")

  /** pandas preprocess (dags/online_retail.py:34-50): parse-coerce (D1) →
    * per-invoice window max (A9, the ±1-minute fix) → reformat (D2). */
  def preprocess(raw: DataFrame): DataFrame =
    raw
      .withColumn("__ts", parseTimestamp(col("InvoiceDate"), RawTsFormat))
      .withColumn("__ts", max(col("__ts")).over(Window.partitionBy("InvoiceNo")))
      .withColumn("InvoiceDate", date_format(col("__ts"), NormTsFormat))
      .drop("__ts")

  /** dim_customer.sql:1-13 — distinct + not-null key + surrogate key +
    * LEFT JOIN country ON country = name (J1). */
  def dimCustomer(invoices: DataFrame, country: DataFrame): DataFrame = {
    val cte = invoices
      .filter(col("CustomerID").isNotNull)
      .select(
        surrogateKey(col("CustomerID"), col("Country")).as("customer_key"),
        col("CustomerID").as("customer_id"),
        col("Country").as("country"))
      .distinct()
    cte.join(broadcast(country.select(col("name"), col("iso"))),
             cte("country") === col("name"), "left")
      .select(cte("*"), col("iso"))
  }

  /** dim_datetime.sql:1-18 — distinct timestamps (string-keyed), calendar
    * parts, weekday in BigQuery's 1=Sun..7=Sat convention (D5). */
  def dimDatetime(invoices: DataFrame): DataFrame = {
    val base = invoices
      .filter(col("InvoiceDate").isNotNull)
      .select(
        surrogateKey(col("InvoiceDate")).as("date_key"),
        col("InvoiceDate").as("datetime_id"),
        parseTimestamp(col("InvoiceDate"), NormTsFormat).as("datetime"))
      .distinct()
    calendarParts(col("datetime"))
      .foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }
  }

  /** dim_product.sql:1-8 — distinct + (not-null ∧ price>0) + surrogate key
    * over (StockCode, Description, UnitPrice) — NB the float is hashed via
    * its string form, reference semantics (SURVEY.md §2.2 P7 caveat). */
  def dimProduct(invoices: DataFrame): DataFrame =
    invoices
      .filter(col("StockCode").isNotNull && col("UnitPrice") > 0)
      .select(
        surrogateKey(col("StockCode"), col("Description"), col("UnitPrice")).as("product_key"),
        col("StockCode").as("stock_code"),
        col("Description").as("description"),
        col("UnitPrice").as("price"))
      .distinct()

  /** dim_invoice.sql:1-16 — distinct headers + INNER JOIN dim_customer
    * (J2: semantically drops invoices with null CustomerID). */
  def dimInvoice(invoices: DataFrame, dimCust: DataFrame): DataFrame = {
    val cte = invoices
      .select(
        surrogateKey(col("InvoiceNo")).as("invoice_key"),
        col("InvoiceNo").as("invoiceno"),
        col("InvoiceDate").as("invoicedate"),
        surrogateKey(col("CustomerID"), col("Country")).as("customer_key"))
      .distinct()
    cte.join(dimCust.select("customer_key"), Seq("customer_key"), "inner")
      .select("invoice_key", "invoiceno", "invoicedate", "customer_key")
  }

  /** fct_invoice_line_value.sql:1-22 — Quantity>0 filter (P4),
    * Quantity×UnitPrice (P6), surrogate keys, INNER joins to all dims (J3). */
  def fctInvoiceLineValue(invoices: DataFrame, dimDt: DataFrame,
                          dimProd: DataFrame, dimInv: DataFrame): DataFrame =
    invoices
      .filter(col("Quantity") > 0)
      .select(
        surrogateKey(col("InvoiceNo")).as("invoice_key"),
        surrogateKey(col("InvoiceDate")).as("date_key"),
        surrogateKey(col("StockCode"), col("Description"), col("UnitPrice")).as("product_key"),
        col("Quantity").as("quantity"),
        (col("Quantity") * col("UnitPrice")).as("total_price"))
      .join(broadcast(dimDt.select("date_key")), Seq("date_key"), "inner")
      .join(dimProd.select("product_key"), Seq("product_key"), "inner")
      .join(dimInv.select("invoice_key"), Seq("invoice_key"), "inner")
      .select("invoice_key", "date_key", "product_key", "quantity", "total_price")

  /** report_customer_invoices.sql — country/iso, line counts (A2), revenue
    * (A3), top 10 (A7). */
  def reportCustomerInvoices(fct: DataFrame, dimInv: DataFrame, dimCust: DataFrame): DataFrame =
    fct
      .join(dimInv.select("invoice_key", "customer_key"), Seq("invoice_key"))
      .join(dimCust.select("customer_key", "country", "iso"), Seq("customer_key"))
      .groupBy("country", "iso")
      .agg(count(col("invoice_key")).as("total_invoices"),
           sumMoney(col("total_price")).as("total_revenue"))
      .orderBy(desc("total_revenue"), asc("country"))
      .limit(10)

  /** report_product_invoices.sql — top 10 products by quantity (A4/A6/A7). */
  def reportProductInvoices(fct: DataFrame, dimProd: DataFrame): DataFrame =
    fct
      .join(dimProd.select("product_key", "stock_code", "description"), Seq("product_key"))
      .groupBy("product_key", "stock_code", "description")
      .agg(sum(col("quantity")).as("total_quantity_sold"))
      .orderBy(desc("total_quantity_sold"), asc("product_key"))
      .limit(10)
}
