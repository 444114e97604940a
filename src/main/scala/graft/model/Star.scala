package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.CoreOps._
import graft.io.Tables.table

/** Kimball star-schema builders, operator-for-operator from the reference's
  * dbt transform layer (include/dbt/models/transform/ SQL files), instantiated on
  * the driver's TPC-H-ish tables (FIXTURES.md role mapping):
  *
  *   raw_invoices line  → lineitem      customer+country → customer/nation/region
  *   invoice header     → orders        product          → part
  *
  * Each builder is a pure DataFrame => DataFrame stage; dbt's ref() topology
  * becomes function-call order (SURVEY.md §2.7).
  *
  * Scale design: broadcast hints only where the dim is small at ANY scale
  * (nation/region/calendar); everywhere else AQE picks broadcast vs shuffle
  * from runtime stats, so the same code is optimal at sf0.001 and at 100 TB.
  */
object Star {

  /** The materialized star: all four dims + the fact, persisted. The Spark
    * analog of the reference's dbt `materialized: table` layer (include/dbt/
    * dbt_project.yml:5-7) — downstream reports read the materialization, not
    * the raw-table lineage. One session-level build replaces the per-query
    * rebuild (+ Catalyst/Janino recompile) of near-identical subtrees that
    * dominated the r1 driver bench (q08 21.9s first-run).
    */
  final case class StarSchema(dimCustomer: DataFrame, dimDatetime: DataFrame,
                              dimProduct: DataFrame, dimInvoice: DataFrame,
                              fct: DataFrame)

  /** The persisted star per (session, dir). Each query that reads it
    * names it in its declaration (`OracleCatalog.declarations`);
    * `QueryCatalog.sessionCaches` derives its release, which unpersists
    * it, from those. */
  private[graft] val cache = graft.util.SessionScoped.cache[StarSchema]("star",
    s => Seq(s.dimCustomer, s.dimDatetime, s.dimProduct, s.dimInvoice, s.fct)
      .foreach(_.unpersist(blocking = true)))

  /** Build-or-reuse the persisted star for (session, dir). persist() is
    * lazy: each frame materializes on its first consuming action, so a
    * caller touching only one dim never pays for the others, and each
    * frame's one-time fill cost lands on the query that owns it (the dims
    * on q02-q05, the fact on q06; the reports then read the cache).
    * MEMORY_AND_DISK because the fact can exceed executor memory at scale —
    * at 100 TB the equivalent step writes the fact to bucketed parquet
    * (Tables.overwritePartitioned) instead of caching it.
    */
  def build(spark: SparkSession, sfDir: String): StarSchema =
    cache.getOrElseUpdate(spark, sfDir) {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val dc = dimCustomer(spark, sfDir).persist(lvl)
      val dd = dimDatetime(spark, sfDir).persist(lvl)
      val dp = dimProduct(spark, sfDir).persist(lvl)
      val di = dimInvoice(spark, sfDir).persist(lvl)
      val f  = fctFromDims(spark, sfDir, di, dp, dd).persist(lvl)
      StarSchema(dc, dd, dp, di, f)
    }

  /** dim_customer (reference: include/dbt/models/transform/dim_customer.sql:1-13):
    * DISTINCT + not-null key filter + surrogate key + LEFT JOIN to the
    * country lookup. Here: customer ⟕ nation ⟕ region (J1 analog — the
    * lookup side is broadcast; customer side never shuffles).
    */
  def dimCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = table(spark, sfDir, "customer")
    val nation   = table(spark, sfDir, "nation")
    val region   = table(spark, sfDir, "region")
    customer
      .filter(col("c_custkey").isNotNull) // P3 (dim_customer.sql:7)
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"), "left") // J1 (dim_customer.sql:12-13)
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left")
      .select(
        surrogateKey(col("c_custkey"), col("n_name")).as("customer_key"), // P7 (dim_customer.sql:3)
        col("c_custkey").as("customer_id"),
        col("c_name").as("customer_name"),
        col("n_name").as("nation"),
        col("r_name").as("region")
      )
      .distinct() // A1 (dim_customer.sql:2)
  }

  /** dim_datetime (reference: include/dbt/models/transform/dim_datetime.sql:1-18):
    * DISTINCT timestamps + surrogate key over the *string form* + calendar
    * parts. Weekday stays 1=Sun..7=Sat (D5). Datetime rendered as an explicit
    * formatted string (D2/D3) so the key hashes identically across engines.
    */
  def dimDatetime(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = table(spark, sfDir, "orders")
    val base = orders
      .filter(col("o_orderdate").isNotNull) // P3 (dim_datetime.sql:7)
      .select(formatTimestampSeconds(col("o_orderdate")).as("datetime_id"),
              col("o_orderdate").as("datetime"))
      .distinct() // A1 (dim_datetime.sql:2)
    calendarParts(col("datetime"))
      .foldLeft(base) { case (df, (name, c)) => df.withColumn(name, c) } // D4-D5
      .withColumn("date_key", surrogateKey(col("datetime_id"))) // P7 (dim_datetime.sql:3-5)
      .select("date_key", "datetime_id", "year", "month", "day", "hour", "minute", "weekday")
  }

  /** dim_product (reference: include/dbt/models/transform/dim_product.sql:1-8):
    * DISTINCT + (not-null key AND price > 0) filter + surrogate key over
    * (code, description, price). P3+P4+P5 conjunction.
    */
  def dimProduct(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "part")
      .filter(col("p_partkey").isNotNull && col("p_retailprice") > 0) // P3∧P4 (dim_product.sql:7-8)
      .select(
        surrogateKey(col("p_partkey"), col("p_name"), col("p_brand")).as("product_key"), // P7
        col("p_partkey").as("stock_code"),
        col("p_name").as("description"),
        col("p_brand").as("brand"),
        col("p_retailprice").as("price")
      )
      .distinct() // A1 (dim_product.sql:1)

  /** dim_invoice (reference: include/dbt/models/transform/dim_invoice.sql:1-16):
    * distinct invoice headers, surrogate keys for self + customer, INNER
    * join to dim_customer — semantically a filter dropping orders whose
    * customer was excluded from the dim (J2). The dim side broadcasts.
    */
  def dimInvoice(spark: SparkSession, sfDir: String): DataFrame = {
    val orders   = table(spark, sfDir, "orders")
    val nation   = table(spark, sfDir, "nation")
    val customer = table(spark, sfDir, "customer")
    // customer_key must be computed the same way dim_customer computes it:
    // md5(custkey, nation-name) — so resolve nation name first.
    val custKeyed = customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"), "left")
      .select(col("c_custkey"), surrogateKey(col("c_custkey"), col("n_name")).as("customer_key"))
    // No broadcast hint on custKeyed: customer is ~1/10 of orders at any SF
    // (big at 100 TB). AQE broadcasts it when it's actually small.
    orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderstatus"))
      .distinct() // A1 (dim_invoice.sql:2-3)
      .join(custKeyed, col("o_custkey") === custKeyed("c_custkey"), "inner") // J2 (dim_invoice.sql:15-16)
      .select(
        surrogateKey(col("o_orderkey")).as("invoice_key"), // P7 (dim_invoice.sql:4)
        col("o_orderkey").as("order_id"),
        formatTimestampSeconds(col("o_orderdate")).as("order_date"),
        col("o_orderstatus").as("order_status"),
        col("customer_key")
      )
  }

  /** fct_invoice_line_value (reference:
    * include/dbt/models/transform/fct_invoice_line_value.sql:1-22): one row
    * per line, positive-quantity filter (P4), line value arithmetic (P6 —
    * extendedprice×(1-discount), the TPC-H revenue analog of
    * Quantity×UnitPrice), surrogate keys, then INNER joins to all three
    * dims (J3) which transitively re-apply the dims' filters.
    *
    * Scale: the fact is the big side and stays put. NO forced broadcast
    * hints on any dim here — dim_product / dim_invoice grow with the data
    * (dim_invoice ≈ |orders|!), and even dim_datetime is only
    * calendar-bounded at day granularity: at second-granularity event
    * scale it grows with distinct timestamps and a forced broadcast would
    * OOM the driver. AQE broadcasts whichever sides are actually small at
    * runtime and falls back to shuffle joins at 100 TB, where
    * lineitem⋈orders co-partitions on the order key. At warehouse scale
    * both sides would be bucketed on that key to kill the shuffle entirely
    * (see Tables.overwritePartitioned).
    */
  def fctLineValue(spark: SparkSession, sfDir: String): DataFrame =
    fctFromDims(spark, sfDir,
      dimInvoice(spark, sfDir), dimProduct(spark, sfDir), dimDatetime(spark, sfDir))

  /** Fact build over prebuilt (possibly persisted — see [[build]]) dims. */
  private def fctFromDims(spark: SparkSession, sfDir: String,
                          dimI: DataFrame, dimP: DataFrame, dimD: DataFrame): DataFrame = {
    val lineitem = table(spark, sfDir, "lineitem")
    // Surrogate keys are computed at DIM cardinality and acquired by the
    // fact via joins — never recomputed per fact row (md5×3 over the full
    // fact measured ~2× the whole build; at 100 TB it's the difference
    // between hashing 150k orders and hashing 600M lines). The dim joins
    // double as the reference's J2/J3 membership filters:
    //   dim_invoice join  ⇒ drops lines of invoices without a customer
    //   dim_product join  ⇒ drops lines of products with price ≤ 0
    //   dim_datetime join ⇒ date-key membership (keys derive from the same
    //                       orders, so it's a cheap broadcast no-op filter)
    val invKeyed = dimI
      .select(col("order_id"), col("invoice_key"),
              surrogateKey(col("order_date")).as("date_key")) // same md5(formatted ts) as dim_datetime
    val prodKeyed = dimP.select("product_key", "stock_code")
    val dimDtKeys = dimD.select("date_key")

    lineitem
      .filter(col("l_quantity") > 0) // P4 (fct_invoice_line_value.sql:9)
      .join(invKeyed, col("l_orderkey") === col("order_id"), "inner")   // J2+J3 (fct.sql:19-22)
      .join(prodKeyed, col("l_partkey") === col("stock_code"), "inner") // J3
      .join(dimDtKeys, Seq("date_key"), "inner")                        // J3
      .select(
        col("invoice_key"), // P7 keys inherited from dims (fct.sql:3-5)
        col("date_key"),
        col("product_key"),
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_number"),
        col("l_quantity").as("quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_price") // P6 (fct.sql:7)
      )
  }
}
