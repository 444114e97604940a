package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.OracleCatalog
import graft.report.Reports

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` covers SURVEY.md §2's operator inventory (scans, projections,
  * filters, date/time, joins, aggregations, windows, top-K, checks) plus the
  * LLM-pipeline extensions (dedup, minhash/LSH, simhash, text analysis,
  * similarity search, multimodal plumbing, corpus hygiene). Both maps are
  * views of [[graft.queries.OracleCatalog.declarations]], where each query
  * is declared once with its body, its DuckDB oracle and the session
  * caches it reads. EVERY query carries an oracle — including the
  * bit-level simhash, the hyperplane-LSH paths (constants serialized into
  * the SQL), the media byte stats, and the approx/JSON queries (checked
  * via verified contracts / typed round-trips rather than engine-specific
  * values).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full star-schema build + year/month report (reads lineitem+orders+
    * part+customer+nation, exercises surrogate keys, joins, exact distinct
    * count, money-exact sums).
    */
  def entry(spark: SparkSession): DataFrame =
    Reports.yearInvoices(spark, EntryDir)

  /** The fixture directory [[entry]] reads. */
  val EntryDir = "/root/testdata/sf0.001"

  /** One entry per declared query ([[OracleCatalog.declarations]]). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    OracleCatalog.declarations.map(q => q.name -> q.body).toMap

  /** For each key in [[queries]], equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    OracleCatalog.declarations.map(q => q.name -> q.oracleSql).toMap
}
