package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** Source/sink layer (reference SURVEY.md §2.1 S2-S11).
  *
  * The reference loads CSV with ISO-8859-1 encoding + schema autodetect into
  * a truncate-and-replace warehouse table (dags/online_retail.py:36,83-93).
  * Here: explicit-schema readers (inference is a full extra pass over the
  * data — unacceptable at 100 TB; schemas are pinned, as the reference's
  * Soda checks pin them post-hoc) plus the parquet star-schema reader the
  * driver contract uses.
  */
object Tables {

  /** Parquet table from the driver's testdata dir. Parquet scans get
    * predicate pushdown + column pruning from Catalyst for free — every
    * downstream filter/select should show up in the scan's PushedFilters /
    * ReadSchema (verified in PlanSpec).
    *
    * SPARK_GRAFT_DOCS_TABLE substitutes another table (same schema) for
    * `documents` — the scale-validation control knob: sf-N runs of the
    * text/dedup queries execute once on the driver-shaped fixed-vocab
    * corpus and once on its Heaps-law twin (`documents_heaps`, see
    * GenScale), so every growth number ships with the corpus-saturation
    * control next to it. Unset (the correctness gate, the driver, all
    * default runs) this resolves to `documents` verbatim.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else {
      val resolved =
        if (name == "documents")
          sys.env.getOrElse("SPARK_GRAFT_DOCS_TABLE", "documents")
        else name
      if (resolved != name) warnDocsOverrideOnce()
      normalizeTimestamps(parquet(spark, s"$sfDir/$resolved.parquet"))
    }

  /** The one parquet open in graft. `spark.read.parquet(path)` infers the
    * schema by reading ONE footer, but it reads it inside a Spark job
    * (`SchemaMergeUtils.mergeSchemasInParallel`). In a warm `local[4]`
    * session on a 4-core VM that is a 77 ms median per open of an sf0.01
    * table, against 7 ms with the schema supplied (50 opens each). Here
    * the driver reads that same footer itself and passes the schema in,
    * so the open starts no job.
    *
    * The schema is the one Spark infers: the same file is picked as in
    * `ParquetUtils.inferSchema` (`_common_metadata`, then `_metadata`,
    * then the first data file by path, after Spark's hidden-file rule),
    * read with the footer reader Spark's inference uses, and converted
    * by `ParquetFileFormat.readSchemaFromFooter` with the converter
    * settings of `ParquetFileFormat.mergeSchemasInParallel` (IoSpec pins
    * schema, metadata and rows against Spark's own inference). Anything
    * else is left to `spark.read.parquet(path)`, so Spark's schema and
    * errors stay exactly as they are: a path that is neither a file nor
    * a directory of files only (partitioned layouts, streaming
    * `_spark_metadata` sinks, a leftover `_temporary`), schema merging
    * turned on, no data file, and any listing, footer read or conversion
    * that throws (a missing path or a glob fails its status lookup).
    * Nothing is cached: every call reads the footer again.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  private val Summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
    ParquetFileWriter.PARQUET_METADATA_FILE)

  /** Spark's listing rule (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) &&
      !name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(hadoopConf)
      val status = fs.getFileStatus(root)
      val entries: Seq[FileStatus] =
        if (status.isDirectory) fs.listStatus(root).toSeq else Seq(status)
      if (entries.exists(_.isDirectory)) None
      else {
        val leaves = entries.filterNot(f => hidden(f.getPath.getName))
          .sortBy(_.getPath.toString)
        def named(n: String) = leaves.find(_.getPath.getName == n)
        named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
          .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
          .orElse(leaves.find(f => !Summaries(f.getPath.getName)))
          .map { f =>
            val footer = ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(f, hadoopConf),
              ParquetMetadataConverter.SKIP_ROW_GROUPS)
            // the named arguments are the ones mergeSchemasInParallel sets
            // from the session; the rest keep their defaults there too
            val converter = new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = conf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
              nanosAsLong = conf.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
            ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
          }
      }
    } catch { case NonFatal(_) => None }
  }

  /** The override is a bench-only knob; results under it do NOT match the
    * DuckDB oracle (which always reads `documents`). Warn loudly ONCE per
    * JVM so a run whose numbers diverge carries a visible cause in its
    * log — and Verify refuses to start at all with the variable set (the
    * r12 advisory: a leaked env var must never silently flip the
    * correctness gate's inputs).
    */
  private lazy val warnDocsOverrideOnce: () => Unit = {
    System.err.println(
      "[graft] WARNING: SPARK_GRAFT_DOCS_TABLE=" +
        s"${sys.env.getOrElse("SPARK_GRAFT_DOCS_TABLE", "?")} substitutes " +
        "the documents table for EVERY consumer — results will not match " +
        "the DuckDB oracle. Bench-control runs only.")
    () => ()
  }

  /** Driver testdata has carried two timestamp flavors across rounds:
    * TIMESTAMP(NANOS) (rounds 1-6; unreadable without nanosAsLong) and,
    * after a regeneration, TIMESTAMP(MICROS) with isAdjustedToUTC=false —
    * which Spark 4 reads as TIMESTAMP_NTZ. Downstream code and six
    * rounds of driver compares assume session-local TimestampType, so
    * normalize any NTZ column to it here, AT THE SOURCE. The session
    * timezone is pinned to UTC everywhere (Verify/Bench/tests), making
    * the cast value-exact (a naive timestamp reinterpreted as UTC), and
    * normalizing keeps every consumer (window/funnel/session operators,
    * oracle epoch math, getTimestamp row access) on one flavor instead
    * of scattering per-query casts.
    */
  private def normalizeTimestamps(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(df) {
      (d, f) => d.withColumn(f.name,
        org.apache.spark.sql.functions.col(f.name).cast(TimestampType))
    }
  }

  /** events.parquet has stored TIMESTAMP(NANOS) (rounds 1-6), which
    * Spark's parquet reader rejects ([PARQUET_TYPE_ILLEGAL]) unless the
    * session sets spark.sql.legacy.parquet.nanosAsLong=true (Verify/Bench
    * do) — the raw int64 nanos are then truncated to a microsecond
    * TimestampType here (truncation is monotone, so ordering/max/window
    * semantics survive; driver-visible output formats timestamps at
    * second granularity anyway). Regenerated testdata stores
    * TIMESTAMP(MICROS) NTZ instead, handled by [[normalizeTimestamps]].
    * Both flavors land on the same session-local TimestampType.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = parquet(spark, s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integral `div`, NOT `/1000` — long/long promotes to double, and
        // epoch-nanos (~1.7e18) exceed double's 53-bit mantissa.
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => normalizeTimestamps(raw)
    }
  }

  /** CSV read, reference-faithful options (dags/online_retail.py:36,92:
    * header, ISO-8859-1). Explicit schema when given; inference only as the
    * small-data fallback (S2).
    */
  def readCsv(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("encoding", "ISO-8859-1")
    schema match {
      case Some(s) => base.schema(s).csv(path)
      case None    => base.option("inferSchema", "true").csv(path)
    }
  }

  /** CSV write without index col (dags/online_retail.py:50 `index=False`
    * — Spark has no index concept, so this is just header+overwrite).
    * Encoding parameterized so a writer can match the reader's ISO-8859-1
    * for byte-exact round-trips. */
  def writeCsv(df: DataFrame, path: String, encoding: String = "UTF-8"): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true").option("encoding", encoding).csv(path)

  /** Truncate-and-replace materialization — the reference's only write
    * semantics (WRITE_TRUNCATE at dags/online_retail.py:90, dbt
    * `materialized: table` at include/dbt/dbt_project.yml:5-7).
    */
  def overwriteParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** JSON-lines sink/source — the interchange format of most crawl/corpus
    * drops. Explicit schema on read (same no-inference stance as CSV);
    * doubles survive the text round-trip because Spark writes the
    * shortest decimal repr, which parses back to the identical bits.
    */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def readJsonLines(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).json(path)
      case None    => spark.read.json(path)
    }

  /** ORC sink/source — the other columnar warehouse format Spark ships
    * natively; same truncate-and-replace semantics as parquet.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Partitioned overwrite for scale: at 100 TB a fact table must be
    * partition-pruned on its dominant filter key (date). Dynamic partition
    * overwrite keeps idempotent-rebuild semantics per partition instead of
    * truncating the world.
    *
    * The input is REBALANCE-hinted on the partition columns (r18): an
    * unclustered input makes every write task sort its rows by the
    * partition values and open one writer per value it holds — at W
    * tasks × P directory values that is up to W·P file opens and W full
    * task-local sorts for the same bytes. AQE's rebalance clusters rows
    * by the partition key into advisory-sized partitions FIRST (splitting
    * skewed values, coalescing small ones — scale-adaptive, no tuned
    * constant), so each task writes a handful of directories and file
    * sizes land near `spark.sql.adaptive.advisoryPartitionSizeInBytes`.
    * Measured at sf0.1, 3 runs each (receipt:
    * tools/bench_r18/AB_PARTITIONED_WRITE.txt): 2.4-10.3s flat vs
    * 1.3-2.0s rebalanced for the q165 fact layout, identical 80 files.
    */
  def overwritePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.hint("REBALANCE", partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed catalog table — the write-side half of the "bucketing kills
    * the shuffle" contract: two tables bucketed (and sorted) on the same
    * key with the same bucket count join WITHOUT any Exchange, because
    * their on-disk layout IS the join partitioning (asserted by plan test
    * in IoSpec). This is what the fct⋈orders co-partitioning claims in
    * SCALE.md compile down to at warehouse scale.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Range-clustered parquet layout: repartitionByRange + sortWithin-
    * Partitions on `sortCol`, so every output file covers a DISJOINT
    * value range (asserted in IoSpec) and row groups inside a file are
    * ordered. Parquet footer min/max stats then prune whole files and
    * row groups for range predicates on that column — the 1-dimension
    * clustering story (data skipping): at 100 TB this is the difference
    * between scanning a day and scanning a year. Range partitioning
    * samples the column to build balanced boundaries, so skew in
    * `sortCol` spreads across files instead of hot-spotting one.
    */
  def overwriteSorted(df: DataFrame, path: String, sortCol: String,
                      partitions: Int = 0): Unit = {
    val ranged =
      if (partitions > 0)
        df.repartitionByRange(partitions, org.apache.spark.sql.functions.col(sortCol))
      else df.repartitionByRange(org.apache.spark.sql.functions.col(sortCol))
    ranged.sortWithinPartitions(sortCol).write.mode(SaveMode.Overwrite).parquet(path)
  }
}
