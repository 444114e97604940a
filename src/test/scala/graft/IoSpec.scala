package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.Tables

/** Load-path fidelity (SURVEY.md §2.1 S2-S11). */
class IoSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("graft_io").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("S2/S3: CSV round-trip with ISO-8859-1 encoding preserves non-ASCII text") {
    val dir = tmpDir() + "/csv"
    val df = Seq((1L, "café"), (2L, "plaît")).toDF("id", "name")
    Tables.writeCsv(df.repartition(1), dir)
    // writeCsv emits UTF-8 by default; re-write with the reference encoding
    df.write.mode("overwrite").option("header", "true").option("encoding", "ISO-8859-1").csv(dir)
    val back = Tables.readCsv(spark, dir)
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("café", "plaît"))
  }

  test("S2: explicit schema beats inference (no extra pass, exact types)") {
    val dir = tmpDir() + "/csv2"
    Seq((1L, 2.5, "x")).toDF("a", "b", "c")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", DoubleType), StructField("c", StringType)))
    val back = Tables.readCsv(spark, dir, Some(schema))
    assert(back.schema == schema)
  }

  test("S5/S11: overwrite materialization is idempotent truncate-and-replace") {
    val dir = tmpDir() + "/pq"
    Tables.overwriteParquet(Seq(1, 2, 3).toDF("v"), dir)
    Tables.overwriteParquet(Seq(4, 5).toDF("v"), dir)
    assert(spark.read.parquet(dir).count() == 2, "second write replaces, not appends")
  }

  test("S11 at scale: partitioned overwrite prunes on the partition key") {
    val dir = tmpDir() + "/pqp"
    val df = Seq((2023, 1L), (2024, 2L), (2024, 3L)).toDF("year", "v")
    Tables.overwritePartitioned(df, dir, Seq("year"))
    val pruned = spark.read.parquet(dir).filter(col("year") === 2024)
    assert(pruned.count() == 2)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || !scan.contains("year=2023"),
      "partition filter must prune year=2023")
  }

  test("nested-schema pruning: selecting one struct field reads ONLY that subfield") {
    // the multimodal/metadata pattern: wide structs in parquet; a scan
    // that reads the whole struct for a one-field projection multiplies
    // I/O at 100 TB. Catalyst's nestedSchemaPruning (on by default) must
    // push the subfield into ReadSchema.
    val dir = tmpDir() + "/nested"
    Seq((1L, ("img", 1024, "deadbeef")), (2L, ("aud", 2048, "cafebabe")))
      .toDF("id", "meta")
      .select(col("id"), col("meta._1").as("kind"), col("meta._2").as("n_bytes"), col("meta._3").as("digest"))
      .select(col("id"), struct(col("kind"), col("n_bytes"), col("digest")).as("meta"))
      .write.mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir).select(col("id"), col("meta.n_bytes"))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema"), s"no scan found:\n$scan")
    assert(!scan.contains("digest"),
      s"struct must be pruned to the selected subfield:\n$scan")
    assert(pruned.as[(Long, Int)].collect().sortBy(_._1).toSeq == Seq((1L, 1024), (2L, 2048)))
  }

  test("S6-S10: DDL analogs — database, seed table, drop, rename") {
    spark.sql("CREATE DATABASE IF NOT EXISTS retail") // S6
    // S7/S8: static seed built from a Seq with explicit schema
    val country = Seq(("DE", "Germany", Some("DEU"), 276), ("AX", "Åland", None: Option[String], 248))
      .toDF("iso", "nicename", "iso3", "numcode")
      .withColumn("id", monotonically_increasing_id())
    // S9: drop; S10: rename (country.sql:252-259 post-ALTER shape)
    val shaped = country.drop("id").withColumnRenamed("nicename", "name")
    assert(shaped.columns.toSeq == Seq("iso", "name", "iso3", "numcode"))
    assert(shaped.filter(col("iso3").isNull).count() == 1)
    spark.sql("DROP DATABASE IF EXISTS retail")
  }

  test("range-sorted layout: output files cover disjoint ranges, filters push to the scan") {
    val dir = tmpDir() + "/sorted"
    val orders = Tables.table(spark, sf, "orders")
    Tables.overwriteSorted(orders, dir, "o_orderkey", partitions = 4)
    // every file is one range partition => per-file [min, max] intervals
    // are pairwise disjoint — the layout property footer-stats skipping
    // needs (a random layout interleaves ranges across all files)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(_.getAbsolutePath)
    assert(files.length >= 3, s"expected multiple range files, got ${files.length}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("o_orderkey"), max("o_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"file ranges overlap: $hi >= $lo2")
      case _ => ()
    }
    // and a range predicate on the sort column reaches the parquet scan
    val plan = spark.read.parquet(dir).filter(col("o_orderkey") < 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(o_orderkey"),
      s"range filter must push down for footer-stats skipping:\n$plan")
    // rows survive the layout change
    assert(spark.read.parquet(dir).count() == orders.count())
  }

  test("z-ordered layout: per-file bounding boxes shrink on BOTH columns") {
    val zDir = tmpDir() + "/zord"; val sDir = tmpDir() + "/ssort"
    val li = Tables.table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    graft.io.ZOrder.overwriteZOrdered(li, zDir, "l_orderkey", "l_partkey", partitions = 8)
    Tables.overwriteSorted(li, sDir, "l_orderkey", partitions = 8)
    def stats(c: String) = {
      val r = li.agg(min(col(c)), max(col(c))).head(); (r.getLong(0), r.getLong(1))
    }
    val (aLo, aHi) = stats("l_orderkey"); val (bLo, bHi) = stats("l_partkey")
    def avgRanges(dir: String): (Double, Double) = {
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      val spans = files.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col("l_orderkey")), max(col("l_orderkey")),
               min(col("l_partkey")), max(col("l_partkey"))).head()
        ((r.getLong(1) - r.getLong(0)).toDouble / (aHi - aLo),
         (r.getLong(3) - r.getLong(2)).toDouble / (bHi - bLo))
      }
      (spans.map(_._1).sum / spans.length, spans.map(_._2).sum / spans.length)
    }
    val (zA, zB) = avgRanges(zDir)
    val (sA, sB) = avgRanges(sDir)
    // single-column sort: tight on the sort column, FULL width on the other
    assert(sA < 0.3, s"sorted layout should be tight on l_orderkey, got $sA")
    assert(sB > 0.9, s"sorted layout covers full l_partkey range per file, got $sB")
    // z-order: BOTH columns strictly narrower than full width — the 2-D
    // bounding boxes footer-stats skipping needs for either predicate
    assert(zA < 0.6 && zB < 0.8, s"z-order boxes not tight: a=$zA b=$zB")
    assert(spark.read.parquet(zDir).count() == li.count())
  }

  test("3-column z-order: bit dilution measured against 2-col morton and hierarchical sort") {
    // The bit-dilution study: a morton key over N columns cuts each
    // dimension into ~F^(1/N) slices across F files, so per-file spans
    // are ~F^(-1/N) of the column range. With F=8: N=2 → ~0.35 spans on
    // both columns; N=3 → ~0.5 on all three; hierarchical sort → ~0.125
    // on the lead column and ~1.0 on the rest. Quantified here; the
    // engineering conclusion (when morton stops paying) lives in
    // ZOrder's scaladoc + SCALE.md.
    val z3Dir = tmpDir() + "/z3"; val z2Dir = tmpDir() + "/z2"; val hDir = tmpDir() + "/hier"
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
    val li = Tables.table(spark, sf, "lineitem").select(cols.map(col): _*)
    graft.io.ZOrder.overwriteZOrdered(li, z3Dir, cols, partitions = 8, bits = 16)
    graft.io.ZOrder.overwriteZOrdered(li, z2Dir, "l_orderkey", "l_partkey", partitions = 8)
    li.repartitionByRange(8, col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .sortWithinPartitions("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(hDir)
    val widths = cols.map { c =>
      val r = li.agg(min(col(c)), max(col(c))).head()
      c -> (r.getLong(0), r.getLong(1))
    }.toMap
    def avgSpans(dir: String): Seq[Double] = {
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      assert(files.length >= 6, s"$dir: expected ~8 files, got ${files.length}")
      val spans = files.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(cols.flatMap(c => Seq(min(col(c)), max(col(c)))).head,
               cols.flatMap(c => Seq(min(col(c)), max(col(c)))).tail: _*).head()
        cols.zipWithIndex.map { case (c, j) =>
          val (lo, hi) = widths(c)
          (r.getLong(2 * j + 1) - r.getLong(2 * j)).toDouble / (hi - lo)
        }
      }
      cols.indices.map(j => spans.map(_(j)).sum / spans.length)
    }
    val z3 = avgSpans(z3Dir); val z2 = avgSpans(z2Dir); val h = avgSpans(hDir)
    def fmt(s: Seq[Double]) = s.map(v => f"$v%.2f").mkString("[", ", ", "]")
    info(s"avg per-file spans (orderkey, partkey, suppkey) over 8 files: " +
      s"z3=${fmt(z3)} z2=${fmt(z2)} hier=${fmt(h)}")
    // hierarchical: tight lead column, no skipping on the others
    assert(h(0) < 0.3, s"hier lead span ${h(0)}")
    assert(h(1) > 0.8 && h(2) > 0.8, s"hier trailing spans ${h(1)}, ${h(2)}")
    // 2-col morton: both participating columns boxed, third full-width
    assert(z2(0) < 0.6 && z2(1) < 0.8, s"z2 spans ${z2(0)}, ${z2(1)}")
    assert(z2(2) > 0.8, s"z2 must not box the absent column: ${z2(2)}")
    // 3-col morton: EVERY column boxed strictly narrower than under a
    // layout that ignores it. Relative bounds, not absolute thresholds:
    // repartitionByRange sampling makes the measured spans drift
    // run-to-run (suppkey observed anywhere in 0.75-0.81 across JVMs),
    // so each z3 span is compared against the SAME-RUN span of the
    // layout that spent no bits on that column (hier trailing columns
    // and z2's absent third column are ~full-width by construction,
    // asserted above), with a 8% margin.
    assert(z3(0) < 0.8, s"z3 lead span ${z3(0)}") // lead gets the most interleaved bits; ~0.5 expected
    assert(z3(1) < h(1) * 0.92, s"z3 partkey span ${z3(1)} not narrower than unordered ${h(1)}")
    assert(z3(2) < h(2) * 0.92 && z3(2) < z2(2) * 0.92,
      s"z3 suppkey span ${z3(2)} not narrower than unordered ${h(2)} / ${z2(2)}")
    // ...but diluted: each participating column is WIDER than under the
    // layout that spent its bits on fewer columns
    assert(z3(0) > h(0), s"dilution vs dedicated sort: z3=${z3(0)} hier=${h(0)}")
    assert(z3(0) > z2(0) * 0.9 && z3(1) > z2(1) * 0.9,
      s"3-col boxes should not beat 2-col on shared columns: z3=$z3 z2=$z2")
    assert(spark.read.parquet(z3Dir).count() == li.count())
  }

  test("bucketed tables join with NO exchange (co-located layout is the partitioning)") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a non-broadcast join
    try {
      val orders = Tables.table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
      val lines  = Tables.table(spark, sf, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      Tables.writeBucketed(orders, "b_orders", "o_orderkey", 8)
      Tables.writeBucketed(lines, "b_lines", "o_orderkey", 8)
      val j = spark.table("b_orders").join(spark.table("b_lines"), Seq("o_orderkey"))
      j.write.format("noop").mode("overwrite").save()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n${plan.take(1200)}")
      assert(!plan.contains("Exchange"),
        s"bucketed-on-key join must not shuffle:\n${plan.take(1200)}")
      // sanity: same result as the raw-table join
      assert(j.count() == orders.join(lines, Seq("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lines")
    }
  }

  // ---- Tables.parquet: Spark's inferred schema without Spark's job ---------

  /** Same schema (nullability and field metadata included), same JSON
    * and the same rows as Spark's own inferring read of `path`. */
  private def assertOpensLikeSpark(path: String, orderBy: String*): Unit = {
    val ours = Tables.parquet(spark, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema == theirs.schema, path)
    assert(ours.schema.json == theirs.schema.json, path)
    def rows(df: DataFrame) =
      (if (orderBy.isEmpty) df else df.orderBy(orderBy.map(col): _*)).collect().toSeq
    assert(rows(ours) == rows(theirs), path)
  }

  test("Tables.parquet: every testdata file opens with Spark's inferred schema and rows") {
    val files = new java.io.File(sf).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(files.size == 10)
    files.foreach(assertOpensLikeSpark(_))
    for (nanosAsLong <- Seq("false", "true"))
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> nanosAsLong) {
        assertOpensLikeSpark(s"$sf/events.parquet")
        val viaTables = Tables.events(spark, sf)
        assert(viaTables.schema("ts").dataType == TimestampType)
      }
  }

  test("Tables.parquet: a Spark-written multi-file directory keeps nullability, metadata and NTZ") {
    val dir = tmpDir() + "/multi"
    val varchar = new MetadataBuilder()
      .putString("__CHAR_VARCHAR_TYPE_STRING", "varchar(5)").build()
    spark.range(0, 30, 1, 3)
      .select(col("id").cast("int").as("k"),
        concat(lit("v"), col("id").cast("string")).as("code", varchar),
        expr("timestamp_ntz '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, id)").as("at"))
      .write.parquet(dir)
    val written = new java.io.File(dir).list().toSeq
    assert(written.contains("_SUCCESS") &&
      written.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 3, written)
    // the footers carry Spark's own schema (a non-null int, the varchar(5)
    // metadata on a string column, timestamp_ntz), which inference keeps
    val footer = spark.read.parquet(dir).schema
    assert(footer("code").metadata == varchar && footer("at").dataType == TimestampNTZType)
    assertOpensLikeSpark(dir, "k")
    assert(jobsStartedBy(Tables.parquet(spark, dir).schema) == 0)
  }

  test("Tables.parquet: partitioned and streaming-sink directories come back as Spark infers them") {
    val parted = tmpDir() + "/parted"
    Tables.overwritePartitioned(
      Seq((2023, 1L, "a"), (2024, 2L, "b"), (2024, 3L, "c")).toDF("year", "v", "s"),
      parted, Seq("year"))
    assertOpensLikeSpark(parted, "v")
    assert(Tables.parquet(spark, parted).schema.fieldNames.toSeq == Seq("v", "s", "year"))

    // a file sink's _spark_metadata log names the committed files; a
    // stray parquet file with another schema (sorting first) must not
    // become the inferred schema
    implicit val sqlCtx = spark.sqlContext
    val sink = tmpDir() + "/sink"
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    source.addData(1L, 2L, 3L)
    val q = source.toDF().withColumnRenamed("value", "n").writeStream
      .format("parquet").option("checkpointLocation", tmpDir() + "/ckpt").start(sink)
    try q.processAllAvailable() finally q.stop()
    val strayDir = tmpDir() + "/stray"
    Seq("x").toDF("stray").coalesce(1).write.parquet(strayDir)
    val part = new java.io.File(strayDir).listFiles().find(_.getName.startsWith("part-")).get
    Files.copy(part.toPath, java.nio.file.Paths.get(sink, "a-stray.parquet"))
    assertOpensLikeSpark(sink, "n")
    assert(Tables.parquet(spark, sink).schema.fieldNames.toSeq == Seq("n"))
  }

  test("Tables.parquet: a missing path raises Spark's own error") {
    val missing = tmpDir() + "/absent.parquet"
    val ours = intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, missing))
    val theirs = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(missing))
    assert(ours.getCondition == theirs.getCondition && ours.getCondition == "PATH_NOT_FOUND")
  }

  test("Tables.table on a testdata file starts no Spark job (the inferring read starts one)") {
    assert(jobsStartedBy(spark.read.parquet(s"$sf/lineitem.parquet")) >= 1,
      "the witness must see the inference job of a plain read")
    assert(jobsStartedBy(Tables.table(spark, sf, "lineitem").schema) == 0)
    assert(jobsStartedBy(Tables.table(spark, sf, "events").schema) == 0)
  }
}
