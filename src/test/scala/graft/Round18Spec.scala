package graft

import graft.ops.ShapeDispatch

/** Round-18 pins for the r17 ADVICE closures: the input fingerprint is
  * stable across fresh reads of unchanged files (order-insensitive path
  * hash — a re-listing in any order must serve the memo, not re-probe)
  * and never performs a live filesystem listing for non-caching
  * FileIndex types (those contribute a constant).
  */
class Round18Spec extends SparkSpec {

  private def probes(body: => Unit): Long = {
    val before = ShapeDispatch.probeInvocations.get()
    body
    ShapeDispatch.probeInvocations.get() - before
  }

  test("input fingerprint: stable across fresh reads; multi-file path identical under re-listing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-r18-fp").toString
    val path = s"$dir/t.parquet"
    // many part files so the path-set hash actually folds a set, not a
    // singleton (the order-insensitivity claim is vacuous on one file)
    (0 until 1000).map(i => (s"g${i % 5}", i.toLong)).toDF("grp", "id")
      .repartition(8).write.mode("overwrite").parquet(path)
    val fp1 = ShapeDispatch.inputFingerprint(spark.read.parquet(path))
    val fp2 = ShapeDispatch.inputFingerprint(spark.read.parquet(path))
    assert(fp1.nonEmpty && fp1 == fp2,
      s"fresh reads of unchanged files must fingerprint identically: $fp1 vs $fp2")
    // and the memo consequence: a fresh read serves the cached stats
    def rd() = spark.read.parquet(path)
    ShapeDispatch.rankFunctionsAuto(rd(), Seq("grp"), Seq("id"), Seq("id"))
    assert(probes {
      ShapeDispatch.rankFunctionsAuto(rd(), Seq("grp"), Seq("id"), Seq("id"))
    } == 0L, "fresh read of unchanged multi-file input must hit the memo")
  }

  test("input fingerprint: non-file leaves contribute nothing (empty fingerprint, memo still keyed on plan)") {
    import spark.implicits._
    val df = (0 until 100).map(i => (s"m${i % 4}", i.toLong)).toDF("grp", "id")
    assert(ShapeDispatch.inputFingerprint(df) == "",
      "in-memory relation must contribute no file fingerprint")
  }
}
