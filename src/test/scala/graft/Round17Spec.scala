package graft

import graft.ops.ShapeDispatch
import graft.ops.ShapeDispatch.{PercentileSpec, RangedShape, WindowShape}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-17 pins: (a) the stats memo invalidates STRUCTURALLY when the
  * input files are overwritten under an unchanged plan (the file-leaf
  * fingerprint in the cache key), with [[ShapeDispatch.invalidateStats]]
  * as the surgical per-entry drop, (b) percentilesAuto's ranged
  * reduce-join is null-safe on the group keys — a null-key group
  * survives both shapes identically (buffered ≡ per-column joined),
  * (c) PercentileSpec fails loud on p outside [0,1], (e) the top-k auto
  * dial's k > maxK short-circuit runs zero probes.
  */
class Round17Spec extends SparkSpec {

  private def probes(body: => Unit): Long = {
    val before = ShapeDispatch.probeInvocations.get()
    body
    ShapeDispatch.probeInvocations.get() - before
  }

  // ---- (a) stats-cache staleness is structural ------------------------------

  test("stats memo: overwriting the input parquet under an unchanged plan re-probes (fingerprint invalidation)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-r17-fp").toString
    val path = s"$dir/t.parquet"
    (0 until 400).map(i => (s"g${i % 5}", i.toLong)).toDF("grp", "id")
      .write.mode("overwrite").parquet(path)
    def rd() = spark.read.parquet(path)
    assert(probes {
      ShapeDispatch.rankFunctionsAuto(rd(), Seq("grp"), Seq("id"), Seq("id"))
    } == 1L, "first call on a fresh path must probe once")
    // a FRESH read of the UNCHANGED files lists the same part-files:
    // same fingerprint, same key — served from the memo
    assert(probes {
      ShapeDispatch.rankFunctionsAuto(rd(), Seq("grp"), Seq("id"), Seq("id"))
    } == 0L, "unchanged files under a fresh read must hit the memo")
    // overwrite: new part-file names (UUIDs) at minimum — the
    // fingerprint moves even if count/bytes coincide, so the next call
    // MUST re-probe instead of serving the stale entry (this was the
    // r16 documented caveat, structural since r17)
    (0 until 4000).map(i => (s"g${i % 2}", i.toLong)).toDF("grp", "id")
      .write.mode("overwrite").parquet(path)
    assert(probes {
      ShapeDispatch.rankFunctionsAuto(rd(), Seq("grp"), Seq("id"), Seq("id"))
    } == 1L, "an overwrite under the same plan must re-probe")
    assert(probes {
      ShapeDispatch.rankFunctionsAuto(rd(), Seq("grp"), Seq("id"), Seq("id"))
    } == 0L, "…and the re-probed entry is memoized again")
  }

  test("invalidateStats drops exactly one (plan, columns) entry; others keep serving") {
    import spark.implicits._
    val df = (0 until 350).map(i => (s"r17i${i % 6}", i.toLong, i % 9))
      .toDF("grp", "id", "v")
    // warm two entries: (grp; no value cols) and (grp; v)
    assert(probes {
      ShapeDispatch.rankFunctionsAuto(df, Seq("grp"), Seq("id"), Seq("id"))
      ShapeDispatch.percentilesAuto(df, Seq("grp"),
        Seq(PercentileSpec("v", Seq(0.5), Seq("p50"))))
    } == 2L)
    ShapeDispatch.invalidateStats(df, Seq("grp"))
    assert(probes {
      ShapeDispatch.rankFunctionsAuto(df, Seq("grp"), Seq("id"), Seq("id"))
    } == 1L, "the invalidated entry must re-probe")
    assert(probes {
      ShapeDispatch.percentilesAuto(df, Seq("grp"),
        Seq(PercentileSpec("v", Seq(0.5), Seq("p50"))))
    } == 0L, "the sibling (grp; v) entry must be untouched")
  }

  // ---- (b) null group keys survive both percentile shapes ------------------

  private def nullKeyFixture(): DataFrame = {
    import spark.implicits._
    // one NULL group key (the r16 ADVICE edge), skew, ties, an all-null-b
    // group that must drop in every shape, odd sizes for interpolation
    val rows =
      (0 until 31).map(i => (null: String, (i % 7).toDouble, (i * 3 % 13).toDouble: java.lang.Double)) ++
      (0 until 97).map(i => ("big", (i % 11).toDouble, (i * 7 % 23).toDouble: java.lang.Double)) ++
      (0 until 5).map(i => ("bnull", i.toDouble, null: java.lang.Double)) ++
      Seq(("one", 42.0, 7.0: java.lang.Double))
    rows.toDF("grp", "a", "b")
  }

  test("percentilesAuto: a null group key survives the buffered and per-column ranged shapes identically") {
    val df = nullKeyFixture()
    val specs = Seq(
      PercentileSpec("a", Seq(0.5, 0.9), Seq("a50", "a90")),
      PercentileSpec("b", Seq(0.25, 0.99), Seq("b25", "b99")))
    val buffered = ShapeDispatch.percentilesAuto(df, Seq("grp"), specs,
      force = Some(WindowShape))
    val joined = ShapeDispatch.percentilesAuto(df, Seq("grp"), specs,
      force = Some(RangedShape))
    def rows(d: DataFrame) =
      d.orderBy(asc_nulls_first("grp")).collect().toSeq
    val b = rows(buffered); val j = rows(joined)
    // the null-key group is present in both shapes — the r16 USING join
    // silently dropped it from the ranged branch
    assert(b.exists(_.isNullAt(0)), "buffered must keep the null-key group")
    assert(j.exists(_.isNullAt(0)),
      "ranged per-column reduce-join must keep the null-key group (null-safe join)")
    assert(b.length == j.length)
    b.zip(j).foreach { case (br, jr) =>
      assert(br.isNullAt(0) == jr.isNullAt(0) &&
        (br.isNullAt(0) || br.getString(0) == jr.getString(0)))
      for (i <- 1 to 4)
        assert(math.abs(br.getDouble(i) - jr.getDouble(i)) < 1e-9,
          s"col $i differs in group ${br.get(0)}: ${br.getDouble(i)} vs ${jr.getDouble(i)}")
    }
    // the all-null-in-b group dropped everywhere; null + 2 live groups kept
    assert(j.length == 3 && !j.exists(r => !r.isNullAt(0) && r.getString(0) == "bnull"))
  }

  // ---- (c) PercentileSpec validates ps --------------------------------------

  test("PercentileSpec rejects percentiles outside [0,1] — loud, not an empty result") {
    for (bad <- Seq(-0.1, 1.5, 50.0)) {
      val e = intercept[IllegalArgumentException] {
        PercentileSpec("a", Seq(0.5, bad), Seq("x", "y"))
      }
      assert(e.getMessage.contains("[0,1]"), e.getMessage)
    }
    // boundary values are legal
    PercentileSpec("a", Seq(0.0, 1.0), Seq("lo", "hi"))
  }

  // ---- (f) TopKBuffer is a bounded max-heap (k=1000 cliff fix) --------------

  test("TopKBuffer heap: kept multiset == brute-force k smallest, across inserts and merges") {
    val ord = implicitly[Ordering[Int]].asInstanceOf[Ordering[Any]]
    // deterministic pseudo-random stream with duplicates
    val xs = (0 until 5000).map(i => (i * 2654435761L % 977).toInt)
    for (k <- Seq(1, 3, 10, 257)) {
      val buf = new graft.functions.TopKBuffer(k, ord)
      xs.foreach(v => if (buf.wouldAccept(v)) buf.insert(v))
      assert(buf.sortedEntries.toSeq == xs.sorted.take(k),
        s"k=$k: heap must keep exactly the k smallest (with duplicates)")
      // merge path: two halves through separate buffers, merged
      val (l, r) = xs.splitAt(xs.length / 2)
      val a = new graft.functions.TopKBuffer(k, ord)
      val b = new graft.functions.TopKBuffer(k, ord)
      l.foreach(a.insert); r.foreach(b.insert)
      a.mergeWith(b)
      assert(a.sortedEntries.toSeq == xs.sorted.take(k), s"k=$k: merge must agree")
    }
  }

  test("topKPerGroupAuto heap shape at k=1000 stays value-identical to the window shape") {
    import spark.implicits._
    val df = (0 until 3000).map(i => (s"hg${i % 3}", i.toLong, (i * 2654435761L % 7919)))
      .toDF("grp", "id", "v")
    val heap = ShapeDispatch.topKPerGroupAuto(df, Seq("grp"), Seq("v", "id"), 1000,
      force = Some(RangedShape))
    assert(heap.queryExecution.executedPlan.toString.contains("topk_structs"))
    val w = ShapeDispatch.topKPerGroupAuto(df, Seq("grp"), Seq("v", "id"), 1000,
      force = Some(WindowShape))
    assert(heap.exceptAll(w).isEmpty && w.exceptAll(heap).isEmpty,
      "heap and window top-1000 must be identical multisets")
  }

  // ---- (e) k > maxK short-circuits before the probe -------------------------

  test("topKPerGroupAuto: k > maxK decides window WITHOUT probing (cold memo, zero scans)") {
    import spark.implicits._
    // distinct literals → a fresh plan → cold memo entry by construction
    val df = (0 until 220).map(i => (s"r17k${i % 4}", i.toLong, (i * 17 % 41).toLong))
      .toDF("grp", "id", "v")
    assert(probes {
      val out = ShapeDispatch.topKPerGroupAuto(df, Seq("grp"), Seq("v", "id"),
        (ShapeDispatch.MaxK + 1).toInt)
      assert(!out.queryExecution.executedPlan.toString.contains("topk_structs"))
    } == 0L, "a predetermined window decision must not pay a probe scan")
    // same input below maxK: the decision needs stats → exactly one probe
    assert(probes {
      ShapeDispatch.topKPerGroupAuto(df, Seq("grp"), Seq("v", "id"), 3)
    } == 1L)
  }
}
