package graft

import graft.dedup.Dedup
import graft.ops.ShapeDispatch
import graft.ops.ShapeDispatch.{PercentileSpec, RangedShape}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-16 pins: (b) null/empty-text docs never enter LSH banding (the
  * quadratic null-bucket hazard), (d) guardedStats' probe is memoized
  * per (session, plan, columns) — the second auto-dial call runs zero
  * probes, (e) the percentile dial's ranged branch is the per-column
  * rankedPercentiles + join form, value-identical to the buffering
  * aggregate.
  */
class Round16Spec extends SparkSpec {

  private def sameMultiset(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  // ---- (b) null/empty text never bands ------------------------------------

  test("LSH banding drops null signatures: no candidate touches a null-text doc, no quadratic null bucket") {
    import spark.implicits._
    // 30 null-text docs have NULL signatures (minhash_sig's null-on-null
    // contract) and would previously share ONE xxhash64(all-null) band
    // key per band: 30*29/2 = 435 junk candidate pairs every verifier
    // later discards. Two real near-dup docs ride along to prove live
    // candidates survive. (EMPTY-string docs are different: they
    // tokenize to [""], carry a real — shared — signature, and are
    // genuine Jaccard-1 duplicates of each other in the exact path too,
    // so banding them together is correct semantics, not the hazard.)
    val docs = ((1L to 30L).map(i => (i, null: String)) ++
      Seq((101L, "the quick brown fox jumps over the lazy dog"),
          (102L, "the quick brown fox jumps over the lazy dog")))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      shingleN = 3, k = 16, rowsPerBand = 1)
    val rows = cands.collect()
    assert(rows.forall(r => r.getLong(0) > 100L && r.getLong(1) > 100L),
      s"no candidate pair may touch a null-text doc: ${rows.toSeq}")
    assert(rows.length == 1, s"expected exactly the one live pair, got ${rows.length}")
  }

  test("lshVerifiedPairs on a null-heavy corpus: output parity with the exact join") {
    import spark.implicits._
    val docs = ((1L to 15L).map(i => (i, null: String)) ++
      (16L to 30L).map(i => (i, "")) ++
      Seq((101L, "alpha beta gamma delta epsilon zeta eta theta"),
          (102L, "alpha beta gamma delta epsilon zeta eta iota"),
          (103L, "unrelated words entirely disjoint token stream here")))
      .toDF("doc_id", "text")
    val exact = Dedup.prefixFilterPairs(docs, "doc_id", "text", 1, 2, shingleN = 3)
    val lsh = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 1, 2, shingleN = 3,
      rowsPerBand = 1)
    assert(sameMultiset(lsh, exact),
      "r=1 banding on a null-heavy corpus must still equal the exact join")
  }

  // ---- (d) stats-cache: the probe is memoized -----------------------------

  test("guardedStats memo: second auto-dial call on the same input runs zero probes") {
    import spark.implicits._
    val df = (0 until 500).map(i => (s"g${i % 7}", i.toLong, i % 13))
      .toDF("grp", "id", "v")
    def probes(body: => Unit): Long = {
      val before = ShapeDispatch.probeInvocations.get()
      body
      ShapeDispatch.probeInvocations.get() - before
    }
    // fresh plan → first call probes once, second is served from cache
    assert(probes {
      ShapeDispatch.rankFunctionsAuto(df, Seq("grp"), Seq("id"), Seq("id"))
    } == 1L, "first call must probe exactly once")
    assert(probes {
      ShapeDispatch.rankFunctionsAuto(df, Seq("grp"), Seq("id"), Seq("id"))
    } == 0L, "second call on the same (plan, columns) must run ZERO probes")
    // a different dial on the same input but different probed columns is
    // a different memo entry — one fresh probe, then cached
    assert(probes {
      ShapeDispatch.percentilesAuto(df, Seq("grp"),
        Seq(PercentileSpec("v", Seq(0.5), Seq("p50"))))
    } == 1L)
    assert(probes {
      ShapeDispatch.percentilesAuto(df, Seq("grp"),
        Seq(PercentileSpec("v", Seq(0.5), Seq("p50"))))
    } == 0L)
    assert(probes {
      ShapeDispatch.topKPerGroupAuto(df, Seq("grp"), Seq("v", "id"), 3)
    } == 0L, "the rank dial's (grp, no value cols) entry serves top-k too")
  }

  test("guardedStats memo: zero Spark jobs on the cached call (listener witness)") {
    import spark.implicits._
    val df = (0 until 300).map(i => (s"k${i % 5}", i.toLong)).toDF("grp", "id")
    // warm the memo (first call probes), then count across the second
    ShapeDispatch.rankFunctionsAuto(df, Seq("grp"), Seq("id"), Seq("id"))
    // building the shaped frame is lazy — any job seen here came from a
    // probe
    val jobs = jobsStartedBy {
      ShapeDispatch.rankFunctionsAuto(df, Seq("grp"), Seq("id"), Seq("id"))
    }
    assert(jobs == 0, s"cached auto-dial call must launch no jobs, saw $jobs")
  }

  // ---- (e) multi-column ranked percentiles --------------------------------

  private def fixtureDf(): DataFrame = {
    import spark.implicits._
    // skewed groups, ties, one group all-null in col b (must drop), odd
    // group sizes so interpolation exercises both lo==hi and lo<hi
    val rows =
      (0 until 97).map(i => ("big", (i % 11).toDouble, (i * 7 % 23).toDouble: java.lang.Double)) ++
      (0 until 10).map(i => ("mid", i.toDouble, (100.0 - i): java.lang.Double)) ++
      (0 until 5).map(i => ("bnull", i.toDouble, null: java.lang.Double)) ++
      Seq(("one", 42.0, 7.0: java.lang.Double))
    rows.toDF("grp", "a", "b")
  }

  test("percentilesAuto ranged shape is the per-column rankedPercentiles join, value for value") {
    val df = fixtureDf()
    val specs = Seq(
      PercentileSpec("a", Seq(0.5, 0.9), Seq("a50", "a90")),
      PercentileSpec("b", Seq(0.25, 0.99), Seq("b25", "b99")))
    // the dial's ranged shape stays the measured winner (per-column
    // pruned passes + join — AB_MULTIPCT_FUSION.txt)
    val viaDial = ShapeDispatch.percentilesAuto(df, Seq("grp"), specs,
      force = Some(RangedShape))
    val joined = graft.ops.CoreOps.rankedPercentiles(df, Seq("grp"),
        "a", Seq(0.5, 0.9), Seq("a50", "a90"))
      .join(graft.ops.CoreOps.rankedPercentiles(df, Seq("grp"),
        "b", Seq(0.25, 0.99), Seq("b25", "b99")), Seq("grp"))
    assert(viaDial.columns.toSeq == joined.columns.toSeq)
    val d = viaDial.orderBy("grp").collect()
    val j = joined.orderBy("grp").collect()
    assert(d.toSeq == j.toSeq,
      s"dial and explicit per-column join must be bit-identical:\n${d.toSeq}\n${j.toSeq}")
    // the all-null-in-b group dropped (inner-join semantics), others kept
    assert(d.map(_.getString(0)).toSeq == Seq("big", "mid", "one"))
    // single spec: same values as the direct per-column call
    val one = ShapeDispatch.percentilesAuto(df, Seq("grp"),
      Seq(PercentileSpec("a", Seq(0.9), Seq("a90"))), force = Some(RangedShape))
    val direct = graft.ops.CoreOps.rankedPercentiles(df, Seq("grp"),
      "a", Seq(0.9), Seq("a90"))
    assert(one.orderBy("grp").collect().toSeq ==
      direct.orderBy("grp").collect().toSeq)
  }

  test("percentilesAuto per-column ranged shape matches the buffering aggregate (cross-shape, q36/q166 contract)") {
    val df = fixtureDf()
    val specs = Seq(
      PercentileSpec("a", Seq(0.5, 0.9), Seq("a50", "a90")),
      PercentileSpec("b", Seq(0.25, 0.99), Seq("b25", "b99")))
    val ranged = ShapeDispatch.percentilesAuto(df, Seq("grp"), specs,
      force = Some(RangedShape)).orderBy("grp").collect()
    val buffered = ShapeDispatch.percentilesAuto(df, Seq("grp"), specs,
      force = Some(ShapeDispatch.WindowShape)).orderBy("grp").collect()
    assert(ranged.length == buffered.length)
    ranged.zip(buffered).foreach { case (rr, br) =>
      assert(rr.getString(0) == br.getString(0))
      for (i <- 1 to 4)
        assert(math.abs(rr.getDouble(i) - br.getDouble(i)) < 1e-9,
          s"col $i differs for ${rr.getString(0)}: ${rr.getDouble(i)} vs ${br.getDouble(i)}")
    }
  }

  // ---- (g) the top-k dial's own cutover + guards (r16 boundary receipt) ----

  test("topKPerGroupAuto: the topk-specific cutover drives the choice; copy-gated heap stays value-identical") {
    import spark.implicits._
    val df = (0 until 400).map(i => (s"g${i % 4}", i.toLong, (i * 31 % 97).toLong))
      .toDF("grp", "id", "v")
    def planOf(d: DataFrame) = d.queryExecution.executedPlan.toString
    // tiny groups: the probe keeps the window shape
    val auto = ShapeDispatch.topKPerGroupAuto(df, Seq("grp"), Seq("v", "id"), 5)
    assert(!planOf(auto).contains("topk_structs"))
    def stats(maxPer: Long) =
      ShapeDispatch.GroupStats(400, 4, maxPer, Long.MaxValue, "test")
    val cut = ShapeDispatch.TopKRowsPerGroupCutover
    def autoWith(maxPer: Long, k: Int = 5) = ShapeDispatch.topKPerGroupAuto(
      df, Seq("grp"), Seq("v", "id"), k, stats = Some(stats(maxPer)))
    // the TOPK cutover is strict: at it, window; one row past it, heap…
    assert(!planOf(autoWith(cut)).contains("topk_structs"))
    val heap = autoWith(cut + 1)
    assert(planOf(heap).contains("topk_structs"),
      "a group past TopKRowsPerGroupCutover must engage the bounded heap")
    // …and the copy-gated buffer is value-identical to the window form
    val w = ShapeDispatch.topKPerGroupAuto(df, Seq("grp"), Seq("v", "id"), 5,
      force = Some(ShapeDispatch.WindowShape))
    assert(heap.exceptAll(w).isEmpty && w.exceptAll(heap).isEmpty)
    // the auto decision refuses a k above MaxK…
    val bigK = (ShapeDispatch.MaxK + 1).toInt
    assert(!planOf(autoWith(cut + 1, k = bigK)).contains("topk_structs"),
      "auto must not heap k > maxK")
    // …but an explicit force is the caller's own sizing
    val forced = ShapeDispatch.topKPerGroupAuto(df, Seq("grp"),
      Seq("v", "id"), bigK, force = Some(ShapeDispatch.RangedShape))
    assert(planOf(forced).contains("topk_structs"))
    // the RANK dial keeps its own cutover: the same stats that heap the
    // top-k leave the ranking dial on the window shape
    val ranks = ShapeDispatch.rankFunctionsAuto(df, Seq("grp"), Seq("v"),
      Seq("id"), stats = Some(stats(cut + 1)))
    assert(!planOf(ranks).contains("__pid"),
      "RowsPerGroupCutover, not TopKRowsPerGroupCutover, drives the rank dial")
  }

  test("TopKBuffer.wouldAccept mirrors insert: rejects at-or-below tail when full, accepts otherwise") {
    val ord = implicitly[Ordering[Int]].asInstanceOf[Ordering[Any]]
    val buf = new graft.functions.TopKBuffer(3, ord)
    assert(buf.wouldAccept(100)) // not full: everything enters
    Seq(5, 1, 9).foreach(buf.insert)
    assert(buf.wouldAccept(8) && buf.wouldAccept(0))
    assert(!buf.wouldAccept(9) && !buf.wouldAccept(12),
      "full buffer must reject >= tail (these are the skipped copies)")
    buf.insert(8)
    assert(!buf.wouldAccept(8) && buf.wouldAccept(7),
      "after inserting 8 the kept set is {1,5,8}: tail moved from 9 to 8")
  }

  // ---- (f) the banding-curve recall contract, measured ---------------------

  test("LSH escape recall tracks the banding curve on a planted borderline corpus (and is lower-bounded by it)") {
    // the AbLshRecallCurve construction: 200 planted pairs per exact
    // Jaccard level s in {0.50, 0.55, 0.60, 0.70}, namespaced tokens so
    // cross-pair similarity is 0 and the planted pairs ARE the ground
    // truth at threshold 1/2. Deterministic: the minhash family is a
    // fixed affine-over-Mersenne hash, so measured recall is a constant
    // of the construction — the binomial tolerances below are the slack
    // for the one draw this fixture is.
    val n = 200
    val docs = graft.tools.AbLshRecallCurve.plantedDocs(spark, n)
      .persist()
    val exact = Dedup.prefixFilterPairs(docs, "doc_id", "text", 1, 2,
      shingleN = 1).select("doc_a", "doc_b")
      .persist()
    assert(exact.count() == 4L * n,
      "exact join must recover exactly the planted pairs")
    for (r <- Seq(4, 1)) {
      val b = 32 / r
      val lsh = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 1, 2,
        shingleN = 1, rowsPerBand = r)
        .select("doc_a", "doc_b")
      assert(lsh.exceptAll(exact).isEmpty, s"precision must be 1 at r=$r")
      val found = lsh.intersect(exact)
        .groupBy((col("doc_a") / 10000000L).cast("int").as("lvl")).count()
        .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
      for (((s, _, _), li) <- graft.tools.AbLshRecallCurve.Levels.zipWithIndex) {
        val meas = found.getOrElse(li, 0L).toDouble / n
        val pred = graft.tools.AbLshRecallCurve.predictedRecall(s, r, b)
        val se = math.sqrt(math.max(pred * (1 - pred), 1e-12) / n)
        // the curve is the EXPECTED recall at similarity exactly s: the
        // measurement must track it two-sided within ~3.5 sigma, and in
        // particular never undershoot it materially — the stated
        // contract is a correct (probabilistic) lower bound
        assert(meas >= pred - 3.5 * se - 1e-9,
          f"s=$s r=$r: measured $meas%.4f undershoots predicted $pred%.4f (se=$se%.4f)")
        assert(meas <= pred + 3.5 * se + 1e-9,
          f"s=$s r=$r: measured $meas%.4f overshoots predicted $pred%.4f (se=$se%.4f)")
      }
    }
    exact.unpersist(); docs.unpersist()
  }
}
