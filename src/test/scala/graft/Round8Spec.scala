package graft

import org.apache.spark.sql.functions._
import graft.queries.{QueryCatalog => Q}

/** Properties of the round-8 operators (q106-q109). The oracle pins engine
  * parity; these pin semantics: keeper selection against an argmax replay
  * and q54's cluster map, the chunk-dup profile against a driver-side
  * chunk-set replay, the drift gate against a hand-grouped metric series,
  * and the mixture weights against their defining algebra.
  */
class Round8Spec extends SparkSpec {
  import spark.implicits._

  // ---- q106 cluster keepers ----------------------------------------------

  test("clusterKeepers: keeper is argmax(quality, tiebreak min doc_id) per component") {
    val rows = Q.clusterKeepers(spark, sf)
      .select("doc_id", "component", "quality", "keeper_id", "is_kept")
      .as[(Long, Long, Double, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (comp, members) =>
      val expected = members.minBy { case (id, _, q, _, _) => (-q, id) }._1
      assert(members.forall(_._4 == expected),
        s"component $comp: keeper_id must be $expected")
      assert(members.count(_._5) == 1, s"component $comp: exactly one kept member")
      assert(members.find(_._5).get._1 == expected)
    }
  }

  test("clusterKeepers: same doc→component map as dedupClusters (q54)") {
    val keepers = Q.clusterKeepers(spark, sf)
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    val clusters = Q.dedupClusters(spark, sf)
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    assert(keepers == clusters)
  }

  test("clusterKeepers: keeper quality >= every member's quality") {
    val rows = Q.clusterKeepers(spark, sf)
      .select("component", "quality", "is_kept")
      .as[(Long, Double, Boolean)].collect()
    rows.groupBy(_._1).foreach { case (comp, members) =>
      val kq = members.find(_._3).get._2
      assert(members.forall(_._2 <= kq), s"component $comp: keeper must be max-quality")
    }
  }

  // ---- q107 chunk-dup profile --------------------------------------------

  private def naiveChunkProfile(): Map[Long, (Int, Int)] = {
    val texts = graft.io.Tables.table(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val chunksPerDoc: Map[Long, Seq[String]] = texts.map { case (id, text) =>
      val t = text.toLowerCase.trim.split("\\s+").toSeq
      val starts = 1 to math.max(t.size, 1) by 64
      id -> starts.map(s => t.slice(s - 1, s - 1 + 64).mkString(" "))
    }.toMap
    val docsPerChunk: Map[String, Int] = chunksPerDoc.toSeq
      .flatMap { case (id, cs) => cs.distinct.map(c => (c, id)) }
      .groupBy(_._1).map { case (c, v) => c -> v.size }
    chunksPerDoc.map { case (id, cs) =>
      id -> (cs.size, cs.count(c => docsPerChunk(c) >= 2))
    }
  }

  test("chunkDupProfile: matches a driver-side chunk-set replay") {
    val out = Q.chunkDupProfile(spark, sf)
      .select("doc_id", "n_chunks", "n_shared_chunks")
      .as[(Long, Int, Int)].collect()
    val naive = naiveChunkProfile()
    assert(out.length == naive.size)
    out.foreach { case (id, n, shared) =>
      val (nN, sN) = naive(id)
      assert(n == nN, s"doc $id: n_chunks $n != $nN")
      assert(shared == sN, s"doc $id: n_shared_chunks $shared != $sN")
    }
  }

  test("chunkDupProfile: planted verbatim copy is fully shared") {
    import spark.implicits._
    val base = "alpha beta gamma delta " * 40 // 160 tokens → 3 chunks
    val docs = Seq(
      (1L, base.trim), (2L, base.trim), // verbatim pair: all chunks shared
      (3L, "unique text that appears nowhere else in this tiny corpus")
    ).toDF("doc_id", "text")
    // replay the query body on a planted frame via a temp dir-free path:
    // same expression pipeline as chunkDupProfile, inlined
    val chunks = docs
      .select(col("doc_id"), graft.text.TextOps.tokens(lower(col("text"))).as("t"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), greatest(size(col("t")), lit(1)), lit(64)),
        st => concat_ws(" ", slice(col("t"), st, lit(64))))).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("ch"))
    val perDocChunk = chunks.groupBy("ch", "doc_id").agg(count(lit(1)).as("n_in_doc"))
      .withColumn("n_docs", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("ch")))
    val prof = perDocChunk.groupBy("doc_id")
      .agg(sum(col("n_in_doc")).cast("int").as("n_chunks"),
        sum(when(col("n_docs") >= 2, col("n_in_doc")).otherwise(0L)).cast("int").as("n_shared"))
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(prof(1L)._1 == prof(1L)._2, "doc 1: every chunk shared with its copy")
    assert(prof(2L)._1 == prof(2L)._2, "doc 2: every chunk shared with its copy")
    assert(prof(3L)._2 == 0, "doc 3: nothing shared")
  }

  // ---- q108 metric drift -------------------------------------------------

  test("dailyMetricDrift: matches a hand-grouped replay; first day never flagged") {
    val out = Q.dailyMetricDrift(spark, sf)
      .select("day", "n_rows", "n_users", "n_null_value", "avg3_rows", "is_anomaly")
      .as[(String, Long, Long, Long, Option[Double], Boolean)].collect()
      .sortBy(_._1)
    assert(out.nonEmpty)
    val ev = graft.io.Tables.events(spark, sf)
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("user_id"), col("value"))
      .as[(String, Long, Option[Double])].collect()
    val byDay = ev.groupBy(_._1).map { case (d, rows) =>
      d -> (rows.length.toLong, rows.map(_._2).distinct.length.toLong,
        rows.count(_._3.isEmpty).toLong)
    }
    out.foreach { case (d, n, u, nn, _, _) =>
      val (eN, eU, eNN) = byDay(d)
      assert(n == eN && u == eU && nn == eNN, s"day $d metrics mismatch")
    }
    // trailing window replay
    val series = out.map(_._2)
    out.zipWithIndex.foreach { case ((d, n, _, _, avg3, flag), i) =>
      val prev = series.slice(math.max(0, i - 3), i)
      if (prev.isEmpty) {
        assert(avg3.isEmpty && !flag, s"day $d: no history → no flag")
      } else {
        val exp = prev.sum.toDouble / prev.length
        assert(avg3.contains(exp), s"day $d: avg3 $avg3 != $exp")
        assert(flag == (n > exp * 1.5 || n < exp * 0.5), s"day $d: flag mismatch")
      }
    }
  }

  // ---- q110 best-copy corpus ---------------------------------------------

  test("bestCopyCorpus: exactly the kept members passing the quality gate") {
    val corpus = Q.bestCopyCorpus(spark, sf)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    val keepers = Q.clusterKeepers(spark, sf)
      .select("doc_id", "quality", "is_kept").as[(Long, Double, Boolean)].collect()
    val expected = keepers.collect { case (id, q, true) if q >= 0.5 => id -> q }.toMap
    assert(corpus == expected)
    assert(corpus.nonEmpty)
  }

  test("bestCopyCorpus: yield >= q32-style min-id canonical yield on clusters") {
    // a cluster survives iff its BEST copy passes; min-id canonicalization
    // survives iff the min-id copy passes — best-copy can only keep more
    val best = Q.bestCopyCorpus(spark, sf).select("component")
      .as[Long].collect().toSet
    val minId = Q.clusterKeepers(spark, sf)
      .select("doc_id", "component", "quality")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._2)
      .collect { case (comp, ms) if ms.minBy(_._1)._3 >= 0.5 => comp }.toSet
    assert(minId.subsetOf(best))
  }

  // ---- MetricsRepo -------------------------------------------------------

  test("MetricsRepo: run-over-run drift flags a jump, not steady metrics") {
    val dir = java.nio.file.Files.createTempDirectory("metrics_repo").toString
    import graft.checks.{CheckResult, MetricsRepo}
    MetricsRepo.append(spark, dir, 1L, "build-1",
      Seq(CheckResult("dup_rows", 0.0, passed = true), CheckResult("n_rows", 1000.0, passed = true)))
    MetricsRepo.append(spark, dir, 2L, "build-2",
      Seq(CheckResult("dup_rows", 0.0, passed = true), CheckResult("n_rows", 1100.0, passed = true)))
    MetricsRepo.append(spark, dir, 3L, "build-3",
      Seq(CheckResult("dup_rows", 40.0, passed = false), CheckResult("n_rows", 1150.0, passed = true)))
    val drift = MetricsRepo.drift(spark, dir, tolerance = 0.5)
      .select("run_seq", "check", "metric", "prev_metric", "is_drift")
      .as[(Long, String, Double, Option[Double], Boolean)].collect()
    assert(drift.length == 6)
    // first observations: no predecessor, never flagged
    assert(drift.filter(_._1 == 1L).forall(r => r._4.isEmpty && !r._5))
    // dup_rows 0 → 0: steady; 0 → 40: flagged (jump above floor*tolerance)
    assert(!drift.find(r => r._1 == 2L && r._2 == "dup_rows").get._5)
    assert(drift.find(r => r._1 == 3L && r._2 == "dup_rows").get._5)
    // n_rows 1000 → 1100 (10%) and 1100 → 1150 (4.5%): inside 50% tolerance
    assert(drift.filter(_._2 == "n_rows").forall(!_._5))
    // zero-metric floor: a 0 → 1 wobble within tolerance*1 is not drift
    MetricsRepo.append(spark, dir + "_w", 1L, "a", Seq(CheckResult("wobble", 0.0, passed = true)))
    MetricsRepo.append(spark, dir + "_w", 2L, "b", Seq(CheckResult("wobble", 0.0, passed = true)))
    val w = MetricsRepo.drift(spark, dir + "_w", tolerance = 1.0)
      .filter(col("run_seq") === 2L).select("is_drift").as[Boolean].collect()
    assert(w.sameElements(Array(false)))
  }

  test("MetricsRepo.compact: recent runs whole, old runs coarsened, drift still works") {
    import graft.checks.{CheckResult, MetricsRepo}
    val dir = java.nio.file.Files.createTempDirectory("metrics_compact").toString + "/log"
    // 35 runs of 2 checks; dup_rows jumps at run 34 (inside the window)
    // and at run 7 (inside the coarsened history)
    (1L to 35L).foreach { seq =>
      val dup = if (seq == 34L || seq == 7L) 50.0 else 0.0
      MetricsRepo.append(spark, dir, seq, s"build-$seq",
        Seq(CheckResult("dup_rows", dup, passed = dup == 0.0),
            CheckResult("n_rows", 1000.0 + seq, passed = true)))
    }
    MetricsRepo.compact(spark, dir, keepRuns = 10, coarsenEvery = 8L)
    val kept = MetricsRepo.load(spark, dir)
      .select("run_seq").distinct().as[Long].collect().sorted.toSeq
    // full window: 26..35; history buckets [0,8) [8,16) [16,24) [24,26)∩bucket[24,32)
    // keep each bucket's LAST run below the cutoff: 7, 15, 23, 25
    assert(kept == Seq(7L, 15L, 23L, 25L, 26L, 27L, 28L, 29L, 30L,
      31L, 32L, 33L, 34L, 35L), s"retained runs: $kept")
    // every retained run is WHOLE: both checks present
    val perRun = MetricsRepo.load(spark, dir).groupBy("run_seq").count()
      .as[(Long, Long)].collect().toMap
    assert(perRun.values.forall(_ == 2L), "a retained run lost checks")
    // drift still flags the in-window jump (33→34) and the coarsened
    // history's surviving jump is visible as 7's retained metric
    val d = MetricsRepo.drift(spark, dir, tolerance = 0.5)
      .filter(col("check") === "dup_rows")
      .select("run_seq", "is_drift").as[(Long, Boolean)].collect().toMap
    assert(d(34L), "in-window jump must still flag after compaction")
    assert(d(15L), "coarsened 7(=50) → 15(=0) reads as a between-snapshots move")
    // idempotent: a second compaction retains exactly the same runs
    MetricsRepo.compact(spark, dir, keepRuns = 10, coarsenEvery = 8L)
    val kept2 = MetricsRepo.load(spark, dir)
      .select("run_seq").distinct().as[Long].collect().sorted.toSeq
    assert(kept2 == kept, "compaction must be idempotent")
    // the file count collapsed: one parquet part, not 35 appends
    val parts = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(parts == 1, s"expected one compacted part file, got $parts")
  }

  // ---- q111 token histogram ----------------------------------------------

  test("tokenHistogram: matches a driver-side bucket replay; shares sum to 1") {
    val out = Q.tokenHistogram(spark, sf)
      .select("len_bucket", "n_docs", "n_tokens", "doc_share")
      .as[(Int, Long, Long, Double)].collect()
    val naive = graft.io.Tables.table(spark, sf, "documents")
      .select("text").as[String].collect()
      .map(t => if (t.trim.isEmpty) 0L else t.trim.split("\\s+").length.toLong)
      .groupBy(n => if (n <= 0) -1 else 63 - java.lang.Long.numberOfLeadingZeros(n))
      .map { case (b, ns) => b -> (ns.size.toLong, ns.sum) }
    assert(out.length == naive.size)
    out.foreach { case (b, docs, toks, _) =>
      assert(naive(b) == ((docs, toks)), s"bucket $b mismatch")
    }
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-9)
  }

  // ---- q112 session funnel -----------------------------------------------

  test("sessionFunnel: matches a driver-side sessionize-and-scan replay") {
    val out = Q.sessionFunnel(spark, sf)
      .select("user_id", "n_sessions", "n_view_sessions", "n_converted")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val ev = graft.io.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
      .as[(Long, Long, String, Long)].collect()
    val naive = ev.groupBy(_._1).toSeq.sortBy(_._1).map { case (uid, rows) =>
      val ordered = rows.sortBy(r => (r._4, r._2))
      // split into 30-min gap sessions
      val sessions = ordered.foldLeft(List.empty[List[(Long, Long, String, Long)]]) {
        case (acc, r) => acc match {
          case cur :: rest if r._4 - cur.head._4 <= 1800 => (r :: cur) :: rest
          case _ => List(r) :: acc
        }
      }.map(_.reverse)
      val hasView = sessions.count(_.exists(_._3 == "view"))
      val conv = sessions.count { s =>
        val viewIdx = s.indexWhere(_._3 == "view")
        viewIdx >= 0 && s.drop(viewIdx + 1).exists(_._3 == "purchase")
      }
      (uid, sessions.size.toLong, hasView.toLong, conv.toLong)
    }
    assert(out == naive)
    assert(out.exists(_._4 > 0), "fixture should contain at least one conversion")
  }

  // ---- q113 cohort retention ---------------------------------------------

  test("cohortRetention: matches a driver-side cohort replay; offset 0 is full") {
    val out = Q.cohortRetention(spark, sf)
      .select("cohort_week", "week_offset", "n_active", "cohort_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    val ev = graft.io.Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).cast("string").as("day"))
      .as[(Long, String)].collect().distinct
    def epochDay(d: String) = java.time.LocalDate.parse(d).toEpochDay
    val first = ev.groupBy(_._1).map { case (u, ds) => u -> ds.map(d => epochDay(d._2)).min }
    val tagged = ev.map { case (u, d) =>
      (first(u) / 7, (epochDay(d) - first(u)) / 7, u)
    }.distinct
    val act = tagged.groupBy(t => (t._1, t._2)).map { case (k, v) => k -> v.length.toLong }
    val cs = first.values.groupBy(_ / 7).map { case (w, v) => w -> v.size.toLong }
    val naive = act.map { case ((cw, off), n) => (cw, off, n, cs(cw)) }.toSet
    assert(out == naive)
    // every user is active in their own first week: offset-0 rows are full
    out.filter(_._2 == 0L).foreach { case (cw, _, n, size) =>
      assert(n == size, s"cohort $cw offset 0 must equal cohort size")
    }
  }

  // ---- q114 funnel / CoreOps.funnelSteps ---------------------------------

  test("funnelSteps: reach is monotone and step timestamps strictly increase") {
    val sess = graft.ops.CoreOps.funnelSteps(
      graft.io.Tables.events(spark, sf)
        .withColumn("ts_sec", date_trunc("second", col("ts"))),
      "user_id", "event_type", "ts_sec", "event_id", gapSec = 1800L,
      steps = Seq("view", "click", "purchase"))
    val rows = sess.select("step0_ts", "step1_ts", "step2_ts", "steps_reached")
      .as[(Option[java.sql.Timestamp], Option[java.sql.Timestamp],
           Option[java.sql.Timestamp], Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t0, t1, t2, reached) =>
      assert(!(t1.isDefined && t0.isEmpty), "step1 without step0")
      assert(!(t2.isDefined && t1.isEmpty), "step2 without step1")
      for (a <- t0; b <- t1) assert(a.before(b), "step1 must be strictly later")
      for (a <- t1; b <- t2) assert(a.before(b), "step2 must be strictly later")
      assert(reached == Seq(t0, t1, t2).count(_.isDefined))
    }
  }

  test("funnelSteps 2-step agrees with q112's per-user conversion counts") {
    val sess = graft.ops.CoreOps.funnelSteps(
      graft.io.Tables.events(spark, sf)
        .withColumn("ts_sec", date_trunc("second", col("ts"))),
      "user_id", "event_type", "ts_sec", "event_id", gapSec = 1800L,
      steps = Seq("view", "purchase"))
    val byUser = sess.groupBy("user_id")
      .agg(sum(when(col("step0_ts").isNotNull, 1L).otherwise(0L)).as("v"),
           sum(when(col("step1_ts").isNotNull, 1L).otherwise(0L)).as("c"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val q112 = Q.sessionFunnel(spark, sf)
      .select("user_id", "n_view_sessions", "n_converted")
      .as[(Long, Long, Long)].collect()
    q112.foreach { case (uid, nv, nc) =>
      assert(byUser(uid) == ((nv, nc)), s"user $uid funnel mismatch")
    }
  }

  test("funnelReport: n_reached is monotone non-increasing down the funnel") {
    val rows = Q.funnelReport(spark, sf)
      .orderBy("step_idx").select("n_reached").as[Long].collect()
    assert(rows.length == 3)
    assert(rows.sliding(2).forall(p => p(0) >= p(1)))
    assert(rows.head > 0)
  }

  test("funnelSteps maxStepGapSec: bounds each transition, greedy-earliest anchor") {
    import java.sql.Timestamp
    def ts(sec: Long): Timestamp = new Timestamp(1700000000000L + sec * 1000L)
    // u1: all transitions within 300s → full reach either way
    // u2: view→click gap 400s → click times out (session survives: 400 < 1800)
    // u3: click→purchase gap 400s → purchase times out, click kept
    // u4: the greedy pin — a SECOND view at +350 would put the +400 click
    //     in range, but the anchor is the EARLIEST view (+0), so the
    //     click still times out; no re-anchoring rescue
    val ev = Seq(
      (1L, 1L, "view", ts(0)), (1L, 2L, "click", ts(100)), (1L, 3L, "purchase", ts(200)),
      (2L, 4L, "view", ts(0)), (2L, 5L, "click", ts(400)),
      (3L, 6L, "view", ts(0)), (3L, 7L, "click", ts(100)), (3L, 8L, "purchase", ts(500)),
      (4L, 9L, "view", ts(0)), (4L, 10L, "view", ts(350)), (4L, 11L, "click", ts(400))
    ).toDF("user_id", "event_id", "event_type", "ts_sec")
    def reach(maxGap: Option[Long]): Map[Long, Int] =
      graft.ops.CoreOps.funnelSteps(ev, "user_id", "event_type", "ts_sec",
          "event_id", gapSec = 1800L, steps = Seq("view", "click", "purchase"),
          maxStepGapSec = maxGap)
        .select("user_id", "steps_reached").as[(Long, Int)].collect().toMap
    assert(reach(Some(300L)) == Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 1))
    assert(reach(None) == Map(1L -> 3, 2L -> 2, 3L -> 3, 4L -> 2))
  }

  test("funnelSteps maxStepGapSec compares at microsecond precision, not truncated seconds") {
    import java.sql.Timestamp
    def tsMs(ms: Long): Timestamp = new Timestamp(1700000000000L + ms)
    // u1: view→click gap 300.9s — unix_timestamp() truncation would read
    // it as 300s and pass a 300s bound; the true gap exceeds it
    // u2: gap exactly 300.0s — inclusive bound, counts
    val ev = Seq(
      (1L, 1L, "view", tsMs(0)), (1L, 2L, "click", tsMs(300900)),
      (2L, 3L, "view", tsMs(0)), (2L, 4L, "click", tsMs(300000))
    ).toDF("user_id", "event_id", "event_type", "ts_sec")
    val reach = graft.ops.CoreOps.funnelSteps(ev, "user_id", "event_type", "ts_sec",
        "event_id", gapSec = 1800L, steps = Seq("view", "click"),
        maxStepGapSec = Some(300L))
      .select("user_id", "steps_reached").as[(Long, Int)].collect().toMap
    assert(reach == Map(1L -> 1, 2L -> 2),
      s"300.9s must exceed a 300s bound on sub-second data: $reach")
  }

  test("funnelTimeoutReport: bounded ≤ unbounded, step0 equal, attrition adds up") {
    val rows = Q.funnelTimeoutReport(spark, sf)
      .orderBy("step_idx")
      .select("n_reached", "n_unbounded", "n_timed_out")
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 3)
    assert(rows.head._1 == rows.head._2 && rows.head._3 == 0L,
      "step 0 has no incoming transition to time out")
    rows.foreach { case (b, u, t) =>
      assert(b <= u, "timeout can only remove reach")
      assert(t == u - b, "attrition must reconcile")
    }
    // bounded reach stays monotone down the funnel
    assert(rows.map(_._1).sliding(2).forall(p => p(0) >= p(1)))
  }

  // ---- q115 experiment readout -------------------------------------------

  test("experimentReadout: variants partition users; control lift is exactly 0") {
    val out = Q.experimentReadout(spark, sf)
      .select("variant", "n_users", "n_view_sessions", "n_converted",
        "conversion", "lift_vs_control")
      .as[(String, Long, Long, Long, Option[Double], Option[Double])].collect()
    assert(out.map(_._1).sorted.toSeq == Seq("control", "treatment"))
    val users = graft.io.Tables.events(spark, sf)
      .select("user_id").distinct().as[Long].collect()
    assert(out.map(_._2).sum == users.length, "variants must partition the users")
    val control = out.find(_._1 == "control").get
    assert(control._6.contains(0.0), "control lift must be exactly 0.0")
    val treat = out.find(_._1 == "treatment").get
    for (tc <- treat._5; cc <- control._5; l <- treat._6)
      assert(l == tc - cc, "lift must be the plain conversion difference")
    out.foreach { case (_, _, nv, nc, conv, _) =>
      assert(nc <= nv, "conversions cannot exceed view sessions")
      for (c <- conv) assert(c >= 0.0 && c <= 1.0)
    }
  }

  // ---- LeastSquares (q105's documented scale path) -----------------------

  private def studentFeatures() = {
    import graft.text.TextOps
    graft.io.Tables.table(spark, sf, "documents").select(
      TextOps.tokenCount(col("text")).cast("double").as("x1"),
      TextOps.stopwordCount(col("text")).cast("double").as("x2"),
      // NOT punctCount: the synthetic corpus has zero punctuation, which
      // makes a punct feature constant → legitimately singular (the
      // collinear test covers that path deliberately)
      length(col("text")).cast("double").as("x3"),
      when(TextOps.qualityScore(col("text")) >= 0.8, 1.0).otherwise(0.0).as("y"))
  }

  test("LeastSquares d=2: double normal equations reproduce q105's exact-decimal weights") {
    val feats = studentFeatures()
    val m = graft.ops.LeastSquares.fit(feats, Seq("x1", "x2"), "y")
    val exact = Q.qualityClassifier(spark, sf)
      .select("w0", "w1", "w2").as[(Double, Double, Double)].head()
    val got = (m.weights(0), m.weights(1), m.weights(2))
    def close(a: Double, b: Double) =
      math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
    assert(close(got._1, exact._1) && close(got._2, exact._2) && close(got._3, exact._3),
      s"double NE $got diverged from exact Cramer $exact")
  }

  test("LeastSquares d=3: residuals orthogonal to features; SSE <= the d=2 student's") {
    val feats = studentFeatures().cache()
    try {
      val m2 = graft.ops.LeastSquares.fit(feats, Seq("x1", "x2"), "y")
      val m3 = graft.ops.LeastSquares.fit(feats, Seq("x1", "x2", "x3"), "y")
      def sse(m: graft.ops.LeastSquares.Model): Double =
        graft.ops.LeastSquares.predicted(feats, m)
          .select(sum(pow(col("y") - col("prediction"), 2.0)))
          .as[Double].head()
      val (s2, s3) = (sse(m2), sse(m3))
      // supersets of features can only lower the least-squares optimum
      assert(s3 <= s2 + 1e-6 * s2, s"d=3 SSE $s3 must not exceed d=2 SSE $s2")
      // first-order optimality: residual ⊥ each feature and the intercept
      val r = graft.ops.LeastSquares.predicted(feats, m3)
        .select(
          sum(col("y") - col("prediction")).as("r0"),
          sum((col("y") - col("prediction")) * col("x1")).as("r1"),
          sum((col("y") - col("prediction")) * col("x2")).as("r2"),
          sum((col("y") - col("prediction")) * col("x3")).as("r3"),
          sum(col("x1") * col("x1")).as("scale"))
        .as[(Double, Double, Double, Double, Double)].head()
      val tol = 1e-7 * math.max(1.0, r._5)
      assert(math.abs(r._1) < tol && math.abs(r._2) < tol
        && math.abs(r._3) < tol && math.abs(r._4) < tol,
        s"normal-equations residuals not orthogonal: $r")
    } finally feats.unpersist()
  }

  test("LeastSquares: collinear features fail loudly, not silently") {
    val feats = studentFeatures().withColumn("x1b", col("x1") * 2.0)
    intercept[IllegalArgumentException] {
      graft.ops.LeastSquares.fit(feats, Seq("x1", "x1b"), "y")
    }
  }

  // ---- q109 temperature mixture ------------------------------------------

  test("temperatureMixture: defining algebra holds") {
    val out = Q.temperatureMixture(spark, sf)
      .select("source", "n_docs", "n_tokens", "linear_share", "temp_weight_rel")
      .as[(String, Long, Long, Double, Double)].collect()
    assert(out.nonEmpty)
    val total = out.map(_._3).sum
    val maxTok = out.map(_._3).max
    out.foreach { case (src, _, tok, share, w) =>
      assert(share == tok.toDouble / total.toDouble, s"$src: linear share")
      assert(w == math.sqrt(tok.toDouble) / math.sqrt(maxTok.toDouble), s"$src: temp weight")
      assert(w > 0.0 && w <= 1.0)
      // α=0.5 flattening: relative weight always >= relative linear share
      assert(w >= tok.toDouble / maxTok.toDouble - 1e-15, s"$src: sqrt flattens toward 1")
    }
    assert(out.count(_._5 == 1.0) >= 1, "the largest source carries weight 1")
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-9, "linear shares sum to 1")
  }
  // ---- q131 k-anonymity / q132 compaction plan ---------------------------

  test("kAnonymity: planted small group flagged, large group not, sizes exact") {
    val df = (Seq.fill(7)(("US", "A")) ++ Seq.fill(2)(("US", "B")) ++ Seq.fill(5)(("DE", "A")))
      .toDF("country", "segment")
    val out = graft.checks.CheckSuite.kAnonymity(df, Seq("country", "segment"), k = 5)
      .as[(String, String, Long, Boolean)].collect().toSet
    assert(out == Set(("US", "A", 7L, false), ("US", "B", 2L, true), ("DE", "A", 5L, false)))
  }

  test("compaction plan: bins fill to target, overflow by at most one file, ids contiguous") {
    val files = (1L to 40L).map(i => ("p1", i, 300L + (i % 3) * 100L)).toDF("part", "id", "bytes")
    val target = 1000L
    val plan = graft.io.Compaction.plan(files, "part", "id", "bytes", target)
      .orderBy("bin").as[(String, Int, Long, Long, Long, Long)].collect()
    // bins are dense from 0 and cover all files exactly once
    assert(plan.map(_._2).toSeq == plan.indices.map(identity))
    assert(plan.map(_._3).sum == 40L)
    // id ranges are contiguous across bins (a file is never reordered or split)
    plan.sliding(2).foreach {
      case Array(a, b) => assert(b._5 == a._6 + 1, s"gap between bins ${a._2} and ${b._2}")
      case _ => ()
    }
    // floor-div packing invariant: bin boundaries sit at multiples of the
    // GLOBAL cumulative size, so every non-last bin's total is within one
    // file of the target in either direction (500 = the largest file)
    plan.init.foreach { case (_, bin, _, total, _, _) =>
      assert(total > target - 500L && total < target + 500L,
        s"bin $bin total $total strays more than one file from target $target")
    }
  }
  // ---- q134 erasure cascade / q135 integrity audit -----------------------

  test("cascadeImpact: planted chain counts every dependent row, level by level") {
    val cust = Seq(1L, 2L, 3L).toDF("ck")
    val orders = Seq((10L, 1L), (11L, 1L), (12L, 2L), (13L, 3L)).toDF("ok", "ck")
    val lines = Seq((10L, 1), (10L, 2), (11L, 1), (13L, 1)).toDF("ok", "ln")
    val out = graft.checks.Governance.cascadeImpact(
        "cust", cust.filter(col("ck") === 1L).select("ck"),
        Seq(("orders", orders, "ck", "ok"), ("lines", lines, "ok", "ok")))
      .as[(String, Long)].collect().toMap
    // customer 1 -> orders 10,11 -> lines (10,1),(10,2),(11,1)
    assert(out == Map("cust" -> 1L, "orders" -> 2L, "lines" -> 3L), s"$out")
  }

  test("orphanCounts: planted orphan found; null FKs never count") {
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(Some(1L), Some(2L), Some(9L), None).toDF("fk")
    val out = graft.checks.Governance.orphanCounts(
        Seq(("child->parent", child, "fk", parent, "pk")))
      .as[(String, Long)].collect().toMap
    assert(out == Map("child->parent" -> 1L), s"$out")
  }

  // ---- q139 Pareto frontier ----------------------------------------------

  test("paretoFrontier2D equals the brute-force dominance definition (random frames)") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val pts = (0 until 300).map(i => (i.toLong, rnd.nextInt(40), rnd.nextInt(25)))
      val df = pts.toDF("id", "x", "y")
      val got = graft.ops.CoreOps.paretoFrontier2D(df, "x", "y")
        .select("id").as[Long].collect().toSet
      val expected = pts.filter { case (_, bx, by) =>
        !pts.exists { case (_, ax, ay) =>
          ax <= bx && ay >= by && (ax < bx || ay > by)
        }
      }.map(_._1).toSet
      assert(got == expected, s"seed $seed: frontier mismatch")
    }
  }

  test("paretoFrontier2D: duplicate frontier points all survive; y-ties across x lose to smaller x") {
    val df = Seq((1L, 5, 9), (2L, 5, 9), (3L, 7, 9), (4L, 6, 3), (5L, 4, 2))
      .toDF("id", "x", "y")
    val got = graft.ops.CoreOps.paretoFrontier2D(df, "x", "y")
      .select("id").as[Long].collect().toSet
    // (5,9) twice: neither strictly dominates the other → both stay.
    // (7,9) is dominated by (5,9) (same y, larger x). (6,3) dominated by
    // (5,9). (4,2) survives: smallest x, nothing at x<=4 beats y=2.
    assert(got == Set(1L, 2L, 5L))
  }

  // ---- q154 N-D skyline ----------------------------------------------------

  test("skylineND equals brute-force dominance in 3 dimensions (random frames)") {
    for (seed <- Seq(4, 19, 77)) {
      val rnd = new scala.util.Random(seed)
      val pts = (0 until 250).map(i =>
        (i.toLong, rnd.nextInt(20), rnd.nextInt(20).toDouble, rnd.nextInt(20)))
      val df = pts.toDF("id", "x", "y", "z")
      val got = graft.ops.CoreOps.skylineND(df, "id", Seq("x", "y"), Seq("z"))
        .select("id").as[Long].collect().toSet
      val expected = pts.filter { case (_, bx, by, bz) =>
        !pts.exists { case (_, ax, ay, az) =>
          ax <= bx && ay <= by && az >= bz && (ax < bx || ay < by || az > bz)
        }
      }.map(_._1).toSet
      assert(got == expected, s"seed $seed")
      assert(expected.size > 1, s"seed $seed: degenerate fixture")
    }
  }

  test("skylineND on 2 dimensions agrees with the paretoFrontier2D staircase") {
    val rnd = new scala.util.Random(8)
    val pts = (0 until 300).map(i => (i.toLong, rnd.nextInt(40), rnd.nextInt(25)))
    val df = pts.toDF("id", "x", "y")
    val nd = graft.ops.CoreOps.skylineND(df, "id", Seq("x"), Seq("y"))
      .select("id").as[Long].collect().toSet
    val staircase = graft.ops.CoreOps.paretoFrontier2D(df, "x", "y")
      .select("id").as[Long].collect().toSet
    assert(nd == staircase, "two independent algorithms must agree")
  }

  test("skylineND keeps duplicate frontier points") {
    val df = Seq((1L, 1, 1.0, 9), (2L, 1, 1.0, 9), (3L, 2, 2.0, 1)).toDF("id", "x", "y", "z")
    val got = graft.ops.CoreOps.skylineND(df, "id", Seq("x", "y"), Seq("z"))
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L))
  }

  // ---- q155 KMV set operations ---------------------------------------------

  test("kmvSetOverlap: under-full sketches are exact; full sketches estimate within bounds") {
    val rnd = new scala.util.Random(6)
    def h52(x: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(x.toString.getBytes("UTF-8"))
      md.take(7).zipWithIndex.map { case (b, i) =>
        (b & 0xffL) << (8 * (6 - i)) }.sum >>> 4  // 52 high bits of first 7 bytes
    }
    // A: 0..39, B: 20..59 → |A∩B| = 20, |A∪B| = 60; k=128 > 60 → exact
    val rows = ((0L until 40L).map(("A", _)) ++ (20L until 60L).map(("B", _)))
      .map { case (g, x) => (g, h52(x)) }.distinct
    val exact = graft.ops.CoreOps.kmvSetOverlap(rows.toDF("g", "h"), "g", "h", 128)
      .select("k_shared", "n_union_kept", "union_est", "inter_est", "n_inter_exact")
      .as[(Long, Long, Double, Double, Long)].head()
    assert(exact == ((20L, 60L, 60.0, 20.0, 20L)), s"$exact")
    // big sets, k=64 full: estimates within 4 sigma (~50%) of truth
    val big = ((0L until 800L).map(("A", _)) ++ (400L until 1200L).map(("B", _)))
      .map { case (g, x) => (g, h52(x)) }.distinct
    val est = graft.ops.CoreOps.kmvSetOverlap(big.toDF("g", "h"), "g", "h", 64)
      .select("union_est", "inter_est", "n_inter_exact")
      .as[(Double, Double, Long)].head()
    assert(est._3 == 400L)
    assert(math.abs(est._1 - 1200.0) / 1200.0 < 0.5, s"union_est=${est._1}")
    assert(math.abs(est._2 - 400.0) / 400.0 < 0.6, s"inter_est=${est._2}")
  }

  // ---- q156 sorted-neighborhood pairs --------------------------------------

  test("sortedNeighborPairs: sound (every pair verified), planted adjacent dups found") {
    val rnd = new scala.util.Random(9)
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docs = (0 until 80).map { i =>
      (i.toLong, (0 until 12).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    } ++ Seq((200L, "zz yy xx ww vv uu tt ss"), (201L, "zz yy xx ww vv uu tt rr"))
    val out = graft.dedup.Dedup.sortedNeighborPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", w = 8, thrNum = 1, thrDen = 2)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    val byId = docs.toMap
    def grams(t: String): Set[String] = {
      val toks = t.trim.toLowerCase.split("\\s+").toSeq
      (if (toks.length < 3) Seq(toks.mkString(" "))
       else toks.sliding(3).map(_.mkString(" ")).toSeq).toSet
    }
    out.foreach { case (a, b, j) =>
      val (sa, sb) = (grams(byId(a)), grams(byId(b)))
      val inter = (sa & sb).size; val uni = (sa | sb).size
      assert(inter * 2 >= uni, s"pair ($a,$b) fails the threshold")
      assert(math.abs(j - inter.toDouble / uni) < 1e-6)
    }
    // the planted near-dups share sort key "zz yy xx" → adjacent ranks → found
    assert(out.exists(p => p._1 == 200L && p._2 == 201L),
      "adjacent planted near-dups must be paired")
  }

  // ---- q143 grouped OLS ---------------------------------------------------

  test("groupedOls recovers an exact linear fit per group; degenerate x-variance yields nulls") {
    val a = (1L to 50L).map(x => ("a", x, 3 * x - 2))     // slope 3, intercept -2
    val b = (1L to 40L).map(x => ("b", x, -5 * x + 1000)) // slope -5, intercept 1000
    val c = Seq(("c", 7L, 10L), ("c", 7L, 20L))           // zero x-variance
    val df = (a ++ b ++ c).toDF("g", "x", "y")
    val out = graft.ops.CoreOps.groupedOls(df, Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(out("a") == ((50L, Some(3.0), Some(-2.0))))
    assert(out("b") == ((40L, Some(-5.0), Some(1000.0))))
    assert(out("c")._2.isEmpty && out("c")._3.isEmpty, "degenerate group → null fit")
  }

  // ---- q141 interval join --------------------------------------------------

  test("intervalJoinByDay equals the naive BETWEEN theta join, incl. boundary semantics") {
    val rnd = new scala.util.Random(11)
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val evs = (0 until 500).map(i =>
      (i.toLong, new java.sql.Timestamp(base + rnd.nextInt(20 * 86400) * 1000L)))
    // overlapping multi-day intervals + one zero-length and one single-instant-boundary case
    val ivs = (0 until 12).map { k =>
      val s = new java.sql.Timestamp(base + k * 3L * 86400_000L)
      val e = new java.sql.Timestamp(base + (k * 3L + 2 + (k % 3)) * 86400_000L)
      (k.toLong, s, e)
    }
    val evDf = evs.toDF("eid", "ts")
    val ivDf = ivs.toDF("iid", "start_ts", "end_ts")
    val got = graft.ops.CoreOps.intervalJoinByDay(evDf, "ts", ivDf, "start_ts", "end_ts")
      .select("eid", "iid").as[(Long, Long)].collect().sorted.toSeq
    val naive = evDf.join(ivDf, col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
      .select("eid", "iid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == naive)
    assert(got.nonEmpty, "fixture must actually join")
  }

  test("q141 plan: day-bucketed interval join carries no nested-loop join") {
    val plan = Q.promoAttribution(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "interval join must stay an equi-join on the day bucket")
  }

  // ---- q142 prefix-filter set-similarity join ------------------------------

  test("prefixFilterPairs equals brute-force all-pairs Jaccard (no false negatives or positives)") {
    val rnd = new scala.util.Random(5)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
      "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
    // random docs + planted near-dup pairs (shared long cores)
    val docs = (0 until 60).map { i =>
      val n = 4 + rnd.nextInt(8)
      val toks = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
      (i.toLong, toks.mkString(" "))
    } ++ (0 until 10).map { i =>
      val core = (0 until 10).map(_ => vocab(rnd.nextInt(vocab.size)))
      (100L + i, (core :+ vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.flatMap(d => Seq(d, (d._1 + 50, d._2 + " extra")))
    val df = docs.toDF("doc_id", "text")
    val got = graft.dedup.Dedup.prefixFilterPairs(df, "doc_id", "text", 1, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val sets = docs.map { case (id, t) =>
      id -> t.toLowerCase.trim.split("\\s+").toSet
    }
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size; union = (sa | sb).size
      if inter * 2 >= union
    } yield (a, b)).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.nonEmpty, "fixture must contain qualifying pairs")
  }

  // ---- q148 triangle counting ---------------------------------------------

  test("triangleCount equals brute-force triple enumeration (random graphs)") {
    for (seed <- Seq(3, 17, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val raw = (0 until 220).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val df = raw.toDF("a", "b")
      val got = graft.graph.Triangles.triangleCount(df, "a", "b")
        .as[(Long, Long, Long)].head()
      val es = raw.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = es.flatMap(e => Seq(e._1, e._2))
      val tri = (for {
        Seq(x, y, z) <- nodes.toSeq.sorted.combinations(3)
        if es((x, y)) && es((y, z)) && es((x, z))
      } yield 1).size
      assert(got == ((nodes.size.toLong, es.size.toLong, tri.toLong)), s"seed $seed")
      assert(tri > 0, s"seed $seed: fixture must contain triangles")
    }
  }

  test("triangleCount normalizes reversed duplicates and drops self-loops") {
    val df = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (4L, 4L)).toDF("a", "b")
    val got = graft.graph.Triangles.triangleCount(df, "a", "b")
      .as[(Long, Long, Long)].head()
    assert(got == ((3L, 3L, 1L)))
  }

  // ---- q147 skew-decomposed distinct --------------------------------------

  test("skewedDistinctCount equals plain count_distinct under a planted hot key, any bucket count") {
    val rnd = new scala.util.Random(23)
    val rows = (0 until 3000).map(_ => ("hot", rnd.nextInt(400).toLong)) ++
      (0 until 200).map(_ => ("cold" + rnd.nextInt(5), rnd.nextInt(50).toLong))
    val df = rows.toDF("k", "v")
    val expected = df.groupBy("k").agg(count_distinct(col("v")).as("n"))
      .as[(String, Long)].collect().toMap
    for (b <- Seq(1, 4, 16, 64)) {
      val got = graft.ops.CoreOps.skewedDistinctCount(df, Seq("k"), "v", b, as = "n")
        .as[(String, Long)].collect().toMap
      assert(got == expected, s"buckets=$b")
    }
  }

  // ---- q146 Welch's t ------------------------------------------------------

  test("welchTTest: hand-checked statistic, sign, and degenerate-arm nulls") {
    val rows = Seq(("m", true, 10.0), ("m", true, 12.0), ("m", true, 14.0),
      ("m", false, 9.0), ("m", false, 10.0), ("m", false, 11.0),
      ("one", true, 5.0), ("one", false, 1.0), ("one", false, 2.0))
    val df = rows.toDF("g", "arm", "v")
    val out = graft.ops.CoreOps.welchTTest(df, Seq("g"), "arm", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    // m: means 12 vs 10, var 4 vs 1 → t = 2 / sqrt(4/3 + 1/3) = 2/sqrt(5/3)
    val expT = 2.0 / math.sqrt(4.0 / 3.0 + 1.0 / 3.0)
    assert(out("m")._1 == 3L && out("m")._2 == 3L)
    assert(math.abs(out("m")._3.get - expT) < 1e-12, s"${out("m")._3}")
    assert(out("m")._3.get > 0, "treatment above control → positive t")
    assert(out("one")._3.isEmpty, "single-row arm → null t")
  }

  // ---- q145 sliding distinct -----------------------------------------------

  test("slidingDistinct matches a driver-side trailing-7-day replay") {
    val got = Q.slidingDistinct(spark, sf)
      .as[(String, Long)].collect().toMap
    val ud = graft.io.Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct().as[(java.sql.Date, Long)].collect()
    val expected = ud.map(_._1).distinct.map { anchor =>
      val users = ud.filter { case (d, _) =>
        val diff = (anchor.getTime - d.getTime) / 86400000L
        diff >= 0 && diff <= 6
      }.map(_._2).distinct.size.toLong
      anchor.toString -> users
    }.toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  // ---- q149 water-filling budget -------------------------------------------

  test("waterFillAlloc: hand case splits the cap, under-budget keeps everything") {
    val df = Seq(("s1", 10L), ("s2", 20L), ("s3", 100L), ("s4", 200L)).toDF("src", "n")
    // T=330, B=165: k*=2 (10+20 kept whole), cap=(165-30) DIV 2 = 67
    val half = graft.ops.CoreOps.waterFillAlloc(df, "src", "n", 1, 2)
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(half.toSeq == Seq(("s1", 10L, 10L, false), ("s2", 20L, 20L, false),
      ("s3", 100L, 67L, true), ("s4", 200L, 67L, true)), half.mkString(","))
    val full = graft.ops.CoreOps.waterFillAlloc(df, "src", "n", 1, 1)
      .as[(String, Long, Long, Boolean)].collect()
    assert(full.forall(r => r._3 == r._2 && !r._4), "budget == total → nothing capped")
  }

  test("waterFillAlloc: random frames fill within S of the budget, never over") {
    for (seed <- Seq(2, 31)) {
      val rnd = new scala.util.Random(seed)
      val sizes = (0 until 25).map(i => (f"s$i%02d", (1 + rnd.nextInt(5000)).toLong))
      val out = graft.ops.CoreOps.waterFillAlloc(sizes.toDF("src", "n"), "src", "n", 1, 3)
        .as[(String, Long, Long, Boolean)].collect()
      val budget = sizes.map(_._2).sum / 3
      val total = out.map(_._3).sum
      assert(total <= budget, s"seed $seed: over budget")
      assert(budget - total < out.length, s"seed $seed: left more than S on the table")
      assert(out.forall(r => r._3 <= r._2 && r._3 >= 0))
      val caps = out.filter(_._4).map(_._3)
      assert(caps.distinct.length <= 1, "all capped sources share one cap")
      if (caps.nonEmpty) {
        val cap = caps.head
        assert(out.filter(!_._4).forall(_._2 <= cap + out.length),
          "uncapped sources sit at or below the cap segment")
      }
    }
  }

  // ---- q150 quantile normalization ----------------------------------------

  test("quantileNormalize matches a driver-side order-statistics replay") {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 400).map { i =>
      val g = s"g${i % 5}"
      // per-group offset/scale drift the normalization must remove
      (i.toLong, g, (rnd.nextInt(100) + (i % 5) * 50).toDouble)
    }
    val df = rows.toDF("id", "g", "v")
    val got = graft.ops.CoreOps.quantileNormalize(df, "g", "v", "id", as = "nv")
      .select("id", "nv").as[(Long, Double)].collect().toMap
    val global = rows.sortBy(r => (r._3, r._1)).map(_._3)
    val gn = global.length
    val expected = rows.groupBy(_._2).flatMap { case (_, members) =>
      val sorted = members.sortBy(r => (r._3, r._1))
      val ns = sorted.length
      sorted.zipWithIndex.map { case ((id, _, _), i) =>
        val ti = if (ns > 1) (i.toLong * (gn - 1)) / (ns - 1) else (gn - 1) / 2L
        id -> global(ti.toInt)
      }
    }
    assert(got == expected)
  }

  // ---- q151 repetition filters ---------------------------------------------

  test("repetitionFilters metrics match a driver-side token replay") {
    val out = Q.repetitionFilters(spark, sf)
      .select("doc_id", "n_tokens", "top_2gram_frac", "dup5gram_frac", "rep_pair_frac")
      .as[(Long, Int, Double, Double, Double)].collect()
    val docs = graft.io.Tables.table(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out.nonEmpty)
    out.take(50).foreach { case (id, n, top2, dup5, rep) =>
      val toks = docs(id).trim.toLowerCase.split("\\s+").toSeq
      assert(n == (if (docs(id).trim.isEmpty) 0 else toks.length))
      def grams(k: Int): Seq[String] =
        if (toks.length < k) Seq(toks.mkString(" "))
        else toks.sliding(k).map(_.mkString(" ")).toSeq
      val g2 = grams(2)
      val expTop2 = g2.groupBy(identity).values.map(_.size).max.toDouble / g2.size
      val g5 = grams(5)
      val expDup5 = (g5.size - g5.distinct.size).toDouble / g5.size
      val expRep = if (toks.length >= 2)
        toks.sliding(2).count(p => p(0) == p(1)).toDouble / (toks.length - 1)
      else 0.0
      assert(top2 == expTop2, s"doc $id top2")
      assert(dup5 == expDup5, s"doc $id dup5")
      assert(rep == expRep, s"doc $id rep")
    }
  }

  // ---- q158 incremental components -----------------------------------------

  test("incremental components: star-compressed old map + touch edges == full recompute") {
    for (seed <- Seq(12, 44)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = (0 until 90).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val verts = (0L until n.toLong).toDF("id")
      val eDf = edges.toDF("a", "b")
      val cut = 45L
      val full = graft.dedup.Components.connectedComponents(eDf, "a", "b", verts, "id")
        .as[(Long, Long)].collect().toMap
      val eOld = edges.filter { case (a, b) => a < cut && b < cut }.toDF("a", "b")
      val eTouch = edges.filter { case (a, b) => a >= cut || b >= cut }.toDF("a", "b")
      val oldVerts = (0L until cut).toDF("id")
      val oldMap = graft.dedup.Components.connectedComponents(eOld, "a", "b", oldVerts, "id")
      val star = oldMap.select(col("id").as("a"), col("component").as("b"))
      val inc = graft.dedup.Components.connectedComponents(
          star.unionByName(eTouch), "a", "b", verts, "id")
        .as[(Long, Long)].collect().toMap
      assert(inc == full, s"seed $seed: incremental must equal full recompute")
    }
  }

  // ---- q159 market basket / q160 diversity ---------------------------------

  test("marketBasket: measures respect their defining inequalities on the live data") {
    val rows = Q.marketBasket(spark, sf)
      .select("n_ab", "n_a", "n_b", "support", "confidence", "lift")
      .as[(Long, Long, Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nab, na, nb2, sup, conf, lift) =>
      assert(nab <= math.min(na, nb2), "co-occurrence cannot exceed either single count")
      assert(sup > 0.0 && sup <= 1.0)
      assert(conf > 0.0 && conf <= 1.0)
      assert(lift > 0.0)
    }
  }

  test("langDiversity: Gini-Simpson bounds and the hand-computed index") {
    val live = Q.langDiversity(spark, sf)
      .select("n_langs", "gini_simpson").as[(Long, Double)].collect()
    assert(live.nonEmpty)
    live.foreach { case (k, gs) =>
      assert(gs >= 0.0 && gs < 1.0)
      if (k == 1) assert(gs == 0.0, "a monolingual source has zero diversity")
    }
    // hand case through the same algebra: counts (3,1) → 1 − (9+1)/16
    val sq = 3L * 3 + 1L * 1
    assert(1.0 - sq.toDouble / 16.0 == 0.375)
  }

  // ---- q162 l-diversity -----------------------------------------------------

  test("lDiversity: planted homogeneous group flagged even when k-anonymous") {
    val df = Seq(
      ("qa", "debt"), ("qa", "debt"), ("qa", "debt"), ("qa", "debt"), // big but homogeneous
      ("qb", "debt"), ("qb", "high")                                  // small but diverse
    ).toDF("qi", "s")
    val out = graft.checks.CheckSuite.lDiversity(df, Seq("qi"), "s", l = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out("qa") == ((4L, 1L, true)), "homogeneity attack: large group, one value → at risk")
    assert(out("qb") == ((2L, 2L, false)))
  }

  // ---- q161 VARIANT extraction ---------------------------------------------

  test("variantExtract: variant and string decode paths agree; missing paths are null") {
    val rows = Q.variantExtract(spark, sf)
      .select("paths_agree", "n_missing_hits").as[(Boolean, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._1), "variant_get must decode identically to get_json_object")
    assert(rows.forall(_._2 == 0L), "try_variant_get on a missing path must be null")
  }

  // ---- Md5Prefix52 native expression ---------------------------------------

  test("Md5Prefix52 equals the conv(substring(md5)) composition, SQL-registered, codegen'd") {
    val rnd = new scala.util.Random(21)
    val strs = (0 until 200).map(_ => rnd.nextString(rnd.nextInt(30))) ++
      Seq("", "héllo wörld", "0", "cm3|12345")
    val df = strs.toDF("s")
    val both = df.select(
      graft.functions.Md5Prefix52.md5Prefix52(col("s")).as("native"),
      expr("CAST(conv(substring(md5(s), 1, 13), 16, 10) AS BIGINT)").as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() == 0)
    val bounds = both.agg(min("native"), max("native")).head()
    assert(bounds.getLong(0) >= 0L && bounds.getLong(1) < (1L << 52),
      "range must be [0, 2^52)")
    // null passthrough
    assert(Seq(Option.empty[String]).toDF("s")
      .select(graft.functions.Md5Prefix52.md5Prefix52(col("s"))).head().isNullAt(0))
    // SQL surface
    graft.functions.GraftFunctions.register(spark)
    df.createOrReplaceTempView("mp52_in")
    val viaSql = spark.sql(
      "SELECT count(*) FROM mp52_in WHERE md5_prefix52(s) <> CAST(conv(substring(md5(s), 1, 13), 16, 10) AS BIGINT)")
      .head().getLong(0)
    assert(viaSql == 0L)
    // the expression must NOT fall back: its generated code appears in the
    // codegen'd plan (CodegenFallback expressions never do)
    val gen = both.queryExecution.executedPlan.toString
    assert(!gen.contains("CodegenFallback") || {
      val codegen = org.apache.spark.sql.execution.debug.codegenString(both.queryExecution.executedPlan)
      codegen.contains("hash52")
    }, "Md5Prefix52 should participate in codegen")
  }

  // ---- algebraic properties of the session's statistical operators ---------

  test("welchTTest: swapping the arms negates t and swaps the means exactly") {
    val rnd = new scala.util.Random(33)
    val rows = (0 until 120).map(i =>
      ("g", i % 3 == 0, (rnd.nextInt(2000) - 1000) / 10.0))
    val fwd = graft.ops.CoreOps.welchTTest(rows.toDF("g", "arm", "v"),
      Seq("g"), "arm", "v").head()
    val swapped = rows.map { case (g, a, v) => (g, !a, v) }
    val rev = graft.ops.CoreOps.welchTTest(swapped.toDF("g", "arm", "v"),
      Seq("g"), "arm", "v").head()
    assert(fwd.getDouble(3) == rev.getDouble(4) && fwd.getDouble(4) == rev.getDouble(3),
      "means must swap")
    assert(fwd.getDouble(5) == -rev.getDouble(5), "t must negate exactly")
  }

  test("groupedOls: shifting y by a constant moves only the intercept, exactly") {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 80).map(i => ("g", (i + 1).toLong, rnd.nextInt(1000).toLong))
    def fit(shift: Long) = graft.ops.CoreOps.groupedOls(
        rows.map { case (g, x, y) => (g, x, y + shift) }.toDF("g", "x", "y"),
        Seq("g"), "x", "y").head()
    val base = fit(0); val moved = fit(500)
    assert(base.getDouble(2) == moved.getDouble(2),
      "slope is exactly invariant under a y-shift (exact sufficient statistics)")
    assert(moved.getDouble(3) == base.getDouble(3) + 500.0,
      "intercept moves by exactly the shift")
  }

  test("paretoFrontier2D and skylineND are idempotent (frontier of the frontier)") {
    val rnd = new scala.util.Random(55)
    val pts = (0 until 200).map(i => (i.toLong, rnd.nextInt(30), rnd.nextInt(30)))
    val df = pts.toDF("id", "x", "y")
    val f1 = graft.ops.CoreOps.paretoFrontier2D(df, "x", "y")
    val f2 = graft.ops.CoreOps.paretoFrontier2D(f1, "x", "y")
    assert(f1.select("id").as[Long].collect().toSet ==
           f2.select("id").as[Long].collect().toSet)
    val s1 = graft.ops.CoreOps.skylineND(df, "id", Seq("x"), Seq("y"))
    val s2 = graft.ops.CoreOps.skylineND(s1, "id", Seq("x"), Seq("y"))
    assert(s1.select("id").as[Long].collect().toSet ==
           s2.select("id").as[Long].collect().toSet)
  }

  test("skewedDistinctCount: invariant under row duplication (it counts values, not rows)") {
    val rows = (0 until 400).map(i => ("k" + (i % 3), (i % 37).toLong))
    val once = graft.ops.CoreOps.skewedDistinctCount(
      rows.toDF("k", "v"), Seq("k"), "v", 8).as[(String, Long)].collect().toMap
    val tripled = graft.ops.CoreOps.skewedDistinctCount(
      (rows ++ rows ++ rows).toDF("k", "v"), Seq("k"), "v", 8)
      .as[(String, Long)].collect().toMap
    assert(once == tripled)
  }

  // ---- edge cases across the continuation-session operators ----------------

  test("edge cases: frontier/skyline on empty, singleton, and all-identical frames") {
    import graft.ops.CoreOps._
    val empty = Seq.empty[(Long, Int, Int)].toDF("id", "x", "y")
    assert(paretoFrontier2D(empty, "x", "y").count() == 0)
    assert(skylineND(empty, "id", Seq("x"), Seq("y")).count() == 0)
    val one = Seq((1L, 5, 5)).toDF("id", "x", "y")
    assert(paretoFrontier2D(one, "x", "y").count() == 1)
    assert(skylineND(one, "id", Seq("x"), Seq("y")).count() == 1)
    val same = (1L to 4L).map((_, 3, 3)).toDF("id", "x", "y")
    assert(paretoFrontier2D(same, "x", "y").count() == 4, "identical points never dominate each other")
    assert(skylineND(same, "id", Seq("x"), Seq("y")).count() == 4)
  }

  test("edge cases: OLS single-point group, Welch empty arm, interval join with inverted bounds") {
    import graft.ops.CoreOps._
    val ols = groupedOls(Seq(("g", 5L, 7L)).toDF("g", "x", "y"), Seq("g"), "x", "y").head()
    assert(ols.isNullAt(2) && ols.isNullAt(3), "n=1 → no fit")
    val welch = welchTTest(Seq(("g", false, 1.0), ("g", false, 2.0), ("g", false, 3.0))
      .toDF("g", "arm", "v"), Seq("g"), "arm", "v").head()
    assert(welch.getLong(1) == 0L && welch.isNullAt(3) && welch.isNullAt(5),
      "empty treatment arm → null mean_t and t")
    // end before start: no day sequence blows up, zero matches
    val ev  = Seq((1L, java.sql.Timestamp.valueOf("2024-05-05 12:00:00"))).toDF("eid", "ts")
    val ivs = Seq((1L, java.sql.Timestamp.valueOf("2024-05-06 00:00:00"),
      java.sql.Timestamp.valueOf("2024-05-05 00:00:00"))).toDF("iid", "start_ts", "end_ts")
    assert(intervalJoinByDay(ev, "ts", ivs, "start_ts", "end_ts").count() == 0)
  }

  test("edge cases: zero-budget water-fill, empty skewed distinct, empty/lonely set-op inputs") {
    import graft.ops.CoreOps._
    val wf = waterFillAlloc(Seq(("a", 100L), ("b", 50L)).toDF("s", "n"), "s", "n", 1, 1000)
      .as[(String, Long, Long, Boolean)].collect()
    assert(wf.map(_._3).sum <= 150L / 1000, "allocation can never exceed the budget")
    assert(wf.forall(_._3 >= 0L))
    assert(skewedDistinctCount(Seq.empty[(String, Long)].toDF("k", "v"),
      Seq("k"), "v", 8).count() == 0)
    assert(kmvSetOverlap(Seq(("only", 7L)).toDF("g", "h"), "g", "h", 16).count() == 0,
      "a single group has no pairs")
    assert(graft.dedup.Dedup.sortedNeighborPairs(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text").count() == 0)
  }

  test("edge cases: triangle count of an empty and a triangle-free graph") {
    val empty = graft.graph.Triangles.triangleCount(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").as[(Long, Long, Long)].head()
    assert(empty == ((0L, 0L, 0L)))
    val path = graft.graph.Triangles.triangleCount(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long)].head()
    assert(path == ((4L, 3L, 0L)), "a path has no triangles")
  }

  test("edge cases: prefix-filter join on identical documents yields all pairs at Jaccard 1") {
    val docs = (1L to 4L).map((_, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.prefixFilterPairs(docs, "doc_id", "text", 1, 2, shingleN = 3)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(out.length == 6, s"C(4,2) pairs, got ${out.length}")
    assert(out.forall(_._3 == 1.0))
  }

  test("edge cases: quantile normalization maps a singleton group to the global median") {
    val rows = (1L to 9L).map(i => (i, "big", i.toDouble)) :+ ((100L, "solo", 42.0))
    val out = graft.ops.CoreOps.quantileNormalize(rows.toDF("id", "g", "v"), "g", "v", "id", as = "nv")
      .filter(col("g") === "solo").select("nv").as[Double].head()
    // global order: 1..9 then 42 → N=10, median index 1+(9 DIV 2)=5 → value 5.0
    assert(out == 5.0, s"got $out")
  }

  // ---- q144 column profiler ------------------------------------------------

  test("columnProfile: counts, nulls, distincts, deterministic tie-broken mode, all-null column") {
    val df = Seq(
      (Some("b"), Some(1), None: Option[String]),
      (Some("a"), Some(1), None),
      (Some("b"), Some(2), None),
      (Some("a"), None, None),
      (None, Some(2), None)
    ).toDF("s", "i", "z")
    val out = graft.checks.Governance.columnProfile(df, Seq("s", "i", "z"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), Option(r.getString(4)),
          Option(r.get(5)).map(_.asInstanceOf[Long]))).toMap
    // s: 5 rows, 1 null, 2 distinct, mode tie a=2 b=2 → min 'a'
    assert(out("s") == ((5L, 1L, 2L, Some("a"), Some(2L))))
    assert(out("i") == ((5L, 1L, 2L, Some("1"), Some(2L))))
    assert(out("z") == ((5L, 5L, 0L, None, None)), "all-null column → null mode")
  }
}
