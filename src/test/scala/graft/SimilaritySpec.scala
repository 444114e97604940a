package graft

import org.apache.spark.sql.functions._
import graft.sim.Similarity
import graft.io.Tables

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot/norm/cosine basic identities") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)), (Seq(1.0, 1.0), Seq(1.0, 1.0)))
      .toDF("a", "b")
    val out = df.select(
      Similarity.dot(col("a"), col("b")),
      Similarity.cosine(col("a"), col("b"))).collect()
    assert(out(0).getDouble(0) == 0.0 && out(0).getDouble(1) == 0.0)
    assert(out(1).getDouble(0) == 2.0 && math.abs(out(1).getDouble(1) - 1.0) < 1e-12)
  }

  test("cosine of zero vector is 0, not NaN") {
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
    assert(df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0) == 0.0)
  }

  test("hardNegativesTopK: wrong-label only, dense ranks, scores dominated by unrestricted top-k") {
    val e = Tables.table(spark, sf, "embeddings")
    val anchors = e.filter(col("vec_id") < 10)
    val negs = Similarity.hardNegativesTopK(e, anchors, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val labelOf = e.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    // no negative shares its anchor's label — the defining property
    negs.foreach { case (a, n, _, _) =>
      assert(labelOf(n) != labelOf(a), s"anchor $a ($${labelOf(a)}) got same-label negative $n")
    }
    // per anchor: exactly 5 rows, ranks dense, scores non-increasing
    negs.groupBy(_._1).foreach { case (a, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to 5), s"anchor $a: ranks not dense")
      sorted.sliding(2).foreach {
        case Array(x, y) => assert(x._3 >= y._3, s"anchor $a: scores not sorted")
        case _ => ()
      }
    }
    // a hard negative can never outscore the unrestricted best at its rank:
    // the global top-k maximizes over a superset of candidates
    val global = Similarity.bruteForceTopKHeap(e, anchors, 5).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), r.getDouble(2))).toMap
    negs.foreach { case (a, _, score, rank) =>
      assert(global((a, rank)) >= score,
        s"anchor $a rank $rank: negative $score beats unrestricted ${global((a, rank))}")
    }
  }

  test("bruteForceTopK matches a driver-side exact computation") {
    val e = Tables.table(spark, sf, "embeddings")
    val topk = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

    // exact reference computed in plain Scala
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d  = a.zip(b).map { case (x, y) => x * y }.sum
      val n  = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (n == 0) 0.0 else d / n
    }
    for (q <- 0L until 3L) {
      val expect = vecs.keys.filter(_ != q).toSeq
        .map(v => (v, BigDecimal(cos(vecs(q), vecs(v))).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .sortBy { case (v, s) => (-s, v) }.take(5).map(_._1)
      val got = topk.filter(_._1 == q).sortBy(_._4).map(_._2).toSeq
      assert(got == expect, s"query $q: got $got expected $expect")
    }
  }

  test("lshTopK achieves reasonable recall vs brute force") {
    val e = Tables.table(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(e, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(e, q, 5, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.4, s"multi-probe LSH recall too low: $recall")
  }

  test("ivfTopK achieves reasonable recall vs brute force") {
    val e = Tables.table(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(e, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(e, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
  }

  test("kmeansCentroids: iterations improve (or hold) mean assignment similarity") {
    val e = Tables.table(spark, sf, "embeddings")
    def meanSim(centroids: org.apache.spark.sql.DataFrame): Double = {
      val c = e.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      c.join(broadcast(centroids))
        .select(col("vec_id"), Similarity.cosine(col("v"), col("cv")).as("sim"))
        .groupBy("vec_id").agg(max("sim").as("best"))
        .agg(avg("best")).head().getDouble(0)
    }
    val init    = Similarity.kmeansCentroids(e, 64, k = 10, iters = 0)
    val trained = Similarity.kmeansCentroids(e, 64, k = 10, iters = 3)
    val (s0, s3) = (meanSim(init), meanSim(trained))
    assert(s3 >= s0 - 1e-9, s"k-means must not degrade assignment similarity: $s0 -> $s3")
    assert(trained.count() <= 10 && trained.count() > 0)
  }

  test("ivfTopK with k-means centroids returns k ranked neighbors per query") {
    val e = Tables.table(spark, sf, "embeddings")
    val cents = Similarity.kmeansCentroids(e, 64, k = 10, iters = 2)
    val out = Similarity.ivfTopK(e, e.filter(col("vec_id") < 3), 5,
      centroidsOverride = Some(cents)).collect()
    assert(out.length == 15)
    assert(out.map(r => (r.getLong(0), r.getInt(3))).toSet.size == 15, "distinct (query, rank)")
  }

  test("inlined-codebook assignCells equals the join+aggregation path, and plans NO exchange at k=4096") {
    val e = Tables.table(spark, sf, "embeddings")
    val c = e.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    // 4096 synthetic centroids: deterministic pseudo-random unit-ish
    // vectors, ids offset so none collides with a corpus vec_id
    val rng = new scala.util.Random(41)
    val cents = (0 until 4096).map(i =>
      (1000000L + i, Array.fill(64)(rng.nextDouble() * 2 - 1).toSeq))
      .toDF("cid", "cv")
    val inlined = Similarity.assignCells(c, cents)
    val joined = Similarity.assignCellsJoined(c, cents)
      .select("vec_id", "v", "nrm", "cell")
    assert(inlined.schema("cell").dataType.typeName == "long")
    val diff = inlined.select("vec_id", "cell")
      .except(joined.select("vec_id", "cell")).count()
    assert(diff == 0L, s"$diff assignments diverge between inlined and joined paths")
    assert(inlined.count() == c.count())
    // the scale claim: assignment is a pure projection — no exchange
    // anywhere in its plan even at k=4096 (the joined path shuffles)
    val plan = inlined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"inlined assignment must plan no shuffle:\n$plan")
  }

  test("assignCells degenerate geometry: zero vectors and zero centroids tie to the min cid, paths agree") {
    // a zero-norm vector scores 0.0 against EVERY centroid (the
    // cosineFromNorms guard), so assignment must fall through to the
    // min-cid tie on both paths; a zero CENTROID likewise scores 0.0
    // against every vector and must never win over a positive match
    val c = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(-1.0, 0.0)))
      .toDF("vec_id", "v")
      .withColumn("nrm", Similarity.norm(col("v")))
    val cents = Seq((7L, Seq(0.0, 0.0)), (5L, Seq(1.0, 0.0))).toDF("cid", "cv")
    val inlined = Similarity.assignCells(c, cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val joined = Similarity.assignCellsJoined(c, cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(inlined == joined, s"degenerate paths diverge: $inlined vs $joined")
    // zero vector: all sims 0.0 -> min cid (5); positive match: cid 5
    // wins with sim 1.0; anti-parallel: sim -1.0 vs 0.0 -> the zero
    // centroid's 0.0 is larger -> cid 7
    assert(inlined == Map(1L -> 5L, 2L -> 5L, 3L -> 7L))
  }

  test("assignCells small-codebook sanity: nearest centroid by cosine, ties to min cid") {
    val c = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(1.0, 1.0)))
      .toDF("vec_id", "v")
      .withColumn("nrm", Similarity.norm(col("v")))
    val cents = Seq((10L, Seq(2.0, 0.0)), (20L, Seq(0.0, 3.0)),
      (30L, Seq(1.0, 1.0)), (31L, Seq(2.0, 2.0))) // 30/31 tie on cosine
      .toDF("cid", "cv")
    val got = Similarity.assignCells(c, cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
  }

  test("inlined PQ encode equals the broadcast-join argmin path (stride and trained)") {
    val e = Tables.table(spark, sf, "embeddings")
    for (trained <- Seq(false, true)) {
      val idx = Similarity.pqBuildIndex(e, m = 8, dim = 64, centroidStride = 10,
        trainCodebooks = trained, codebookSize = if (trained) Some(16) else None)
      // reference: the join + min(struct(d, cid)) form over the SAME
      // checkpointed codebooks the index carries
      val sub = Similarity.pqSubVectors(
        e.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v")), 8, 8)
      val ref = sub.join(broadcast(idx.cb), Seq("j"))
        .select(col("vec_id"), col("j"), col("cid"), Similarity.pqSubL2.as("d"))
        .groupBy("vec_id", "j")
        .agg(min(struct(col("d"), col("cid"))).as("m"))
        .select(col("vec_id"), col("j"), col("m.cid").as("cid"))
        .as[(Long, Int, Long)].collect().toSet
      val got = idx.codes.as[(Long, Int, Long)].collect().toSet
      assert(got == ref, s"trained=$trained: inlined encode diverges from join path")
    }
  }

  test("lshSignature is deterministic across evaluations") {
    val e = Tables.table(spark, sf, "embeddings").limit(20)
    val s1 = e.select(col("vec_id"), Similarity.lshSignature(col("embedding"), 64, 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s2 = e.select(col("vec_id"), Similarity.lshSignature(col("embedding"), 64, 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s1 == s2)
  }

  test("bruteForceTopKHeap equals the window form row-for-row (topk_structs heap)") {
    val e = Tables.table(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val win = Similarity.bruteForceTopK(e, q, 5)
      .select("query_id", "vec_id", "score", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val agg = Similarity.bruteForceTopKHeap(e, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(agg == win, s"agg path diverged: ${agg.diff(win).take(5)} vs ${win.diff(agg).take(5)}")
  }

  test("embeddingNearDups: planted duplicate found, ordered pair, thresholded") {
    val e = Tables.table(spark, sf, "embeddings")
      .union(Tables.table(spark, sf, "embeddings").filter(col("vec_id") === 7)
        .withColumn("vec_id", lit(99999L)))
    val dups = Similarity.embeddingNearDups(e, dim = 64, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dups.contains((7L, 99999L)), s"planted dup not found in ${dups.take(20).toSeq}")
    assert(dups.forall(p => p._1 < p._2))
  }

  test("pqTopK: dense ranks, nondecreasing distances, deterministic re-run") {
    val e = Tables.table(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val run1 = Similarity.pqTopK(e, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getInt(4)))
    val byQ = run1.groupBy(_._1)
    assert(byQ.size == 10 && byQ.values.forall(_.length == 5), "5 neighbors per query")
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to 5), "ranks dense 1..5")
      val ds = sorted.map(_._3).toSeq
      assert(ds == ds.sorted, s"re-ranked distances not nondecreasing with rank: $ds")
    }
    // the j-ordered fold makes the double sum run-invariant (a bare sum()
    // would float with partial-aggregation order)
    val run2 = Similarity.pqTopK(e.repartition(7), q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getInt(4)))
    assert(run1.sortBy(x => (x._1, x._4)).toSeq == run2.sortBy(x => (x._1, x._4)).toSeq,
      "PQ results must not depend on partitioning")
  }

  test("pqTopK recall vs exact L2 top-k (ADC approximates the right metric)") {
    val e = Tables.table(spark, sf, "embeddings")
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def l2sq(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = (0L until 10L).flatMap { q =>
      vecs.keys.filter(_ != q).toSeq
        .map(v => (v, l2sq(vecs(q), vecs(v))))
        .sortBy { case (v, d) => (d, v) }.take(5).map(x => (q, x._1))
    }.toSet
    val pq = Similarity.pqTopK(e, e.filter(col("vec_id") < 10), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(pq).size.toDouble / exact.size
    assert(recall >= 0.4, s"PQ recall vs exact L2 too low: $recall")
  }

  test("trained codebooks: ADC quantization error shrinks, recall >= the stride baseline") {
    val e = Tables.table(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def l2sq(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = (0L until 10L).flatMap { qi =>
      vecs.keys.filter(_ != qi).toSeq
        .map(v => (v, l2sq(vecs(qi), vecs(v))))
        .sortBy { case (v, d) => (d, v) }.take(5).map(x => (qi, x._1))
    }.toSet
    def recallOf(trained: Boolean): Double = {
      val got = Similarity.pqTopK(e, q, 5, trainCodebooks = trained).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val stride = recallOf(trained = false)
    val trained = recallOf(trained = true)
    assert(trained >= stride,
      s"one Lloyd refinement must not lose recall: trained=$trained stride=$stride")
    // Lloyd monotonicity measured on the REAL codebook output: the
    // quantization objective Σ_vec Σ_j min_c L2²(sv, c) cannot increase
    // through assign→mean-update→reassign (the ≤1e-6 quantized-mean
    // perturbation is orders below the improvement)
    val eV = e.select(col("vec_id"),
      graft.sim.Similarity.asDouble(col("embedding")).as("v"))
    val sub = Similarity.pqSubVectors(eV, m = 8, dsub = 8)
    def objective(trainedCb: Boolean): Double = {
      val cb = Similarity.pqCodebooks(sub, centroidStride = 10,
        trainCodebooks = trainedCb, m = 8)
      sub.join(broadcast(cb), Seq("j"))
        .select(col("vec_id"), col("j"), Similarity.pqSubL2.as("d"))
        .groupBy("vec_id", "j").agg(min(col("d")).as("d"))
        .agg(sum(col("d"))).head().getDouble(0)
    }
    val objStride = objective(false)
    val objTrained = objective(true)
    assert(objTrained < objStride,
      s"trained codebooks must quantize tighter: $objTrained vs $objStride")
  }

  test("ivfPqTopK: subset of PQ's pair space, k-or-fewer ranked rows per query") {
    val e = Tables.table(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val ivfpq = Similarity.ivfPqTopK(e, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
    val byQ = ivfpq.groupBy(_._1)
    assert(byQ.size == 10, "every query answered")
    byQ.values.foreach { rows =>
      assert(rows.length <= 5 && rows.map(_._3).sorted.toSeq == (1 to rows.length),
        "dense ranks within the probed cells")
    }
    // probing can only REMOVE candidates vs whole-corpus PQ; whatever
    // survives must re-rank to the same relative order when shared
    val pq = Similarity.pqTopK(e, q, 50).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(4))).toMap
    val shared = ivfpq.flatMap { case (qid, vid, rk) => pq.get((qid, vid)).map(prk => (qid, rk, prk)) }
    shared.groupBy(_._1).values.foreach { rows =>
      val ordered = rows.sortBy(_._2).map(_._3).toSeq
      assert(ordered == ordered.sorted,
        s"IVF-PQ must preserve PQ's exact-rerank order on shared pairs: $ordered")
    }
  }

  test("ivfPqTopK with k-means-trained cells returns ranked neighbors per query") {
    val e = Tables.table(spark, sf, "embeddings")
    val trained = Similarity.kmeansCentroids(e, dim = 64, k = 8, iters = 2)
    val out = Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5), 5,
      centroidsOverride = Some(trained)).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == 5, "every query answered under trained cells")
    byQ.values.foreach { rows =>
      assert(rows.nonEmpty && rows.map(_.getInt(4)).sorted.toSeq == (1 to rows.length))
    }
  }
}
