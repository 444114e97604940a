package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The planted-pair corpus behind the LSH escape's recall receipt
  * (tools/bench_r16/AB_LSH_RECALL_CURVE.txt), kept as the fixture
  * Round16Spec pins the banding curve on.
  *
  * Corpus: `pairsPerLevel` PLANTED doc pairs at each exact Jaccard level
  * s ∈ {1/2, 11/20, 3/5, 7/10}. Each pair is two docs of equal token
  * count m sharing exactly i tokens with i/(2m−i) = s held in integers
  * (m=60,i=40 → 0.50; m=62,i=44 → 0.55; m=60,i=45 → 0.60; m=68,i=56 →
  * 0.70); every token string is namespaced to its (level, pair, side),
  * so cross-pair Jaccard is 0 and the planted pairs are EXACTLY the
  * ground truth at threshold 1/2. With shingleN=1 the verified sets are
  * the word sets themselves, so the planted similarity is exact by
  * construction.
  */
object AbLshRecallCurve {

  /** (s as a fraction string, tokens per doc, shared tokens). */
  val Levels: Seq[(Double, Int, Int)] = Seq(
    (0.50, 60, 40), (0.55, 62, 44), (0.60, 60, 45), (0.70, 68, 56))

  /** Deterministic planted corpus: ids encode (level, pair, side) as
    * level·10^7 + pair·10 + side, so the expected pair list is
    * (id_a = base, id_b = base+1) for every planted pair. */
  def plantedDocs(spark: SparkSession, pairsPerLevel: Int): DataFrame = {
    val rows = for {
      (li, (s, m, share)) <- Levels.zipWithIndex.map(_.swap)
      p <- 0 until pairsPerLevel
      side <- 0 to 1
    } yield {
      require(math.abs(share.toDouble / (2 * m - share) - s) < 1e-12,
        s"level $s: i/(2m-i) must equal s exactly")
      val shared = (0 until share).map(j => s"L${li}p${p}s$j")
      val own = (0 until (m - share)).map(j => s"L${li}p${p}x${side}d$j")
      (li.toLong * 10000000L + p.toLong * 10L + side,
        (shared ++ own).mkString(" "))
    }
    import spark.implicits._
    rows.toDF("doc_id", "text").repartition(32)
  }

  /** The banding curve 1−(1−s^r)^b. */
  def predictedRecall(s: Double, r: Int, b: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, r), b)
}
