package graft.tools

import graft.Harness
import org.apache.spark.sql.functions._

/** Diagnostic main: print [[graft.ops.ShapeDispatch]]'s probe statistics
  * and resulting shape choice for EVERY dial at each given SF directory
  * — the on-the-record receipt that the dispatcher picks the window
  * shape at gate SFs and crosses to the ranged shape where the
  * committed A/Bs measured the crossovers.
  *
  *   runMain graft.tools.ShapeChoice <sfDir> [<sfDir> ...]
  *
  * Dials, with the exact stats frame each driver query dispatches on:
  *  - rank (q53/q170): lineitem by l_returnflag, rows-per-group cutover
  *  - equidepth (q129/q171): same grouping, same cutover (the histogram's
  *    rank pass IS the rank dial)
  *  - percentile (q36/q166): max per-group approx-distinct over BOTH
  *    value columns (l_quantity, l_extendedprice), distinct cutover
  *  - topk (q137/q172): the per-(flag, part) revenue AGGREGATE frame —
  *    the dial sees parts-per-flag, which grows with the part table,
  *    not the fact table
  *  - ssjoin (q142): the exact join's estimated candidate shuffle against
  *    the pair-shuffle warn budget (exact vs LSH is the caller's choice)
  */
object ShapeChoice {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val spark = Harness.session(8)
    spark.sparkContext.setLogLevel("ERROR")
    val sd = graft.ops.ShapeDispatch
    for (dir <- dirs) {
      val li = graft.io.Tables.table(spark, dir, "lineitem")

      val rank = sd.probeStats(li.select("l_returnflag", "l_quantity"),
        Seq("l_returnflag"))
      println(s"[shape:rank] dir=$dir rows=${rank.rows} groups=${rank.groups} " +
        s"maxRowsPerGroup=${rank.maxRowsPerGroup} " +
        s"cutover=${sd.RowsPerGroupCutover} " +
        s"choice=${sd.decideByRows(rank, sd.RowsPerGroupCutover)}")

      println(s"[shape:equidepth] dir=$dir rows=${rank.rows} groups=${rank.groups} " +
        s"maxRowsPerGroup=${rank.maxRowsPerGroup} " +
        s"cutover=${sd.RowsPerGroupCutover} " +
        s"choice=${sd.decideByRows(rank, sd.RowsPerGroupCutover)}")

      val pct = sd.probeStats(
        li.select("l_returnflag", "l_quantity", "l_extendedprice"),
        Seq("l_returnflag"), Seq("l_quantity", "l_extendedprice"))
      println(s"[shape:percentile] dir=$dir rows=${pct.rows} groups=${pct.groups} " +
        s"maxDistinctPerGroup=${pct.maxDistinctPerGroup} " +
        s"distinctBound=${pct.distinctBound} " +
        s"cutover=${sd.DistinctPerGroupCutover} " +
        s"choice=${sd.decideByDistinct(pct, sd.DistinctPerGroupCutover)}")

      val rev = li.groupBy("l_returnflag", "l_partkey")
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("rev"))
      val topk = sd.probeStats(rev, Seq("l_returnflag"))
      println(s"[shape:topk] dir=$dir rows=${topk.rows} groups=${topk.groups} " +
        s"maxRowsPerGroup=${topk.maxRowsPerGroup} " +
        s"cutover=${sd.TopKRowsPerGroupCutover} " + // r16: topk's own dial
        s"choice=${sd.decideByRows(topk, sd.TopKRowsPerGroupCutover)}")

      // q142's construction: the exact join's pair-space estimate, priced
      // for the verify shape it would take, against the warn budget. The
      // receipt shows where the candidate shuffle enters the pair-bound
      // regime, where a caller would choose Dedup.lshVerifiedPairs.
      val docs = graft.io.Tables.table(spark, dir, "documents")
      val (_, stoks, prefix, blocks) = graft.dedup.Dedup.prefixCandidates(
        docs, "doc_id", "text", 1, 2, shingleN = 3)
      val vp = graft.dedup.Dedup.planVerify(stoks, prefix)
      graft.dedup.Checkpoints.release(blocks)
      val warn = graft.dedup.Dedup.DefaultPairShuffleWarnBytes
      println(f"[shape:ssjoin] dir=$dir estPairs=${vp.estPairs}%.4g " +
        f"avgTokensPerDoc=${vp.avgSz}%.1f broadcastShape=${vp.takeBroadcast} " +
        f"estShuffleBytes=${vp.estShuffle}%.4g warnBytes=$warn " +
        s"pairBound=${vp.estShuffle > warn}")
    }
    spark.stop()
  }
}
