package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** AQE skew-join engagement on a planted-skew fixture — the runtime
  * re-plan path that complements [[graft.ops.CoreOps.saltedJoin]]:
  *
  *   - AQE splits a skewed SHUFFLE-JOIN partition at runtime (the hot
  *     key's blocks are read by several tasks, each joined against a
  *     replicated copy of the other side) — no code change, engages from
  *     map-output statistics.
  *   - saltedJoin is still needed where AQE's skew handling cannot reach:
  *     skewed GROUP-BY keys (AQE skew handling is join-only; a hot
  *     aggregation key needs the two-phase salt+merge shape), bucketed /
  *     pre-partitioned joins (no shuffle to re-read, so nothing to
  *     split), and stream-stream joins (no runtime stats). SCALE.md
  *     carries the decision table; q65 proves the salted path's
  *     semantics.
  */
class SkewJoinSpec extends SparkSpec {

  test("AQE splits the planted skewed partition; results equal the unsplit join") {
    // half of 200k rows land on key 0 → one shuffle partition dwarfs the
    // rest; thresholds are tuned down so test-sized data crosses them the
    // same way production data crosses the 256MB default
    def big = spark.range(0, 200000).select(
      when(col("id") % 2 === 0, lit(0L)).otherwise(col("id")).as("k"),
      col("id").as("payload"))
    def dim = spark.range(0, 5000).select(col("id").as("k"), (col("id") * 2).as("w"))

    // plain (no skew handling) reference row count
    var plainCount = -1L
    withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      plainCount = big.join(dim, Seq("k")).count()
    }

    withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "128k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = big.join(dim, Seq("k"))
      // collect() runs `joined`'s OWN QueryExecution — a count() would
      // execute a different (aggregated) plan and leave this one
      // un-finalized, hiding the AQE re-plan we're asserting on
      val skewCount = joined.collect().length.toLong
      assert(skewCount == plainCount,
        s"skew split must preserve join semantics: $skewCount vs $plainCount")
      // query stages encapsulate their subtrees (collect can't traverse
      // into a QueryStageExec), so assert on the finalized plan's string:
      // the join must carry the skew marker and the shuffle read must
      // report split partitions
      val finalPlan = (joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p                        => p
      }).toString
      assert(finalPlan.contains("SortMergeJoin"), s"fixture must shuffle-join:\n$finalPlan")
      assert(finalPlan.contains("SortMergeJoin(skew=true)"),
        s"AQE must mark the join skew-handled:\n${finalPlan.take(2000)}")
      assert(finalPlan.contains("AQEShuffleRead coalesced and skewed") ||
             finalPlan.contains("AQEShuffleRead skewed"),
        s"AQEShuffleRead must show skewed splits:\n${finalPlan.take(2000)}")
    }
  }
}
