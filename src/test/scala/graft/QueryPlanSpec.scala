package graft

import graft.queries.QueryCatalog

/** Plan-shape assertions for the round-2 breadth queries — the properties
  * that keep them viable at 100 TB, asserted on the executed plan so a
  * refactor can't silently regress them.
  */
class QueryPlanSpec extends SparkSpec {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan.toString
  }

  private def windowNodes(plan: String): Int =
    "(?m)^\\s*[+:*-]*\\s*Window\\b".r.findAllIn(plan).size

  test("q165 fact scan carries a DYNAMIC partition-pruning filter fed by " +
       "the filtered dim (reads months, not the decade)") {
    val df = QueryCatalog.dppStarScan(spark, sf)
    // execute the frame's OWN QueryExecution (a write plans a fresh one,
    // leaving these metrics unfilled)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the partitioned parquet scan must carry a dynamicpruning partition
    // filter on ym — a scan enumerating all partitions statically is the
    // unpruned-layout trap a 100 TB reader dies on
    assert(plan.contains("dynamicpruning"),
      s"fact scan has no dynamic partition filter:\n${plan.take(2500)}")
    assert(plan.contains("PartitionFilters"),
      s"fact scan has no partition filters at all:\n${plan.take(2500)}")
    // and it must actually prune: selected partitions < total ym months.
    // AQE hides query-stage subtrees from collect — descend explicitly.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec        => scans(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val pruned = scans(df.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("ym"))
      .map(_.metrics("numPartitions").value)
    assert(pruned.nonEmpty && pruned.forall(n => n > 0 && n <= 12),
      s"expected <= 12 selected ym partitions, got $pruned")
  }

  test("q165 steady state: the partitioned fact layout is written once per " +
       "session — a second scan reuses it byte-for-byte") {
    // the fill/steady split (VERDICT r11 item 4): ~90% of q165's bench
    // cost is the ONE-TIME partitioned rewrite of the fact into ym=
    // directories; every later invocation must hit the session-cached
    // path with NO write job. Pinned by snapshotting the layout's files
    // (path, size, mtime) around a second run — dynamic partition
    // overwrite would rewrite the selected partitions' files.
    val first = QueryCatalog.dppStarScan(spark, sf)
    first.collect() // fill (or reuse, if the suite order ran the test above first)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec        => scans(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val roots = scans(first.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("ym"))
      .flatMap(_.relation.location.rootPaths.map(_.toUri.getPath))
    assert(roots.nonEmpty, "q165 plan exposes no partitioned fact scan")
    import scala.jdk.CollectionConverters._
    def snapshot(): Map[String, (Long, Long)] = roots.flatMap { root =>
      val base = java.nio.file.Paths.get(root)
      val it = java.nio.file.Files.walk(base)
      try it.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString ->
          (java.nio.file.Files.size(p),
           java.nio.file.Files.getLastModifiedTime(p).toMillis)).toList
      finally it.close()
    }.toMap
    val before = snapshot()
    val second = QueryCatalog.dppStarScan(spark, sf)
    second.collect()
    assert(snapshot() == before,
      "second q165 invocation rewrote the partitioned layout — the " +
      "session cache must serve the steady state")
    // and the steady-state scan still prunes
    val pruned = scans(second.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("ym"))
      .map(_.metrics("numPartitions").value)
    assert(pruned.nonEmpty && pruned.forall(n => n > 0 && n <= 12),
      s"steady-state scan lost partition pruning: $pruned")
  }

  test("q40 cube plans ONE Expand (grouping-sets lattice in a single pass)") {
    val plan = executedPlan(QueryCatalog.cubeReport(spark, sf))
    assert("(?m)^.*Expand".r.findAllIn(plan).size == 1, s"expected one Expand:\n${plan.take(1500)}")
  }

  test("q44 decontamination joins grams hash-equi, never nested-loop") {
    val plan = executedPlan(QueryCatalog.decontamination(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair space must come from the gram equi-join:\n${plan.take(1500)}")
  }

  test("q42 tf-idf: only the 1-row corpus count crosses; gram joins are hash joins") {
    val df = QueryCatalog.tfidfTopTerms(spark, sf)
    val plan = executedPlan(df)
    // the deliberate broadcast of the single-row N — anything nested-loop
    // beyond that one is a regression
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nested <= 1, s"unexpected nested-loop joins ($nested):\n${plan.take(1500)}")
    assert(plan.contains("HashJoin") || plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"tf→df join should be an equi join:\n${plan.take(1500)}")
  }

  test("q46 as-of join: one shuffle on the key, no nested-loop despite the ts inequality") {
    val plan = executedPlan(QueryCatalog.asofEventsOrders(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of must not theta-join:\n${plan.take(1500)}")
    // the union + window construction shuffles the combined stream once
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one key shuffle, got $exchanges:\n${plan.take(1500)}")
  }

  test("q47 range join: bucketed equi join, no nested-loop despite the interval predicate") {
    val plan = executedPlan(QueryCatalog.rangeJoinOrderLines(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"interval predicate must ride the bucket equi-join:\n${plan.take(1500)}")
  }

  test("q45 profiler: distincts and plain stats are separate aggs; the Expand feeds a hash agg") {
    val plan = executedPlan(QueryCatalog.columnProfile(spark, sf))
    // the deliberate two-aggregation shape, crossed on single rows
    assert(plan.contains("Cross"), s"expected the two-agg cross join:\n${plan.take(1500)}")
    // and the distinct-rewrite's expanded rows must aggregate by HASH —
    // the regression guarded here is Expand→SortAggregate (the 8-10s shape
    // when string min/max shares the aggregate with the distincts; the
    // plain-stats branch alone may sort, it sees raw rows once)
    val lines = plan.linesIterator.toVector
    val expandIdx = lines.indexWhere(_.contains("Expand"))
    assert(expandIdx > 0, s"expected an Expand for the multi-distinct:\n${plan.take(1500)}")
    assert(lines(expandIdx - 1).contains("HashAggregate"),
      s"Expand must feed a HashAggregate, got: ${lines(expandIdx - 1)}")
  }

  test("q65 salted join: the salt rides an equi join, never a nested loop") {
    val plan = executedPlan(QueryCatalog.saltedJoinAgg(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"salted join must stay equi on (key, salt):\n${plan.take(1500)}")
  }

  test("q70 OOV: vocab is a top-K (TakeOrdered) that broadcasts back against the tokens") {
    val plan = executedPlan(QueryCatalog.oovRate(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab cutoff must be a top-K, not a global sort:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 16-row vocab must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"), s"no cross join:\n${plan.take(1500)}")
  }

  test("q63 histogram: only the deliberate 1-row stats broadcast crosses") {
    val plan = executedPlan(QueryCatalog.valueHistogram(spark, sf))
    // crossJoin(broadcast(1-row min/max)) IS a BroadcastNestedLoopJoin —
    // that one is the design; any second one is a regression
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nested <= 1, s"unexpected nested-loop joins ($nested):\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"), s"stats side must broadcast:\n${plan.take(1500)}")
  }

  test("q96 source overlap: gram self-join is hash-equi; only the S-row size cross nests") {
    val plan = executedPlan(QueryCatalog.sourceOverlap(spark, sf))
    // the sources×sources pair frame (S rows each side) is the one
    // deliberate nested-loop; the gram-key intersection must never be
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nested <= 1, s"unexpected nested-loop joins ($nested):\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n${plan.take(1500)}")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"gram intersection must be an equi join:\n${plan.take(1500)}")
  }

  test("q98 prefix dups: content-hash equi join; only the tiny length-table cross nests") {
    val plan = executedPlan(QueryCatalog.prefixDups(spark, sf))
    // docs × candidate-lengths (≤ maxPrefixLen rows broadcast) is the
    // one deliberate nested-loop (len < n condition); the hash match is equi
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nested <= 1, s"unexpected nested-loop joins ($nested):\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n${plan.take(1500)}")
  }

  test("q100 containment: min-gram bucket join is equi, host check never cartesian") {
    val plan = executedPlan(QueryCatalog.containmentDups(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the gram-hash equi join:\n${plan.take(1500)}")
  }

  test("q101 join census: two partial aggs + one key co-shuffle, never the join itself") {
    val plan = executedPlan(QueryCatalog.joinCardinality(spark, sf))
    // the full-outer key merge is the ONLY row-matching operator — the
    // prospective orders⋈lineitem join must never execute
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"census must not materialize the join:\n${plan.take(1500)}")
    // both sides partial-aggregate before the key exchange (map-side
    // combine is what bounds the shuffle by |distinct keys|, not |rows|)
    assert("partial_count".r.findAllIn(plan).size >= 2,
      s"both sides must map-side combine:\n${plan.take(1500)}")
  }

  test("q107 chunk-dup profile: one documents scan feeds the whole profile") {
    val plan = executedPlan(QueryCatalog.chunkDupProfile(spark, sf))
    val scans = "(?m)Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected one documents scan, got $scans:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"chunk frequency must come from the window, not a join:\n${plan.take(1500)}")
  }

  test("q108 metric drift: corpus work is one partial agg; window rides the day series") {
    val plan = executedPlan(QueryCatalog.dailyMetricDrift(spark, sf))
    val scans = "(?m)Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected one events scan, got $scans:\n${plan.take(1500)}")
    // the distinct-users rewrite expands once; everything aggregates by
    // hash before the |days|-row window
    assert(plan.contains("HashAggregate"), s"daily metrics must hash-aggregate:\n${plan.take(1500)}")
  }

  test("q109 temperature mixture: one scan, one partial agg, totals on the source rows") {
    val plan = executedPlan(QueryCatalog.temperatureMixture(spark, sf))
    val scans = "(?m)Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected one documents scan, got $scans:\n${plan.take(1500)}")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"per-source sums must map-side combine:\n${plan.take(1500)}")
  }

  test("q95/q97 typed aggregates run as ObjectHashAggregate with partial merge") {
    val ssPlan = executedPlan(QueryCatalog.spaceSavingTokens(spark, sf))
    assert(ssPlan.contains("ObjectHashAggregate"),
      s"space_saving must run as an object hash aggregate:\n${ssPlan.take(1500)}")
    assert(ssPlan.contains("partial_space_saving"),
      s"space_saving must partial-aggregate map-side:\n${ssPlan.take(1500)}")
    // the topk_structs heap behind hard negatives likewise: k-entry
    // buffers through partial/merge, never a per-group sort
    val hnPlan = executedPlan(QueryCatalog.hardNegatives(spark, sf))
    assert(hnPlan.contains("ObjectHashAggregate"),
      s"top-k heap must run as an object hash aggregate:\n${hnPlan.take(1500)}")
    assert(!hnPlan.contains("CartesianProduct"),
      s"anchor side must broadcast:\n${hnPlan.take(1500)}")
  }

  test("q117 KMV: object hash aggregate with map-side partial state, hash in codegen projection") {
    val plan = executedPlan(QueryCatalog.kmvDistinctEstimate(spark, sf))
    assert(plan.contains("ObjectHashAggregate"),
      s"kmv_distinct must run as an object hash aggregate:\n${plan.take(1500)}")
    assert(plan.contains("partial_kmv_distinct"),
      s"KMV state must partial-aggregate map-side (O(k) per partition crosses the shuffle):\n${plan.take(1500)}")
    // the 52-bit md5 hash is computed over the DISTINCT (flag, orderkey)
    // frame (the r10 one-pass shape: KMV is set-pure, so dedup-first is
    // sketch-identical, kills the count_distinct Expand, and runs md5
    // once per distinct key). Physically the projection fuses into the
    // dedup aggregate's result expressions, so the native shows in the
    // OPTIMIZED plan; the physical plan must show the two-level shape:
    // a (flag, orderkey) HashAggregate feeding the KMV aggregate, and
    // no Expand anywhere.
    val opt = QueryCatalog.kmvDistinctEstimate(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("md5prefix52("),
      s"hash should be the codegen'd native over the distinct frame:\n${opt.take(2000)}")
    assert(plan.contains("HashAggregate(keys=[l_returnflag"),
      s"dedup-first must plan a (flag, orderkey) hash aggregate:\n${plan.take(2000)}")
    assert(!plan.contains("Expand"),
      s"the one-pass shape must not plan a count_distinct Expand:\n${plan.take(2000)}")
  }

  test("q118 outlier days: median frames broadcast, never cartesian; events scanned zero times in the final plan") {
    val plan = executedPlan(QueryCatalog.outlierDays(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"1-row median/MAD frames must broadcast:\n${plan.take(1500)}")
    // the day series is localCheckpointed once; the final plan must read
    // the materialized series, never re-scan events (was 4 scans)
    assert(!plan.contains("Scan parquet"),
      s"final plan must run off the checkpointed day series:\n${plan.take(1500)}")
  }

  test("q119 incremental merge: state join is key-equi; only the 1-row cutoff nests") {
    val plan = executedPlan(QueryCatalog.incrementalAggMerge(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"cutoff must broadcast:\n${plan.take(1500)}")
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nested <= 2, s"only the broadcast cutoff may nest (got $nested):\n${plan.take(1500)}")
    assert(plan.contains("FullOuter"),
      s"history/delta states must merge by full-outer key join:\n${plan.take(1500)}")
  }

  test("q120 PQ: codebooks/tables/queries broadcast; encode+score joins are equi, never cartesian") {
    val plan = executedPlan(QueryCatalog.pqAnnTopK(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"PQ must never form a cross pair space:\n${plan.take(1500)}")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"codebooks and ADC tables must ride broadcast hash joins:\n${plan.take(1500)}")
  }

  test("q120 PQ shortlist: bounded-heap aggregate, NOT a window over the full ADC stream") {
    val plan = executedPlan(QueryCatalog.pqAnnTopK(spark, sf))
    // the ADC stage scores every corpus vector per query; its shortlist must
    // partial-aggregate (k-entry heap state crossing the shuffle), never
    // shuffle |corpus| scored rows into one partition per query and sort.
    assert(plan.contains("topk_structs"),
      s"ADC shortlist must run through the topk_structs bounded heap:\n${plan.take(1500)}")
    // exactly two windows may remain: the encode arg-min over ksub
    // sub-centroids (bounded by codebook size) and the exact re-rank over
    // the ≤shortlist rows per query — never a third over the ADC scores
    val windows = windowNodes(plan)
    assert(windows <= 2,
      s"expected ≤2 bounded windows (encode arg-min + shortlist re-rank), got $windows:\n${plan.take(2000)}")
  }

  test("q22/q97 exact top-k: the topk_structs heap, never a window over the scored pairs") {
    for (df <- Seq(QueryCatalog.annTopK(spark, sf), QueryCatalog.hardNegatives(spark, sf))) {
      val plan = executedPlan(df)
      assert(plan.contains("topk_structs"),
        s"per-query top-k must run through the topk_structs heap:\n${plan.take(1500)}")
      assert(windowNodes(plan) == 0,
        s"no window may rank the scored pairs:\n${plan.take(2000)}")
    }
  }

  test("q128 merge / q133 diff: key-equi joins only, never cartesian or nested-loop") {
    for (df <- Seq(QueryCatalog.mergeUpsert(spark, sf),
                   QueryCatalog.snapshotDiffQuery(spark, sf))) {
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"merge/diff must stay key-equi:\n${plan.take(1500)}")
    }
  }

  test("q130 global rank: every window partitioned — no single-partition global sort") {
    val plan = executedPlan(QueryCatalog.globalRank(spark, sf))
    assert(plan.contains("windowspecdefinition(__pid"),
      s"rank window must partition by __pid:\n${plan.take(1500)}")
    // a global (unpartitioned) row_number window would print
    // windowspecdefinition(<order cols...>) with no partition column list
    assert(!"windowspecdefinition\\(l_extendedprice".r.findFirstIn(plan).isDefined,
      s"no window may sort the whole table in one partition:\n${plan.take(1500)}")
  }

  /** Every node of the AQE-final plan: query stages hide their subtrees
    * from `collect`, so walk through them. */
  private def finalNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
      case q: QueryStageExec        => finalNodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(finalNodes)
    }
  }

  test("q52 simhash near-dups: a band self-join, no object aggregate, collect_list or pair-array Generate") {
    import org.apache.spark.sql.catalyst.expressions.CreateArray
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.joins.HashJoin
    val df = QueryCatalog.simhashNearDups(spark, sf)
    df.collect() // finalizes this frame's own AdaptiveSparkPlan
    val nodes = finalNodes(df.queryExecution.executedPlan)
    val plan = df.queryExecution.executedPlan.toString
    assert(!nodes.exists(_.isInstanceOf[ObjectHashAggregateExec]),
      s"no object aggregate may collect band buckets:\n${plan.take(2500)}")
    assert(!nodes.exists(_.expressions.exists(_.find(_.isInstanceOf[CollectList]).isDefined)),
      s"no collect_list may build bucket arrays:\n${plan.take(2500)}")
    // the only Generate explodes one row's four band structs — never a
    // per-bucket pair array
    val gens = nodes.collect { case g: GenerateExec => g }
    assert(gens.forall(_.generator.children.forall(_.isInstanceOf[CreateArray])),
      s"a Generate expands something other than the band structs:\n${plan.take(2500)}")
    assert(nodes.exists(_.isInstanceOf[HashJoin]),
      s"candidate pairs must come from the band equi-join:\n${plan.take(2500)}")
  }

  test("q103 predictability buckets: no WindowExec without a partition spec") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = QueryCatalog.bigramPredictability(spark, sf)
    val plan = executedPlan(df)
    val windows = finalNodes(df.queryExecution.executedPlan).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"the rank must run as a window per range partition:\n${plan.take(2000)}")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"no window may rank every scored document in one partition:\n${plan.take(2000)}")
  }

  test("q103 predictability buckets: the scored count reads the ranked checkpoint, no bigram explode re-runs") {
    import org.apache.spark.sql.execution.GenerateExec
    val df = QueryCatalog.bigramPredictability(spark, sf)
    val plan = executedPlan(df)
    // the scoring pipeline (tokenize → explode → join) runs once, inside
    // globalRowNumber's checkpoint; everything after it reads that block
    val generates = finalNodes(df.queryExecution.executedPlan).collect { case g: GenerateExec => g }
    assert(generates.isEmpty,
      s"no Generate may survive in q103's final plan:\n${plan.take(3000)}")
  }

  test("q134 erasure cascade: key sets flow through semi joins, fact tables never cross") {
    val plan = executedPlan(QueryCatalog.erasureCascade(spark, sf))
    assert(plan.contains("LeftSemi"),
      s"cascade levels must be semi joins:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"),
      s"no level may cross:\n${plan.take(1500)}")
  }

  test("q136 TSV stats: aggregates pushed into the scan, no raw-row scan survives") {
    val df = QueryCatalog.tsvSourceStats(spark, sf)
    val plan = executedPlan(df)
    assert(plan.contains("PushedAggregates"),
      s"scan must advertise pushed aggregates:\n${plan.take(1500)}")
  }

  test("q121 calibration: one documents scan per stage, weight frame broadcasts") {
    val plan = executedPlan(QueryCatalog.classifierCalibration(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"1-row weight frame must broadcast:\n${plan.take(1500)}")
    assert(plan.contains("HashAggregate"),
      s"bucket rollup must hash-aggregate:\n${plan.take(1500)}")
  }

  test("q139 frontier: the staircase join-back broadcasts; no nested-loop dominance join") {
    val plan = executedPlan(QueryCatalog.paretoFrontier(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the NOT-EXISTS shape must never appear in the executed plan:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"frontier (x, y) set must broadcast back onto the data:\n${plan.take(1500)}")
  }

  test("q145 sliding distinct: anchors semi-join, no theta join over days") {
    val plan = executedPlan(QueryCatalog.slidingDistinct(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the BETWEEN window must ride the day fan-out equi-join:\n${plan.take(1500)}")
  }

  test("q156 sorted neighbors: rank-bucket equi-join, no window over the corpus rows") {
    val plan = executedPlan(QueryCatalog.sortedNeighborPairsQuery(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"window pairing must be the posted-bucket equi-join:\n${plan.take(1500)}")
    // the only Window is globalRowNumber's PARTITIONED local rank
    assert(!plan.contains("Window [row_number() windowspecdefinition()"),
      s"no unpartitioned window may touch the corpus:\n${plan.take(1500)}")
  }

  test("runtime bloom-filter join pruning engages on a selective shuffled join") {
    // the 100 TB join optimization beyond AQE: when one side of a
    // shuffled equi-join is selective, Spark injects a bloom filter of
    // its keys into the big side's scan, discarding non-matching rows
    // BEFORE the shuffle. Pinned here so a conf or version change can't
    // silently lose it; thresholds are tuned to test scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.io.Tables.table(spark, sf, "lineitem")
      val sel = graft.io.Tables.table(spark, sf, "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val j = li.join(sel,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") || optimized.contains("bloom_filter"),
        s"runtime bloom filter must inject into the big side:\n${optimized.take(2000)}")
      // and it must not change results vs the filter disabled
      val withBloom = j.count()
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = li.join(sel,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey")).count()
      assert(withBloom == without, "bloom pruning must be semantically invisible")
      assert(withBloom > 0, "fixture must actually join")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q157 count-min: the d-by-w counter table broadcasts to the estimate join") {
    val plan = executedPlan(QueryCatalog.countMinSketch(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"the 256-row counter table must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"estimate lookup is an equi-join on (r, b):\n${plan.take(1500)}")
  }

  test("q157 count-min: the top-20 readout is a TakeOrderedAndProject, no global window") {
    val plan = executedPlan(QueryCatalog.countMinSketch(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-20 must plan as a bounded take-ordered:\n${plan.take(2000)}")
    assert(windowNodes(plan) == 0,
      s"no single-partition window may rank every user:\n${plan.take(2000)}")
  }
}
