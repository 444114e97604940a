package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stat-driven selection between graft's bit-identical DUAL SHAPES —
  * the round-14 productization of what SCALE.md previously documented
  * as manual dials:
  *
  *  1. ranking family — [[CoreOps.windowRankFunctions]] (one exchange,
  *     each group through one task's sort) vs
  *     [[CoreOps.groupedRankFunctions]] (range partition + bookkeeping
  *     broadcast; flat per-task work at any group size, pays a
  *     checkpoint). Committed A/B (tools/bench_r13/AB_q53_forms.txt):
  *     crossover at ~2M rows/group, window 4-6× growth above it.
  *  2. percentiles — the buffering `percentile(...)` aggregate (one
  *     (distinct value → count) entry per group in ONE task at merge,
  *     ~50 B each) vs [[CoreOps.rankedPercentiles]] (order statistics,
  *     no group-sized buffer). The q36 rule: buffer while max distinct
  *     values per group ≲ 10⁷ (≈ 500 MB single-task state).
  *  3. top-k per group — the row_number window filter vs the
  *     `topk_structs` bounded heap (≤ k rows of aggregation state per
  *     group at every node of the partial/merge tree).
  *
  * Selection inputs, in priority order:
  *  - an explicit per-call override (`force`) — the old manual dial;
  *  - caller-supplied statistics (`stats`), used as-is;
  *  - catalog/CBO statistics when the optimized plan carries a row
  *    count and distinct counts for the group columns (ANALYZE'd
  *    tables; zero probe cost). Catalog stats see AVERAGES, not skew —
  *    so the dials trust them only when decisive under
  *    [[CatalogSkewHeadroom]] ([[trustCatalog]]): an average within
  *    headroom× below the cutover falls through to the exact probe
  *    instead of silently window-shaping a skewed table;
  *  - else ONE probe aggregation: `groupBy(group).count()` reduced to
  *    (rows, groups, max rows per group) — a map-side-combined hash
  *    aggregate plus a bookkeeping-sized second stage, scale-safe at
  *    any corpus size and exact on the statistic that actually
  *    matters (the LARGEST group, which is what straggles).
  *
  * Both sides of every dial are bit-identical (Round12/13/14Spec pins
  * + the q36/q166 and q53/q170 driver-query pairs under shared DuckDB
  * oracles), so dispatch can never change values — only plan shape.
  * The cutovers are constants from those A/Bs; a caller who knows its
  * distribution passes `force` or `stats` per call.
  */
object ShapeDispatch {

  sealed trait Shape
  /** many small groups: plain window / buffering aggregate. */
  case object WindowShape extends Shape
  /** few huge groups: ranged ranks / order-statistic percentiles / heap. */
  case object RangedShape extends Shape

  /** Group-cardinality statistics driving the dispatch. `maxRowsPerGroup`
    * is exact from the probe, an average (rows/groups, rounded up) from
    * catalog stats; `maxDistinctPerGroup` additionally bounds the
    * percentile buffer (Long.MaxValue = unknown → fall back to
    * maxRowsPerGroup, which always bounds it from above).
    */
  final case class GroupStats(rows: Long, groups: Long,
                              maxRowsPerGroup: Long,
                              maxDistinctPerGroup: Long,
                              source: String) {
    def distinctBound: Long =
      math.min(maxDistinctPerGroup, maxRowsPerGroup)
  }

  /** rows-per-group cutover for the ranking and equi-depth dials — the
    * committed 3-scale q53 A/B (crossover at sf1 ≈ 2M rows/group). */
  val RowsPerGroupCutover: Long = 2L * 1000 * 1000

  /** distinct-values-per-group cutover for the percentile dial — the
    * q36 Scaladoc rule (~50 B per distinct value of single-task
    * aggregation buffer at merge: 10⁷ ≈ 500 MB, the practical ceiling). */
  val DistinctPerGroupCutover: Long = 10L * 1000 * 1000

  /** rows-per-group cutover for the TOP-K dial specifically. The top-k
    * heap has no exchange, no checkpoint and ≤ k rows of state per
    * group at every node — structurally cheaper than the ranked rank
    * shape whose 2M constant it used to borrow — and the r16 boundary
    * receipt (tools/bench_r16/AB_TOPK_BOUNDARY.txt: 4 groups, k=10,
    * 1M/2M/4M/8M rows per group, after the TopKBuffer copy-gate fix)
    * measures the heap at parity at 1M and 2.4–3.1× faster from 2M up
    * while the window form grows with group size. 1M: strict `>` keeps
    * small-group frames on the one-exchange window sort, engages the
    * heap from the first scale where it measurably wins. */
  val TopKRowsPerGroupCutover: Long = 1000L * 1000

  /** Upper bound on k for the AUTO top-k heap: the heap holds k rows PER
    * GROUP per task, so a `k = 50_000_000` must keep WindowExec's sort
    * (which spills) rather than pin groups × k rows in memory. 1M ≈ tens
    * of MB per group at typical row widths. */
  val MaxK: Long = 1000L * 1000

  /** Catalog stats see AVERAGES, not skew — their maxRowsPerGroup is
    * ⌈rows/groups⌉. The r14 ADVICE scenario: an ANALYZE'd table with one
    * dominant group averages below the cutover, auto-picks WindowShape,
    * and recreates the single-task giant-group sort the dispatcher
    * exists to prevent — silently, and ONLY on ANALYZE'd tables. The
    * guard: trust the catalog only when its answer would survive this
    * much multiplicative skew on the window side (estimate × headroom
    * still under the cutover), or when it already mandates the ranged
    * shape (an average above the cutover means the max is above it too —
    * skew only strengthens that verdict). In the undecided band the
    * exact probe runs, same as on un-ANALYZE'd tables. */
  val CatalogSkewHeadroom: Long = 10L

  /** The ranking/top-k predicate, pure and spec-testable: the ranged
    * shape exactly when the largest group outruns the cutover. */
  def decideByRows(stats: GroupStats, cutover: Long): Shape =
    if (stats.maxRowsPerGroup > cutover) RangedShape else WindowShape

  /** The percentile predicate: the buffering aggregate is safe while
    * the largest group's DISTINCT value count fits one task's buffer. */
  def decideByDistinct(stats: GroupStats, cutover: Long): Shape =
    if (stats.distinctBound > cutover) RangedShape else WindowShape

  /** The catalog-trust predicate (pure, spec-pinned): a skew-blind
    * average `statValue` is decisive when it already exceeds the
    * cutover (max ≥ average, so the ranged verdict can only be right)
    * or sits at least `headroom`× below it (the window verdict survives
    * headroom-fold skew). Anywhere in between → probe. */
  def trustCatalog(statValue: Long, cutover: Long, headroom: Long): Boolean =
    statValue > cutover || statValue <= cutover / math.max(headroom, 1L)

  /** Catalog/CBO statistics, when the optimized plan carries them:
    * rowCount plus a distinct count for EVERY group column (missing
    * any → None → probe). groups = min(∏ distinct, rows) — the
    * standard independence estimate; maxRowsPerGroup = ⌈rows/groups⌉
    * (an average: catalog stats cannot see skew — documented trade).
    * maxDistinctPerGroup is bounded by the value columns' GLOBAL
    * distinct counts (the q36 shape spans l_quantity AND
    * l_extendedprice): the MAX over them — the worst single-column
    * buffer governs — and unknown (Long.MaxValue) if ANY value column
    * lacks catalog stats, since the unknown column might be the worst.
    */
  def catalogStats(df: DataFrame, groupCols: Seq[String],
                   valueCols: Seq[String] = Nil): Option[GroupStats] = {
    val st = df.queryExecution.optimizedPlan.stats
    val byName = st.attributeStats.toSeq
      .map { case (attr, cs) => attr.name -> cs }.toMap
    for {
      rc <- st.rowCount
      if rc > 0
      distincts <- {
        val ds = groupCols.map(c => byName.get(c).flatMap(_.distinctCount))
        if (ds.forall(_.isDefined)) Some(ds.map(_.get)) else None
      }
    } yield {
      val prod = distincts.product.max(BigInt(1))
      val groups = prod.min(rc)
      val maxPer = ((rc + groups - 1) / groups).toLong
      val vDistincts = valueCols
        .map(v => byName.get(v).flatMap(_.distinctCount).map(_.toLong))
      val vDistinct =
        if (vDistincts.isEmpty || vDistincts.exists(_.isEmpty)) Long.MaxValue
        else vDistincts.flatten.max
      GroupStats(rc.toLong, groups.toLong, maxPer, vDistinct, "catalog")
    }
  }

  /** ONE probe pass: per-group counts (hash aggregate, map-side
    * combined) reduced to (rows, groups, max rows per group) — and,
    * when `valueCols` are given, the max per-group
    * `approx_count_distinct` of the worst value column (±2%, HLL state
    * per group; the sketches ride the same hash aggregate), the exact
    * statistic the percentile dial needs. Cost: one column-pruned scan
    * + a bookkeeping-sized second stage — the insurance premium against
    * shipping a 33 TB group into one task.
    */
  def probeStats(df: DataFrame, groupCols: Seq[String],
                 valueCols: Seq[String] = Nil): GroupStats = {
    val dCol = valueCols.map(v => approx_count_distinct(col(v))) match {
      case Seq()    => lit(0L)
      case Seq(one) => one
      case many     => greatest(many: _*)
    }
    val per = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), dCol.as("__d"))
    val r = per.agg(sum(col("__n")), count(lit(1)), max(col("__n")),
      max(col("__d"))).head()
    GroupStats(
      rows = if (r.isNullAt(0)) 0L else r.getLong(0),
      groups = r.getLong(1),
      maxRowsPerGroup = if (r.isNullAt(2)) 0L else r.getLong(2),
      maxDistinctPerGroup =
        if (valueCols.isEmpty || r.isNullAt(3)) Long.MaxValue else r.getLong(3),
      source = "probe")
  }

  /** [[guardedStats]]' probe memo, always on. The probe is a full
    * column-pruned scan; without the memo every auto dial invocation on
    * the same input re-pays it (the r15 sf10 cell measured ~13s of a
    * 41s query — real money at 100×). File overwrites under an
    * unchanged plan invalidate STRUCTURALLY since r17
    * ([[inputFingerprint]] is part of the key), and [[invalidateStats]]
    * drops one entry (a stale entry can only mis-pick the SHAPE — both
    * sides of every dial are bit-identical, so values never change).
    *
    * Keyed by the ANALYZED plan's canonical semantic hash + the
    * file-leaf fingerprint ([[inputFingerprint]] — overwrites
    * re-probe structurally) + the probed columns, session-scoped (the
    * star/PQ-index lifecycle: entries die with the session, evicted by
    * the context listener). A semantic-hash collision would serve
    * another input's stats — the blast radius is a wrong plan SHAPE,
    * never a wrong value (the dual-shape contract), the same trust
    * level the dials already extend to catalog averages. Released with
    * the other session caches (`QueryCatalog.sessionCaches`, after the
    * last query whose declaration names it): its keys are plans, not
    * directories, so the release drops the session's whole memo. */
  private[graft] val statsCache =
    graft.util.SessionScoped.cache[GroupStats]("shapeStats", _ => ())

  /** Probe invocations since JVM start (spec surface: Round16Spec pins
    * that a second auto-dial call on the same input runs ZERO probes). */
  private[graft] val probeInvocations = new java.util.concurrent.atomic.AtomicLong

  /** Fingerprint of the plan's file-source leaves: per leaf the file
    * count, total bytes, max modificationTime and a hash of the file
    * paths — all read from the FileIndex's ALREADY-CACHED listing (the
    * plan paid it at analysis; this is a driver-side fold over file
    * statuses, no filesystem calls). Folding this into [[statsCacheKey]]
    * makes the memo's staleness STRUCTURAL (r16 VERDICT advisory #1):
    * overwriting the input files under a semantically unchanged plan
    * changes the fingerprint (new part-file UUIDs at minimum), so the
    * next auto-dial call re-probes instead of serving stale stats.
    * Non-file leaves (in-memory relations, streaming sources)
    * contribute nothing — their stats cannot go stale under the same
    * plan. The "no filesystem calls" claim is enforced structurally
    * (r17 ADVICE): only PartitioningAwareFileIndex (whose `allFiles()`
    * serves the cached listing paid at analysis) is fingerprinted;
    * any other FileIndex subtype (e.g. CatalogFileIndex, which would
    * run a full partition listing per call) contributes a constant —
    * those callers get the pre-r17 behavior (memo keyed on plan
    * semantics only, `invalidateStats()` for overwrites). Paths are
    * hashed order-insensitively (r17 ADVICE: listing order is not a
    * staleness signal; a re-list in a different order must not
    * re-probe). The residual caveat is Spark's own: a caller reusing
    * the SAME DataFrame object across an overwrite reads through its
    * cached FileIndex listing (stale scan AND stale fingerprint) until
    * `spark.catalog.refreshByPath` — an engine-wide Spark contract,
    * not a memo one. */
  private[graft] def inputFingerprint(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
    def fpOf(idx: FileIndex): String = idx match {
      case p: PartitioningAwareFileIndex =>
        val fs = p.allFiles()
        val mt = if (fs.isEmpty) 0L else fs.iterator.map(_.getModificationTime).max
        val ph = scala.util.hashing.MurmurHash3.unorderedHash(
          fs.iterator.map(_.getPath.toString))
        s"${fs.size}:${fs.iterator.map(_.getLen).sum}:$mt:$ph"
      case _ => "nocache" // no cached listing: never pay a live list per memo lookup
    }
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => fpOf(h.location)
        case _                   => ""
      }
      case d: DataSourceV2Relation => d.table match {
        case ft: FileTable => fpOf(ft.fileIndex)
        case _             => ""
      }
    }.filter(_.nonEmpty).mkString(";")
  }

  private[graft] def statsCacheKey(df: DataFrame, groupCols: Seq[String],
                                   valueCols: Seq[String]): String =
    s"${df.queryExecution.analyzed.semanticHash()}|f=${inputFingerprint(df)}" +
      s"|g=${groupCols.mkString(",")}|v=${valueCols.mkString(",")}"

  /** Drop the memoized probe entry for exactly this (input plan,
    * columns) — for a caller who mutated an input mid-session and wants
    * that ONE entry re-probed (r16 ADVICE). A no-op when no entry
    * exists. File overwrites are already invalidated structurally
    * by [[inputFingerprint]]; this covers the rest (e.g. an appended
    * in-place mutation the caller knows about before re-reading). */
  def invalidateStats(df: DataFrame, groupCols: Seq[String],
                      valueCols: Seq[String] = Nil): Unit =
    statsCache.invalidate(df.sparkSession,
      statsCacheKey(df, groupCols, valueCols))

  /** The stats source the auto dials use: catalog stats ONLY when
    * [[trustCatalog]] holds for the statistic the dial decides on
    * (rows-per-group, or the distinct bound when `byDistinct`),
    * else the exact probe, memoized per (session, plan, columns). */
  def guardedStats(df: DataFrame, groupCols: Seq[String],
                   valueCols: Seq[String], cutover: Long,
                   byDistinct: Boolean): GroupStats =
    catalogStats(df, groupCols, valueCols) match {
      case Some(cs) if trustCatalog(
          if (byDistinct) cs.distinctBound else cs.maxRowsPerGroup,
          cutover, CatalogSkewHeadroom) => cs
      case _ =>
        statsCache.getOrElseUpdate(df.sparkSession,
            statsCacheKey(df, groupCols, valueCols)) {
          probeInvocations.incrementAndGet()
          probeStats(df, groupCols, valueCols)
        }
    }

  /** The shape decision all four dials share: the caller's `force`,
    * else its `stats`, else [[guardedStats]] — judged against `cutover`
    * on the distinct bound when `byDistinct`, else on rows per group. */
  private def decide(df: DataFrame, groupCols: Seq[String],
                     valueCols: Seq[String], cutover: Long,
                     byDistinct: Boolean, stats: Option[GroupStats],
                     force: Option[Shape]): Shape =
    force.getOrElse {
      val st = stats.getOrElse(
        guardedStats(df, groupCols, valueCols, cutover, byDistinct))
      if (byDistinct) decideByDistinct(st, cutover) else decideByRows(st, cutover)
    }

  // ---- dial 1: the ranking family ------------------------------------------

  /** [[CoreOps.groupedRankFunctions]] with the shape CHOSEN by the
    * engine: `windowRankFunctions` when every group fits a task,
    * the ranged bookkeeping form when the largest group outruns
    * [[RowsPerGroupCutover]] (2M — the committed q53 crossover).
    * Identical output columns and values either way (spec-pinned);
    * `force` or `stats` for callers who know their distribution.
    */
  def rankFunctionsAuto(df: DataFrame, groupCols: Seq[String],
                        peerCols: Seq[String], tieCols: Seq[String],
                        stats: Option[GroupStats] = None,
                        force: Option[Shape] = None): DataFrame =
    decide(df, groupCols, Nil, RowsPerGroupCutover, byDistinct = false,
        stats, force) match {
      case WindowShape =>
        CoreOps.windowRankFunctions(df, groupCols, peerCols, tieCols)
      case RangedShape =>
        CoreOps.groupedRankFunctions(df, groupCols, peerCols, tieCols)
    }

  // ---- dial 2: exact per-group percentiles ---------------------------------

  /** One value column's percentile requests for [[percentilesAuto]]. */
  final case class PercentileSpec(valueCol: String, ps: Seq[Double],
                                  outCols: Seq[String]) {
    require(ps.nonEmpty && ps.length == outCols.length,
      "one output column name per percentile")
    // fail loud like CoreOps.rankedPercentiles' own require: an
    // out-of-range p would put __pos outside [0, n-1], miss both
    // rank-lookup joins, null the pivoted column and silently drop
    // every group through the keep filter (r16 ADVICE)
    require(ps.forall(p => p >= 0.0 && p <= 1.0), s"percentiles in [0,1]: $ps")
  }

  /** Exact per-group percentiles with the shape CHOSEN by the engine:
    * the buffering aggregate while the largest group's distinct-value
    * count fits one task's merge buffer ([[DistinctPerGroupCutover]],
    * 10⁷ — the q36 rule), else [[CoreOps.rankedPercentiles]]. One
    * decision spans every value column (the q36 shape: quantity p50/p90
    * + price p99 in one call); the probe measures the WORST column's
    * per-group `approx_count_distinct`, still in one aggregation pass,
    * and catalog stats bound it by the columns' global distinct counts.
    * Window shape: ONE buffering aggregate computes every requested
    * percentile in a single pass — q36's historical plan. Ranged shape:
    * one [[CoreOps.rankedPercentiles]] pass per value column,
    * inner-joined on the group keys — q166's plan. Contract either way:
    * one row per group with ≥ 1 non-null value in EVERY value column
    * (the buffer form drops the aggregate's null outputs; the ranked
    * form's inner join drops the same groups — a group all-null in one
    * column has no order statistics there).
    */
  def percentilesAuto(df: DataFrame, groupCols: Seq[String],
                      specs: Seq[PercentileSpec],
                      stats: Option[GroupStats] = None,
                      force: Option[Shape] = None): DataFrame = {
    require(specs.nonEmpty, "at least one percentile spec")
    decide(df, groupCols, specs.map(_.valueCol), DistinctPerGroupCutover,
        byDistinct = true, stats, force) match {
      case WindowShape =>
        val aggs = specs.flatMap(sp => sp.ps.zip(sp.outCols).map {
          case (p, o) => percentile(col(sp.valueCol), lit(p)).as(o) })
        val keep = specs.map(sp => col(sp.outCols.head).isNotNull)
          .reduce(_ && _)
        df.groupBy(groupCols.map(col): _*)
          .agg(aggs.head, aggs.tail: _*)
          .filter(keep)
      case RangedShape =>
        // one rankedPercentiles pass per value column + join — MEASURED
        // as the right shape (r16): each pass's scan is column-pruned,
        // so the per-column "duplicated upstream" costs ~nothing on
        // columnar inputs; a melted one-exchange alternative moved the
        // same shuffle bytes (+6%) and the same scan bytes (+8%) while
        // only halving the job count (tools/bench_r16/
        // AB_MULTIPCT_FUSION.txt). The reduce-join is NULL-SAFE on the
        // group keys (r16 ADVICE): a USING join drops null-key groups,
        // but groupBy keeps them — the buffered sibling emits the
        // null-key group, so the ranged form must too.
        specs.map(sp => CoreOps.rankedPercentiles(df, groupCols,
            sp.valueCol, sp.ps, sp.outCols))
          .reduce { (a, b) =>
            val r = b.select(groupCols.map(c => col(c).as(s"__rg_$c")) ++
              b.columns.filterNot(groupCols.contains).map(col): _*)
            val cond = groupCols.map(c => a(c) <=> r(s"__rg_$c")).reduce(_ && _)
            a.join(r, cond).drop(groupCols.map(c => s"__rg_$c"): _*)
          }
    }
  }

  /** [[CoreOps.equiDepthHistogram]] with `rangedRanks` CHOSEN by the
    * engine — the same rows-per-group predicate as the ranking dial
    * (the histogram's rank pass is exactly that dial: a per-group
    * window sort vs groupedRowNumber). Output bit-identical either way
    * (Round12Spec pins the two forms on q129's shape).
    */
  def equiDepthHistogramAuto(df: DataFrame, groupCols: Seq[String],
                             valueCol: String, tieCols: Seq[String],
                             buckets: Int,
                             stats: Option[GroupStats] = None,
                             force: Option[Shape] = None): DataFrame = {
    val shape = decide(df, groupCols, Nil, RowsPerGroupCutover,
      byDistinct = false, stats, force)
    CoreOps.equiDepthHistogram(df, groupCols, valueCol, tieCols, buckets,
      rangedRanks = shape == RangedShape)
  }

  // ---- dial 3: top-k per group ---------------------------------------------

  /** Top-k rows per group by `orderCols` ascending (encode DESC by
    * negating/inverting the column upstream — the q71 convention),
    * with the shape CHOSEN by the engine:
    *
    *  - window `row_number() ≤ k` when groups are small (one exchange,
    *    group-sized sorts);
    *  - the `topk_structs` bounded heap when the largest group outruns
    *    [[TopKRowsPerGroupCutover]] (1M — the r16 boundary receipt,
    *    this dial's OWN constant since r16: the heap measured 2.4–3.1×
    *    faster from 2M rows/group up once the copy-gate fix landed, and
    *    it has no checkpoint to amortize): ≤ k rows of aggregation
    *    state per group at every node, never a group-sized sort. The
    *    auto decision additionally refuses to heap a k above [[MaxK]]
    *    (O(k) inserts and groups×k state stop being "bounded" there —
    *    WindowExec's spillable sort is the safe shape); a forced shape
    *    is the caller's own sizing and bypasses the guard.
    *
    * Output: the input columns + `rnCol` (int, 1-based). Identical
    * multisets whenever (orderCols) is a total order within each group
    * — with ties both forms carry row_number's declared
    * nondeterminism (the same contract, stated not hidden).
    */
  def topKPerGroupAuto(df: DataFrame, groupCols: Seq[String],
                       orderCols: Seq[String], k: Int,
                       rnCol: String = "rn",
                       stats: Option[GroupStats] = None,
                       force: Option[Shape] = None): DataFrame = {
    require(k > 0, "k must be positive")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    require(!df.columns.contains(rnCol),
      s"topKPerGroupAuto: input already carries $rnCol")
    // a group column is constant within its group — ordering by it is
    // meaningless, and the ranged shape's packed struct would collide
    // with the group key on restore. Reject it in BOTH shapes so the
    // two can never diverge structurally on this edge (r14 ADVICE).
    require(orderCols.intersect(groupCols).isEmpty,
      s"topKPerGroupAuto: orderCols ${orderCols.mkString(",")} must not " +
        s"overlap groupCols ${groupCols.mkString(",")}")
    // the AUTO decision never heaps a huge k (O(k) insert, groups×k
    // state); an explicit force is the caller's own sizing and is
    // honored either way. k > MaxK decides
    // WindowShape unconditionally, so short-circuit BEFORE touching
    // stats — a cold memo would otherwise pay a full probe scan whose
    // result is predetermined to be ignored (r16 ADVICE).
    (if (force.isEmpty && k > MaxK) WindowShape
     else decide(df, groupCols, Nil, TopKRowsPerGroupCutover,
       byDistinct = false, stats, force)) match {
      case WindowShape =>
        val w = Window.partitionBy(groupCols.map(col): _*)
          .orderBy(orderCols.map(c => asc(c)): _*)
        df.withColumn(rnCol, row_number().over(w)).filter(col(rnCol) <= k)
      case RangedShape =>
        // struct field order encodes the sort (structs compare
        // field-by-field): (order…, rest…) ascending == the window's
        // ORDER BY; payload columns ride along and are restored after
        val rest = df.columns.filterNot(groupCols.contains).toSeq
        val packed = df.groupBy(groupCols.map(col): _*)
          .agg(graft.functions.TopKStructs.topk_structs(
            struct((orderCols ++ rest.filterNot(orderCols.contains))
              .map(col): _*), k).as("__tk"))
        val restAll = orderCols ++ rest.filterNot(orderCols.contains)
        packed
          .select(groupCols.map(col) :+ posexplode(col("__tk")): _*)
          .select(groupCols.map(col) ++
            restAll.map(c => col(s"col.$c").as(c)) :+
            (col("pos") + 1).cast("int").as(rnCol): _*)
          // restore the input column order
          .select(df.columns.toSeq.map(col) :+ col(rnCol): _*)
    }
  }
}
