package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{QueryCatalog => Q, OracleCatalog}
import graft.model.Star
import graft.report.Reports

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` covers SURVEY.md §2's operator inventory (scans, projections,
  * filters, date/time, joins, aggregations, windows, top-K, checks) plus the
  * LLM-pipeline extensions (dedup, minhash/LSH, simhash, text analysis,
  * similarity search, multimodal plumbing, corpus hygiene). EVERY entry
  * carries a DuckDB oracle in [[graft.queries.OracleCatalog]] — including
  * the bit-level simhash, the hyperplane-LSH paths (constants serialized
  * into the SQL), the media byte stats, and the approx/JSON queries
  * (checked via verified contracts / typed round-trips rather than
  * engine-specific values).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full star-schema build + year/month report (reads lineitem+orders+
    * part+customer+nation, exercises surrogate keys, joins, exact distinct
    * count, money-exact sums).
    */
  def entry(spark: SparkSession): DataFrame =
    Reports.yearInvoices(spark, EntryDir)

  /** The fixture directory [[entry]] reads. */
  val EntryDir = "/root/testdata/sf0.001"

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // parity: reference operator inventory
    "q01_scan_filter_project" -> (Q.scanFilterProject(_, _)),
    // dims/fact read the session-cached materialization (Star.build) —
    // the dbt `materialized: table` analog all star consumers share
    "q02_dim_customer"        -> ((s, d) => Star.build(s, d).dimCustomer),
    "q03_dim_datetime"        -> ((s, d) => Star.build(s, d).dimDatetime),
    "q04_dim_product"         -> ((s, d) => Star.build(s, d).dimProduct),
    "q05_dim_invoice"         -> ((s, d) => Star.build(s, d).dimInvoice),
    "q06_fct_line_value"      -> ((s, d) => Star.build(s, d).fct),
    "q07_report_customer"     -> (Reports.customerInvoices(_, _)),
    "q08_report_product"      -> (Reports.productInvoices(_, _)),
    "q09_report_year"         -> (Reports.yearInvoices(_, _)),
    "q10_events_group_max"    -> (Q.eventsGroupMax(_, _)),
    "q11_events_dedup_latest" -> (Q.eventsDedupLatest(_, _)),
    "q12_events_rollup"       -> (Q.eventsRollup(_, _)),
    "q13_events_hourly"       -> (Q.eventsHourly(_, _)),
    "q31_events_sessions"     -> (Q.eventsSessions(_, _)),
    // extensions: text analysis + dedup
    "q14_exact_dedup"         -> (Q.exactDedup(_, _)),
    "q15_text_stats"          -> (Q.textStats(_, _)),
    "q16_lang_id"             -> (Q.langId(_, _)),
    "q17_fingerprint"         -> (Q.fingerprints(_, _)),
    "q18_minhash_sig"         -> (Q.minhashSig(_, _)),
    "q19_minhash_pairs"       -> (Q.minhashPairs(_, _)),
    "q20_jaccard_neighbors"   -> (Q.jaccardNeighbors(_, _)),
    // extensions: similarity search
    "q21_cosine_scores"       -> (Q.cosineScores(_, _)),
    "q22_ann_topk"            -> (Q.annTopK(_, _)),
    // checks engine
    "q23_checks_report"       -> (Q.checksReport(_, _)),
    // bit-level + LSH + media (oracles mirror the bit math / constants)
    "q24_simhash"             -> (Q.simhash(_, _)),
    "q25_lsh_ann_topk"        -> (Q.lshAnnTopK(_, _)),
    "q26_embedding_neardups"  -> (Q.embeddingNearDups(_, _)),
    "q27_media_features"      -> (Q.mediaFeatures(_, _)),
    "q28_media_frames"        -> (Q.mediaFrames(_, _)),
    // rolling-hash fingerprints + IVF ANN
    "q29_rolling_hash"        -> (Q.rollingHashes(_, _)),
    "q30_ivf_ann_topk"        -> (Q.ivfAnnTopK(_, _)),
    // flagship LLM-pipeline composition (oracle-checked)
    "q32_clean_corpus"        -> (Q.cleanCorpus(_, _)),
    // beyond-reference relational breadth (oracle-checked)
    "q33_rollup"              -> (Q.rollupReport(_, _)),
    "q34_setops_having"       -> (Q.setOpsHaving(_, _)),
    "q35_semi_anti"           -> (Q.semiAntiJoins(_, _)),
    "q36_percentiles"         -> (Q.percentiles(_, _)),
    "q37_events_pivot"        -> (Q.eventsPivot(_, _)),
    // S2→S5 CSV ingest end-to-end + scale-safe approx percentiles
    "q38_csv_ingest"          -> (Q.csvIngest(_, _)),
    "q39_approx_percentiles"  -> (Q.approxPercentiles(_, _)),
    // relational breadth: grouping-sets lattice + window frames
    "q40_cube"                -> (Q.cubeReport(_, _)),
    "q41_window_frames"       -> (Q.eventsWindowFrames(_, _)),
    // LLM-pipeline breadth: tf-idf terms + deterministic hash split
    "q42_tfidf_topterms"      -> (Q.tfidfTopTerms(_, _)),
    "q43_hash_split"          -> (Q.hashSplit(_, _)),
    // decontamination (train/heldout 8-gram overlap) + column profiler
    "q44_decontamination"     -> (Q.decontamination(_, _)),
    "q45_column_profile"      -> (Q.columnProfile(_, _)),
    // operators Spark lacks natively, composed scale-safe
    "q46_asof_join"           -> (Q.asofEventsOrders(_, _)),
    "q47_range_join"          -> (Q.rangeJoinOrderLines(_, _)),
    // repetition/boilerplate quality rule
    "q48_repetition"          -> (Q.repetitionScore(_, _)),
    // capstone: full training-corpus preparation composition
    "q49_training_corpus"     -> (Q.trainingCorpus(_, _)),
    // semi-structured path: lossless JSON pack/unpack
    "q50_json_roundtrip"      -> (Q.jsonRoundtrip(_, _)),
    // regex scrubbing / PII-style redaction
    "q51_redaction"           -> (Q.redaction(_, _)),
    // banded simhash near-dup pairs (exact recall for hamming <= 3)
    "q52_simhash_neardups"    -> (Q.simhashNearDups(_, _)),
    // ranking-function breadth (rank/dense_rank/percent_rank/cume_dist/ntile)
    "q53_rank_functions"      -> (Q.rankFunctions(_, _)),
    // near-dup pairs -> connected components -> canonical doc per cluster
    "q54_dedup_clusters"      -> (Q.dedupClusters(_, _)),
    // training-pipeline breadth: chunking / packing / sampling / reshaping
    "q55_chunking"            -> (Q.chunkDocs(_, _)),
    "q56_packing"             -> (Q.packSequences(_, _)),
    "q57_stratified_sample"   -> (Q.stratifiedSample(_, _)),
    "q58_unpivot"             -> (Q.unpivotMetrics(_, _)),
    // sketch contracts + candidate verification
    "q59_approx_distinct"     -> (Q.approxDistinctContract(_, _)),
    "q60_edit_distance"       -> (Q.editDistancePairs(_, _)),
    // semi-structured extraction from a STORED json column
    "q61_props_extract"       -> (Q.propsExtract(_, _)),
    // corpus-level n-gram frequency table (occurrences + doc freq, top-100)
    "q62_ngram_counts"        -> (Q.ngramCounts(_, _)),
    // profiling: equal-width histogram over a global min/max
    "q63_value_histogram"     -> (Q.valueHistogram(_, _)),
    // native session_window (streaming-capable) vs independent island oracle
    "q64_session_window"      -> (Q.sessionWindows(_, _)),
    // skew-salted join checked against the plain-join oracle
    "q65_salted_join"         -> (Q.saltedJoinAgg(_, _)),
    // quality-weighted deterministic (content-addressed) sampling
    "q66_weighted_sample"     -> (Q.weightedSample(_, _)),
    // per-label embedding centroids (quantized-exact portable means)
    "q67_label_centroids"     -> (Q.labelCentroids(_, _)),
    // IVF ANN over 1-iteration Lloyd-trained centroids (oracle replays training)
    "q68_ivf_trained"         -> (Q.ivfTrainedTopK(_, _)),
    // native TypedImperativeAggregate t-digest, verified rank-error contract
    "q69_tdigest_percentiles" -> (Q.tdigestPercentiles(_, _)),
    // vocab-coverage diagnostic: per-doc OOV fraction vs top-K corpus vocab
    "q70_oov_rate"            -> (Q.oovRate(_, _)),
    // balanced eval sets: exact per-stratum quota, content-addressed order
    "q71_quota_sample"        -> (Q.quotaSample(_, _)),
    // time-based RANGE window frames (trailing hour per user)
    "q72_range_frame"         -> (Q.rangeFrameCounts(_, _)),
    // double-fire suppression: gap-filter debounce per (user, type)
    "q73_debounce"            -> (Q.debounceEvents(_, _)),
    // ratio_to_report: revenue share within flag and of grand total
    "q74_revenue_share"       -> (Q.revenueShare(_, _)),
    // format breadth: JSON-lines ingest + ORC round-trip vs the original table
    "q75_json_ingest"         -> (Q.jsonIngest(_, _)),
    "q76_orc_roundtrip"       -> (Q.orcRoundtrip(_, _)),
    // join-type completion: FULL OUTER with both unmatched sides tagged
    "q77_full_outer"          -> (Q.fullOuterOrders(_, _)),
    // SCD Type-2 snapshot: change-compressed validity intervals per user
    "q78_scd2_snapshot"       -> (Q.scd2Snapshot(_, _)),
    // date-spine resample + forward fill (LOCF) per user
    "q79_gap_fill"            -> (Q.gapFill(_, _)),
    // bloom-filter decontamination: the no-false-negative scale path of q44
    "q80_bloom_decontam"      -> (Q.bloomDecontamination(_, _)),
    // exact Pearson correlations from scaled-integer power sums
    "q81_corr_profile"        -> (Q.corrProfile(_, _)),
    // C4-style cross-document boilerplate chunk removal
    "q82_boilerplate"         -> (Q.boilerplateStrip(_, _)),
    // int8 embedding quantization with verified reconstruction-error bound
    "q83_int8_quant"          -> (Q.int8Quant(_, _)),
    // pure-SQL surface: the gap_sessions TVF registered by GraftSql
    "q84_sql_tvf_sessions"    -> (Q.sqlTvfSessions(_, _)),
    // dataset mixture: per-source rates with epoch repetition + fractional top-up
    "q85_source_mixture"      -> (Q.sourceMixture(_, _)),
    // graph centrality: quantized-portable PageRank over the near-dup graph
    "q86_pagerank"            -> (Q.pagerankDocs(_, _)),
    // WITH RECURSIVE: 2-hop neighborhood sizes over the near-dup graph
    "q87_recursive_reach"     -> (Q.recursiveReach(_, _)),
    // point-in-time lookup: scd2 history composed with the as-of join
    "q88_pit_join"            -> (Q.pitEnrichment(_, _)),
    // incremental ingest: incoming batch deduped against the corpus band table
    "q89_incremental_ingest"  -> (Q.incrementalIngest(_, _)),
    // LATERAL correlated subquery: top-2 related rows per driving row
    "q90_lateral_topk"        -> (Q.lateralTopNations(_, _)),
    // Misra-Gries frequent-items sketch with its verified error contract
    "q91_heavy_hitters"       -> (Q.heavyHittersTokens(_, _)),
    // BPE tokenizer training: two pair-merge iterations, greedy-left fold
    "q92_bpe_merges"          -> (Q.bpeMerges(_, _)),
    // grouped heavy hitters: per-source frequent-token sketch contract
    "q93_grouped_heavy_hitters" -> (Q.heavyHittersBySource(_, _)),
    // BPE training to a target vocab size: the full merge-table artifact
    "q94_bpe_vocab"             -> (Q.bpeVocab(_, _)),
    // Space-Saving (min-replace) heavy hitters: q91's over-estimating dual
    "q95_space_saving"          -> (Q.spaceSavingTokens(_, _)),
    // source-pair 8-gram Jaccard overlap: the dataset-mixing diagnostic
    "q96_source_overlap"        -> (Q.sourceOverlap(_, _)),
    // hard-negative mining: per-anchor top-k wrong-label neighbors
    "q97_hard_negatives"        -> (Q.hardNegatives(_, _)),
    // truncated-crawl dup class: full text = strict prefix of a longer doc
    "q98_prefix_dups"           -> (Q.prefixDups(_, _)),
    // per-source quality drift: binned KS vs the pooled corpus
    "q99_quality_drift"         -> (Q.qualityDrift(_, _)),
    // infix containment dups (quote inclusion / boilerplate wrapping);
    // NOTE string sort puts q100 between q10 and q11 — it is the FIRST
    // consumer of the session gram table in sweep order (q96 stays last)
    "q100_containment_dups"     -> (Q.containmentDups(_, _)),
    // pre-join planning census: exact output cardinality + skew ratio
    "q101_join_cardinality"     -> (Q.joinCardinality(_, _)),
    // incremental SCD2 upsert, gated as equal to the full recompute
    "q102_scd2_incremental"     -> (Q.scd2IncrementalMerge(_, _)),
    // CCNet-style perplexity buckets, log-free (exact-integer score sums)
    "q103_bigram_predictability" -> (Q.bigramPredictability(_, _)),
    // SemDeDup: kept/dup classification inside trained k-means cells
    "q104_semantic_dedup"       -> (Q.semanticDedup(_, _)),
    // classifier distillation: exact-least-squares student of the q16 gate
    "q105_quality_classifier"   -> (Q.qualityClassifier(_, _)),
    // best-copy canonicalization: cluster keeper by quality, not min-id
    "q106_cluster_keepers"      -> (Q.clusterKeepers(_, _)),
    // per-doc duplicated-chunk ratio: the drop-mostly-copied-docs signal
    "q107_chunk_dup_profile"    -> (Q.chunkDupProfile(_, _)),
    // Deequ-style run-over-run anomaly gate on daily pipeline metrics
    "q108_metric_drift"         -> (Q.dailyMetricDrift(_, _)),
    // α=0.5 temperature-scaled source sampling weights (exact/IEEE-portable)
    "q109_temperature_mixture"  -> (Q.temperatureMixture(_, _)),
    // best-copy clean corpus: quality gate on q106's kept cluster members
    "q110_best_copy_corpus"     -> (Q.bestCopyCorpus(_, _)),
    // power-of-two token-length histogram (len(bin(n))-1: no libm log)
    "q111_token_histogram"      -> (Q.tokenHistogram(_, _)),
    // per-user view→purchase conversion over 30-min gap sessions
    "q112_session_funnel"       -> (Q.sessionFunnel(_, _)),
    // weekly cohort retention matrix (integer-exact date math)
    "q113_cohort_retention"     -> (Q.cohortRetention(_, _)),
    // k-step funnel report over gap sessions (CoreOps.funnelSteps)
    "q114_funnel_report"        -> (Q.funnelReport(_, _)),
    // A/B readout: hash-split variants, per-variant conversion + lift
    "q115_experiment_readout"   -> (Q.experimentReadout(_, _)),
    // timeout-bounded funnel: 300s max step gap, attrition vs unbounded
    "q116_funnel_timeout"       -> (Q.funnelTimeoutReport(_, _)),
    // KMV distinct sketch: deterministic estimate crosses the oracle exact
    "q117_kmv_distinct"         -> (Q.kmvDistinctEstimate(_, _)),
    // MAD robust outlier days over the daily revenue series
    "q118_outlier_days"         -> (Q.outlierDays(_, _)),
    // incremental rollup state merge, gated equal to full recompute
    "q119_incremental_agg"      -> (Q.incrementalAggMerge(_, _)),
    // product-quantization ADC top-k: the memory-bound ANN scale path
    "q120_pq_ann"               -> (Q.pqAnnTopK(_, _)),
    // reliability table of the distilled quality classifier (q105)
    "q121_calibration"          -> (Q.classifierCalibration(_, _)),
    // IVF-PQ: probed cells bound the pair space, codes bound the reads
    "q122_ivfpq_ann"            -> (Q.ivfPqAnnTopK(_, _)),
    // BPE APPLICATION: encode the corpus with the trained merges
    "q123_bpe_encode"           -> (Q.bpeEncodeCorpus(_, _)),
    // custom DSv2 TSV connector: filter+column pushdown inside the scan
    "q124_tsv_source"           -> (Q.tsvSourceCountries(_, _)),
    // PQ with TRAINED sub-space codebooks (one Lloyd refinement per j)
    "q125_pq_trained"           -> (Q.pqAnnTrained(_, _)),
    // real javax.imageio PNG round trip behind the multimodal codec seam
    "q126_image_decode"         -> (Q.imageDecode(_, _)),
    // fully-trained IVF-PQ: trained cells + trained codebooks + re-rank
    "q127_ivfpq_trained"        -> (Q.ivfPqTrained(_, _)),
    // generic MERGE upsert/delete — the lakehouse MERGE INTO primitive
    "q128_merge_upsert"         -> (Q.mergeUpsert(_, _)),
    // equi-depth histogram from exact order statistics (per group)
    "q129_equidepth_hist"       -> (Q.equiDepthHist(_, _)),
    // distributed global row_number: range partition + offsets, no
    // single-partition window
    "q130_global_rank"          -> (Q.globalRank(_, _)),
    // k-anonymity re-identification census over a quasi-identifier pair
    "q131_k_anonymity"          -> (Q.kAnonymityAudit(_, _)),
    // small-file compaction planning (lakehouse OPTIMIZE scheduling)
    "q132_compaction_plan"      -> (Q.compactionPlan(_, _)),
    // snapshot diff: CDC derivation, the inverse of q128's merge
    "q133_snapshot_diff"        -> (Q.snapshotDiffQuery(_, _)),
    // GDPR erasure cascade impact down the FK chain (semi joins only)
    "q134_erasure_cascade"      -> (Q.erasureCascade(_, _)),
    // referential-integrity orphan audit over the star's FK relations
    "q135_integrity_audit"      -> (Q.integrityAudit(_, _)),
    // DSv2 aggregate pushdown: COUNT/MIN/MAX evaluated inside the reader
    "q136_tsv_source_stats"     -> (Q.tsvSourceStats(_, _)),
    // grouped top-k via the bounded-heap aggregator on relational data
    "q137_top_parts_per_flag"   -> (Q.topPartsPerFlag(_, _)),
    // per-batch corpus novelty decay (crawl self-repetition diagnostic)
    "q138_novelty_curve"        -> (Q.noveltyCurve(_, _)),
    // staircase Pareto frontier; oracle = NOT-EXISTS dominance definition
    "q139_pareto_frontier"      -> (Q.paretoFrontier(_, _)),
    // day-bucketed interval join; oracle = the BETWEEN theta join
    "q141_promo_attribution"    -> (Q.promoAttribution(_, _)),
    // exact set-similarity join via prefix filtering (no false negatives)
    "q142_prefix_filter_pairs"  -> (Q.prefixFilterPairsQuery(_, _)),
    // per-group OLS from exact integer sufficient statistics
    "q143_ols_trend"            -> (Q.olsTrend(_, _)),
    // one-shuffle column profiler with deterministic mode
    "q144_column_profile"       -> (Q.columnProfileQuery(_, _)),
    // trailing 7-day distinct users via bounded day fan-out
    "q145_sliding_distinct"     -> (Q.slidingDistinct(_, _)),
    // Welch's t between experiment arms from exact decimal sums
    "q146_welch_readout"        -> (Q.welchReadout(_, _)),
    // hot-key exact distinct decomposed over disjoint value buckets
    "q147_skewed_distinct"      -> (Q.skewedDistinct(_, _)),
    // triangle census of the rare-gram co-occurrence graph
    "q148_triangle_census"      -> (Q.triangleCensus(_, _)),
    // water-filling token-budget allocation across sources
    "q149_token_budget"         -> (Q.tokenBudget(_, _)),
    // per-source score calibration onto the global distribution
    "q150_quantile_normalize"   -> (Q.quantileNormalizeQuery(_, _)),
    // Gopher-style intra-document repetition gates
    "q151_repetition_filters"   -> (Q.repetitionFilters(_, _)),
    // per-user behavior transition matrix (exact-count ratios)
    "q152_markov_transitions"   -> (Q.markovTransitions(_, _)),
    // Benford first-digit screen via a log-free magnitude ladder
    "q153_benford_audit"        -> (Q.benfordAudit(_, _)),
    // 3-D skyline by local-prune-then-merge (oracle = dominance NOT EXISTS)
    "q154_skyline_3d"           -> (Q.skyline3d(_, _)),
    // KMV sketch set algebra: pairwise distinct-user overlap estimates
    "q155_kmv_set_ops"          -> (Q.kmvSetOps(_, _)),
    // sorted-neighborhood blocking: one global sort, O(n·w) verifications
    "q156_sorted_neighbors"     -> (Q.sortedNeighborPairsQuery(_, _)),
    // Count-Min frequency sketch as a grouped-count dataflow
    "q157_countmin_sketch"      -> (Q.countMinSketch(_, _)),
    // incremental component maintenance == full recompute (contract)
    "q158_incremental_components" -> (Q.incrementalComponents(_, _)),
    // market-basket association: support/confidence/lift per type pair
    "q159_market_basket"        -> (Q.marketBasket(_, _)),
    // Gini-Simpson language diversity (log-free index, exact internals)
    "q160_lang_diversity"       -> (Q.langDiversity(_, _)),
    // Spark 4 VARIANT semi-structured decode (contract: paths agree)
    "q161_variant_extract"      -> (Q.variantExtract(_, _)),
    // l-diversity: the homogeneity-attack audit beside q131's k-anonymity
    "q162_l_diversity"          -> (Q.lDiversityAudit(_, _)),
    // REAL WAV audio decode round trip (javax.sound; q126's audio analog)
    "q163_audio_decode"         -> (Q.audioDecode(_, _)),
    // REAL video container demux + frame-sampled PNG decode
    "q164_video_demux"          -> (Q.videoDemux(_, _)),
    // dynamic partition pruning over the month-partitioned fact layout
    "q165_dpp_star_scan"        -> (Q.dppStarScan(_, _)),
    // q36's scale-side twin: exact percentiles from ranged rank statistics
    // (no group-sized aggregation buffer), same oracle as q36
    "q166_ranked_percentiles"   -> (Q.rankedPercentilesQuery(_, _)),
    // duplicated-substring-span removal (Lee et al. 2022 shape): cross-doc
    // 8-token spans excised, islands merged, clean text reassembled
    "q167_span_dedup"           -> (Q.spanDedupQuery(_, _)),
    // DSIR-shaped importance selection: hashed-bigram likelihood-ratio
    // leaning test (exact integers), per-doc target-likeness score
    "q168_importance_selection" -> (Q.importanceSelection(_, _)),
    // leakage-safe split: train/val/test assignment rides the near-dup
    // component, so near-duplicates never straddle splits
    "q169_leakage_safe_split"   -> (Q.leakageSafeSplit(_, _)),
    // q53's scale side forced (ShapeDispatch's ranged shape), same window
    // oracle as q53: both sides of the rank dial hash-checked at the gate
    "q170_rank_functions_ranged" -> (Q.rankFunctionsRanged(_, _)),
    // q129's scale side forced (ranged equi-depth ranks), same oracle as
    // q129 now that q129 rides equiDepthHistogramAuto
    "q171_equidepth_ranged"     -> (Q.equiDepthHistRanged(_, _)),
    // q137's scale side forced (topk_structs bounded heap), same oracle
    // as q137 now that q137 rides topKPerGroupAuto
    "q172_top_parts_heap"       -> (Q.topPartsPerFlagHeap(_, _))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = OracleCatalog.sql
}
