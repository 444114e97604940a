package graft

import graft.dedup.Checkpoints
import graft.queries.{OracleCatalog, QueryCatalog}
import graft.util.SessionScoped

/** Verifies QueryCatalog.sessionCaches — the cache→consumers sets the
  * release schedule is derived from, themselves derived from the caches
  * each query's declaration lists (OracleCatalog.declarations) — against
  * the accesses the cache handles record (SessionScoped.accesses) during
  * a cold sorted catalog sweep.
  * The getters run at DataFrame construction time, so the sweep builds
  * every query (priming each cache once, at sf0.001) without executing
  * the query bodies.
  *
  * Why this spec exists: the release points used to be a hand-maintained
  * map keyed by "the last sorted consumer" read off the query list by a
  * human. Adding q100 to the catalog silently shifted the gram cache's
  * hold-span across 40 queries and recreated the round-5 storage-pool
  * eviction churn (q81 1.0s → 18.9s) before a bench run caught it. Now:
  *  - an UNDECLARED consumer (a new query touching a cache) fails here,
  *    forcing the edit to that query's declared cache list, which moves
  *    the release automatically;
  *  - a STALE declared consumer (a query whose declaration lists a cache
  *    it no longer touches) fails here, so the release point can't
  *    silently trail the real last reader.
  */
class CacheLifecycleSpec extends SparkSpec {

  test("declared cache consumer sets match instrumented accesses on a cold sorted sweep") {
    // cold start: sibling suites share the session and may have primed
    // caches for this sfDir, which would hide transitive first-consumer
    // accesses (e.g. q106 reaching candidatePairs through the components
    // builder only when components is cold)
    QueryCatalog.sessionCaches.foreach(_.invalidate(spark, sf))
    SessionScoped.clear()

    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    sorted.foreach { case (name, fn) =>
      SessionScoped.setQuery(name)
      fn(spark, sf) // construction only — getters record here
      QueryCatalog.cacheReleaseAfter.get(name)
        .foreach(_.foreach(release => release(spark, sf)))
    }
    val accessed: Map[String, Set[String]] = SessionScoped.accesses
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    SessionScoped.clear()

    val declared = QueryCatalog.sessionCaches.map(c => c.name -> c).toMap
    // 1. every recorded access is declared — no silent new consumer
    for ((cache, queries) <- accessed) {
      val c = declared.getOrElse(cache,
        fail(s"cache '$cache' records accesses but declares no SessionCache"))
      val undeclared = queries -- c.consumers
      assert(undeclared.isEmpty,
        s"cache '$cache' has UNDECLARED consumers $undeclared — list the cache " +
          "in each one's declaration (OracleCatalog) so the release point follows")
    }
    // 2. every declared consumer really reads the cache — no stale entry
    //    pinning the release later than the true last reader
    for (c <- QueryCatalog.sessionCaches) {
      val seen = accessed.getOrElse(c.name, Set.empty)
      val stale = c.consumers -- seen
      assert(stale.isEmpty,
        s"cache '${c.name}' declares consumers $stale that never accessed it " +
          "in the sweep — drop the cache from their declarations (OracleCatalog; " +
          "they pin the release point)")
    }
    // 3. the schedule invariant the derivation guarantees, asserted
    //    end-to-end: each cache's release runs at its last sorted consumer
    for (c <- QueryCatalog.sessionCaches) {
      assert(QueryCatalog.cacheReleaseAfter.contains(c.lastConsumer),
        s"cache '${c.name}': no release scheduled at last consumer ${c.lastConsumer}")
    }
  }

  test("the query registry: 171 unique declarations, an oracle each; " +
       "the derived consumer sets and early release are pinned") {
    val names = OracleCatalog.declarations.map(_.name)
    assert(names.size == 171)
    assert(names.distinct == names, s"declared twice: ${names.diff(names.distinct)}")
    val malformed = names.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(malformed.isEmpty, s"malformed query names: $malformed")
    assert(OracleCatalog.declarations.forall(_.oracleSql.trim.nonEmpty))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
    // pinned: an edit to a declaration's cache list moves that cache's
    // consumers, and so its release point, and must show here
    val consumers = QueryCatalog.sessionCaches.map(c => c.name -> c.consumers).toMap
    assert(consumers == Map(
      "star" -> Set("q02_dim_customer", "q03_dim_datetime", "q04_dim_product",
        "q05_dim_invoice", "q06_fct_line_value", "q07_report_customer",
        "q08_report_product", "q09_report_year", "q165_dpp_star_scan",
        "q23_checks_report"),
      "splitGrams" -> Set("q100_containment_dups", "q44_decontamination",
        "q80_bloom_decontam", "q96_source_overlap"),
      "candidatePairs" -> Set("q106_cluster_keepers", "q19_minhash_pairs",
        "q60_edit_distance", "q86_pagerank", "q87_recursive_reach"),
      "components" -> Set("q106_cluster_keepers", "q110_best_copy_corpus",
        "q169_leakage_safe_split", "q54_dedup_clusters"),
      "corpus" -> Set("q32_clean_corpus", "q49_training_corpus"),
      "rareGramEdges" -> Set("q148_triangle_census", "q158_incremental_components"),
      "trainedCentroids" -> Set("q104_semantic_dedup", "q127_ivfpq_trained",
        "q68_ivf_trained"),
      "dppFactPath" -> Set("q165_dpp_star_scan"),
      "pqIndex" -> Set("q120_pq_ann", "q122_ivfpq_ann", "q125_pq_trained",
        "q127_ivfpq_trained"),
      "shapeStats" -> Set("q129_equidepth_hist", "q137_top_parts_per_flag",
        "q36_percentiles", "q53_rank_functions")))
    val early = QueryCatalog.sessionCaches.filter(_.earlyReleaseAfter.nonEmpty)
      .map(c => c.name -> c.earlyReleaseAfter)
    assert(early == Seq("splitGrams" -> Set("q100_containment_dups")))
  }

  test("every registered session cache is declared in sessionCaches, once") {
    val declared = QueryCatalog.sessionCaches.map(_.name)
    assert(declared.distinct == declared, s"declared twice: ${declared.diff(declared.distinct)}")
    assert(declared.size == 10)
    assert(SessionScoped.names == declared.toSet)
  }

  test("each cache's release after its first sorted consumer leaves an " +
       "empty handle and none of the fill's blocks (or dppFactPath's files)") {
    val sc = spark.sparkContext
    def releaseAll(): Unit = {
      QueryCatalog.sessionCaches.foreach(_.invalidate(spark, sf))
      Checkpoints.releaseOutputs()
    }
    for (c <- QueryCatalog.sessionCaches) {
      releaseAll()
      val pre = sc.getPersistentRDDs.keySet
      val first = SparkEntry.queries(c.consumers.min)(spark, sf)
      first.write.format("noop").mode("overwrite").save()
      // the result's output checkpoints and every OTHER cache the query
      // primed go first, so what stays persisted is this cache's fill
      Checkpoints.releaseOutputs()
      QueryCatalog.sessionCaches.filterNot(_ eq c).foreach(_.invalidate(spark, sf))
      assert(c.cache.size > 0, s"${c.consumers.min} did not fill '${c.name}'")
      val staged = first.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
      }.collect {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          h.location.rootPaths.map(p => new java.io.File(p.toUri))
      }.flatten.filter(_.getPath.contains("dpp_fact"))
      assert((c.name == "dppFactPath") == staged.nonEmpty)
      assert(staged.forall(_.exists))
      c.invalidate(spark, sf)
      assert(c.cache.size == 0, s"'${c.name}' keeps ${c.cache.size} entries after its release")
      val leaked = sc.getPersistentRDDs.keySet -- pre
      assert(leaked.isEmpty, s"'${c.name}' leaked persisted RDDs " +
        leaked.toSeq.sorted.map(id => s"$id ${sc.getPersistentRDDs(id).name}").mkString("; "))
      staged.foreach(d => assert(!d.exists, s"'${c.name}' left staged files at $d"))
    }
  }

  test("a full release leaves no live session-cache entry after the " +
       "auto-dial q53 (its shapeStats probe memo included)") {
    QueryCatalog.sessionCaches.foreach(_.invalidate(spark, sf))
    SparkEntry.queries("q53_rank_functions")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    assert(graft.util.SessionScoped.totalEntries > 0)
    QueryCatalog.sessionCaches.foreach(_.invalidate(spark, sf))
    assert(graft.util.SessionScoped.totalEntries == 0)
  }

  test("LSH-family driver queries leak ZERO storage blocks once released " +
       "(q19/q25/q54/q89 executed end-to-end)") {
    // The r10 verdict's cache-pressure-roulette note: per-call checkpoint
    // blocks that waited on driver GC + ContextCleaner. Now every block is
    // owned — by a session cache (released at its invalidate) or by the
    // output ledger (released after the consuming action) — so a full
    // execute → release → invalidate cycle must leave the storage pool
    // exactly as it found it. q94/q96/q99/q118/q123 ride along: their
    // intermediate checkpoints are output-ledger entries, not GC-reclaimed.
    val sc = spark.sparkContext
    QueryCatalog.sessionCaches.foreach(_.invalidate(spark, sf))
    graft.dedup.Checkpoints.releaseOutputs()
    val pre = sc.getPersistentRDDs.keySet
    for (name <- Seq("q19_minhash_pairs", "q25_lsh_ann_topk",
                     "q54_dedup_clusters", "q89_incremental_ingest",
                     "q94_bpe_vocab", "q96_source_overlap", "q99_quality_drift",
                     "q118_outlier_days", "q123_bpe_encode")) {
      SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      QueryCatalog.cacheReleaseAfter.get(name)
        .foreach(_.foreach(release => release(spark, sf)))
      graft.dedup.Checkpoints.releaseOutputs()
      // caches the query primed whose release points are OTHER queries
      // (candidatePairs' last sorted consumer is q87, components' q54, …)
      QueryCatalog.sessionCaches.foreach(_.invalidate(spark, sf))
      val leaked = sc.getPersistentRDDs.keySet -- pre
      assert(leaked.isEmpty,
        s"$name leaked persisted RDDs ${leaked.toSeq.sorted}: " +
          leaked.toSeq.sorted.map(id => sc.getPersistentRDDs(id).name).mkString("; "))
    }
  }
}
