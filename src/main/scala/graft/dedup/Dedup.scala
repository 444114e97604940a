package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Deduplication operators for LLM training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard (BASELINE.json north star).
  *
  * Scale architecture (the whole point of LSH): NEVER form the O(n²) pair
  * space. Exact dedup is one hash-aggregate. MinHash near-dup shuffles once
  * on (band, band_signature) — candidate pairs only materialize inside
  * buckets, which stay tiny when documents are genuinely distinct. That is
  * the 100 TB shape: cost ≈ |docs| × bands, not |docs|².
  *
  * Engine portability: every hash the ORACLE must replay is md5-derived
  * (md5 hex strings for fingerprints; the 13-hex-digit / 52-bit md5
  * prefix for minhash's base hash) with exact-integer mixing on top —
  * DuckDB replays every step bit-identically. Hashes that only bucket or
  * join WITHIN the engine (band keys, gram identities) ride xxhash64
  * longs, where only the partition induced by equality matters.
  */
object Dedup {

  /** Word n-gram shingles of the canonical (lowercased, whitespace-split)
    * token stream.
    *
    * Built with slice + zip_with, NOT `transform(sequence(...), i =>
    * element_at(toks, i+k))`: a higher-order-function lambda re-evaluates
    * outer expression references PER ELEMENT, so indexing into the (regex
    * split) token expression from a lambda body is O(tokens²) per document
    * — a thread dump showed the whole 150s of the original LSH query inside
    * StringSplit under ConcatWs. Slices reference the token expression a
    * constant number of times per row instead.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(lower(text))
    def windowLen = size(toks) - (n - 1)
    val shifted   = (0 until n).map(k => slice(toks, lit(k + 1), windowLen))
    val joined = shifted.reduce((acc, s) =>
      zip_with(acc, s, (a, b) => concat(a, lit(" "), b)))
    when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(joined)
  }

  /** Distinct shingle set (for Jaccard). */
  def shingleSet(text: Column, n: Int): Column = array_distinct(shingles(text, n))

  /** n-gram IDENTITIES as xxhash64 longs WITHOUT materializing the gram
    * strings: hash each token once, then hash each n-window of token
    * hashes — two grams are equal iff their token sequences are equal,
    * so this is the [[shingles]] identity under a different injection.
    * Consumers that only JOIN/GROUP/COUNT gram keys (decontamination,
    * overlap matrices, rare-gram edges, prefix candidates) get 8-byte
    * keys and zero per-gram string allocation. Docs shorter than n
    * contribute one whole-doc gram, matching [[shingles]]'s short-doc
    * convention.
    *
    * Runs as the native [[graft.functions.GramHashes]] expression (one
    * fused codegen loop); it emits values bit-identical to the earlier
    * `transform`/`arrays_zip`/`xxhash64(struct)` composition, which as
    * CodegenFallback HOFs allocated n array views + one struct per
    * window and dominated the gram-table build (measured 1.25s → ~0.3s
    * for the sf0.1 8-gram corpus pass).
    */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.GramHashes.gram_hashes(TextOps.tokens(lower(text)), n)

  /** Distinct hashed-gram set (the [[shingleSet]] identity as longs). */
  def shingleHashSet(text: Column, n: Int): Column =
    array_distinct(shingleHashes(text, n))

  /** Prefix-duplicate detection: flag documents whose FULL token sequence
    * is a strict prefix of some longer document — the truncated-crawl dup
    * class exact dedup misses (different full hash) and Jaccard
    * under-scores (a short prefix of a long doc has low set overlap).
    * Candidates are docs ≤ maxPrefixLen tokens (truncation dups are
    * short); every doc emits one prefix hash per DISTINCT candidate
    * length below its own — |docs| × |candidate lengths| rows, capped by
    * maxPrefixLen — then ONE equi-join on the content hash. A full-text
    * hash equals a prefix hash iff the strings are equal; equal-length
    * docs never match (hosts hash only lengths < their own), so exact
    * dups are NOT flagged — strictly-shorter prefixes only. Never
    * doc×doc.
    */
  def prefixDups(docs: DataFrame, idCol: String, textCol: String,
                 maxPrefixLen: Int): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(lower(col(textCol))).as("t"))
      .withColumn("n", size(col("t")))
    val cands = toks.filter(col("n") <= maxPrefixLen)
      .select(col("doc_id"), col("n"), md5(concat_ws(" ", col("t"))).as("h"))
    val lens = cands.select(col("n").as("len")).distinct()
    val hosts = toks.join(broadcast(lens), col("len") < col("n"))
      .select(col("doc_id").as("host_id"),
        md5(concat_ws(" ", slice(col("t"), lit(1), col("len")))).as("h"))
    cands.join(hosts, Seq("h"), "left")
      .groupBy("doc_id", "n")
      .agg(count(col("host_id")).as("n_hosts"))
      .select(col("doc_id"), col("n").as("n_tokens"), col("n_hosts"),
        (col("n_hosts") > 0).as("is_prefix_dup"))
  }

  /** Exact dedup: group by content hash, keep the lowest id
    * (reference A1 generalized — `SELECT DISTINCT` is the degenerate form;
    * one hash-aggregate, no pairwise anything).
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(TextOps.fingerprint(col(textCol)).as("content_hash"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("dup_count")
      )

  /** MinHash signature: k universal hash functions
    * h_i(s) = (A_i · u(s) + B_i) mod (2^61 − 1) over the 52-bit md5
    * prefix u(s) of each shingle; the signature component is the numeric
    * MIN over the doc's shingles. ONE digest per shingle + k long mixes —
    * the earlier h_i = md5(i || '|' || s) scheme paid k digests per
    * shingle, the dominant cost of the whole LSH build at corpus scale.
    * Returns array<long> of length k. The DuckDB oracle replays u as the
    * 13-nibble md5 fold and the mix in HUGEINT — bit-identical; see
    * [[graft.functions.MinHashSig]] for the full portability argument.
    *
    * Runs as the fused [[graft.functions.MinHashSigTokens]] (token
    * windows streamed straight into md5 — no shingle string, no
    * array_distinct pass; signature-identical, see its scaladoc).
    */
  def minhashSignature(text: Column, shingleN: Int, k: Int): Column =
    graft.functions.MinHashSig.minhash_sig_tokens(
      TextOps.tokens(lower(text)), shingleN, k)

  /** LSH banding: split the k-row signature into bands of `rowsPerBand`,
    * hash each band to one bucket key; docs sharing any (band, key)
    * bucket are near-dup candidates. Returns (bands, signature frame) —
    * the signature frame is PERSISTED and the caller owns unpersisting it
    * once the bands are fully consumed ([[minhashCandidatePairs]] does;
    * the former public `lshBands` wrapper that leaked this lifecycle to
    * ContextCleaner GC had no callers and was removed in r9 — band
    * consumers go through [[minhashCandidatePairs]]).
    */
  private[graft] def lshBandsWithSig(docs: DataFrame, idCol: String, textCol: String,
               shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4): (DataFrame, DataFrame) = {
    require(k % rowsPerBand == 0, "k must divide into bands evenly")
    val bands = k / rowsPerBand
    // Compute the k-hash signature in ONE projection, then materialize it
    // behind persist(): InMemoryRelation is a barrier Catalyst won't
    // collapse projections through, so past it `sig` is a bound attribute
    // and the 16 element_at band references cost pointer reads. Without a
    // barrier, Catalyst inlines the whole signature expression into every
    // reference (measured 16× work); an RDD-conversion barrier instead
    // drops the projection out of whole-stage codegen (measured 3×
    // slower). The cached slice is only (id, k longs) — what a
    // multi-stage pipeline would persist between stages at warehouse
    // scale. (The hex-era caveat about array<string> cache encoding does
    // not apply: array<long> is primitive-encoded.)
    val sigDf = docs.select(col(idCol).as("doc_id"),
      minhashSignature(col(textCol), shingleN, k).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // null/empty-text docs have a NULL signature (minhash_sig's
    // null-on-empty contract). Banding them anyway would xxhash64 the
    // same all-null band slices into ONE shared band_key per band — a
    // single quadratic candidate bucket growing n²_null pairs that every
    // verifier later discards (null tk fails any overlap predicate), so
    // output parity holds but candidate generation can blow up (r15
    // ADVICE). Content-less docs are not near-dup candidates: drop the
    // null signatures before banding, mirroring the exact SSJoin's
    // sz > 0 filter.
    val banded = sigDf
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), explode(array(bandStructs(col("sig"), bands, rowsPerBand): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    (banded, sigDf)
  }

  /** Band structs over a bound signature attribute — shared by the batch
    * path above and the STREAMING near-dup detector
    * ([[graft.streaming.EventStreams.nearDupStream]]), so both bucket by
    * bit-identical keys. Band b = sig components [b·rowsPerBand,
    * (b+1)·rowsPerBand); the bucket key is xxhash64 over the band's
    * longs — an 8-byte long through every bucket groupBy/join; bucketing
    * by h(x) equals bucketing by x absent collisions, which the
    * capped==uncapped and oracle-replay checks re-prove per corpus.
    */
  private[graft] def bandStructs(sig: Column, bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64((0 until rowsPerBand).map(r =>
          element_at(sig, b * rowsPerBand + r + 1)): _*).as("band_key"))
    }

  /** Triangle-block salting — the poison-bucket guard shared by the MinHash
    * and SimHash candidate paths. Docs in a bucket of size s get one of
    * g = ceil(s / maxBucket) salts; a doc with salt x replicates into the g
    * blocks {(min(x,t), max(x,t)) : t < g} — exactly the blocks covering
    * pairs that involve salt x. Every pair (salts x, y) lands in block
    * (min,max) together, so recall is preserved (capped == uncapped after
    * distinct); block population is ≤ 2·maxBucket docs, so no task ever
    * materializes an O(bucket²) expansion or an O(bucket) array row.
    * Replication is g rows per doc ≈ bucket/maxBucket — proportional to the
    * inherent pair work, never the corpus. Bucket size comes from a count
    * window over the SAME bucket-column partitioning (exchange reused),
    * before any array materializes. maxBucket == Int.MaxValue ⇒ one block
    * per bucket (the oracle-checked default). Salted rows keep their
    * `__salt`, so a self-join consumer can keep each pair only in its
    * canonical block (min salt, max salt).
    */
  private def triangleBlocked(banded: DataFrame, bucketCols: Seq[String],
                              idCol: String, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue)
      banded.withColumn("__blk", lit(0L))
    else {
      val g = ceil(
        count(lit(1)).over(Window.partitionBy(bucketCols.map(col): _*))
          .cast("double") / maxBucket).cast("int")
      banded.withColumn("__g", g)
        .withColumn("__salt", pmod(crc32(col(idCol).cast("string")), col("__g")).cast("int"))
        .withColumn("__blk", explode(transform(
          sequence(lit(0), col("__g") - 1),
          t => least(col("__salt"), t).cast("long") * 1000000 + greatest(col("__salt"), t))))
        .drop("__g")
    }

  /** Candidate near-dup pairs from LSH buckets. NOT a bucket self-join
    * (which would evaluate the signature pipeline once per join side):
    * one signature pass, one shuffle on (band, band_key), then in-bucket
    * pair expansion with array ops. Cost ≈ |docs|·bands + Σ bucket²,
    * never |docs|².
    *
    * EAGER: the pair set is materialized (localCheckpoint) at call time —
    * not when the caller first consumes it — so the |docs|-sized signature
    * cache can be released immediately instead of accumulating one
    * persisted frame per invocation. The returned frame's own (small:
    * bounded by true near-dup density) checkpoint blocks live until the
    * frame is driver-GC'd and ContextCleaner reaps them; callers that fully
    * consume the pairs and want deterministic release should use
    * [[minhashCandidatePairsTracked]].
    *
    * @param maxBucket poison-bucket guard for huge corpora: buckets larger
    *   than this (boilerplate-heavy shingle profiles) are SALTED into
    *   triangle blocks (see [[triangleBlocked]]) so every pair is still
    *   produced with bounded per-task state. Default unlimited — one block
    *   per bucket, which the oracle checks; at 100 TB set it to a few
    *   hundred. */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
                            maxBucket: Int = Int.MaxValue): DataFrame =
    minhashCandidatePairsTracked(docs, idCol, textCol, shingleN, k, rowsPerBand, maxBucket)._1

  /** [[minhashCandidatePairs]] plus the checkpoint blocks backing the
    * returned frame, for callers that materialize their own derivative and
    * can then release the pair set deterministically
    * ([[Checkpoints.release]]) instead of waiting for ContextCleaner GC.
    */
  private[graft] def minhashCandidatePairsTracked(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = Int.MaxValue): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val (b, sigDf) = lshBandsWithSig(docs, idCol, textCol, shingleN, k, rowsPerBand)
    val blocked = triangleBlocked(b, Seq("band", "band_key"), "doc_id", maxBucket)
    val buckets = blocked
      .groupBy("band", "band_key", "__blk")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    // ordered pairs (ids[i], ids[j]) for i < j; ids sorted ⇒ doc_a ≤ doc_b,
    // with equality only under duplicate input ids — filtered below to
    // match the oracle's strict doc_a < doc_b join.
    val pairs = flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        y => struct(x.as("doc_a"), y.as("doc_b")))))
    // Eager-materialize (localCheckpoint) so the signature cache can be
    // released NOW; the checkpoint doubles as the lineage barrier —
    // downstream consumers (Jaccard verification, components) replan
    // against a flat scan of the pairs.
    val (out, blocks) = Checkpoints.tracked(buckets
      .select(explode(pairs).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct())
    sigDf.unpersist()
    (out, blocks)
  }

  /** Incremental-ingest candidate pairs: near-dup candidates BETWEEN an
    * existing corpus and an incoming batch — never existing×existing. The
    * continuous-ingestion shape: band the incoming batch and equi-join it
    * against the corpus band table (the reusable state a pipeline
    * materializes once and appends to), so per-batch work is
    * |incoming|·bands + matched buckets — independent of the corpus pair
    * space, which a full re-dedup would re-form on every batch. Eagerly
    * materialized (localCheckpoint) like [[minhashCandidatePairs]] so
    * both signature caches release on return; the checkpoint blocks stay
    * with the frame (ContextCleaner reclaims them with it).
    * Output: (existing_id, incoming_id), distinct.
    */
  def incrementalCandidatePairs(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val (be, sigE) = lshBandsWithSig(existing, idCol, textCol, shingleN, k, rowsPerBand)
    val (bi, sigI) = lshBandsWithSig(incoming, idCol, textCol, shingleN, k, rowsPerBand)
    val out = Checkpoints.output(
      be.select(col("band"), col("band_key"), col("doc_id").as("existing_id"))
        .join(bi.select(col("band"), col("band_key"), col("doc_id").as("incoming_id")),
          Seq("band", "band_key"))
        // overlapping inputs (a doc present in both frames) must not emit
        // the self-pair — Jaccard would score it 1.0 and flag a phantom dup
        .filter(col("existing_id") =!= col("incoming_id"))
        .select("existing_id", "incoming_id")
        .distinct())
    sigE.unpersist(); sigI.unpersist()
    out
  }

  /** Verified near-dup pairs: LSH candidates re-scored with true n-gram
    * Jaccard, thresholded. The expensive exact measure runs ONLY on
    * candidates (≈0 when the corpus is clean) — never on the full pair space.
    *
    * EAGER (like [[minhashCandidatePairs]]): the verified pair set — even
    * smaller than the candidate set — is materialized at call time, which
    * lets this method release the candidate checkpoint deterministically
    * instead of leaving it to ContextCleaner GC.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, threshold: Double = 0.8,
                   k: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val (cands, candBlocks) =
      minhashCandidatePairsTracked(docs, idCol, textCol, shingleN, k, rowsPerBand)
    val out = nearDupPairsFrom(cands, docs, idCol, textCol, shingleN, threshold)
    Checkpoints.release(candBlocks)
    out
  }

  /** The Jaccard-verification stage of [[nearDupPairs]] over a PREBUILT
    * candidate-pair frame (doc_a, doc_b) — for callers that amortize one
    * candidate materialization across several consumers (pairs report,
    * cluster building, edit-distance verification) instead of re-running
    * the signature→band→bucket pipeline per consumer. Does NOT release the
    * candidate frame's blocks: the caller owns that lifecycle. EAGER like
    * [[nearDupPairs]] (the verified set is checkpointed at call time).
    */
  def nearDupPairsFrom(cands: DataFrame, docs: DataFrame, idCol: String,
                       textCol: String, shingleN: Int = 3,
                       threshold: Double = 0.8): DataFrame = {
    // verification rides xxhash64 GRAM KEYS (the q142 convention): the
    // two candidate joins shuffle 8-byte longs per shingle instead of
    // n-gram strings, and Jaccard is a pure function of SET IDENTITY —
    // bit-identical under the bijection, re-proven by every green oracle
    // run (a collision could only merge two grams of the same doc pair).
    // Shingle ONLY candidate-incident documents: the semi-join runs
    // BELOW the shingle projection, so the per-token hash work scales
    // with the candidate set (bounded by near-dup density), not the
    // corpus — the full scan would otherwise tokenize+hash every doc
    // once per join side.
    val candIds = cands.select(col("doc_a").as("id"))
      .union(cands.select(col("doc_b").as("id")))
      .distinct()
    val sets = docs.select(col(idCol).as("id"), col(textCol))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), sort_array(shingleHashSet(col(textCol), shingleN)).as("sh"))
    val (out, _) = Checkpoints.tracked(cands
      .join(sets.withColumnRenamed("id", "doc_a").withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(sets.withColumnRenamed("id", "doc_b").withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      .withColumn("jaccard", sortedJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        graft.ops.CoreOps.roundPortable(col("jaccard"), 6).as("jaccard")))
    out
  }

  /** Conf key: token-table budget (bytes) under which [[prefixFilterPairs]]
    * verifies candidates against a broadcast() hinted token table instead
    * of shuffling token arrays. See the r14 scale note in the method. */
  val BroadcastVerifyBytesKey = "spark.graft.prefix.broadcastVerifyBytes"
  val DefaultBroadcastVerifyBytes: Long = 1500L * 1000 * 1000

  /** Conf keys: the PAIR-SPACE regime guard (r15). An exact set-similarity
    * join on a saturating fixed-vocabulary corpus has an inherent ~n²/V
    * candidate space — no filter ladder changes that asymptote, and the
    * r14 sf4 grid measured where it lands (310M candidates; the
    * array-carrying verify filled the disk). The guard estimates the
    * candidate shuffle volume BEFORE any pair materializes, from the
    * already-checkpointed prefix frame: Σ over prefix tokens of
    * cnt·(cnt−1)/2 upper-bounds the bucket join's output multiset.
    * Above the warn threshold it logs the documented escape (LSH q19 /
    * dedup-first, with the recall contract stated); above the hard cap
    * (default off) it fails fast — the alternative the cap replaces is
    * hours of shuffle ending in a full disk. */
  val PairShuffleWarnBytesKey = "spark.graft.prefix.pairShuffleWarnBytes"
  val DefaultPairShuffleWarnBytes: Long = 100L * 1000 * 1000 * 1000
  val MaxPairShuffleBytesKey = "spark.graft.prefix.maxPairShuffleBytes"

  /** Estimated candidate-verification shuffle volume (pure, spec-pinned):
    * the broadcast shape ships 16-byte id pairs; the join shape attaches
    * both token arrays (8 B/token + tuple overhead) to every candidate. */
  def pairShuffleBytes(estPairs: Double, avgTokensPerDoc: Double,
                       broadcastShape: Boolean): Double =
    if (broadcastShape) estPairs * 16.0
    else estPairs * (2.0 * avgTokensPerDoc * 8.0 + 32.0)

  /** EXACT set-similarity self-join via global-frequency prefix filtering
    * (the PPJoin/Vernica-Carey-Li MapReduce construction): every pair of
    * documents whose distinct-token Jaccard is ≥ thrNum/thrDen, with NO
    * false negatives — the exactness guarantee the MinHash/SimHash
    * families trade away. Threshold and verification are pure INTEGER
    * arithmetic (inter·den ≥ num·union; prefix length via ceiling
    * division), so no float boundary can fall differently in any engine.
    *
    * Construction: tokens get a global total order (document frequency
    * ascending, then token — rarest first); each document contributes
    * only its first `sz − ⌈t·sz⌉ + 1` tokens in that order as its
    * PREFIX; two documents can reach Jaccard t only if their prefixes
    * share a token (the prefix-filtering theorem), so the candidate join
    * is an equi-join on prefix tokens, pre-filtered by the length bound
    * min·den ≥ num·max, then verified exactly.
    *
    * The prefix machinery runs on xxhash64 GRAM KEYS, not gram strings
    * (the df/rank/join shuffles carry 8-byte longs instead of n-gram
    * text — measured 13.8s → ~6s on the q142 bench shape). The theorem
    * holds for ANY consistent global order, so ordering by (df, hash)
    * instead of (df, token) changes candidates but never loses a true
    * pair; a hash collision can only MERGE two grams' identities, which
    * adds false candidates the exact verification removes. (The oracle
    * replays the string-ordered construction and must agree row-for-row
    * on the verified OUTPUT — a per-run proof of order-independence.)
    *
    * Scale: never the O(n²) pair space — candidates materialize only
    * inside per-token buckets, and ordering prefixes rarest-first keeps
    * hot tokens out of most prefixes (a stopword enters a prefix only
    * for documents made almost entirely of stopwords). The df table is
    * vocabulary-sized; the per-document ranking window partitions by
    * document (doc-sized groups). Round8Spec proves the no-false-negative
    * claim against the brute-force all-pairs join on random corpora.
    */
  def prefixFilterPairs(docs: DataFrame, idCol: String, textCol: String,
                        thrNum: Int, thrDen: Int, shingleN: Int = 1): DataFrame = {
    val (cands, stoks, prefix, blocks) =
      prefixCandidates(docs, idCol, textCol, thrNum, thrDen, shingleN)
    val spark = cands.sparkSession
    // Verification merge-intersects the per-doc SORTED gram-hash arrays —
    // longs in bijection with the grams (xxhash64 collisions could merge
    // gram identities with probability ~sz²·2⁻⁶⁴ per pair; the
    // string-exact oracle replay re-proves absence on every gated corpus).
    //
    // TWO physical shapes of one join plan (the r14 sf4 grid's finding):
    //  - join-verify: attach both token arrays to every candidate pair.
    //    On a SATURATING corpus candidates grow ~n²/V (sf4 fixed-vocab:
    //    ~310M pairs), and pairs × arrays is a terabyte-class shuffle —
    //    measured 828s median at sf4.
    //  - broadcast-verify: when the whole token table fits the budget
    //    (spark.graft.prefix.broadcastVerifyBytes, default 1.5 GB — a
    //    normal executor broadcast allowance — AND at most a quarter of
    //    the driver heap, whichever is smaller), the same joins take a
    //    broadcast() hint on the token table ([[verifyPairs]]):
    //    candidates shuffle as bare 16-byte id pairs and Spark's
    //    BroadcastHashJoin attaches the arrays, so the array shuffle
    //    disappears entirely. Above the budget the join shape returns
    //    (arrays genuinely too big to replicate) — at THAT scale an exact
    //    SSJoin on a saturating corpus is inherently pair-bound, and the
    //    engine's documented answer is LSH (q19) or dedup-first. Same
    //    gate-with-fallback pattern as the Similarity codebook inlining.
    val VerifyPlan(takeBroadcast, estPairs, avgSz, estShuffle) =
      planVerify(stoks, prefix)
    // ---- pair-space regime guard (r15 — the q142 escape hatch) -----------
    val hardCap = spark.conf.getOption(MaxPairShuffleBytesKey).map(_.toLong)
    val warnCap = spark.conf.getOption(PairShuffleWarnBytesKey)
      .map(_.toLong).getOrElse(DefaultPairShuffleWarnBytes)
    if (hardCap.exists(estShuffle > _)) {
      Checkpoints.release(blocks)
      throw new IllegalStateException(
        f"prefixFilterPairs: estimated candidate shuffle $estShuffle%.3g B " +
          f"(~$estPairs%.3g candidate pairs) exceeds $MaxPairShuffleBytesKey=" +
          s"${hardCap.get} — the exact SSJoin is pair-bound on this corpus. " +
          "Use LSH banding (Dedup.lshVerifiedPairs, or Dedup.minhashCandidatePairs " +
          "/ q19 — probabilistic recall per the banding curve) or dedup-first " +
          "to shrink the corpus, or raise the cap to accept the shuffle.")
    } else if (estShuffle > warnCap) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        f"prefixFilterPairs: estimated candidate shuffle $estShuffle%.3g B " +
          f"(~$estPairs%.3g candidate pairs, avg $avgSz%.1f tokens/doc) is " +
          "in the pair-bound regime for an exact set-similarity join. It " +
          "will complete but scales with the pair space; consider LSH " +
          "banding (Dedup.lshVerifiedPairs, or Dedup.minhashCandidatePairs / " +
          "q19 — probabilistic recall per the banding curve) or dedup-first. " +
          s"Hard cap: $MaxPairShuffleBytesKey.")
    }
    val out = Checkpoints.output(
      verifyPairs(cands, stoks, takeBroadcast, thrNum, thrDen))
    Checkpoints.release(blocks)
    out
  }

  /** The verify plan of [[prefixFilterPairs]] and [[lshVerifiedPairs]],
    * one for both shapes: the candidate id pairs join the token table
    * `(id, stoks, sz)` twice and keep the pairs whose merge-intersection
    * passes the integer threshold ([[verifiedJaccard]]). With
    * `broadcastTokens` the table carries a broadcast() hint, so both joins
    * read ONE BroadcastExchange (the second is its reuse) and the
    * candidates shuffle as bare id pairs; without it Spark plans the joins
    * by size, shuffling token arrays once the table outgrows a broadcast.
    * The hint works for any id type.
    */
  private[graft] def verifyPairs(cands: DataFrame, stoks: DataFrame,
                                 broadcastTokens: Boolean,
                                 thrNum: Int, thrDen: Int): DataFrame = {
    val tk = stoks.select(col("id"), col("stoks"), col("sz"))
    val tokens = if (broadcastTokens) broadcast(tk) else tk
    verifiedJaccard(cands
      .join(tokens.as("ta"), col("doc_a") === col("ta.id"))
      .join(tokens.as("tb"), col("doc_b") === col("tb.id"))
      .select(col("doc_a"), col("doc_b"), col("ta.sz").as("sz_a"), col("tb.sz").as("sz_b"),
        col("ta.stoks").as("tk_a"), col("tb.stoks").as("tk_b")), thrNum, thrDen)
  }

  /** The integer-Jaccard verification every pair path shares (the exact
    * join, the LSH shape, sorted neighborhood): over `pairs` carrying
    * doc_a, doc_b, their set sizes sz_a/sz_b and SORTED distinct gram
    * arrays tk_a/tk_b, keep inter·den ≥ union·num and emit the output
    * contract (doc_a < doc_b, inter, union_sz, jaccard rounded to 6).
    * Pairs may arrive in either orientation (the prefix join's are
    * size-oriented, a = smaller); the output is id-ordered.
    */
  private def verifiedJaccard(pairs: DataFrame, thrNum: Int, thrDen: Int): DataFrame =
    pairs
      .withColumn("inter",
        graft.functions.SortedIntersect.sorted_intersect_count(col("tk_a"), col("tk_b")))
      .withColumn("union_sz", col("sz_a") + col("sz_b") - col("inter"))
      .filter(col("inter") * thrDen >= col("union_sz") * thrNum)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        col("inter"), col("union_sz"),
        graft.ops.CoreOps.roundPortable(
          col("inter").cast("double") / col("union_sz").cast("double"), 6).as("jaccard"))

  /** Verification-shape plan for [[prefixFilterPairs]], computed ONCE
    * from the checkpointed prefix frame (one bookkeeping aggregate; no
    * candidate materializes). A caller can price the exact join's pair
    * space with it before choosing between [[prefixFilterPairs]] and
    * [[lshVerifiedPairs]]; `tools/ShapeChoice` prints it. */
  private[graft] final case class VerifyPlan(takeBroadcast: Boolean,
                                             estPairs: Double,
                                             avgSz: Double,
                                             estShuffle: Double)

  private[graft] def planVerify(stoks: DataFrame, prefix: DataFrame): VerifyPlan = {
    val spark = stoks.sparkSession
    // ONE bookkeeping aggregate over the prefix checkpoint serves both the
    // broadcast budget gate and the pair-space regime guard. Every token-
    // table document has exactly one rk = 1 prefix row carrying its sz
    // (the prefix length sz − ⌈num·sz/den⌉ + 1 is at least 1 because
    // num ≤ den), so the rk = 1 rows count the documents and sum their
    // tokens inside the per-tokid grouping the pair estimate needs.
    //
    // Pair-space estimate (r15 — the regime guard's input), BEFORE any
    // candidate materializes: the bucket join's output is Σ_t idxCnt_t·
    // cnt_t, upper-bounded by Σ_t cnt_t·(cnt_t−1)/2 over prefix-token
    // buckets. Double arithmetic: this is a regime detector, not an
    // accountant, and the sums would overflow a long exactly where the
    // guard matters most.
    val est = prefix.groupBy("tokid")
      .agg(count(lit(1)).as("__c"),
        count(when(col("rk") === 1, lit(1))).as("__docs"),
        sum(when(col("rk") === 1, col("sz"))).as("__toks"))
      .agg(sum(expr("__c * (__c - 1d) / 2.0d")), sum(col("__toks")),
        sum(col("__docs")))
      .head()
    val estPairs = if (est.isNullAt(0)) 0.0 else est.getDouble(0)
    val totalTokens = if (est.isNullAt(1)) 0L else est.getLong(1)
    val nDocs = if (est.isNullAt(2)) 0L else est.getLong(2)
    val bytes = totalTokens * 8L +
      nDocs * 96L // per-row hash-relation + array-header overhead
    val cap = spark.conf.getOption(BroadcastVerifyBytesKey)
      .map(_.toLong).getOrElse(DefaultBroadcastVerifyBytes)
    // The estimate is the table's RESIDENT size; building it and the
    // torrent-broadcast serialization both transiently hold more. Never
    // commit more than a quarter of the driver's heap regardless of the
    // configured cap (r14 ADVICE: a cap tuned for one deployment OOMed a
    // smaller driver where the join shape — slowly — succeeded).
    val driverCap = Runtime.getRuntime.maxMemory / 4
    val takeBroadcast = bytes <= math.min(cap, driverCap)
    val avgSz = if (nDocs == 0) 0.0 else totalTokens.toDouble / nDocs
    val estShuffle = pairShuffleBytes(estPairs, avgSz, broadcastShape = takeBroadcast)
    VerifyPlan(takeBroadcast, estPairs, avgSz, estShuffle)
  }

  /** The LSH answer to a set-similarity join: MinHash-LSH candidates
    * ([[minhashCandidatePairsTracked]]) re-scored by the SAME verify
    * plan as [[prefixFilterPairs]] ([[verifyPairs]]: inter·den ≥
    * num·union over distinct-gram sets), emitting the SAME output
    * contract (doc_a < doc_b, inter, union_sz, jaccard — bit-identical
    * values on every emitted pair, since both shapes count set
    * identities under the same xxhash64 gram bijection). What differs
    * is COVERAGE: only pairs that collide in ≥1 of the b bands appear,
    * so recall on a true pair at similarity s is 1−(1−s^r)^b — the
    * banding curve; precision stays 1. Defaults
    * (k=32 — the native minhash_sig ceiling — r=4 → b=8) give ~0.40
    * recall AT a 0.5 threshold and ≥0.95 at s ≥ 0.75; lower
    * `rowsPerBand` to raise recall at the cost of more candidates
    * (r=1 → miss probability (1−s)^32 ≤ 2⁻³² at s ≥ 0.5, but every
    * pair sharing ONE minhash becomes a candidate — the dial trades
    * candidate volume, which is the very thing this shape bounds).
    * Scale: candidates form only inside band buckets
    * (never the n²/V exact-prefix pair space this shape escapes), and
    * verification tokenizes only candidate-incident docs.
    *
    * Exact or LSH is the CALLER's choice, never a session default: the
    * two shapes return different rows. Take this shape when the exact
    * join is pair-bound — its warn/hard-cap guard names the regime, and
    * [[planVerify]] prices it up front — and the banding-curve recall
    * is acceptable. At the corpus sizes where that happens the exact
    * join's candidate space is ~n²/V and no filter ladder changes the
    * asymptote (the r14 sf4 grid measured it filling the disk); a
    * bounded-recall answer that completes beats an exact one that does
    * not. Callers needing exactness at that scale shrink the corpus
    * first (exact dedup / span dedup), then run exact. */
  def lshVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                       thrNum: Int, thrDen: Int, shingleN: Int = 1,
                       k: Int = 32, rowsPerBand: Int = 4,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    val (cands, candBlocks) = minhashCandidatePairsTracked(
      docs, idCol, textCol, shingleN, k, rowsPerBand, maxBucket)
    // shingle ONLY candidate-incident docs (the nearDupPairsFrom shape):
    // per-token hash work scales with candidate density, not the corpus
    val candIds = cands.select(col("doc_a").as("id"))
      .union(cands.select(col("doc_b").as("id")))
      .distinct()
    val sets = docs.select(col(idCol).as("id"), col(textCol))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"),
        sort_array(shingleHashSet(col(textCol), shingleN)).as("stoks"))
      .withColumn("sz", size(col("stoks")))
    val out = Checkpoints.output(
      verifyPairs(cands, sets, broadcastTokens = false, thrNum, thrDen))
    Checkpoints.release(candBlocks)
    out
  }

  /** Candidate generation for [[prefixFilterPairs]], split out so specs
    * can count candidates (HeapsGrowthSpec's growth pin). Returns
    * (candidates, the per-doc sorted gram-hash table `(id, sz, stoks)`,
    * the checkpointed per-doc prefix-token frame — the pair-space
    * guard's input — and checkpoint blocks, which the caller releases
    * after the last consumer).
    *
    * Filter ladder, every level LOSSLESS for J ≥ thrNum/thrDen:
    *   1. length filter — min·den ≥ max·num;
    *   2. PPJoin positional filter — the smallest common token of a true
    *      pair sits in both prefixes at ranks (i, j) and every other
    *      common token follows it in both docs, so
    *      overlap ≤ 1 + min(szₐ−i, sz_b−j); required overlap is
    *      α = ⌈num·(szₐ+sz_b)/(num+den)⌉. Min-ranks per pair only
    *      over-estimate the bound — never drop a true pair.
    *
    * The global token order is (df, th) and serves directly as the
    * per-document rank window's order, so the vocabulary never sorts
    * globally; `tokid` is the gram hash itself.
    */
  private[graft] def prefixCandidates(docs: DataFrame, idCol: String, textCol: String,
                                      thrNum: Int, thrDen: Int, shingleN: Int)
      : (DataFrame, DataFrame, DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    require(thrNum > 0 && thrDen > 0 && thrNum <= thrDen,
      s"threshold must be a fraction in (0,1]: $thrNum/$thrDen")
    // base feeds dfreq, the rank window and verification — checkpoint
    // once or the shingle+hash pipeline recomputes per consumer
    val (base, baseBlocks) = Checkpoints.tracked(
      docs.select(col(idCol).as("id"),
          sort_array(shingleHashSet(col(textCol), shingleN)).as("ths"))
        .withColumn("sz", size(col("ths")))
        .filter(col("sz") > 0)
        .select(col("id"), col("sz"), col("ths")))
    val tok = base.select(col("id"), col("sz"), explode(col("ths")).as("th"))
    // tok holds DISTINCT (id, gram) pairs, so count == document frequency
    // (collisions merge gram identities — candidates only grow)
    val dfreq = tok.groupBy("th").agg(count(lit(1)).as("df"))
    val ranked = tok.join(dfreq, Seq("th"))
      .withColumn("tokid", col("th"))
      .withColumn("rk",
        row_number().over(Window.partitionBy("id").orderBy(asc("df"), asc("th"))))
    // the verification table is `base`'s gram hashes renamed — same
    // blocks, no new materialization, sorted ascending at base build (the
    // contract the native merge-intersection verification relies on)
    val stoks = base.select(col("id"), col("sz"), col("ths").as("stoks"))
    // prefix length = sz − ⌈num·sz/den⌉ + 1, all integer
    val (prefix, prefixBlocks) = Checkpoints.tracked(ranked
      .filter(col("rk") <= col("sz") - expr(s"($thrNum * sz + ${thrDen - 1}) DIV $thrDen") + 1)
      .select(col("id"), col("tokid"), col("sz"), col("rk")))
    // ASYMMETRIC (indexing) prefix — PPJoin's index-side tightening
    // (Xiao et al. TODS'11 §3.1): orient each pair so side a is the
    // SIZE-SMALLER record ((sz, id) lexicographic for antisymmetry).
    // Its partner b has sz_b ≥ sz_a, so the required overlap
    // α = ⌈t/(1+t)·(szₐ+sz_b)⌉ ≥ ⌈2t/(1+t)·szₐ⌉, and a needs only its
    // first szₐ − ⌈2t/(1+t)·szₐ⌉ + 1 tokens in the join (prefix lemma
    // with the larger α; the probe side keeps the standard length, whose
    // α ≥ t·sz_b needs the length filter every true pair passes). At
    // t = 1/2 this is ~sz/3 vs ~sz/2 — candidates drop ~1/3 on ANY
    // corpus, and the r11 sf1 measurement is where it pays: the
    // fixed-vocab corpus saturates its gram space and candidates are
    // the whole cost (19.6M at 50k docs). Lossless: both prefixes only
    // LENGTHEN relative to the α-exact lemma bound, and the first
    // common token of a surviving pair is still observed (any globally
    // earlier common token has smaller rank in BOTH docs, hence sits in
    // both generation prefixes), so the positional min-ranks stay exact.
    val idxPrefix = prefix.filter(col("rk") <=
      col("sz") - expr(s"(2 * $thrNum * sz + ${thrNum + thrDen - 1}) DIV ${thrNum + thrDen}") + 1)
    val cands = idxPrefix.as("a").join(prefix.as("b"),
        col("a.tokid") === col("b.tokid") &&
        (col("a.sz") < col("b.sz") ||
          (col("a.sz") === col("b.sz") && col("a.id") < col("b.id"))))
      .filter(col("a.sz") * thrDen >= col("b.sz") * thrNum)
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(min(col("a.rk")).as("__ia"), min(col("b.rk")).as("__ib"),
        first(col("a.sz")).as("__sza"), first(col("b.sz")).as("__szb"))
      .filter(lit(1) + least(col("__sza") - col("__ia"), col("__szb") - col("__ib")) >=
        expr(s"($thrNum * (__sza + __szb) + ${thrNum + thrDen - 1}) DIV ${thrNum + thrDen}"))
      .select(col("doc_a"), col("doc_b"))
    (cands, stoks, prefix, baseBlocks ++ prefixBlocks)
  }

  /** Sorted-neighborhood (SNM) near-dup pairs — the third blocking
    * paradigm beside LSH (probabilistic, q19) and prefix filtering
    * (exact, q142): sort the corpus ONCE by a cheap blocking key (the
    * first three tokens), then verify only pairs within `w` positions of
    * each other in the global order. Classic record-linkage; recall is
    * heuristic by design (a true pair sorting far apart is missed), but
    * the contract — "the verified pairs within the window" — is exact
    * and fully replayable, and the work is O(n·w) verifications after
    * one sort, with no pair space at all.
    *
    * Scale: the global order comes from
    * [[graft.ops.CoreOps.globalRowNumber]] (range partition + offsets);
    * window pairing is an EQUI-join on the rank-bucket ⌊rank/w⌋ (each
    * row posts to its own and the next bucket — any pair within w ranks
    * shares a posted bucket), so no window function ever walks the
    * corpus. Verification intersects hashed 3-gram arrays (the q142
    * convention, same collision note).
    */
  def sortedNeighborPairs(docs: DataFrame, idCol: String, textCol: String,
                          w: Int = 8, thrNum: Int = 1, thrDen: Int = 2): DataFrame = {
    require(w >= 2, "window must cover at least adjacent pairs")
    val sets = docs.select(col(idCol).cast("long").as("id"),
      concat_ws(" ", slice(TextOps.tokens(lower(col(textCol))), 1, 3)).as("sort_key"),
      sort_array(shingleHashSet(col(textCol), 3)).as("ths"))
      .withColumn("sz", size(col("ths")))
      .filter(col("sz") > 0)
      .select(col("id"), col("sort_key"), col("sz"), col("ths"))
    // globalRowNumber's checkpoint materializes the RANGE PARTITIONING,
    // but its window+offset-join suffix re-executes per reference — and
    // the bucket join reads the ranked frame on BOTH sides. Checkpoint
    // the ranked+bucketed frame once so each side scans the materialized
    // rows instead of re-sorting the corpus (with its gram arrays) twice.
    val (withB, wbBlocks) = Checkpoints.tracked(
      graft.ops.CoreOps.globalRowNumber(sets, Seq("sort_key", "id"), rankCol = "rank")
        .withColumn("b", expr(s"rank DIV $w")))
    val posted = withB.select(col("id"), col("rank"), col("sz"), col("ths"),
      explode(array(col("b"), col("b") + 1)).as("jb"))
    val cands = posted.as("a").join(withB.as("c"), col("a.jb") === col("c.b"))
      .filter(col("c.rank") > col("a.rank") && col("c.rank") - col("a.rank") < w)
      .select(col("a.id").as("doc_a"), col("c.id").as("doc_b"),
        col("a.sz").as("sz_a"), col("c.sz").as("sz_b"),
        col("a.ths").as("tk_a"), col("c.ths").as("tk_b"))
    // length filter first: J ≥ t needs min·den ≥ max·num — prunes
    // mismatched-size neighbors before any array intersection
    val out = Checkpoints.output(verifiedJaccard(
      cands.filter(least(col("sz_a"), col("sz_b")) * thrDen >=
                   greatest(col("sz_a"), col("sz_b")) * thrNum), thrNum, thrDen))
    Checkpoints.release(wbBlocks)
    out
  }

  /** Jaccard similarity of two pre-distinct arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a) + size(b) - size(array_intersect(a, b))
    when(union === 0, lit(0.0)).otherwise(inter / union.cast("double"))
  }

  /** [[jaccard]] over ASCENDING-sorted distinct `array<long>` sets — the
    * native two-pointer merge ([[graft.functions.SortedIntersectCount]])
    * instead of `array_intersect`'s per-pair hash-set build. Same value
    * whenever the sortedness contract holds; callers establish it once
    * per document (`sort_array` at set build), then every candidate pair
    * the document participates in rides the allocation-free merge.
    */
  def sortedJaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.SortedIntersect.sorted_intersect_count(a, b)
    val union = size(a) + size(b) - inter
    when(union === 0, lit(0.0))
      .otherwise(inter.cast("double") / union.cast("double"))
  }

  /** SimHash-64: per token, md5 → first 8 digest bytes → 64-bit int; each
    * bit votes ±1; sign of the vote sum sets the output bit. Near-dup docs
    * land within small Hamming distance. Implemented as the native
    * [[graft.functions.SimHash64]] expression — one md5 pass per token with
    * in-loop bit votes, a pure projection (no shuffle).
    */
  def simhash64(text: Column): Column =
    graft.functions.SimHash64.simhash64(TextOps.tokens(lower(text)))

  /** Hamming distance between two simhash-64 values. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs: banded candidate generation + exact
    * hamming verification. The 64-bit simhash splits into four 16-bit
    * bands; by pigeonhole any pair within hamming distance ≤ 3 agrees on
    * at least one whole band, so the band equi-join has EXACT recall for
    * maxHamming ≤ 3 while only expanding pairs inside band buckets — the
    * same never-form-the-pair-space shape as MinHash LSH. Shift is
    * arithmetic + mask (identical to a logical shift once masked), which
    * both engines spell the same way.
    *
    * The plan is the oracle's: a self equi-join of the banded rows on
    * (band, key, block) with doc_a < doc_b and the hamming bound, so it
    * runs on the plain join operators inside whole-stage codegen (a
    * broadcast of the banded rows when small; a sort-merge join whose two
    * sides read one reused exchange at scale) instead of an object
    * aggregate plus a lambda pair expansion. Each row pair is emitted
    * exactly once by construction: only from its LOWEST agreeing band (a
    * per-pair predicate on h_a XOR h_b) and, under salting, only in its
    * canonical triangle block (min salt, max salt). The closing
    * `distinct()` therefore removes nothing unless `idCol` repeats — two
    * rows of one doc_id can then yield the same (doc_a, doc_b, hamming) —
    * and keeps the set semantics of the oracle's SELECT DISTINCT. It
    * runs over a range partitioning on (doc_a, doc_b), so a caller's
    * `orderBy("doc_a", "doc_b")` (q52's) sorts locally instead of paying a
    * second exchange.
    *
    * @param maxBucket poison-bucket guard: buckets larger than this (a
    *   degenerate 16-bit band value on a boilerplate-heavy corpus) are
    *   SALTED into triangle blocks ([[triangleBlocked]]), bounding the
    *   rows any one join key carries; the output is unchanged.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming <= 3, "4 bands give exact recall only for hamming <= 3")
    val banded = docs
      .select(col(idCol).as("doc_id"), simhash64(col(textCol)).as("h"))
      .select(col("doc_id"), col("h"), explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"), band16(col("h"), b).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("h"), col("bk.band"), col("bk.key"))
    val blocked = triangleBlocked(banded, Seq("band", "key"), "doc_id", maxBucket)
    val (l, r) = (blocked.as("l"), blocked.as("r"))
    val x = col("l.h").bitwiseXOR(col("r.h"))
    // the lowest band on which the pair agrees; the join key guarantees
    // the pair agrees on this row's band, so "lowest == band" holds on
    // exactly one of the ≤ 4 band rows the join finds for the pair
    val lowestAgreeing = (0 until 3).foldRight(lit(3)) { (b, rest) =>
      when(band16(x, b) === 0L, lit(b)).otherwise(rest)
    }
    val canonicalBlock =
      if (maxBucket == Int.MaxValue) lit(true)
      else col("l.__blk") === least(col("l.__salt"), col("r.__salt")).cast("long") *
        1000000 + greatest(col("l.__salt"), col("r.__salt"))
    l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.__blk") === col("r.__blk") && col("l.doc_id") < col("r.doc_id") &&
        hamming64(col("l.h"), col("r.h")) <= maxHamming &&
        lowestAgreeing === col("l.band") && canonicalBlock)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        hamming64(col("l.h"), col("r.h")).as("hamming"))
      .repartitionByRange(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Band `b` (bits 16b .. 16b+15) of a 64-bit simhash as a long. */
  private def band16(h: Column, b: Int): Column =
    shiftright(h, b * 16).bitwiseAND(lit(0xffffL))

  /** Exact duplicated-SUBSTRING-span removal — the span-granular dedup of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): token runs that repeat ACROSS documents are excised from
    * every document carrying them, while the rest of each document
    * survives. Doc-granular dedup (exact q14, near-dup q54) misses this
    * class entirely — boilerplate headers, license blocks, quoted
    * passages — and q151's repetition gates only see WITHIN-doc repeats.
    *
    * Semantics (deterministic, RNG-free):
    *  - token stream = whitespace-split lowered text (the corpus-wide
    *    canonical form every gram operator here shares);
    *  - every w-token window of every document with ≥ w tokens gets a
    *    position; a window is DUPLICATED iff its gram occurs in at least
    *    `minDocs` DISTINCT documents (within-doc repeats alone never
    *    trigger — that is q151's axis);
    *  - a document's removed region is the UNION of its duplicated
    *    windows' [pos, pos+w−1] intervals; maximal contiguous runs are
    *    the reported spans (gaps-and-islands over window starts: a new
    *    island starts where pos > prev_pos + w);
    *  - clean_text is the surviving tokens in order, space-joined — the
    *    operator is defined on the token stream, so original whitespace
    *    is deliberately normalized.
    *
    * Scale shape (100 TB): the gram pass is ONE posexplode of the fused
    * native [[graft.functions.GramHashes]] stream (8-byte keys, no gram
    * strings — window position is the array index, so positioned grams
    * cost nothing extra); "duplicated" is a hash-aggregate whose state is
    * TWO longs per gram (min/max doc_id — min ≠ max ⟺ ≥ 2 distinct
    * docs; `minDocs` > 2 falls back to count_distinct), never a distinct
    * expansion; the mark is one equi-join on the gram key; islands ride a
    * doc_id-partitioned window (group = one document, bounded by max doc
    * length — the dual-shape rule's good case); excision is a positional
    * anti-join on (doc_id, pos) and a per-doc re-aggregation whose buffer
    * is one document's tokens. Every shuffle is keyed by gram or doc_id;
    * no driver state, no data-sized single-task stage. The decontamination
    * bloom path (q80) composes: at extreme corpus sizes, build a bloom of
    * duplicated grams and pre-filter the mark join's probe side. The
    * source is tokenized three times (gram pass, excision pass, final
    * doc-length projection) — deliberate: re-reading a columnar scan is
    * cheaper than materializing the token arrays, and the expensive gram
    * pass runs exactly once behind the span checkpoint.
    *
    * Output: doc_id, n_tokens, n_spans, n_tokens_removed, frac_removed,
    * clean_text — one row per input document (untouched docs report 0
    * spans and their full token stream; fully-duplicated docs report
    * clean_text = "").
    */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                w: Int = 8, minDocs: Int = 2): DataFrame = {
    require(w >= 2, "span windows need at least 2 tokens")
    require(minDocs >= 2, "a span must repeat across at least 2 documents")
    val tk = docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(lower(col(textCol))).as("t"))
    // positioned w-windows: gram_hashes emits one hash per window IN
    // ORDER, so posexplode's index IS the (0-based) window start. Docs
    // shorter than w emit the whole-doc gram in shingleHashes' convention;
    // span semantics exclude them (nothing to excise a window from).
    val win = tk.filter(size(col("t")) >= w)
      .select(col("doc_id"),
        posexplode(graft.functions.GramHashes.gram_hashes(col("t"), w)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gh"))
    val dup =
      if (minDocs == 2)
        win.groupBy("gh")
          .agg(min(col("doc_id")).as("__d0"), max(col("doc_id")).as("__d1"))
          .filter(col("__d0") =!= col("__d1")).select("gh")
      else
        win.groupBy("gh")
          .agg(count_distinct(col("doc_id")).as("__nd"))
          .filter(col("__nd") >= minDocs).select("gh")
    val marked = win.join(dup, Seq("gh"), "left_semi").select("doc_id", "pos")
    // gaps-and-islands over window STARTS: starts are sorted per doc and
    // all windows have length w, so the union of intervals breaks exactly
    // where pos > prev_pos + w
    val wd = Window.partitionBy("doc_id").orderBy(asc("pos"))
    // spans feed TWO consumers (the per-doc stats and the excision
    // anti-join); checkpointing the tiny island frame (≤ |marked starts|
    // rows) stops the whole gram pass from running twice — the same
    // ledger-released pattern as the candidate-pair checkpoints above
    val spans = Checkpoints.output(marked
      .withColumn("__pp", lag(col("pos"), 1).over(wd))
      .withColumn("__nf",
        when(col("__pp").isNull || col("pos") > col("__pp") + w, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__nf")).over(wd))
      .groupBy("doc_id", "__island")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (w - 1)).as("e")))
    val removed = spans.select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("pos"))
    val kept = tk
      .select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
      .join(removed, Seq("doc_id", "pos"), "left_anti")
    val clean = kept.groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        p => p.getField("tok")), " ").as("clean_text"))
    val stats = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).cast("long").as("n_removed"))
    tk.join(stats, Seq("doc_id"), "left")
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_tokens_removed"),
        (coalesce(col("n_removed"), lit(0L)).cast("double")
          / size(col("t")).cast("double")).as("frac_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
