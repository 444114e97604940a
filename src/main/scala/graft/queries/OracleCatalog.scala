package graft.queries

import graft.Harness
import graft.model.Star
import graft.ops.ShapeDispatch
import graft.report.Reports
import graft.util.SessionScoped
import graft.queries.{QueryCatalog => Q}

/** One driver query, declared once in [[OracleCatalog.declarations]]: its
  * name, its Spark body, the DuckDB SQL the oracle checks it against, and
  * the session caches the body reads. [[QueryCatalog.sessionCaches]]
  * derives each cache's consumers, and so its release point in a sorted
  * sweep, from `caches`; `releaseEarly` also releases them right after
  * this query, ahead of their last sorted consumer.
  */
final case class QueryDecl(name: String, body: Harness.Query, oracleSql: String,
    caches: Seq[SessionScoped.Cache[_]], releaseEarly: Boolean = false)

/** The query registry: every driver query declared once, as a
  * [[QueryDecl]]. `SparkEntry.queries`, `SparkEntry.oracleSql` and the
  * cache consumer sets are views of [[declarations]].
  *
  * Each oracle statement mirrors the Spark expression tree exactly (same
  * operation order, same literals-as-doubles, same explicit timestamp
  * formatting, same tie-breaks) so value hashes match digit-for-digit —
  * see the portability contract in QueryCatalog's doc.
  *
  * Tables (lineitem, orders, customer, nation, region, part, events,
  * documents, embeddings) are registered by the driver over the same
  * parquet files the Spark queries read.
  */
object OracleCatalog {

  // ---- shared fragments ----------------------------------------------------

  /** Spark surrogateKey analog: md5('-'-joined null-coalesced string casts). */
  private def sk(cols: String*): String =
    s"md5(concat_ws('-', ${cols.map(c => s"coalesce(CAST($c AS VARCHAR), '_null_')").mkString(", ")}))"

  private def fmtTs(c: String): String = s"strftime($c, '%Y-%m-%d %H:%M:%S')"

  /** Exact money sum: decimal in, double out (matches CoreOps.sumMoney —
    * scale 4 so per-row rounding never hits a tie, see its doc). */
  private def sumMoney(c: String): String =
    s"CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE)"

  private val dimc =
    s"""SELECT DISTINCT ${sk("c_custkey", "n_name")} AS customer_key,
       | c_custkey AS customer_id, c_name AS customer_name, n_name AS nation, r_name AS region
       |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
       | LEFT JOIN region ON n_regionkey = r_regionkey
       |WHERE c_custkey IS NOT NULL""".stripMargin

  private val dimd =
    s"""SELECT DISTINCT ${sk(fmtTs("o_orderdate"))} AS date_key,
       | ${fmtTs("o_orderdate")} AS datetime_id,
       | CAST(year(o_orderdate) AS INTEGER) AS year, CAST(month(o_orderdate) AS INTEGER) AS month,
       | CAST(day(o_orderdate) AS INTEGER) AS day, CAST(hour(o_orderdate) AS INTEGER) AS hour,
       | CAST(minute(o_orderdate) AS INTEGER) AS minute,
       | CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS weekday
       |FROM orders WHERE o_orderdate IS NOT NULL""".stripMargin

  private val dimp =
    s"""SELECT DISTINCT ${sk("p_partkey", "p_name", "p_brand")} AS product_key,
       | p_partkey AS stock_code, p_name AS description, p_brand AS brand, p_retailprice AS price
       |FROM part WHERE p_partkey IS NOT NULL AND p_retailprice > 0""".stripMargin

  private val dimi =
    s"""SELECT ${sk("o_orderkey")} AS invoice_key, o_orderkey AS order_id,
       | ${fmtTs("o_orderdate")} AS order_date, o_orderstatus AS order_status,
       | ${sk("c_custkey", "n_name")} AS customer_key
       |FROM (SELECT DISTINCT o_orderkey, o_custkey, o_orderdate, o_orderstatus FROM orders) o
       |JOIN (SELECT c_custkey, n_name FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey) ck
       |  ON o.o_custkey = ck.c_custkey""".stripMargin

  private val fct =
    s"""SELECT l.* FROM (
       |  SELECT ${sk("l_orderkey")} AS invoice_key,
       |         ${sk(fmtTs("o_orderdate"))} AS date_key,
       |         ${sk("l_partkey", "p_name", "p_brand")} AS product_key,
       |         l_orderkey AS order_id, l_linenumber AS line_number, l_quantity AS quantity,
       |         l_extendedprice * (1 - l_discount) AS total_price
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN part ON l_partkey = p_partkey
       |  WHERE l_quantity > 0
       |) l
       |JOIN (SELECT DISTINCT date_key FROM ($dimd)) dd USING (date_key)
       |JOIN (SELECT DISTINCT product_key FROM ($dimp)) dp USING (product_key)
       |JOIN (SELECT DISTINCT invoice_key FROM ($dimi)) di USING (invoice_key)""".stripMargin

  // ---- document fragments --------------------------------------------------

  private val toksLower = raw"regexp_split_to_array(trim(lower(text)), '\s+')"
  private val toksRaw   = raw"regexp_split_to_array(trim(text), '\s+')"

  /** ALL n-gram shingle occurrences over column t (mirrors Dedup.shingles —
    * no distinct; q62 counts occurrences). */
  private def shingleAllSqlN(n: Int): String =
    s"CASE WHEN len(t) < $n THEN [array_to_string(t, ' ')] " +
      s"ELSE [concat_ws(' ', ${(0 until n).map(k => if (k == 0) "t[i]" else s"t[i+$k]").mkString(", ")}) " +
      s"for i in generate_series(1, len(t) - ${n - 1})] END"

  /** Distinct n-gram shingle list over column t (mirrors Dedup.shingleSet). */
  private def shingleSqlN(n: Int): String =
    s"list_distinct(CASE WHEN len(t) < $n THEN [array_to_string(t, ' ')] " +
      s"ELSE [concat_ws(' ', ${(0 until n).map(k => if (k == 0) "t[i]" else s"t[i+$k]").mkString(", ")}) " +
      s"for i in generate_series(1, len(t) - ${n - 1})] END)"

  private val shingle3 = shingleSqlN(3)

  private def tkCteFrom(src: String) =
    s"tk AS (SELECT doc_id, source, text, $toksLower AS t FROM $src)"
  private val tkCte = tkCteFrom("documents")
  private val shCte = s"sh AS (SELECT doc_id, source, text, t, $shingle3 AS sh FROM tk)"

  /** Gap sessions (30 min) via lag + running-sum islands — the shared
    * oracle of q64 (native session_window) and q84 (SQL TVF surface).
    */
  private val sessionIslandSql: String =
    s"""WITH e AS (SELECT user_id, event_id, value, date_trunc('second', ts) AS ts_sec FROM events),
       |f AS (SELECT user_id, event_id, value, ts_sec,
       |        CASE WHEN lag(ts_sec) OVER w IS NULL
       |               OR (epoch(ts_sec) - epoch(lag(ts_sec) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_new
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)),
       |g AS (SELECT user_id, value, ts_sec,
       |        sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC
       |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |      FROM f)
       |SELECT user_id, ${fmtTs("min(ts_sec)")} AS session_start,
       |  ${fmtTs("max(ts_sec) + INTERVAL 30 MINUTE")} AS session_end,
       |  count(*) AS n_events, ${sumMoney("value")} AS session_value
       |FROM g GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin

  /** SCD2 change-compression over the full events table — q78's oracle,
    * and ALSO q102's: the incremental merge must equal the full
    * recompute, so both queries check against this same SQL.
    */
  private val scd2Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type, date_trunc('second', ts) AS ts_sec,
       |             epoch(date_trunc('second', ts)) AS ep FROM events),
       |l AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ep ASC, event_id ASC)
       |               AS prev_state FROM e),
       |c AS (SELECT * FROM l WHERE prev_state IS NULL OR prev_state != event_type)
       |SELECT user_id, event_type AS state,
       |  CAST(row_number() OVER w AS INTEGER) AS version,
       |  ${fmtTs("ts_sec")} AS valid_from,
       |  ${fmtTs("lead(ts_sec) OVER w")} AS valid_to,
       |  (lead(ts_sec) OVER w) IS NULL AS is_current
       |FROM c
       |WINDOW w AS (PARTITION BY user_id ORDER BY ep ASC, event_id ASC)""".stripMargin

  /** Raw (unrounded) Jaccard between two distinct shingle lists a/b. */
  private def jaccardSql(a: String, b: String): String =
    s"""CASE WHEN (len($a) + len($b) - len(list_intersect($a, $b))) = 0 THEN CAST(0.0 AS DOUBLE)
       | ELSE CAST(len(list_intersect($a, $b)) AS DOUBLE)
       |      / CAST(len($a) + len($b) - len(list_intersect($a, $b)) AS DOUBLE) END""".stripMargin

  /** Token/punct/digit/stopword counts CTE (mirrors TextOps counters). */
  private def statsCte(src: String): String =
    s"""b AS (
       | SELECT doc_id, text,
       |  CASE WHEN len(trim(text)) = 0 THEN 0 ELSE CAST(len($toksRaw) AS INTEGER) END AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpeish,
       |  CAST(len(regexp_extract_all(text, '[.,!?;:''"()[\\]{}-]')) AS INTEGER) AS n_punct,
       |  CAST(len(regexp_extract_all(text, '[0-9]')) AS INTEGER) AS n_digits,
       |  CAST(len(list_filter($toksLower, x -> x IN ($stopList))) AS INTEGER) AS n_stop
       | FROM $src)""".stripMargin

  /** Composite quality score over statsCte columns (mirrors
    * TextOps.qualityScore's exact expression tree, portable floor-round). */
  private val qualityExpr: String =
    """floor((greatest(CAST(0.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
      |   CAST(0.4 AS DOUBLE) * (CASE WHEN n_tokens >= 5 AND n_tokens <= 10000 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
      |   + CAST(0.4 AS DOUBLE) * least(CAST(n_stop AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
      |   - CAST(0.1 AS DOUBLE) * (CAST(n_punct AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)))
      |   - CAST(0.1 AS DOUBLE) * (CAST(n_digits AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)))
      |   + CAST(0.3 AS DOUBLE)))) * 1000000.0 + 0.5) / 1000000.0""".stripMargin

  /** u(x): the 52-bit md5 prefix of shingle x as a BIGINT — the 13-hex-
    * nibble fold, exactly [[graft.functions.Md5Prefix52]]'s contract. */
  private val uFold =
    "list_reduce([CAST(strpos('0123456789abcdef', substr(md5(x), __i, 1)) - 1 AS BIGINT) " +
      "for __i in generate_series(1, 13)], (__a, __v) -> __a * 16 + __v)"

  /** MinHash component i: numeric min over shingles of the universal hash
    * (A_i · u + B_i) mod (2^61 − 1), HUGEINT-exact. Coefficients read
    * from [[graft.functions.MinHashSig]] — one source of truth with the
    * engine expression. */
  private def minhash(i: Int): String = {
    val a = graft.functions.MinHashSig.As(i)
    val b = graft.functions.MinHashSig.Bs(i)
    val p = graft.functions.MinHashSig.P
    s"list_min(list_transform(sh, x -> " +
      s"CAST((CAST($a AS HUGEINT) * ($uFold) + $b) % $p AS BIGINT)))"
  }

  private val sigCols = (0 until 16).map(i => s"${minhash(i)} AS m${i}").mkString(",\n ")

  private def bandKey(b: Int): String =
    s"md5(concat_ws('|', ${(0 until 4).map(r => s"CAST(m${b * 4 + r} AS VARCHAR)").mkString(", ")}))"

  private val stopList = graft.text.TextOps.StopwordsEn.map(w => s"'$w'").mkString(", ")

  /** SimHash-64 per doc as CTEs ending in sim(doc_id, simhash) — per
    * token: hi = md5 hex chars 1-8 (simhash bits 32-63), lo = 9-16 (bits
    * 0-31), folded nibble-by-nibble; each bit votes ±1; bit 63
    * materializes as BIGINT min to dodge signed overflow. Shared by q24
    * and q52. */
  private val simhashCtes: String = {
    def hexFold(start: Int) =
      s"list_reduce([CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT) " +
        s"for i in generate_series($start, ${start + 7})], (a, x) -> a * 16 + x)"
    val votes = (0 until 64).map { b =>
      val half = if (b < 32) s"lo >> $b" else s"hi >> ${b - 32}"
      s"sum(CASE WHEN (($half) & 1) = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n  ")
    val assemble = (0 until 63).map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ") + " + (CASE WHEN v63 > 0 THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END)"
    s"""tok AS (SELECT doc_id, unnest($toksLower) AS t FROM documents),
       |h AS (SELECT doc_id, ${hexFold(1)} AS hi, ${hexFold(9)} AS lo FROM tok),
       |v AS (SELECT doc_id,
       |  $votes
       | FROM h GROUP BY doc_id),
       |sim AS (SELECT doc_id, $assemble AS simhash FROM v)""".stripMargin
  }

  // ---- vector fragments ----------------------------------------------------

  private val dotSelf  = "list_reduce([v[i] * v[i] for i in generate_series(1, len(v))], (acc, x) -> acc + x)"

  /** Portable 4-digit score rounding — mirrors Similarity.roundScore
    * (`floor(x*1e4+0.5)/1e4`): the same IEEE ops in both engines, so the
    * rounded doubles are bit-identical. Plain round() is engine-divergent
    * on shortest-repr ties (the q21 r1 mismatch). */
  private def round4(x: String): String = s"floor(($x) * 10000.0 + 0.5) / 10000.0"

  /** Shared q120/q122 PQ pipeline: stride-sampled sub-space codebooks,
    * argmin-L2² encode (cid tie-break), j-ordered ADC fold, top-50
    * shortlist, exact L2² re-rank. `ivfGate = true` prepends q30's cell
    * assignment/probing and gates the ADC pair space with the candidate
    * pairs — ONE source so a tie-break/rounding fix can't drift between
    * the two entries (mirrors pqTopK's optional `candidates` param).
    */
  private def pqAnnSql(ivfGate: Boolean, trainedCb: Boolean = false,
                       trainedCells: Boolean = false): String = {
    def dotOf(a: String, b: String) =
      s"list_reduce([$a[i] * $b[i] for i in generate_series(1, len($a))], (acc, x) -> acc + x)"
    def normOf(a: String) =
      s"sqrt(list_reduce([$a[i] * $a[i] for i in generate_series(1, len($a))], (acc, x) -> acc + x))"
    val l2 = "list_reduce([ (s.sv[i] - c.scv[i]) * (s.sv[i] - c.scv[i]) " +
      "for i in generate_series(1, 8)], (a, x) -> a + x)"
    val l2full = "list_reduce([ (cv.v[i] - qv.v[i]) * (cv.v[i] - qv.v[i]) " +
      "for i in generate_series(1, 64)], (a, x) -> a + x)"
    require(!trainedCells || ivfGate, "trained cells imply the IVF gate")
    // trained cells: the q68 one-iteration quantized-mean k-means replayed
    // verbatim (same ~10-cell init stride, same assignment tie-breaks,
    // nProbe=3 per q68's convention); stride cells otherwise (q30's %50,
    // nProbe=4)
    val cellCent = if (!trainedCells)
      "cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM en WHERE vec_id % 50 = 0),"
    else
      s"""st AS (SELECT greatest(1, count(*) // 10) AS stride FROM embeddings),
         |init AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % (SELECT stride FROM st) = 0),
         |initn AS (SELECT cid, cv, ${normOf("cv")} AS cnrm FROM init),
         |csims0 AS (SELECT en.vec_id, en.v, initn.cid,
         |    CASE WHEN (en.nrm * initn.cnrm) = 0 THEN CAST(0.0 AS DOUBLE)
         |      ELSE ${dotOf("en.v", "initn.cv")} / (en.nrm * initn.cnrm) END AS sim
         |  FROM en CROSS JOIN initn),
         |cr0 AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk FROM csims0),
         |ca0 AS (SELECT vec_id, v, cid FROM cr0 WHERE rk = 1),
         |cxx AS (SELECT cid,
         |        unnest(generate_series(1, len(v))) AS pos,
         |        unnest([floor(v[i] * 1000000.0 + 0.5) for i in generate_series(1, len(v))]) AS xq
         |      FROM ca0),
         |cmm AS (SELECT cid, pos, sum(xq) / (1000000.0 * CAST(count(*) AS DOUBLE)) AS m FROM cxx GROUP BY cid, pos),
         |ctr AS (SELECT cid, list(m ORDER BY pos) AS cv FROM cmm GROUP BY cid),
         |cent AS (SELECT cid, cv, ${normOf("cv")} AS cnrm FROM ctr),""".stripMargin
    val nProbe = if (trainedCells) 3 else 4
    val ivfCtes = if (!ivfGate) "" else
      s"""en AS (SELECT vec_id, v, sqrt($dotSelf) AS nrm FROM e),
         |$cellCent
         |sims AS (SELECT en.vec_id, en.nrm, cent.cid,
         |    CASE WHEN (en.nrm * cent.cnrm) = 0 THEN CAST(0.0 AS DOUBLE)
         |      ELSE ${dotOf("en.v", "cent.cv")} / (en.nrm * cent.cnrm) END AS sim
         |  FROM en CROSS JOIN cent),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk FROM sims),
         |corp AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk = 1),
         |qcell AS (SELECT vec_id AS query_id, cid AS cell FROM ranked WHERE vec_id < 10 AND rk <= $nProbe),
         |cand AS (SELECT DISTINCT qcell.query_id, corp.vec_id
         |         FROM corp JOIN qcell USING (cell)
         |         WHERE qcell.query_id != corp.vec_id),
         |""".stripMargin
    val candJoin = if (ivfGate)
      "\n           JOIN cand ON cand.query_id = qt.query_id AND cand.vec_id = codes.vec_id" else ""
    // trained codebooks: ONE Lloyd refinement of a FIXED-ksub init
    // (ksub=64 — real PQ's fixed-codebook convention, so pair work is
    // linear in the corpus) per sub-space — assign every sub-vector
    // (L2², min-cid ties), then quantized-exact component means (the
    // q68 construction, per j)
    val cbCtes =
      if (!trainedCb)
        s"""cbst AS (SELECT greatest(1, count(*) // 64) AS stride FROM embeddings),
           |cb AS (SELECT vec_id AS cid, j, sv AS scv FROM sub
           |       WHERE vec_id % (SELECT stride FROM cbst) = 0),""".stripMargin
      else
        s"""cbst AS (SELECT greatest(1, count(*) // 64) AS stride FROM embeddings),
           |cb0 AS (SELECT vec_id AS cid, j, sv AS scv FROM sub
           |        WHERE vec_id % (SELECT stride FROM cbst) = 0),
           |d0 AS (SELECT s.vec_id, s.j, s.sv, c.cid, $l2 AS d
           |       FROM sub s JOIN cb0 c USING (j)),
           |a0 AS (SELECT vec_id, j, sv, cid FROM (
           |         SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cid ASC) AS rk
           |         FROM d0) WHERE rk = 1),
           |xx AS (SELECT j, cid, unnest(generate_series(1, 8)) AS pos,
           |        unnest([floor(sv[i] * 1000000.0 + 0.5) for i in generate_series(1, 8)]) AS xq
           |       FROM a0),
           |mm AS (SELECT j, cid, pos, sum(xq) / (1000000.0 * CAST(count(*) AS DOUBLE)) AS m
           |       FROM xx GROUP BY j, cid, pos),
           |cb AS (SELECT j, cid, list(m ORDER BY pos) AS scv FROM mm GROUP BY j, cid),""".stripMargin
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |${ivfCtes}sub AS (SELECT vec_id, j, v[j*8+1 : (j+1)*8] AS sv
       |        FROM e CROSS JOIN unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS u(j)),
       |$cbCtes
       |dists AS (SELECT s.vec_id, s.j, c.cid, $l2 AS d
       |          FROM sub s JOIN cb c USING (j)),
       |codes AS (SELECT vec_id, j, cid FROM (
       |            SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cid ASC) AS rk
       |            FROM dists) WHERE rk = 1),
       |qt AS (SELECT vec_id AS query_id, j, cid, d FROM dists WHERE vec_id < 10),
       |paired AS (SELECT qt.query_id, codes.vec_id, codes.j, qt.d
       |           FROM codes JOIN qt ON codes.j = qt.j AND codes.cid = qt.cid$candJoin
       |           WHERE qt.query_id != codes.vec_id),
       |scored AS (SELECT query_id, vec_id,
       |    ${round4("list_reduce(list(d ORDER BY j), (a, x) -> a + x)")} AS approx_dist
       |  FROM paired GROUP BY query_id, vec_id),
       |short AS (SELECT query_id, vec_id, approx_dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_dist ASC, vec_id ASC) AS adc_rank
       |    FROM scored) WHERE adc_rank <= 50),
       |rr AS (SELECT short.query_id, short.vec_id, short.approx_dist,
       |    ${round4(l2full)} AS dist
       |  FROM short JOIN e cv ON short.vec_id = cv.vec_id
       |             JOIN e qv ON short.query_id = qv.vec_id)
       |SELECT query_id, vec_id, approx_dist, dist, CAST(rank AS INTEGER) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank FROM rr)
       |WHERE rank <= 5""".stripMargin
  }
  private val embCte =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |en AS (SELECT vec_id, v, sqrt($dotSelf) AS nrm FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM en WHERE vec_id < 10)""".stripMargin
  private val dotQV = "list_reduce([qv[i] * v[i] for i in generate_series(1, len(qv))], (acc, x) -> acc + x)"
  private val cosScores =
    s"""SELECT query_id, vec_id,
       | ${round4(s"CASE WHEN (qnrm * nrm) = 0 THEN CAST(0.0 AS DOUBLE) ELSE $dotQV / (qnrm * nrm) END")} AS score
       |FROM en CROSS JOIN q WHERE query_id != vec_id""".stripMargin

  /** Hyperplane LSH bucket expression with the SAME deterministic
    * constants the Scala side uses, serialized via Double.toString
    * (shortest-roundtrip repr ⇒ DuckDB parses back the identical double).
    * Mirrors Similarity.lshSignature: left-assoc dot with per-element
    * float→double cast, sign bit per plane, OR of power-of-two bits.
    */
  private def lshBucketSql(vecCol: String, dim: Int, nBits: Int): String =
    (0 until nBits).map { b =>
      val proj = (0 until dim)
        .map(d => s"CAST($vecCol[${d + 1}] AS DOUBLE) * ${java.lang.Double.toString(graft.sim.Similarity.hyperplane(b, d))}")
        .mkString(" + ")
      s"(CASE WHEN ($proj) >= 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")

  // ---- the oracle map ------------------------------------------------------

  /** q129 AND q171 (the auto-dispatched and forced-ranged sides of the
    * equi-depth histogram dial) replay the same oracle. */
  private val equiDepthHistSql: String =
    """WITH r AS (SELECT l_returnflag, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC) AS rk,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT l_returnflag, CAST(((rk - 1) * 8) // n AS INTEGER) AS bucket,
      |  count(*) AS n_rows, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q137 AND q172 (the auto-dispatched and forced-heap sides of the
    * grouped top-k dial) replay the same oracle. */
  private val topPartsPerFlagSql: String =
    """WITH r AS (SELECT l_returnflag, l_partkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS rev1e4
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, l_partkey, rev1e4, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |    ORDER BY rev1e4 DESC, l_partkey ASC) AS rank FROM r)
      |WHERE rank <= 3 ORDER BY l_returnflag, rank""".stripMargin

  /** q53 AND q170 (the auto-dispatched and forced-ranged sides of the
    * ranking dial) replay the same window-function oracle. */
  private val rankFunctionsSql: String =
    """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
      | CAST(rank() OVER w AS INTEGER) AS rnk,
      | CAST(dense_rank() OVER w AS INTEGER) AS drnk,
      | percent_rank() OVER w AS prnk,
      | cume_dist() OVER w AS cdist,
      | CAST(ntile(4) OVER w AS INTEGER) AS quartile
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_returnflag
      |  ORDER BY l_quantity ASC, l_orderkey ASC, l_linenumber ASC)""".stripMargin

  private def query(name: String, body: Harness.Query, caches: SessionScoped.Cache[_]*)(
      sql: String): QueryDecl = QueryDecl(name, body, sql, caches)

  val declarations: Seq[QueryDecl] = Seq(
    // parity: reference operator inventory
    query("q01_scan_filter_project", Q.scanFilterProject)(
      """SELECT l_orderkey AS order_id, l_linenumber AS line_number, l_quantity AS quantity,
        | l_extendedprice * (1 - l_discount) AS net_price
        |FROM lineitem
        |WHERE l_quantity > 0 AND l_returnflag IS NOT NULL AND l_shipdate IS NOT NULL""".stripMargin),

    // dims/fact read the session-cached materialization (Star.build) —
    // the dbt `materialized: table` analog all star consumers share
    query("q02_dim_customer", (s, d) => Star.build(s, d).dimCustomer, Star.cache)(dimc),
    query("q03_dim_datetime", (s, d) => Star.build(s, d).dimDatetime, Star.cache)(dimd),
    query("q04_dim_product", (s, d) => Star.build(s, d).dimProduct, Star.cache)(dimp),
    query("q05_dim_invoice", (s, d) => Star.build(s, d).dimInvoice, Star.cache)(dimi),
    query("q06_fct_line_value", (s, d) => Star.build(s, d).fct, Star.cache)(fct),

    query("q07_report_customer", Reports.customerInvoices, Star.cache)(
      s"""SELECT nation, region, count(invoice_key) AS total_invoices,
         | ${sumMoney("total_price")} AS total_revenue
         |FROM ($fct) f
         |JOIN (SELECT invoice_key, customer_key FROM ($dimi)) i USING (invoice_key)
         |JOIN (SELECT customer_key, nation, region FROM ($dimc)) c USING (customer_key)
         |GROUP BY nation, region
         |ORDER BY total_revenue DESC, nation ASC LIMIT 10""".stripMargin),

    query("q08_report_product", Reports.productInvoices, Star.cache)(
      s"""SELECT product_key, stock_code, description,
         | ${sumMoney("quantity")} AS total_quantity_sold
         |FROM ($fct) f
         |JOIN (SELECT product_key, stock_code, description FROM ($dimp)) p USING (product_key)
         |GROUP BY product_key, stock_code, description
         |ORDER BY total_quantity_sold DESC, product_key ASC LIMIT 10""".stripMargin),

    query("q09_report_year", Reports.yearInvoices, Star.cache)(
      s"""SELECT year, month, count(DISTINCT invoice_key) AS num_invoices,
         | ${sumMoney("total_price")} AS total_revenue
         |FROM ($fct) f
         |JOIN (SELECT date_key, year, month FROM ($dimd)) d USING (date_key)
         |GROUP BY year, month ORDER BY year ASC, month ASC""".stripMargin),

    query("q10_events_group_max", Q.eventsGroupMax)(
      s"""SELECT event_id, user_id, ${fmtTs("date_trunc('second', ts)")} AS ts_s,
         | ${fmtTs("date_trunc('second', max(ts) OVER (PARTITION BY user_id))")} AS max_ts_s
         |FROM events""".stripMargin),

    query("q11_events_dedup_latest", Q.eventsDedupLatest)(
      s"""SELECT user_id, event_id, ${fmtTs("date_trunc('second', ts)")} AS ts_s
         |FROM (SELECT user_id, event_id, ts,
         |        row_number() OVER (PARTITION BY user_id
         |          ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rn
         |      FROM events)
         |WHERE rn = 1""".stripMargin),

    query("q12_events_rollup", Q.eventsRollup)(
      s"""SELECT event_type, count(event_id) AS n_events, count(DISTINCT user_id) AS n_users,
         | ${sumMoney("value")} AS total_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    query("q13_events_hourly", Q.eventsHourly)(
      s"""SELECT ${fmtTs("date_trunc('hour', ts)")} AS window_start,
         | ${fmtTs("date_trunc('hour', ts) + INTERVAL 1 HOUR")} AS window_end,
         | event_type, count(*) AS n_events, ${sumMoney("value")} AS total_value
         |FROM events GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin),

    query("q31_events_sessions", Q.eventsSessions)(
      s"""WITH e AS (SELECT user_id, event_id, value, date_trunc('second', ts) AS ts_sec FROM events),
         |f AS (SELECT user_id, event_id, value, ts_sec,
         |        CASE WHEN lag(ts_sec) OVER w IS NULL
         |               OR (epoch(ts_sec) - epoch(lag(ts_sec) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_new
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)),
         |g AS (SELECT user_id, event_id, value, ts_sec,
         |        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC
         |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         |      FROM f)
         |SELECT user_id, session_seq, count(*) AS n_events,
         |  ${fmtTs("min(ts_sec)")} AS session_start,
         |  ${fmtTs("max(ts_sec)")} AS session_end,
         |  ${sumMoney("value")} AS session_value
         |FROM g GROUP BY user_id, session_seq
         |ORDER BY user_id, session_seq""".stripMargin),

    // extensions: text analysis + dedup
    query("q14_exact_dedup", Q.exactDedup)(
      s"""SELECT md5(array_to_string($toksLower, ' ')) AS content_hash,
         | min(doc_id) AS keep_id, count(*) AS dup_count
         |FROM documents GROUP BY 1""".stripMargin),

    query("q15_text_stats", Q.textStats)(
      s"""WITH ${statsCte("documents")}
         |SELECT doc_id, n_tokens, n_bpeish, n_punct, n_digits, n_stop,
         | $qualityExpr AS quality
         |FROM b""".stripMargin),

    query("q16_lang_id", Q.langId) {
      val m = graft.text.TextOps.LangMarkers.map { case (code, ws) =>
        s"len(list_filter(tk2, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS s_$code"
      }.mkString(",\n  ")
      val best = "greatest(s_de, s_en, s_es, s_fr)"
      s"""WITH s AS (SELECT doc_id, $toksLower AS tk2 FROM documents),
         |sc AS (SELECT doc_id,
         |  $m
         | FROM s)
         |SELECT doc_id, CASE WHEN $best = 0 THEN 'und'
         |  WHEN s_de = $best THEN 'de' WHEN s_en = $best THEN 'en'
         |  WHEN s_es = $best THEN 'es' ELSE 'fr' END AS lang_pred
         |FROM sc""".stripMargin
    },

    query("q17_fingerprint", Q.fingerprints)(
      s"""WITH $tkCte, $shCte
         |SELECT doc_id, md5(array_to_string(t, ' ')) AS fp_exact,
         | list_min(list_transform(sh, x -> md5(x))) AS fp_minshingle
         |FROM sh""".stripMargin),

    query("q18_minhash_sig", Q.minhashSig)(
      s"""WITH $tkCte, $shCte
         |SELECT doc_id, concat_ws('|', ${(0 until 16)
            .map(i => s"CAST(${minhash(i)} AS VARCHAR)").mkString(",\n ")}) AS sig
         |FROM sh""".stripMargin),

    query("q19_minhash_pairs", Q.minhashPairs, Q.pairsCache)(
      s"""WITH $tkCte, $shCte,
         |sig AS (SELECT doc_id, $sigCols FROM sh),
         |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, ${bandKey(b)} AS band_key FROM sig")
              .mkString("\n UNION ALL ")})
         |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id""".stripMargin),

    query("q20_jaccard_neighbors", Q.jaccardNeighbors)(
      s"""WITH $tkCte, $shCte,
         |p AS (SELECT source, doc_id AS doc_a,
         |        lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS doc_b, sh AS sh_a
         |      FROM sh)
         |SELECT doc_a, doc_b,
         | floor((CASE WHEN (len(sh_a) + len(b.sh) - len(list_intersect(sh_a, b.sh))) = 0 THEN CAST(0.0 AS DOUBLE)
         |   ELSE CAST(len(list_intersect(sh_a, b.sh)) AS DOUBLE)
         |        / CAST(len(sh_a) + len(b.sh) - len(list_intersect(sh_a, b.sh)) AS DOUBLE) END) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         |FROM p JOIN sh b ON p.doc_b = b.doc_id
         |WHERE doc_b IS NOT NULL""".stripMargin),

    // extensions: similarity search
    query("q21_cosine_scores", Q.cosineScores)(
      s"""WITH $embCte
         |$cosScores""".stripMargin),

    query("q22_ann_topk", Q.annTopK)(
      s"""WITH $embCte,
         |s AS ($cosScores)
         |SELECT query_id, vec_id, score, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank FROM s)
         |WHERE rank <= 5""".stripMargin),

    // rolling-hash fingerprints
    query("q29_rolling_hash", Q.rollingHashes)(
      """SELECT doc_id,
        | CASE WHEN len(text) = 0 THEN 0 ELSE
        |   list_reduce([CAST(ascii(substr(text, i, 1)) AS BIGINT) for i in generate_series(1, len(text))],
        |               (a, c) -> (a * 31 + c) % 1000000007) END AS rh,
        | CASE WHEN len(text) = 0 THEN 0 ELSE
        |   list_min([
        |     list_reduce([CAST(ascii(substr(text, j, 1)) AS BIGINT) for j in generate_series(i, least(i + 15, len(text)))],
        |                 (a, c) -> (a * 31 + c) % 1000000007)
        |     for i in generate_series(1, greatest(len(text) - 15, 1))]) END AS rh_min_window
        |FROM documents""".stripMargin),

    // flagship LLM-pipeline composition (oracle-checked)
    query("q32_clean_corpus", Q.cleanCorpus, Q.corpusCache)(
      s"""WITH ${statsCte("documents")},
         |q AS (SELECT doc_id, text, n_tokens, $qualityExpr AS quality FROM b),
         |qf AS (SELECT * FROM q WHERE quality >= 0.5),
         |e AS (SELECT doc_id, text, n_tokens, quality FROM (
         |   SELECT qf.*, min(doc_id) OVER (
         |     PARTITION BY md5(array_to_string($toksLower, ' '))) AS keep FROM qf)
         | WHERE doc_id = keep),
         |tk2 AS (SELECT doc_id, $toksLower AS t FROM e),
         |sh AS (SELECT doc_id, $shingle3 AS sh FROM tk2),
         |sig AS (SELECT doc_id, $sigCols FROM sh),
         |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, ${bandKey(b)} AS band_key FROM sig")
              .mkString("\n UNION ALL ")}),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |         FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
         |pv AS (SELECT DISTINCT cand.doc_b FROM cand
         |       JOIN sh a ON cand.doc_a = a.doc_id
         |       JOIN sh bb ON cand.doc_b = bb.doc_id
         |       WHERE ${jaccardSql("a.sh", "bb.sh")} >= 0.8)
         |SELECT doc_id, n_tokens, quality FROM e
         |WHERE doc_id NOT IN (SELECT doc_b FROM pv)""".stripMargin),

    // capstone: full training-corpus preparation composition
    // the q32 chain + split + 8-gram heldout decontamination — each stage
    // is separately oracle-checked; this checks the composition
    query("q49_training_corpus", Q.trainingCorpus, Q.corpusCache)(
      s"""WITH ${statsCte("documents")},
         |q AS (SELECT doc_id, text, n_tokens, $qualityExpr AS quality FROM b),
         |qf AS (SELECT * FROM q WHERE quality >= 0.5),
         |e AS (SELECT doc_id, text, n_tokens, quality FROM (
         |   SELECT qf.*, min(doc_id) OVER (
         |     PARTITION BY md5(array_to_string($toksLower, ' '))) AS keep FROM qf)
         | WHERE doc_id = keep),
         |tk2 AS (SELECT doc_id, $toksLower AS t FROM e),
         |sh AS (SELECT doc_id, $shingle3 AS sh FROM tk2),
         |sig AS (SELECT doc_id, $sigCols FROM sh),
         |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, ${bandKey(b)} AS band_key FROM sig")
              .mkString("\n UNION ALL ")}),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |         FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
         |pv AS (SELECT DISTINCT cand.doc_b FROM cand
         |       JOIN sh a ON cand.doc_a = a.doc_id
         |       JOIN sh bb ON cand.doc_b = bb.doc_id
         |       WHERE ${jaccardSql("a.sh", "bb.sh")} >= 0.8),
         |clean AS (SELECT doc_id, n_tokens, quality,
         |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
         |      THEN 'heldout' ELSE 'train' END AS split,
         |    t
         |  FROM e JOIN tk2 USING (doc_id)
         |  WHERE doc_id NOT IN (SELECT doc_b FROM pv)),
         |g AS (SELECT doc_id, split, md5(unnest(${shingleSqlN(8)})) AS gh FROM clean),
         |tg AS (SELECT DISTINCT gh FROM g WHERE split = 'train'),
         |cont AS (SELECT DISTINCT doc_id FROM g
         |         WHERE split = 'heldout' AND gh IN (SELECT gh FROM tg))
         |SELECT doc_id, split, n_tokens, quality FROM clean
         |WHERE doc_id NOT IN (SELECT doc_id FROM cont)
         |ORDER BY doc_id""".stripMargin),

    // bit-level simhash (the oracle mirrors the bit math)
    query("q24_simhash", Q.simhash)(
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM sim""".stripMargin),

    // banded simhash near-dup pairs (exact recall for hamming <= 3)
    // banded simhash near-dups: 4×16-bit bands (arithmetic shift + mask ==
    // logical shift), pairs inside band buckets only, exact hamming verify
    query("q52_simhash_neardups", Q.simhashNearDups)(
      s"""WITH $simhashCtes,
         |bands AS (SELECT doc_id, simhash, b.band,
         |    (simhash >> (b.band * 16)) & 65535 AS key
         |  FROM sim, (VALUES (0), (1), (2), (3)) b(band))
         |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |  CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
         |FROM bands l JOIN bands r
         |  ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin),

    // hyperplane-LSH paths (the oracle carries the constants)
    query("q25_lsh_ann_topk", Q.lshAnnTopK) {
      // same probe-mask set Similarity.lshTopK builds for nBits=6, probeFlips=2
      val n = 6
      val masks: Seq[Long] = Seq(0L) ++ (0 until n).map(i => 1L << i) ++
        (for { i <- 0 until n; j <- (i + 1) until n } yield (1L << i) | (1L << j))
      val dotPV = "list_reduce([p.qv[i] * en.v[i] for i in generate_series(1, len(p.qv))], (acc, x) -> acc + x)"
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |  ${lshBucketSql("embedding", 64, n)} AS bucket FROM embeddings),
         |en AS (SELECT vec_id, v, bucket, sqrt($dotSelf) AS nrm FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket AS qbucket FROM en WHERE vec_id < 10),
         |p AS (SELECT query_id, qv, qnrm, xor(qbucket, m) AS bucket
         |      FROM q CROSS JOIN unnest([${masks.mkString(", ")}]) AS u(m)),
         |scored AS (SELECT query_id, vec_id,
         |    max(${round4(s"CASE WHEN (p.qnrm * en.nrm) = 0 THEN CAST(0.0 AS DOUBLE) ELSE $dotPV / (p.qnrm * en.nrm) END")}) AS score
         |  FROM p JOIN en USING (bucket)
         |  WHERE p.query_id != en.vec_id
         |  GROUP BY query_id, vec_id)
         |SELECT query_id, vec_id, score, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank FROM scored)
         |WHERE rank <= 5""".stripMargin
    },

    query("q26_embedding_neardups", Q.embeddingNearDups) {
      val dotAB = "list_reduce([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))], (acc, x) -> acc + x)"
      // Similarity.deriveNBits as an integer CASE chain: nBits is the
      // smallest b in [4,16] with count <= 32·2^b; the 16-plane signature
      // masked to the low nBits equals the nBits-plane signature (planes
      // are index-stable), so one serialized plane set covers every width.
      val maskCase = (4 until 16)
        .map(b => s"WHEN n <= ${32L << b} THEN ${(1L << b) - 1}")
        .mkString("CASE ", " ", s" ELSE ${(1L << 16) - 1} END")
      s"""WITH cnt AS (SELECT count(*) AS n FROM embeddings),
         |nb AS (SELECT $maskCase AS mask FROM cnt),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |  (${lshBucketSql("embedding", 64, 16)}) & (SELECT mask FROM nb) AS bucket FROM embeddings),
         |en AS (SELECT vec_id, v, bucket, sqrt($dotSelf) AS nrm FROM e)
         |SELECT DISTINCT id_a, id_b, score FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${round4(s"CASE WHEN (a.nrm * b.nrm) = 0 THEN CAST(0.0 AS DOUBLE) ELSE $dotAB / (a.nrm * b.nrm) END")} AS score
         |  FROM en a JOIN en b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |WHERE score >= 0.35""".stripMargin
    },

    // IVF ANN
    query("q30_ivf_ann_topk", Q.ivfAnnTopK) {
      def dotOf(a: String, b: String) =
        s"list_reduce([$a[i] * $b[i] for i in generate_series(1, len($a))], (acc, x) -> acc + x)"
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |en AS (SELECT vec_id, v, sqrt($dotSelf) AS nrm FROM e),
         |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM en WHERE vec_id % 50 = 0),
         |sims AS (SELECT en.vec_id, en.v, en.nrm, cent.cid,
         |    CASE WHEN (en.nrm * cent.cnrm) = 0 THEN CAST(0.0 AS DOUBLE)
         |      ELSE ${dotOf("en.v", "cent.cv")} / (en.nrm * cent.cnrm) END AS sim
         |  FROM en CROSS JOIN cent),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk FROM sims),
         |corp AS (SELECT vec_id, v, nrm, cid AS cell FROM ranked WHERE rk = 1),
         |qc AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cid AS cell FROM ranked WHERE vec_id < 10 AND rk <= 4),
         |scored AS (SELECT query_id, corp.vec_id,
         |    max(${round4(s"CASE WHEN (qc.qnrm * corp.nrm) = 0 THEN CAST(0.0 AS DOUBLE) ELSE ${dotOf("qc.qv", "corp.v")} / (qc.qnrm * corp.nrm) END")}) AS score
         |  FROM corp JOIN qc USING (cell)
         |  WHERE qc.query_id != corp.vec_id
         |  GROUP BY query_id, corp.vec_id)
         |SELECT query_id, vec_id, score, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank FROM scored)
         |WHERE rank <= 5""".stripMargin
    },

    // product-quantization ADC top-k: the memory-bound ANN scale path
    // q120: product-quantization ADC + exact re-rank — see pqAnnSql
    query("q120_pq_ann", Q.pqAnnTopK, Q.pqIndexCache)(pqAnnSql(ivfGate = false)),

    // custom DSv2 TSV connector: filter+column pushdown inside the scan
    // q124: custom DSv2 TSV connector — DuckDB reads the SAME file with
    // the same \N-null and binary-collation conventions, so a hash match
    // is a row-for-row check of the connector's in-reader pushed-filter
    // evaluation (the Spark plan has no post-scan Filter node at all)
    query("q124_tsv_source", Q.tsvSourceCountries) {
      val path = graft.sources.GraftTsv.seedTsvPath
      s"""SELECT iso, nicename, phonecode
         |FROM read_csv('$path', delim = '\t', header = false,
         |  all_varchar = true, nullstr = '\\N',
         |  names = ['id', 'iso', 'name', 'nicename', 'iso3', 'numcode', 'phonecode'])
         |WHERE iso >= 'M' AND iso3 IS NOT NULL
         |ORDER BY iso""".stripMargin
    },

    // DSv2 aggregate pushdown: COUNT/MIN/MAX evaluated inside the reader
    // q136: DSv2 aggregate pushdown — same file, same aggregates in
    // DuckDB; the hash match audits the reader's in-scan COUNT/MIN/MAX
    query("q136_tsv_source_stats", Q.tsvSourceStats) {
      val path = graft.sources.GraftTsv.seedTsvPath
      s"""SELECT count(*) AS n_rows, count(iso3) AS n_iso3,
         |  min(numcode) AS min_numcode, max(numcode) AS max_numcode,
         |  max(phonecode) AS max_phonecode, min(iso) AS min_iso
         |FROM read_csv('$path', delim = '\t', header = false,
         |  nullstr = '\\N',
         |  columns = {'id': 'INTEGER', 'iso': 'VARCHAR', 'name': 'VARCHAR',
         |    'nicename': 'VARCHAR', 'iso3': 'VARCHAR', 'numcode': 'INTEGER',
         |    'phonecode': 'BIGINT'})""".stripMargin
    },

    // BPE APPLICATION: encode the corpus with the trained merges
    // q123: BPE corpus encoding — q94's pairTop+fold unrolled EXACTLY
    // nMerges=8 times over the (tok, freq, sym) vocabulary, then every
    // document's words join the encoded vocab and roll up per doc
    query("q123_bpe_encode", Q.bpeEncodeCorpus(_, _)) {
      val nMerges = 8
      def pairTop(src: String, m: String) =
        s"""p$m AS (SELECT p.a AS a, p.b AS b, sum(freq) AS cnt
           |      FROM (SELECT freq, unnest([struct_pack(a := sym[i], b := sym[i+1])
           |                                 for i in generate_series(1, len(sym)-1)]) AS p
           |            FROM $src) GROUP BY p.a, p.b),
           |$m AS (SELECT a, b, a || b AS ab FROM p$m
           |       ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)""".stripMargin
      def fold(src: String, m: String, out: String) =
        s"""$out AS (SELECT tok, freq,
           |        list_reduce(list_transform(sym, c -> [c]),
           |          (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = $m.a AND x[1] = $m.b
           |                           THEN list_append(acc[1:len(acc)-1], $m.ab)
           |                           ELSE list_concat(acc, x) END) AS sym
           |      FROM $src LEFT JOIN $m ON true)""".stripMargin
      val steps = (1 to nMerges).map { i =>
        s"${pairTop(s"s${i - 1}", s"m$i")},\n${fold(s"s${i - 1}", s"m$i", s"s$i")}"
      }.mkString(",\n")
      raw"""WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents),
           |w AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
           |s0 AS (SELECT tok, freq, [tok[i] for i in generate_series(1, length(tok))] AS sym FROM w),
           |$steps,
           |enc AS (SELECT tok, CAST(length(tok) AS BIGINT) AS nchr,
           |          CAST(len(sym) AS BIGINT) AS nsym FROM s$nMerges),
           |dw AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
           |       FROM documents)
           |SELECT doc_id, count(*) AS n_words,
           |  CAST(sum(nchr) AS BIGINT) AS n_chars, CAST(sum(nsym) AS BIGINT) AS n_symbols,
           |  CAST(sum(nchr) AS DOUBLE) / CAST(sum(nsym) AS DOUBLE) AS compression
           |FROM dw JOIN enc USING (tok)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // real javax.imageio PNG round trip behind the multimodal codec seam
    // q126: real javax.imageio PNG round trip — the engine encodes a
    // deterministic gray gradient per id and decodes it back through the
    // actual codec; PNG is lossless, so the oracle replays the gradient
    // ARITHMETIC (never parses PNG) and the hash match proves the codec
    // recovered every pixel and the true canvas dimensions.
    query("q126_image_decode", Q.imageDecode)(
      """WITH ids AS (SELECT doc_id AS media_id,
        |        CAST(4 + (doc_id % 5) AS INTEGER) AS width,
        |        CAST(3 + (doc_id % 4) AS INTEGER) AS height
        |      FROM documents WHERE doc_id < 100),
        |px AS (SELECT media_id, width, height, x, y,
        |        (x * 7 + y * 11 + media_id * 13) % 256 AS g
        |       FROM ids, unnest(generate_series(0, width - 1)) AS ux(x),
        |                 unnest(generate_series(0, height - 1)) AS uy(y))
        |SELECT media_id, width, height,
        |  CAST(width AS BIGINT) * height AS n_pixels,
        |  CAST(sum(g) AS BIGINT) AS sum_luma,
        |  CAST(sum(g) AS DOUBLE) / (CAST(width AS BIGINT) * height) AS mean_luma
        |FROM px GROUP BY media_id, width, height ORDER BY media_id""".stripMargin),

    // PQ with TRAINED sub-space codebooks (one Lloyd refinement per j)
    // q125: trained-codebook PQ — pqAnnSql with one Lloyd refinement of
    // each sub-space codebook replayed in the CTEs (the q68 quantized-
    // mean construction applied per sub-space j)
    query("q125_pq_trained", Q.pqAnnTrained, Q.pqIndexCache)(
      pqAnnSql(ivfGate = false, trainedCb = true)),

    // generic MERGE upsert/delete — the lakehouse MERGE INTO primitive
    // q128: generic MERGE — change derivation + anti-join/union replayed;
    // bal+100.0 is one IEEE double add in both engines
    query("q128_merge_upsert", Q.mergeUpsert)(
      """WITH t AS (SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal FROM customer),
        |ch AS (
        |  SELECT k, name, bal + 100.0 AS bal, false AS is_delete FROM t WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k, name, bal, true FROM t WHERE k % 7 = 3
        |  UNION ALL
        |  SELECT k + 1000000, 'NEW_' || name, bal, false FROM t WHERE k % 7 = 5)
        |SELECT k, name, bal FROM (
        |  SELECT k, name, bal FROM t ANTI JOIN ch USING (k)
        |  UNION ALL
        |  SELECT k, name, bal FROM ch WHERE NOT is_delete)
        |ORDER BY k""".stripMargin),

    // equi-depth histogram from exact order statistics (per group)
    // q129: equi-depth histogram — rank·B DIV n bucket assignment is
    // pure integer arithmetic, identical in both engines
    query("q129_equidepth_hist", Q.equiDepthHist, ShapeDispatch.statsCache)(equiDepthHistSql),
    // q129's scale side forced (ranged equi-depth ranks), same oracle as
    // q129 now that q129 rides equiDepthHistogramAuto
    // q171 = q129's ranged rank shape FORCED (ShapeDispatch's scale
    // side) — deliberately the SAME oracle: both histogram shapes must
    // hash identically at the gate (the q53/q170 pattern)
    query("q171_equidepth_ranged", Q.equiDepthHistRanged)(equiDepthHistSql),

    // distributed global row_number: range partition + offsets, no
    // single-partition window
    // q130: distributed global rank — oracle is the NAIVE global window,
    // proving the range-partition + offset construction rank-for-rank
    query("q130_global_rank", Q.globalRank)(
      """SELECT rank, l_extendedprice, l_orderkey, l_linenumber FROM (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC) AS rank
        |  FROM lineitem)
        |WHERE rank <= 5 OR rank % 1000 = 0
        |ORDER BY rank""".stripMargin),

    // k-anonymity re-identification census over a quasi-identifier pair
    // q131: k-anonymity — one grouped census, flag groups under k
    query("q131_k_anonymity", Q.kAnonymityAudit)(
      """SELECT c_nationkey, c_mktsegment, count(*) AS group_size,
        |  count(*) < 5 AS at_risk
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // l-diversity: the homogeneity-attack audit beside q131's k-anonymity
    // q162: l-diversity — same census shuffle as q131 with the
    // sensitive-class distinct count riding along
    query("q162_l_diversity", Q.lDiversityAudit)(
      """WITH d AS (SELECT c_nationkey, c_mktsegment,
        |    CASE WHEN c_acctbal < 0 THEN 'debt'
        |         WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_class
        |  FROM customer)
        |SELECT c_nationkey, c_mktsegment, count(*) AS group_size,
        |  count(DISTINCT bal_class) AS n_sensitive,
        |  count(DISTINCT bal_class) < 2 AS at_risk
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // small-file compaction planning (lakehouse OPTIMIZE scheduling)
    // q132: compaction plan — cumulative-before DIV target first-fit,
    // integer arithmetic replayed verbatim
    query("q132_compaction_plan", Q.compactionPlan)(
      """WITH f AS (SELECT source, doc_id, CAST(length(text) AS BIGINT) AS bytes
        |  FROM documents),
        |b AS (SELECT source, doc_id, bytes,
        |    CAST(coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS INTEGER) AS bin
        |  FROM f)
        |SELECT source, bin, count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // snapshot diff: CDC derivation, the inverse of q128's merge
    // q133: snapshot diff — replays q128's merge, then the full-outer
    // hash diff (same md5-concat row hash, non-key columns in sorted
    // name order: bal, name)
    query("q133_snapshot_diff", Q.snapshotDiffQuery)(
      s"""WITH t AS (SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal FROM customer),
         |ch AS (
         |  SELECT k, name, bal + 100.0 AS bal, false AS is_delete FROM t WHERE k % 7 = 0
         |  UNION ALL
         |  SELECT k, name, bal, true FROM t WHERE k % 7 = 3
         |  UNION ALL
         |  SELECT k + 1000000, 'NEW_' || name, bal, false FROM t WHERE k % 7 = 5),
         |m AS (
         |  SELECT k, name, bal FROM t ANTI JOIN ch USING (k)
         |  UNION ALL
         |  SELECT k, name, bal FROM ch WHERE NOT is_delete),
         |oh AS (SELECT k, ${sk("bal", "name")} AS h FROM t),
         |nh AS (SELECT k, ${sk("bal", "name")} AS h FROM m)
         |SELECT k, CASE WHEN oh.h IS NULL THEN 'insert'
         |               WHEN nh.h IS NULL THEN 'delete'
         |               WHEN oh.h != nh.h THEN 'update' END AS change
         |FROM oh FULL OUTER JOIN nh USING (k)
         |WHERE oh.h IS NULL OR nh.h IS NULL OR oh.h != nh.h
         |ORDER BY k""".stripMargin),

    // GDPR erasure cascade impact down the FK chain (semi joins only)
    // q134: erasure cascade — key sets down the FK chain, count per table
    query("q134_erasure_cascade", Q.erasureCascade)(
      """WITH r AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 13 = 1),
        |o AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM r)),
        |l AS (SELECT l_orderkey FROM lineitem
        |      WHERE l_orderkey IN (SELECT DISTINCT o_orderkey FROM o))
        |SELECT table_name, n_rows FROM (
        |  SELECT 'customer' AS table_name, count(*) AS n_rows FROM r
        |  UNION ALL SELECT 'orders', count(*) FROM o
        |  UNION ALL SELECT 'lineitem', count(*) FROM l)
        |ORDER BY table_name""".stripMargin),

    // referential-integrity orphan audit over the star's FK relations
    // q135: referential integrity — orphan count per FK relation + the
    // childless-customer count
    query("q135_integrity_audit", Q.integrityAudit)(
      """SELECT relation, n_orphans FROM (
        |  SELECT 'lineitem->orders' AS relation, count(*) AS n_orphans FROM lineitem
        |    WHERE l_orderkey IS NOT NULL
        |      AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |  UNION ALL SELECT 'orders->customer', count(*) FROM orders
        |    WHERE o_custkey IS NOT NULL
        |      AND o_custkey NOT IN (SELECT c_custkey FROM customer)
        |  UNION ALL SELECT 'lineitem->part', count(*) FROM lineitem
        |    WHERE l_partkey IS NOT NULL
        |      AND l_partkey NOT IN (SELECT p_partkey FROM part)
        |  UNION ALL SELECT 'customer->nation', count(*) FROM customer
        |    WHERE c_nationkey IS NOT NULL
        |      AND c_nationkey NOT IN (SELECT n_nationkey FROM nation)
        |  UNION ALL SELECT 'customer_without_orders', count(*) FROM customer
        |    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
        |ORDER BY relation""".stripMargin),

    // staircase Pareto frontier; oracle = NOT-EXISTS dominance definition
    // q139: Pareto frontier — the oracle is the quadratic NOT-EXISTS
    // dominance DEFINITION, while Spark runs the staircase reduction;
    // a green row is a per-run proof of the reduction's equivalence
    query("q139_pareto_frontier", Q.paretoFrontier)(
      s"""WITH ${statsCte("documents")},
         |q AS (SELECT doc_id, n_tokens, $qualityExpr AS quality FROM b)
         |SELECT doc_id, n_tokens, quality FROM q o
         |WHERE NOT EXISTS (SELECT 1 FROM q a
         |  WHERE a.n_tokens <= o.n_tokens AND a.quality >= o.quality
         |    AND (a.n_tokens < o.n_tokens OR a.quality > o.quality))
         |ORDER BY n_tokens, doc_id""".stripMargin),

    // day-bucketed interval join; oracle = the BETWEEN theta join
    // q141: interval join — the oracle states the BETWEEN theta join the
    // day-bucketed equi-join must equal
    query("q141_promo_attribution", Q.promoAttribution)(
      """WITH span AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
        |promos AS (SELECT k AS promo_id,
        |    CAST(d0 + INTERVAL 1 DAY * (k*7) AS TIMESTAMP) AS start_ts,
        |    CAST(d0 + INTERVAL 1 DAY * (k*7 + 10) AS TIMESTAMP) AS end_ts
        |  FROM span, unnest(generate_series(0, date_diff('day', d0, d1) // 7)) AS u(k)),
        |j AS (SELECT p.promo_id, e.user_id, e.value FROM events e
        |  JOIN promos p ON e.ts >= p.start_ts AND e.ts < p.end_ts)
        |SELECT promo_id, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM j GROUP BY promo_id ORDER BY promo_id""".stripMargin),

    // exact set-similarity join via prefix filtering (no false negatives)
    // q142: prefix-filter set-similarity join — full construction replay:
    // distinct 3-gram sets, df-ascending global order, prefix bound
    // sz − ⌈sz/2⌉ + 1, length filter, integer Jaccard verification
    query("q142_prefix_filter_pairs", Q.prefixFilterPairsQuery)(
      s"""WITH $tkCte,
         |s2 AS (SELECT doc_id AS id, $shingle3 AS toks,
         |    CAST(len($shingle3) AS INTEGER) AS sz FROM tk WHERE len($shingle3) > 0),
         |tok AS (SELECT id, sz, unnest(toks) AS t FROM s2),
         |dfreq AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
         |ranked AS (SELECT id, sz, tok.t,
         |    row_number() OVER (PARTITION BY id ORDER BY df ASC, tok.t ASC) AS rk
         |  FROM tok JOIN dfreq USING (t)),
         |prefix AS (SELECT id, t, sz FROM ranked WHERE rk <= sz - ((sz + 1) // 2) + 1),
         |cands AS (SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
         |  FROM prefix a JOIN prefix b ON a.t = b.t AND a.id < b.id
         |  WHERE least(a.sz, b.sz) * 2 >= greatest(a.sz, b.sz) * 1),
         |v AS (SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.toks, sb.toks)) AS INTEGER) AS inter,
         |    sa.sz + sb.sz - CAST(len(list_intersect(sa.toks, sb.toks)) AS INTEGER) AS union_sz
         |  FROM cands JOIN s2 sa ON sa.id = doc_a JOIN s2 sb ON sb.id = doc_b)
         |SELECT doc_a, doc_b, inter, union_sz,
         |  floor(CAST(inter AS DOUBLE) / CAST(union_sz AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         |FROM v WHERE inter * 2 >= union_sz * 1
         |ORDER BY doc_a, doc_b""".stripMargin),

    // per-group OLS from exact integer sufficient statistics
    // q143: per-group OLS — exact integer sufficient statistics (HUGEINT
    // products mirror Spark's DECIMAL(38,0) sums value-for-value), then
    // the identical double combine
    query("q143_ols_trend", Q.olsTrend)(
      """WITH d AS (SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS DOUBLE) AS sxx
        |  FROM d GROUP BY 1),
        |s AS (SELECT l_returnflag, n,
        |    CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
        |      THEN (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
        |    sx, sy FROM a)
        |SELECT l_returnflag, n, slope,
        |  CASE WHEN slope IS NOT NULL THEN (sy - slope * sx) / CAST(n AS DOUBLE) END AS intercept
        |FROM s ORDER BY l_returnflag""".stripMargin),

    // one-shuffle column profiler with deterministic mode
    // q144: column profiler — one melted count frame, argmax-then-min mode
    query("q144_column_profile", Q.columnProfileQuery)(
      """WITH pairs AS (
        |  SELECT 'o_custkey' AS col_name, CAST(o_custkey AS VARCHAR) AS val FROM orders
        |  UNION ALL SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_orderstatus', CAST(o_orderstatus AS VARCHAR) FROM orders),
        |counts AS (SELECT col_name, val, count(*) AS n FROM pairs GROUP BY 1, 2),
        |base AS (SELECT col_name, CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(coalesce(sum(CASE WHEN val IS NULL THEN n END), 0) AS BIGINT) AS n_nulls,
        |    count(CASE WHEN val IS NOT NULL THEN 1 END) AS n_distinct
        |  FROM counts GROUP BY 1),
        |top AS (SELECT col_name, max(n) AS mode_n FROM counts WHERE val IS NOT NULL GROUP BY 1),
        |mode AS (SELECT c.col_name, t.mode_n, min(c.val) AS mode_val
        |  FROM counts c JOIN top t ON c.col_name = t.col_name AND c.n = t.mode_n
        |  GROUP BY 1, 2)
        |SELECT b.col_name, n_rows, n_nulls, n_distinct, mode_val, mode_n
        |FROM base b LEFT JOIN mode m ON b.col_name = m.col_name
        |ORDER BY b.col_name""".stripMargin),

    // trailing 7-day distinct users via bounded day fan-out
    // q145: sliding 7-day distinct users — the oracle states the
    // trailing-window definition directly (anchor joined to its 7 days)
    query("q145_sliding_distinct", Q.slidingDistinct)(
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |anchors AS (SELECT DISTINCT day AS anchor FROM ud)
        |SELECT strftime(a.anchor, '%Y-%m-%d') AS anchor,
        |  count(DISTINCT u.user_id) AS n_users_7d
        |FROM anchors a JOIN ud u
        |  ON u.day >= a.anchor - INTERVAL 6 DAY AND u.day <= a.anchor
        |GROUP BY a.anchor ORDER BY 1""".stripMargin),

    // Welch's t between experiment arms from exact decimal sums
    // q146: Welch's t — exact decimal (n, Σv, Σv²) per arm, then the
    // identical double combine; sqrt is IEEE-portable (ln is not)
    query("q146_welch_readout", Q.welchReadout)(
      """WITH tagged AS (SELECT event_type,
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') AS tr,
        |    CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events),
        |a AS (SELECT event_type,
        |    count(CASE WHEN tr THEN 1 END) AS n_t,
        |    count(CASE WHEN NOT tr THEN 1 END) AS n_c,
        |    CAST(sum(CASE WHEN tr THEN v END) AS DOUBLE) AS s1t,
        |    CAST(sum(CASE WHEN tr THEN v * v END) AS DOUBLE) AS s2t,
        |    CAST(sum(CASE WHEN NOT tr THEN v END) AS DOUBLE) AS s1c,
        |    CAST(sum(CASE WHEN NOT tr THEN v * v END) AS DOUBLE) AS s2c
        |  FROM tagged GROUP BY 1),
        |m AS (SELECT event_type, n_t, n_c,
        |    s1t / CAST(n_t AS DOUBLE) AS mt, s1c / CAST(n_c AS DOUBLE) AS mc,
        |    (s2t - s1t * s1t / CAST(n_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1.0) AS vt,
        |    (s2c - s1c * s1c / CAST(n_c AS DOUBLE)) / (CAST(n_c AS DOUBLE) - 1.0) AS vc
        |  FROM a)
        |SELECT event_type, n_t, n_c,
        |  CASE WHEN n_t > 0 THEN mt END AS mean_t,
        |  CASE WHEN n_c > 0 THEN mc END AS mean_c,
        |  CASE WHEN n_t >= 2 AND n_c >= 2
        |        AND vt / CAST(n_t AS DOUBLE) + vc / CAST(n_c AS DOUBLE) > 0.0
        |    THEN (mt - mc) / sqrt(vt / CAST(n_t AS DOUBLE) + vc / CAST(n_c AS DOUBLE)) END AS t_stat
        |FROM m ORDER BY event_type""".stripMargin),

    // hot-key exact distinct decomposed over disjoint value buckets
    // q147: skew-decomposed distinct — the oracle is the plain global
    // COUNT(DISTINCT) the bucket decomposition must sum to
    query("q147_skewed_distinct", Q.skewedDistinct)(
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // triangle census of the rare-gram co-occurrence graph
    // q148: triangle census of the rare-8-gram co-occurrence graph —
    // edge build replay + ordered triple join (a<b<c counts each once)
    query("q148_triangle_census", Q.triangleCensus, Q.rareEdgesCache)(
      s"""WITH $tkCte,
         |g AS (SELECT doc_id, unnest(${shingleSqlN(8)}) AS gram FROM tk),
         |rare AS (SELECT gram FROM (SELECT gram, count(*) AS df FROM g GROUP BY 1)
         |  WHERE df BETWEEN 2 AND 5),
         |gr AS (SELECT doc_id, gram FROM g JOIN rare USING (gram)),
         |e AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM gr x JOIN gr y ON x.gram = y.gram AND x.doc_id < y.doc_id),
         |n AS (SELECT count(DISTINCT v) AS n_nodes FROM
         |  (SELECT a AS v FROM e UNION SELECT b AS v FROM e)),
         |m AS (SELECT count(*) AS n_edges FROM e),
         |tr AS (SELECT count(*) AS n_triangles FROM e e1
         |  JOIN e e2 ON e2.a = e1.b
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT n_nodes, n_edges, n_triangles FROM n, m, tr""".stripMargin),

    // water-filling token-budget allocation across sources
    // q149: water-filling budget — sorted prefix feasibility, one integer
    // cap; every window runs over the per-source stats frame
    query("q149_token_budget", Q.tokenBudget)(
      s"""WITH ${statsCte("documents")},
         |st AS (SELECT d.source, CAST(sum(b.n_tokens) AS BIGINT) AS n
         |  FROM b JOIN documents d ON b.doc_id = d.doc_id GROUP BY 1),
         |r AS (SELECT source, n,
         |    row_number() OVER (ORDER BY n, source) AS rk,
         |    sum(n) OVER (ORDER BY n, source ROWS UNBOUNDED PRECEDING) AS p,
         |    count(*) OVER () AS S, sum(n) OVER () AS T FROM st),
         |f AS (SELECT *, (T * 1) // 2 AS B,
         |    p + (S - rk) * n <= ((T * 1) // 2) AS feas FROM r),
         |k AS (SELECT *, coalesce(max(CASE WHEN feas THEN rk END) OVER (), 0) AS k0,
         |    coalesce(max(CASE WHEN feas THEN p END) OVER (), 0) AS pk0 FROM f),
         |a AS (SELECT source, n,
         |    CASE WHEN k0 = S THEN n ELSE least(n, (B - pk0) // (S - k0)) END AS alloc
         |  FROM k)
         |SELECT source, n AS n_tokens, CAST(alloc AS BIGINT) AS alloc,
         |  alloc < n AS is_capped
         |FROM a ORDER BY source""".stripMargin),

    // per-source score calibration onto the global distribution
    // q150: quantile normalization — exact integer index math onto the
    // global order statistics
    query("q150_quantile_normalize", Q.quantileNormalizeQuery)(
      s"""WITH ${statsCte("documents")},
         |q0 AS (SELECT doc_id, $qualityExpr AS quality FROM b),
         |q AS (SELECT q0.doc_id, d.source, quality
         |  FROM q0 JOIN documents d ON q0.doc_id = d.doc_id),
         |r AS (SELECT *,
         |    row_number() OVER (ORDER BY quality, doc_id) AS gi,
         |    count(*) OVER () AS gn,
         |    row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY source) AS ns FROM q),
         |ti AS (SELECT doc_id, source, quality,
         |    CASE WHEN ns > 1 THEN 1 + ((rk - 1) * (gn - 1)) // (ns - 1)
         |         ELSE 1 + (gn - 1) // 2 END AS ti FROM r),
         |l AS (SELECT gi, quality AS norm_quality FROM r)
         |SELECT t.doc_id, t.source, t.quality, l.norm_quality
         |FROM ti t JOIN l ON t.ti = l.gi ORDER BY t.doc_id""".stripMargin),

    // Gopher-style intra-document repetition gates
    // q151: repetition filters — top-2-gram / dup-5-gram / adjacent-repeat
    // fractions, all ratios of exact integers
    query("q151_repetition_filters", Q.repetitionFilters)(
      s"""WITH $tkCte,
         |r1 AS (SELECT doc_id,
         |    CASE WHEN len(trim(text)) = 0 THEN 0 ELSE CAST(len(t) AS INTEGER) END AS n_tokens,
         |    CASE WHEN (CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(t) END) >= 2
         |      THEN CAST(len(list_filter([t[i+1] = t[i] for i in generate_series(1, len(t) - 1)], x -> x)) AS INTEGER)
         |      ELSE 0 END AS reps,
         |    ${shingleAllSqlN(5)} AS s5
         |  FROM tk),
         |g2 AS (SELECT doc_id, unnest(${shingleAllSqlN(2)}) AS g FROM tk),
         |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
         |t2 AS (SELECT doc_id, max(c) AS top2, CAST(sum(c) AS BIGINT) AS tot2 FROM c2 GROUP BY 1),
         |m AS (SELECT r1.doc_id, n_tokens,
         |    CAST(top2 AS DOUBLE) / CAST(tot2 AS DOUBLE) AS top_2gram_frac,
         |    CAST(len(s5) - len(list_distinct(s5)) AS DOUBLE) / CAST(len(s5) AS DOUBLE) AS dup5gram_frac,
         |    CASE WHEN n_tokens >= 2
         |      THEN CAST(reps AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE)
         |      ELSE CAST(0.0 AS DOUBLE) END AS rep_pair_frac
         |  FROM r1 JOIN t2 ON r1.doc_id = t2.doc_id)
         |SELECT doc_id, n_tokens, top_2gram_frac, dup5gram_frac, rep_pair_frac,
         |  (top_2gram_frac <= 0.2 AND dup5gram_frac <= 0.3 AND rep_pair_frac <= 0.1) AS passes
         |FROM m ORDER BY doc_id""".stripMargin),

    // per-user behavior transition matrix (exact-count ratios)
    // q152: Markov transition matrix — lag pairs, exact-count ratios
    query("q152_markov_transitions", Q.markovTransitions)(
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch(date_trunc('second', ts)) AS ep FROM events),
        |p AS (SELECT event_type AS state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ep ASC, event_id ASC) AS next_state
        |  FROM e),
        |c AS (SELECT state, next_state, count(*) AS n FROM p
        |  WHERE next_state IS NOT NULL GROUP BY 1, 2)
        |SELECT state, next_state, n,
        |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY state) AS DOUBLE) AS prob
        |FROM c ORDER BY state, next_state""".stripMargin),

    // Benford first-digit screen via a log-free magnitude ladder
    // q153: Benford audit — log-free leading digit via the integer
    // part's decimal rendering; integer part as x - x%1 (exact IEEE,
    // mirrors CoreOps.leadingDigit — no BIGINT saturation/error bound),
    // rendered through DECIMAL(38,0); literal expecteds
    query("q153_benford_audit", Q.benfordAudit)(
      """WITH d AS (SELECT CAST(substr(CAST(CAST(o_totalprice - (o_totalprice % 1) AS DECIMAL(38,0)) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice >= 1 AND o_totalprice IS NOT NULL),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |m AS (SELECT digit, n,
        |    CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) AS obs_frac,
        |    CAST(CASE digit WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091
        |      WHEN 3 THEN 0.124939 WHEN 4 THEN 0.096910 WHEN 5 THEN 0.079181
        |      WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
        |      WHEN 9 THEN 0.045757 ELSE 0.0 END AS DOUBLE) AS benford_frac
        |  FROM c)
        |SELECT digit, n, obs_frac, benford_frac,
        |  abs(obs_frac - benford_frac) AS abs_dev
        |FROM m ORDER BY digit""".stripMargin),

    // 3-D skyline by local-prune-then-merge (oracle = dominance NOT EXISTS)
    // q154: 3-D skyline — the oracle is the quadratic NOT-EXISTS
    // dominance definition the local-prune-then-merge must equal
    query("q154_skyline_3d", Q.skyline3d)(
      s"""WITH ${statsCte("documents")},
         |q AS (SELECT doc_id, n_tokens,
         |    CAST(n_punct AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)) AS punct_frac,
         |    $qualityExpr AS quality FROM b)
         |SELECT doc_id, n_tokens, punct_frac, quality FROM q o
         |WHERE NOT EXISTS (SELECT 1 FROM q a
         |  WHERE a.n_tokens <= o.n_tokens AND a.punct_frac <= o.punct_frac
         |    AND a.quality >= o.quality
         |    AND (a.n_tokens < o.n_tokens OR a.punct_frac < o.punct_frac
         |         OR a.quality > o.quality))
         |ORDER BY doc_id""".stripMargin),

    // KMV sketch set algebra: pairwise distinct-user overlap estimates
    // q155: KMV set operations — per-type k-min sketches, union k-min,
    // shared count, Beyer estimators; under-full → exact. Pure set
    // functions, so the estimates replay bit-exact (q117's property).
    query("q155_kmv_set_ops", Q.kmvSetOps)(
      """WITH uh AS (SELECT DISTINCT event_type,
        |    list_reduce([CAST(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
        |                 for i in generate_series(1, 13)], (a, x) -> a * 16 + x) AS h
        |  FROM events),
        |km AS (SELECT event_type, h FROM (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM uh)
        |  WHERE rk <= 64),
        |ty AS (SELECT DISTINCT event_type FROM km),
        |pr AS (SELECT x.event_type AS type_a, y.event_type AS type_b
        |  FROM ty x JOIN ty y ON x.event_type < y.event_type),
        |ux AS (SELECT type_a, type_b, h FROM pr JOIN km ON km.event_type = pr.type_a
        |  UNION ALL SELECT type_a, type_b, h FROM pr JOIN km ON km.event_type = pr.type_b),
        |un AS (SELECT type_a, type_b, h, count(*) AS sides FROM ux GROUP BY 1, 2, 3),
        |tk AS (SELECT * FROM (SELECT *,
        |    row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rk FROM un)
        |  WHERE rk <= 64),
        |ag AS (SELECT type_a, type_b, count(*) AS n_union_kept, max(h) AS kth,
        |    CAST(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS k_shared
        |  FROM tk GROUP BY 1, 2),
        |ex AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_inter_exact
        |  FROM uh a JOIN uh b ON a.h = b.h AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |f AS (SELECT type_a, type_b, k_shared,
        |    CAST(n_union_kept AS BIGINT) AS n_union_kept,
        |    CASE WHEN n_union_kept < 64 THEN CAST(n_union_kept AS DOUBLE)
        |         ELSE CAST(63 AS DOUBLE) / (CAST(kth AS DOUBLE) / 4503599627370496.0)
        |    END AS union_est
        |  FROM ag)
        |SELECT f.type_a, f.type_b, k_shared, n_union_kept, union_est,
        |  CASE WHEN n_union_kept < 64 THEN CAST(k_shared AS DOUBLE)
        |       ELSE CAST(k_shared AS DOUBLE) / CAST(64 AS DOUBLE) * union_est
        |  END AS inter_est,
        |  CAST(coalesce(n_inter_exact, 0) AS BIGINT) AS n_inter_exact
        |FROM f LEFT JOIN ex ON f.type_a = ex.type_a AND f.type_b = ex.type_b
        |ORDER BY f.type_a, f.type_b""".stripMargin),

    // sorted-neighborhood blocking: one global sort, O(n·w) verifications
    // q156: sorted-neighborhood pairs — global sort by the 3-token key,
    // rank window w=8, exact 3-gram verification at Jaccard >= 1/2
    query("q156_sorted_neighbors", Q.sortedNeighborPairsQuery)(
      s"""WITH $tkCte,
         |s2 AS (SELECT doc_id AS id, array_to_string(t[1:3], ' ') AS sort_key,
         |    $shingle3 AS toks, CAST(len($shingle3) AS INTEGER) AS sz
         |  FROM tk WHERE len($shingle3) > 0),
         |r AS (SELECT *, row_number() OVER (ORDER BY sort_key, id) AS rank FROM s2),
         |p AS (SELECT a.id AS doc_a, c.id AS doc_b, a.toks AS tk_a, c.toks AS tk_b,
         |    a.sz AS sz_a, c.sz AS sz_b
         |  FROM r a JOIN r c ON c.rank > a.rank AND c.rank - a.rank < 8),
         |v AS (SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(tk_a, tk_b)) AS INTEGER) AS inter,
         |    sz_a + sz_b - CAST(len(list_intersect(tk_a, tk_b)) AS INTEGER) AS union_sz
         |  FROM p)
         |SELECT least(doc_a, doc_b) AS doc_a, greatest(doc_a, doc_b) AS doc_b,
         |  inter, union_sz,
         |  floor(CAST(inter AS DOUBLE) / CAST(union_sz AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         |FROM v WHERE inter * 2 >= union_sz * 1
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Count-Min frequency sketch as a grouped-count dataflow
    // q157: Count-Min as dataflow — d×w grouped counters, min-over-rows
    // estimate, top-20 readout with the est >= true guarantee column
    query("q157_countmin_sketch", Q.countMinSketch)(
      """WITH ev AS (SELECT user_id FROM events),
        |posted AS (SELECT user_id, i AS r,
        |    list_reduce([CAST(strpos('0123456789abcdef',
        |        substr(md5('cm' || CAST(i AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
        |      for j in generate_series(1, 13)], (a, x) -> a * 16 + x) % 64 AS b
        |  FROM ev, unnest(generate_series(0, 3)) AS u(i)),
        |counters AS (SELECT r, b, count(*) AS c FROM posted GROUP BY 1, 2),
        |cells AS (SELECT DISTINCT user_id, r, b FROM posted),
        |est AS (SELECT user_id, min(c) AS n_est
        |  FROM cells JOIN counters USING (r, b) GROUP BY 1),
        |tr AS (SELECT user_id, count(*) AS n_true FROM ev GROUP BY 1),
        |top AS (SELECT t.user_id, n_true, n_est,
        |    row_number() OVER (ORDER BY n_true DESC, t.user_id ASC) AS rk
        |  FROM tr t JOIN est USING (user_id))
        |SELECT user_id, n_true, n_est, n_est >= n_true AS never_under,
        |  n_est - n_true AS overcount
        |FROM top WHERE rk <= 20 ORDER BY user_id""".stripMargin),

    // incremental component maintenance == full recompute (contract)
    // q158: incremental components — the oracle recomputes components
    // FROM SCRATCH over all rare-gram edges (q54's recursive reach on
    // the q148 graph); equality proves incremental == full recompute
    query("q158_incremental_components", Q.incrementalComponents, Q.rareEdgesCache)(
      s"""WITH RECURSIVE $tkCte,
         |g AS (SELECT doc_id, unnest(${shingleSqlN(8)}) AS gram FROM tk),
         |rare AS (SELECT gram FROM (SELECT gram, count(*) AS df FROM g GROUP BY 1)
         |  WHERE df BETWEEN 2 AND 5),
         |gr AS (SELECT doc_id, gram FROM g JOIN rare USING (gram)),
         |e AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM gr x JOIN gr y ON x.gram = y.gram AND x.doc_id < y.doc_id),
         |ed AS (SELECT a AS s, b AS d FROM e UNION ALL SELECT b AS s, a AS d FROM e),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT ed.d, r.lbl FROM reach r JOIN ed ON ed.s = r.node),
         |comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY 1)
         |SELECT doc_id, component,
         |  CAST(count(*) OVER (PARTITION BY component) AS INTEGER) AS cluster_size
         |FROM comp ORDER BY doc_id""".stripMargin),

    // market-basket association: support/confidence/lift per type pair
    // q159: market basket — (user, day) baskets, pair co-occurrence,
    // support/confidence/lift as ratios of exact counts
    query("q159_market_basket", Q.marketBasket)(
      """WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type FROM events),
        |nb AS (SELECT count(*) AS n FROM (SELECT DISTINCT user_id, day FROM b)),
        |s AS (SELECT event_type, count(*) AS n_single FROM b GROUP BY 1),
        |p AS (SELECT x.event_type AS type_a, y.event_type AS type_b, count(*) AS n_ab
        |  FROM b x JOIN b y ON x.user_id = y.user_id AND x.day = y.day
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab, sa.n_single AS n_a, sb.n_single AS n_b,
        |  CAST(n_ab AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
        |  CAST(n_ab AS DOUBLE) / CAST(sa.n_single AS DOUBLE) AS confidence,
        |  CAST(n_ab AS DOUBLE) * CAST(nb.n AS DOUBLE)
        |    / (CAST(sa.n_single AS DOUBLE) * CAST(sb.n_single AS DOUBLE)) AS lift
        |FROM p JOIN s sa ON p.type_a = sa.event_type
        |       JOIN s sb ON p.type_b = sb.event_type, nb
        |ORDER BY type_a, type_b""".stripMargin),

    // Gini-Simpson language diversity (log-free index, exact internals)
    // q160: Gini-Simpson language diversity — exact-integer internals,
    // one double division (log-free; Shannon would need the banned ln)
    query("q160_lang_diversity", Q.langDiversity) {
      val m = graft.text.TextOps.LangMarkers.map { case (code, ws) =>
        s"len(list_filter(tk2, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS s_$code"
      }.mkString(",\n  ")
      val best = "greatest(s_de, s_en, s_es, s_fr)"
      s"""WITH s0 AS (SELECT source, $toksLower AS tk2 FROM documents),
         |sc AS (SELECT source, $m FROM s0),
         |d AS (SELECT source, CASE WHEN $best = 0 THEN 'und'
         |  WHEN s_de = $best THEN 'de' WHEN s_en = $best THEN 'en'
         |  WHEN s_es = $best THEN 'es' ELSE 'fr' END AS lang FROM sc),
         |c AS (SELECT source, lang, count(*) AS n_l FROM d GROUP BY 1, 2)
         |SELECT source, CAST(sum(n_l) AS BIGINT) AS n_docs,
         |  count(*) AS n_langs,
         |  CAST(1.0 AS DOUBLE) - CAST(sum(n_l * n_l) AS DOUBLE)
         |    / CAST(sum(n_l) * sum(n_l) AS DOUBLE) AS gini_simpson
         |FROM c GROUP BY source ORDER BY source""".stripMargin
    },

    // Spark 4 VARIANT semi-structured decode (contract: paths agree)
    // q161: VARIANT extraction — numeric aggregates must match the
    // string-path decode; each engine certifies its own two decode paths
    // agree (the verified-contract pattern)
    query("q161_variant_extract", Q.variantExtract)(
      """WITH d AS (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER)
        |      IS NOT DISTINCT FROM CAST(json_extract(props, '$.k') AS INTEGER) AS agree,
        |    CAST(json_extract_string(props, '$.does_not_exist') AS INTEGER) AS miss
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(k AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k,
        |  min(CASE WHEN agree THEN 1 ELSE 0 END) = 1 AS paths_agree,
        |  count(miss) AS n_missing_hits
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin),

    // REAL WAV audio decode round trip (javax.sound; q126's audio analog)
    // q163: WAV audio round trip — the oracle recomputes the waveform
    // SEMANTICS (sample formula → peak/energy/rms); a hash match proves
    // the javax.sound encode→decode path recovered every sample
    query("q163_audio_decode", Q.audioDecode)(
      """WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < 100),
        |s AS (SELECT media_id, 50 + (media_id % 40) AS n FROM ids),
        |x AS (SELECT media_id, n, i,
        |    ((media_id * 31 + i * 17) % 2001) - 1000 AS v
        |  FROM s, unnest(generate_series(0, n - 1)) AS u(i))
        |SELECT media_id, CAST(max(n) AS BIGINT) AS n_samples,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(max(abs(v)) AS INTEGER) AS peak_abs,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  sqrt(CAST(sum(v * v) AS DOUBLE) / CAST(max(n) AS DOUBLE)) AS rms
        |FROM x GROUP BY media_id ORDER BY media_id""".stripMargin),

    // REAL video container demux + frame-sampled PNG decode
    // q164: video demux — sampled frames' gradient semantics restated;
    // a hash match proves container parse + per-frame decode round trip
    query("q164_video_demux", Q.videoDemux)(
      """WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < 100),
        |fr AS (SELECT media_id, f
        |  FROM ids, unnest(generate_series(0, (2 + media_id % 3) - 1)) AS u(f)
        |  WHERE f % 2 = 0),
        |d AS (SELECT media_id, f,
        |    4 + (media_id + f) % 5 AS w, 3 + (media_id + f) % 4 AS h FROM fr),
        |px AS (SELECT media_id, f, w, h,
        |    (x * 7 + y * 11 + media_id * 13 + f * 17) % 256 AS g
        |  FROM d,
        |    unnest(generate_series(0, w - 1)) AS ux(x),
        |    unnest(generate_series(0, h - 1)) AS uy(y))
        |SELECT media_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(max(w) AS INTEGER) AS width, CAST(max(h) AS INTEGER) AS height,
        |  CAST(sum(g) AS BIGINT) AS sum_luma
        |FROM px GROUP BY media_id, f ORDER BY media_id, frame_idx""".stripMargin),

    // dynamic partition pruning over the month-partitioned fact layout
    // q165: dynamic partition pruning — the engine reads a month-
    // partitioned fact layout with a dim-fed dynamic partition filter;
    // the oracle replays the same monthly revenue from the unpartitioned
    // base tables (layout is an engine concern, values are not)
    query("q165_dpp_star_scan", Q.dppStarScan, Star.cache, Q.dppFactCache)(
      s"""SELECT CAST(year * 100 + month AS INTEGER) AS ym,
         | count(1) AS n_lines, ${sumMoney("total_price")} AS revenue
         |FROM ($fct) f
         |JOIN (SELECT date_key, year, month FROM ($dimd)) d USING (date_key)
         |WHERE year = 1998
         |GROUP BY ym ORDER BY ym""".stripMargin),

    // q36's scale-side twin: exact percentiles from ranged rank statistics
    // (no group-sized aggregation buffer), same oracle as q36
    // q36's oracle verbatim: the ranked form must be value-identical to
    // the buffering aggregate (the Round12Spec bit-identity, proven here
    // at the driver gate as well)
    query("q166_ranked_percentiles", Q.rankedPercentilesQuery)(
      s"""SELECT l_returnflag, ${round4("quantile_cont(l_quantity, 0.5)")} AS p50,
         | ${round4("quantile_cont(l_quantity, 0.9)")} AS p90,
         | ${round4("quantile_cont(l_extendedprice, 0.99)")} AS price_p99
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // duplicated-substring-span removal (Lee et al. 2022 shape): cross-doc
    // 8-token spans excised, islands merged, clean text reassembled
    // q167: duplicated-substring-span removal. Positioned 8-gram windows
    // (list comprehension mirrors the engine's gram_hashes order: pos =
    // array index), dup = gram in >= 2 distinct docs (md5 string identity
    // here, xxhash64 longs in the engine — same equality partition),
    // gaps-and-islands over window starts (break where pos > prev + 8),
    // excision by positional anti-semantics (NOT EXISTS), ordered
    // re-aggregation of the survivors
    query("q167_span_dedup", Q.spanDedupQuery)(
      raw"""WITH tk AS (SELECT doc_id, $toksLower AS t FROM documents),
         |wl AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 8
         |  THEN [{'pos': i, 'gh': md5(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4], t[i+5], t[i+6], t[i+7]))}
         |        for i in generate_series(1, len(t) - 7)]
         |  ELSE [] END) AS w FROM tk),
         |win AS (SELECT doc_id, w.pos AS pos, w.gh AS gh FROM wl),
         |dup AS (SELECT gh FROM win GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
         |marked AS (SELECT doc_id, pos FROM win JOIN dup USING (gh)),
         |m AS (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS pp FROM marked),
         |i AS (SELECT doc_id, pos, sum(CASE WHEN pp IS NULL OR pos > pp + 8 THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM m),
         |spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e FROM i GROUP BY doc_id, island),
         |rem AS (SELECT doc_id, unnest(generate_series(s, e)) AS rpos FROM spans),
         |pl AS (SELECT doc_id, unnest([{'pos': i, 'tok': t[i]} for i in generate_series(1, len(t))]) AS u FROM tk),
         |pt AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM pl),
         |kept AS (SELECT p.doc_id, p.pos, p.tok FROM pt p
         |  WHERE NOT EXISTS (SELECT 1 FROM rem r WHERE r.doc_id = p.doc_id AND r.rpos = p.pos)),
         |clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id),
         |stats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |            CAST(sum(e - s + 1) AS BIGINT) AS n_removed FROM spans GROUP BY doc_id)
         |SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
         |  coalesce(st.n_spans, 0) AS n_spans,
         |  coalesce(st.n_removed, 0) AS n_tokens_removed,
         |  CAST(coalesce(st.n_removed, 0) AS DOUBLE) / CAST(len(tk.t) AS DOUBLE) AS frac_removed,
         |  coalesce(cl.clean_text, '') AS clean_text
         |FROM tk LEFT JOIN stats st USING (doc_id) LEFT JOIN clean cl ON tk.doc_id = cl.doc_id
         |ORDER BY doc_id""".stripMargin),

    // DSIR-shaped importance selection: hashed-bigram likelihood-ratio
    // leaning test (exact integers), per-doc target-likeness score
    // q168: DSIR-shaped importance selection. Bigram shingles (engine's
    // shingles(2) short-doc convention mirrored by the CASE), md5-prefix
    // bucket ids (the q57 list_reduce idiom), add-one-smoothed
    // likelihood-ratio leaning per bucket as an exact HUGEINT
    // cross-multiplication, doc score = leaning-instance fraction
    query("q168_importance_selection", Q.importanceSelection(_, _))(
      raw"""WITH tk AS (SELECT doc_id, source, $toksLower AS t FROM documents),
         |sh AS (SELECT doc_id, source, unnest(CASE WHEN len(t) < 2
         |  THEN [array_to_string(t, ' ')]
         |  ELSE [concat_ws(' ', t[i], t[i+1]) for i in generate_series(1, len(t) - 1)] END) AS g FROM tk),
         |hb AS (SELECT doc_id, source,
         |  list_reduce([CAST(strpos('0123456789abcdef', substr(md5(g), i, 1)) - 1 AS BIGINT)
         |               for i in generate_series(1, 8)], (a, x) -> a * 16 + x) % 1024 AS b FROM sh),
         |db AS (SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS n FROM hb GROUP BY 1, 2, 3),
         |bc AS (SELECT b,
         |  CAST(sum(CASE WHEN source = 'src0' THEN n ELSE 0 END) AS BIGINT) AS tc,
         |  CAST(sum(CASE WHEN source <> 'src0' THEN n ELSE 0 END) AS BIGINT) AS rc FROM db GROUP BY b),
         |tot AS (SELECT CAST(sum(tc) AS BIGINT) AS tt, CAST(sum(rc) AS BIGINT) AS rt FROM bc),
         |lean AS (SELECT b, CAST(tc + 1 AS HUGEINT) * CAST(rt + 1024 AS HUGEINT)
         |                 > CAST(rc + 1 AS HUGEINT) * CAST(tt + 1024 AS HUGEINT) AS leans
         |         FROM bc CROSS JOIN tot),
         |doc AS (SELECT d.doc_id, d.source, CAST(sum(n) AS BIGINT) AS n_grams,
         |          CAST(sum(CASE WHEN leans THEN n ELSE 0 END) AS BIGINT) AS n_leaning
         |        FROM db d JOIN lean USING (b) WHERE d.source <> 'src0' GROUP BY 1, 2)
         |SELECT doc_id, source, n_grams, n_leaning,
         |  CAST(n_leaning AS DOUBLE) / CAST(n_grams AS DOUBLE) AS score,
         |  CAST(n_leaning AS DOUBLE) / CAST(n_grams AS DOUBLE) > 0.5 AS selected
         |FROM doc ORDER BY doc_id""".stripMargin),

    // per-batch corpus novelty decay (crawl self-repetition diagnostic)
    // q138: novelty curve — same fingerprint, min-over-fp, batch rollup
    query("q138_novelty_curve", Q.noveltyCurve)(
      s"""WITH d AS (SELECT doc_id, doc_id // 100 AS batch,
         |    md5(array_to_string($toksLower, ' ')) AS fp FROM documents),
         |f AS (SELECT *, min(batch) OVER (PARTITION BY fp) AS first_batch FROM d)
         |SELECT batch, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN batch = first_batch THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN batch = first_batch THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS novelty_rate
         |FROM f GROUP BY batch ORDER BY batch""".stripMargin),

    // grouped top-k via the bounded-heap aggregator on relational data
    // q137: grouped top-k — exact integer-scaled revenue, window replay
    query("q137_top_parts_per_flag", Q.topPartsPerFlag, ShapeDispatch.statsCache)(
      topPartsPerFlagSql),
    // q137's scale side forced (topk_structs bounded heap), same oracle
    // as q137 now that q137 rides topKPerGroupAuto
    // q172 = q137's bounded-heap shape FORCED (ShapeDispatch's scale
    // side) — deliberately the SAME oracle: both top-k shapes must hash
    // identically at the gate (the q53/q170 pattern)
    query("q172_top_parts_heap", Q.topPartsPerFlagHeap)(topPartsPerFlagSql),

    // fully-trained IVF-PQ: trained cells + trained codebooks + re-rank
    // q127: fully-trained IVF-PQ — q68's trained cells gate the pair
    // space, q125's trained codebooks quantize it; one pqAnnSql source
    query("q127_ivfpq_trained", Q.ivfPqTrained, Q.centroidsCache, Q.pqIndexCache)(
      pqAnnSql(ivfGate = true, trainedCb = true, trainedCells = true)),

    // IVF-PQ: probed cells bound the pair space, codes bound the reads
    // q122: IVF-PQ — q30's cell assignment/probing gates q120's ADC pair
    // space; same shared pipeline (pqAnnSql) with the candidate gate on
    query("q122_ivfpq_ann", Q.ivfPqAnnTopK, Q.pqIndexCache)(pqAnnSql(ivfGate = true)),

    // media payload is encode(text) of documents (Multimodal.mediaFromDocuments)
    // — byte math is mirrorable: n_bytes via octet_length, byte_mean via a
    // hex-fold over the blob (integer byte sum is FP-exact, so the single
    // division matches Spark bit-for-bit; no rounding needed). entropy and
    // the feature vector (log/float math, no cross-engine bit contract)
    // stay out of the query — ScalaTest-covered.
    query("q27_media_features", Q.mediaFeatures)(
      """WITH m AS (SELECT doc_id AS media_id,
        |   CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |   encode(text) AS content FROM documents),
        |h AS (SELECT media_id, modality, octet_length(content) AS n_bytes, hex(content) AS hx FROM m)
        |SELECT media_id, modality, n_bytes,
        |  CASE WHEN n_bytes = 0 THEN CAST(0.0 AS DOUBLE) ELSE
        |    list_reduce([CAST(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1 AS DOUBLE) * 16
        |                 + CAST(strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1 AS DOUBLE)
        |                 for i in generate_series(1, CAST(n_bytes AS INT))], (a, x) -> a + x) / n_bytes END AS byte_mean
        |FROM h""".stripMargin),

    // frame geometry mirrors Multimodal.sampleFrames (frameBytes=1024,
    // stride=4): n_frames = max(1, trunc(n_bytes/4096)), frame k covers
    // bytes [k*4096+1, k*4096+1024] ⇒ frame_bytes = clamp(n_bytes - k*4096)
    // — same value substr-then-length produces, without blob slicing.
    query("q28_media_frames", Q.mediaFrames)(
      """WITH m AS (SELECT doc_id AS media_id,
        |   CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |   octet_length(encode(text)) AS n_bytes FROM documents),
        |f AS (SELECT media_id, modality, n_bytes,
        |   greatest(1, CAST(floor(n_bytes / 4096.0) AS INT)) AS n_frames FROM m),
        |x AS (SELECT media_id, modality, n_bytes,
        |   CAST(unnest(generate_series(0, n_frames - 1)) AS INT) AS frame_idx FROM f)
        |SELECT media_id, modality, frame_idx,
        |  CAST(greatest(0, least(1024, n_bytes - frame_idx * 4096)) AS INT) AS frame_bytes
        |FROM x""".stripMargin),

    // beyond-reference relational breadth (oracle-checked)
    query("q33_rollup", Q.rollupReport)(
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
         | ${sumMoney("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),

    query("q34_setops_having", Q.setOpsHaving)(
      """WITH building AS (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |open_o AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'),
        |high_value AS (SELECT o_custkey AS custkey FROM orders GROUP BY o_custkey
        |               HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) > 100000.0)
        |SELECT custkey, 'building_no_open' AS op_tag FROM (SELECT custkey FROM building EXCEPT SELECT custkey FROM open_o)
        |UNION ALL
        |SELECT custkey, 'building_high_value' AS op_tag FROM (SELECT custkey FROM building INTERSECT SELECT custkey FROM high_value)
        |ORDER BY op_tag, custkey""".stripMargin),

    query("q35_semi_anti", Q.semiAntiJoins)(
      """SELECT o_orderkey, 'has_big_line' AS op_tag FROM orders
        | WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |UNION ALL
        |SELECT o_orderkey, 'no_big_line' AS op_tag FROM orders
        | WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |ORDER BY op_tag, o_orderkey""".stripMargin),

    query("q36_percentiles", Q.percentiles, ShapeDispatch.statsCache)(
      s"""SELECT l_returnflag, ${round4("quantile_cont(l_quantity, 0.5)")} AS p50,
         | ${round4("quantile_cont(l_quantity, 0.9)")} AS p90,
         | ${round4("quantile_cont(l_extendedprice, 0.99)")} AS price_p99
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    query("q37_events_pivot", Q.eventsPivot) {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val cols = types.flatMap { t =>
        Seq(
          s"count(CASE WHEN event_type = '$t' THEN 1 END) AS ${t}_n",
          s"CAST(sum(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS ${t}_val")
      }.mkString(",\n ")
      s"""SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
         | $cols
         |FROM events GROUP BY 1 ORDER BY cohort""".stripMargin
    },

    // relational breadth: grouping-sets lattice + window frames
    query("q40_cube", Q.cubeReport)(
      s"""SELECT l_returnflag, l_linestatus,
         | GROUPING(l_returnflag, l_linestatus) AS gid,
         | count(*) AS n_rows, ${sumMoney("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),

    // moving sum through DECIMAL(18,4): exact addition is association-
    // independent, so the sliding-frame implementations agree bit-for-bit
    query("q41_window_frames", Q.eventsWindowFrames)(
      s"""SELECT user_id, event_id,
         | ${fmtTs("date_trunc('second', ts)")} AS ts_s,
         | CAST(row_number() OVER w AS INTEGER) AS seq,
         | CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id
         |   ORDER BY date_trunc('second', ts), event_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
         | CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w7 AS DOUBLE) AS mv_sum,
         | CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w7 AS DOUBLE)
         |   / CAST(count(*) OVER w7 AS DOUBLE) AS mv_avg
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id),
         |  w7 AS (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id
         |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),

    // LLM-pipeline breadth: tf-idf terms + deterministic hash split
    // log-free idf (tf * N / df): exact-integer doubles + one division,
    // bit-identical across engines where ln() is not
    query("q42_tfidf_topterms", Q.tfidfTopTerms)(
      s"""WITH tok AS (SELECT doc_id, unnest($toksLower) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, term, tf, df,
         |    CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         |SELECT doc_id, term, tf, df, score, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
         |      FROM scored)
         |WHERE rank <= 3""".stripMargin),

    query("q43_hash_split", Q.hashSplit)(
      """SELECT doc_id,
        | CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
        |   THEN 'heldout' ELSE 'train' END AS split
        |FROM documents""".stripMargin),

    // decontamination (train/heldout 8-gram overlap) + column profiler
    // exact 8-gram containment against the deduped train gram set — same
    // split rule as q43; grams md5-hashed like the Spark side
    query("q44_decontamination", Q.decontamination, Q.gramsCache)(
      s"""WITH tk AS (SELECT doc_id, $toksLower AS t FROM documents),
         |sh AS (SELECT doc_id,
         |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
         |    THEN 'heldout' ELSE 'train' END AS split,
         |  ${shingleSqlN(8)} AS sh FROM tk),
         |g AS (SELECT doc_id, split, md5(unnest(sh)) AS gh FROM sh),
         |tg AS (SELECT DISTINCT gh FROM g WHERE split = 'train')
         |SELECT doc_id, count(DISTINCT gh) AS n_shared_grams
         |FROM g JOIN tg USING (gh)
         |WHERE split = 'heldout'
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // one row per profiled column; doubles stay doubles (double→text
    // formatting is engine-specific), timestamps profile over their
    // formatted-seconds form
    query("q45_column_profile", Q.columnProfile) {
      def num(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           | CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
           | count(DISTINCT $c) AS n_distinct,
           | CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
           | CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
           |FROM lineitem""".stripMargin
      def str(expr: String, name: String) =
        s"""SELECT '$name' AS col_name, count(*) AS n_rows,
           | CAST(coalesce(sum(CASE WHEN $expr IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
           | count(DISTINCT $expr) AS n_distinct,
           | CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           | min($expr) AS min_str, max($expr) AS max_str
           |FROM lineitem""".stripMargin
      s"""SELECT * FROM (
         |${num("l_orderkey")}
         |UNION ALL ${num("l_quantity")}
         |UNION ALL ${num("l_discount")}
         |UNION ALL ${str("l_returnflag", "l_returnflag")}
         |UNION ALL ${str(fmtTs("l_shipdate"), "l_shipdate")}
         |) ORDER BY col_name""".stripMargin
    },

    // S2→S5 CSV ingest end-to-end + scale-safe approx percentiles
    // round-trip oracle: the landed CSV→parquet table must equal the source
    // byte-for-byte, and the inference path must agree (literal true)
    query("q38_csv_ingest", Q.csvIngest)(
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        | true AS inferred_ok
        |FROM customer""".stripMargin),

    // property-based oracle: the GK accuracy contract holds — the Spark side
    // outputs VERIFIED booleans (rank interval vs target ± n/accuracy), the
    // oracle the contract itself. Approx VALUES are engine-specific by
    // design and never cross the boundary.
    query("q39_approx_percentiles", Q.approxPercentiles)(
      """SELECT l_returnflag, count(*) AS n_rows,
        | true AS p50_ok, true AS p90_ok, true AS p99_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // operators Spark lacks natively, composed scale-safe
    // replays CoreOps.asofJoin's union + running last-non-null construction
    // so tie semantics are identical by definition (right-before-left at
    // equal ts ⇒ <= match; greatest orderkey wins equal-ts order ties)
    query("q46_asof_join", Q.asofEventsOrders)(
      s"""WITH l AS (SELECT event_id, user_id, date_trunc('second', ts) AS uts,
         |             1 AS side, CAST(NULL AS BIGINT) AS tie,
         |             CAST(NULL AS BIGINT) AS oid, CAST(NULL AS TIMESTAMP) AS odate
         |           FROM events),
         |r AS (SELECT CAST(NULL AS BIGINT) AS event_id, o_custkey AS user_id,
         |        o_orderdate AS uts, 0 AS side, o_orderkey AS tie,
         |        o_orderkey AS oid, o_orderdate AS odate
         |      FROM orders),
         |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
         |m AS (SELECT *, last_value(oid IGNORE NULLS) OVER w AS m_oid,
         |        last_value(odate IGNORE NULLS) OVER w AS m_odate
         |      FROM u WINDOW w AS (PARTITION BY user_id ORDER BY uts, side, tie
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_id, user_id, ${fmtTs("uts")} AS ts_s,
         | m_oid AS order_id, ${fmtTs("m_odate")} AS order_date
         |FROM m WHERE side = 1""".stripMargin),

    // the oracle runs the direct inequality join (DuckDB plans IEJoin);
    // the Spark side buckets it into an equi join — identical pairs
    query("q47_range_join", Q.rangeJoinOrderLines)(
      s"""SELECT o_orderkey,
         | count(*) AS n_lines, ${sumMoney("l_quantity")} AS qty_sum
         |FROM orders
         |JOIN (SELECT o2.o_custkey AS l_custkey, l.l_shipdate, l.l_quantity
         |      FROM lineitem l JOIN orders o2 ON l.l_orderkey = o2.o_orderkey) le
         |  ON o_custkey = le.l_custkey
         | AND le.l_shipdate >= o_orderdate
         | AND le.l_shipdate < o_orderdate + INTERVAL 30 DAY
         |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin),

    // repetition/boilerplate quality rule
    // NON-distinct 3-gram stream (repetition needs counts, not sets)
    query("q48_repetition", Q.repetitionScore) {
      val rawShingle3 =
        "CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
          "ELSE [concat_ws(' ', t[i], t[i+1], t[i+2]) for i in generate_series(1, len(t) - 2)] END"
      s"""WITH tk AS (SELECT doc_id, $toksLower AS t FROM documents),
         |g AS (SELECT doc_id, unnest($rawShingle3) AS g FROM tk),
         |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, max(c) AS max_gram_count,
         | CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS rep_frac
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // semi-structured path: lossless JSON pack/unpack
    // the oracle pins the ORIGINAL typed values — the Spark side must
    // round-trip them through JSON losslessly to match
    query("q50_json_roundtrip", Q.jsonRoundtrip)(
      s"""SELECT o_orderkey, o_orderstatus AS st, o_totalprice AS tp,
         | ${fmtTs("o_orderdate")} AS od, o_orderstatus AS st_by_path
         |FROM orders ORDER BY o_orderkey""".stripMargin),

    // regex scrubbing / PII-style redaction
    // 'g' flag: DuckDB's regexp_replace is first-match-only by default,
    // Spark's replaces all
    query("q51_redaction", Q.redaction)(
      """SELECT c_custkey,
        | regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
        | coalesce(regexp_extract(c_name, '[0-9]+', 0), '') AS id_str,
        | CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS INTEGER) AS n_digit_runs
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ranking-function breadth (rank/dense_rank/percent_rank/cume_dist/ntile)
    query("q53_rank_functions", Q.rankFunctions, ShapeDispatch.statsCache)(rankFunctionsSql),
    // q53's scale side forced (ShapeDispatch's ranged shape), same window
    // oracle as q53: both sides of the rank dial hash-checked at the gate
    // q170 = q53's ranged shape FORCED (ShapeDispatch's scale side) —
    // deliberately the SAME window-function oracle: the dispatcher's two
    // shapes must hash identically at the gate (the q36/q166 pattern)
    query("q170_rank_functions_ranged", Q.rankFunctionsRanged)(rankFunctionsSql),

    // near-dup pairs -> connected components -> canonical doc per cluster
    // dedup clusters: verified near-dup pairs (the q19 candidates re-scored
    // with true Jaccard, q32's `pv` shape) → connected components via a
    // recursive reachability CTE; component = min reachable doc_id — the
    // same fixpoint the Spark min-label propagation converges to.
    query("q54_dedup_clusters", Q.dedupClusters, Q.compCache)(
      s"""WITH RECURSIVE $tkCte, $shCte,
         |sig AS (SELECT doc_id, $sigCols FROM sh),
         |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, ${bandKey(b)} AS band_key FROM sig")
              .mkString("\n UNION ALL ")}),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |         FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
         |ver AS (SELECT cand.doc_a, cand.doc_b FROM cand
         |        JOIN sh a ON cand.doc_a = a.doc_id
         |        JOIN sh bb ON cand.doc_b = bb.doc_id
         |        WHERE ${jaccardSql("a.sh", "bb.sh")} >= 0.8),
         |ed AS (SELECT doc_a AS s, doc_b AS d FROM ver
         |       UNION ALL SELECT doc_b AS s, doc_a AS d FROM ver),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.d, r.lbl FROM reach r JOIN ed e ON e.s = r.node),
         |comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node)
         |SELECT doc_id, component,
         | CAST(count(*) OVER (PARTITION BY component) AS INTEGER) AS cluster_size,
         | doc_id = component AS is_canonical
         |FROM comp""".stripMargin),

    // leakage-safe split: train/val/test assignment rides the near-dup
    // component, so near-duplicates never straddle splits
    // q169: q54's recursive component chain + the q57 md5-prefix uniform
    // OF THE COMPONENT id — split is a pure function of the cluster, so
    // near-dups never straddle (v/2^32 is exact in a double; the 0.8/0.9
    // gates compare identically in both engines)
    query("q169_leakage_safe_split", Q.leakageSafeSplit(_, _), Q.compCache)(
      s"""WITH RECURSIVE $tkCte, $shCte,
         |sig AS (SELECT doc_id, $sigCols FROM sh),
         |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, ${bandKey(b)} AS band_key FROM sig")
              .mkString("\n UNION ALL ")}),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |         FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
         |ver AS (SELECT cand.doc_a, cand.doc_b FROM cand
         |        JOIN sh a ON cand.doc_a = a.doc_id
         |        JOIN sh bb ON cand.doc_b = bb.doc_id
         |        WHERE ${jaccardSql("a.sh", "bb.sh")} >= 0.8),
         |ed AS (SELECT doc_a AS s, doc_b AS d FROM ver
         |       UNION ALL SELECT doc_b AS s, doc_a AS d FROM ver),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.d, r.lbl FROM reach r JOIN ed e ON e.s = r.node),
         |comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node),
         |cu AS (SELECT doc_id, component,
         |  CAST(list_reduce([CAST(strpos('0123456789abcdef', substr(md5(CAST(component AS VARCHAR)), i, 1)) - 1 AS BIGINT)
         |                    for i in generate_series(1, 8)], (a, x) -> a * 16 + x) AS DOUBLE)
         |    / 4294967296.0 AS u FROM comp)
         |SELECT doc_id, component,
         |  CAST(count(*) OVER (PARTITION BY component) AS INTEGER) AS cluster_size,
         |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'validation' ELSE 'test' END AS split
         |FROM cu ORDER BY doc_id""".stripMargin),

    // training-pipeline breadth: chunking / packing / sampling / reshaping
    // fixed-size token chunks with overlap; DuckDB's inclusive 1-based list
    // slice t[s : s+63] == Spark slice(t, s, 64); chunk_idx = (start-1)//48
    // == posexplode position since starts are arithmetic
    query("q55_chunking", Q.chunkDocs)(
      raw"""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
         |st AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t), 1), 48)) AS s FROM tk)
         |SELECT doc_id, CAST((s - 1) // 48 AS INTEGER) AS chunk_idx,
         | array_to_string(t[s : s + 63], ' ') AS chunk_text,
         | CAST(least(64, len(t) - s + 1) AS INTEGER) AS n_chunk_tokens
         |FROM st""".stripMargin),

    // contiguous token-budget packing per source shard: running sum in
    // doc_id order, pack = the 2048-token bin the doc's first token falls in
    query("q56_packing", Q.packSequences)(
      raw"""WITH b AS (SELECT doc_id, source,
         |  CASE WHEN len(trim(text)) = 0 THEN 0
         |    ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) END AS n_tokens
         | FROM documents),
         |c AS (SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  sum(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b)
         |SELECT doc_id, source, n_tokens,
         | CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         | CAST((cum - n_tokens) - ((cum - n_tokens) // 2048) * 2048 AS BIGINT) AS pack_offset
         |FROM c""".stripMargin),

    // content-addressed uniform: first 8 md5 hex chars as integer / 2^32
    // (division by a power of two is FP-exact, so u crosses engines raw)
    query("q57_stratified_sample", Q.stratifiedSample)(
      """WITH h AS (SELECT doc_id, source,
        |  list_reduce([CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
        |               for i in generate_series(1, 8)], (a, x) -> a * 16 + x) AS v
        | FROM documents)
        |SELECT doc_id, source, CAST(v AS DOUBLE) / 4294967296.0 AS u,
        |  CASE WHEN source IN ('src0', 'src1', 'src2') THEN 0.25 ELSE 0.75 END AS rate
        |FROM h
        |WHERE CAST(v AS DOUBLE) / 4294967296.0
        |      < CASE WHEN source IN ('src0', 'src1', 'src2') THEN 0.25 ELSE 0.75 END""".stripMargin),

    query("q58_unpivot", Q.unpivotMetrics)(
      s"""WITH w AS (SELECT l_returnflag,
         |  ${sumMoney("l_quantity")} AS sum_qty,
         |  ${sumMoney("l_extendedprice")} AS sum_price,
         |  CAST(count(*) AS DOUBLE) AS n_rows
         | FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, metric, value
         |FROM w UNPIVOT (value FOR metric IN (sum_qty, sum_price, n_rows))
         |ORDER BY l_returnflag, metric""".stripMargin),

    // sketch contracts + candidate verification
    // contract oracle (q39/q38 pattern): the HLL++ estimate is engine-
    // specific by design; what crosses the boundary is the exact count and
    // the VERIFIED 5-sigma error contract
    query("q59_approx_distinct", Q.approxDistinctContract)(
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS nd_exact,
        | true AS sketch_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // exact Levenshtein over the q19 LSH candidate pairs only; both engines
    // implement Wagner-Fischer character distance
    query("q60_edit_distance", Q.editDistancePairs, Q.pairsCache)(
      s"""WITH $tkCte, $shCte,
         |sig AS (SELECT doc_id, $sigCols FROM sh),
         |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, ${bandKey(b)} AS band_key FROM sig")
              .mkString("\n UNION ALL ")}),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |         FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id)
         |SELECT doc_a, doc_b,
         | CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist,
         | CAST(levenshtein(a.text, b.text) AS DOUBLE)
         |   / greatest(CAST(greatest(len(a.text), len(b.text)) AS DOUBLE), CAST(1.0 AS DOUBLE)) AS edit_frac
         |FROM cand JOIN documents a ON cand.doc_a = a.doc_id
         |          JOIN documents b ON cand.doc_b = b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin),

    // semi-structured extraction from a STORED json column
    // k re-extracted independently via regexp (the Spark side parses real
    // JSON twice — get_json_object + from_json — and certifies agreement)
    query("q61_props_extract", Q.propsExtract)(
      raw"""WITH k AS (SELECT event_type,
           |  CAST(regexp_extract(props, '"k":\s*(-?[0-9]+)', 1) AS INTEGER) AS k FROM events)
           |SELECT event_type, count(*) AS n,
           |  CAST(sum(CAST(k AS BIGINT)) AS BIGINT) AS sum_k,
           |  min(k) AS min_k, max(k) AS max_k,
           |  count(DISTINCT k) AS n_distinct_k,
           |  true AS parse_agree
           |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin),

    // corpus-level n-gram frequency table (occurrences + doc freq, top-100)
    query("q62_ngram_counts", Q.ngramCounts)(
      s"""WITH $tkCte,
         |g AS (SELECT doc_id, unnest(${shingleAllSqlN(3)}) AS gram FROM tk)
         |SELECT gram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
         |FROM g GROUP BY gram
         |ORDER BY n_occurrences DESC, gram ASC LIMIT 100""".stripMargin),

    // profiling: equal-width histogram over a global min/max
    query("q63_value_histogram", Q.valueHistogram)(
      s"""WITH s AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
         |b AS (SELECT CASE WHEN hi = lo THEN 0
         |        ELSE CAST(least(floor((value - lo) / ((hi - lo) / 20.0)), 19.0) AS INTEGER) END AS bucket,
         |        lo, hi
         |      FROM events CROSS JOIN s),
         |g AS (SELECT bucket, lo, hi, count(*) AS n FROM b GROUP BY bucket, lo, hi)
         |SELECT bucket,
         |  floor((lo + CAST(bucket AS DOUBLE) * ((hi - lo) / 20.0)) * 1000000.0 + 0.5) / 1000000.0 AS bucket_lo,
         |  floor((lo + CAST(bucket + 1 AS DOUBLE) * ((hi - lo) / 20.0)) * 1000000.0 + 0.5) / 1000000.0 AS bucket_hi,
         |  n
         |FROM g ORDER BY bucket""".stripMargin),

    // native session_window (streaming-capable) vs independent island oracle
    // independent construction: lag + running-sum islands. session_window
    // boundary semantics (pinned by Round5Spec on synthetic gaps, and by a
    // real 1800s gap in sf0.1): an event exactly gap after its predecessor
    // MERGES into the session (windows touching at the boundary count as
    // overlapping) ⇒ new session only when diff > 1800 — the same boundary
    // as q31's manual islands; window end = last event + gap.
    query("q64_session_window", Q.sessionWindows)(sessionIslandSql),

    // pure-SQL surface: the gap_sessions TVF registered by GraftSql
    // q84 drives the SQL TVF surface (GraftSql gap_sessions) — same
    // semantics, same oracle
    query("q84_sql_tvf_sessions", Q.sqlTvfSessions)(sessionIslandSql),

    // graph centrality: quantized-portable PageRank over the near-dup graph
    // 2 unrolled PageRank iterations over the q19 candidate-pair graph.
    // Contributions quantize to BIGINT before each sum (associative =>
    // partition-order-free on the Spark side, exactly replayable here);
    // the teleport/init terms spell the identical IEEE op order
    // ((1.0 - 0.85)/n, 1.0/n) the Scala literals compute.
    query("q86_pagerank", Q.pagerankDocs, Q.pairsCache) {
      def iterCtes(i: Int, prev: String) =
        s"""c$i AS (SELECT sym.dst AS id,
           |        CAST(floor($prev.rank / CAST(deg.deg AS DOUBLE) * CAST(0.85 AS DOUBLE) * 1e12 + 0.5) AS BIGINT) AS cq
           |      FROM sym JOIN deg USING (src) JOIN $prev ON $prev.id = sym.src),
           |s$i AS (SELECT id, sum(cq) AS sq FROM c$i GROUP BY id),
           |r$i AS (SELECT d.doc_id AS id,
           |          (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           |              / (SELECT CAST(count(*) AS DOUBLE) FROM documents)
           |            + CAST(coalesce(s$i.sq, 0) AS DOUBLE) / 1e12 AS rank
           |        FROM documents d LEFT JOIN s$i ON s$i.id = d.doc_id)""".stripMargin
      s"""WITH $tkCte, $shCte,
         |sig AS (SELECT doc_id, $sigCols FROM sh),
         |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, ${bandKey(b)} AS band_key FROM sig")
              .mkString("\n UNION ALL ")}),
         |pairs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |          FROM bands l JOIN bands r
         |          ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
         |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
         |r0 AS (SELECT doc_id AS id,
         |         CAST(1.0 AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS rank
         |       FROM documents),
         |${iterCtes(1, "r0")},
         |${iterCtes(2, "r1")}
         |SELECT id AS doc_id, rank FROM r2 ORDER BY doc_id""".stripMargin
    },

    // incremental ingest: incoming batch deduped against the corpus band table
    // bands over ALL docs (a signature is corpus-independent), cross
    // pairs filtered by the id-mod split; near hits verified with the
    // same Jaccard fragment as q20/q32
    query("q89_incremental_ingest", Q.incrementalIngest)(
      s"""WITH $tkCte, $shCte,
         |sig AS (SELECT doc_id, $sigCols FROM sh),
         |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, ${bandKey(b)} AS band_key FROM sig")
              .mkString("\n UNION ALL ")}),
         |inc AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
         |fpx AS (SELECT DISTINCT md5(array_to_string(t, ' ')) AS fp FROM sh WHERE doc_id % 5 != 0),
         |exact AS (SELECT s.doc_id FROM sh s JOIN fpx
         |            ON md5(array_to_string(s.t, ' ')) = fpx.fp
         |          WHERE s.doc_id % 5 = 0),
         |cand AS (SELECT DISTINCT le.doc_id AS eid, ri.doc_id AS iid
         |         FROM bands le JOIN bands ri USING (band, band_key)
         |         WHERE le.doc_id % 5 != 0 AND ri.doc_id % 5 = 0),
         |near AS (SELECT DISTINCT c.iid AS doc_id
         |         FROM cand c
         |         JOIN sh e ON e.doc_id = c.eid
         |         JOIN sh i ON i.doc_id = c.iid
         |         WHERE ${jaccardSql("e.sh", "i.sh")} >= 0.8)
         |SELECT inc.doc_id,
         |  (exact.doc_id IS NOT NULL) AS exact_dup,
         |  (near.doc_id IS NOT NULL) AS near_dup,
         |  (exact.doc_id IS NULL AND near.doc_id IS NULL) AS kept
         |FROM inc
         |LEFT JOIN (SELECT DISTINCT doc_id FROM exact) exact USING (doc_id)
         |LEFT JOIN near USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // BPE tokenizer training: two pair-merge iterations, greedy-left fold
    // both BPE iterations replayed: pair counts -> top-1 (count desc,
    // pair asc) -> greedy left fold, twice; list_reduce seeds from the
    // first single-char element (same left fold as Spark's aggregate)
    query("q92_bpe_merges", Q.bpeMerges) {
      def pairTop(src: String, m: String) =
        s"""p$m AS (SELECT p.a AS a, p.b AS b, sum(freq) AS cnt
           |      FROM (SELECT freq, unnest([struct_pack(a := sym[i], b := sym[i+1])
           |                                 for i in generate_series(1, len(sym)-1)]) AS p
           |            FROM $src) GROUP BY p.a, p.b),
           |$m AS (SELECT a, b, a || b AS ab FROM p$m
           |       ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)""".stripMargin
      def fold(src: String, m: String, out: String, label: String) =
        s"""$out AS (SELECT tok, freq,
           |        list_reduce(list_transform(sym, c -> [c]),
           |          (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = $m.a AND x[1] = $m.b
           |                           THEN list_append(acc[1:len(acc)-1], $m.ab)
           |                           ELSE list_concat(acc, x) END) AS sym,
           |        $m.ab AS $label${if (label == "merge2") ", merge1" else ""}
           |      FROM $src LEFT JOIN $m ON true)""".stripMargin
      raw"""WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents),
           |w AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
           |s0 AS (SELECT tok, freq, [tok[i] for i in generate_series(1, length(tok))] AS sym FROM w),
           |${pairTop("s0", "m1")},
           |${fold("s0", "m1", "s1", "merge1")},
           |${pairTop("s1", "m2")},
           |${fold("s1", "m2", "s2", "merge2")}
           |SELECT tok, freq, array_to_string(sym, '|') AS symbols,
           |  CAST(len(sym) AS INTEGER) AS n_symbols, merge1, merge2
           |FROM s2 ORDER BY freq DESC, tok ASC LIMIT 15""".stripMargin
    },

    // BPE training to a target vocab size: the full merge-table artifact
    // q94: the full merge sequence replayed — 10 unrolled pairTop+fold
    // steps (the Spark side's maxMerges cap), then rows filtered to the
    // target vocab (base charset size + step ≤ 32). Same greedy fold and
    // (count desc, pair asc) tie-break as q92.
    query("q94_bpe_vocab", Q.bpeVocab(_, _)) {
      val maxMerges = 10
      val targetVocab = 32
      def pairTop(src: String, m: String) =
        s"""p$m AS (SELECT p.a AS a, p.b AS b, sum(freq) AS cnt
           |      FROM (SELECT freq, unnest([struct_pack(a := sym[i], b := sym[i+1])
           |                                 for i in generate_series(1, len(sym)-1)]) AS p
           |            FROM $src) GROUP BY p.a, p.b),
           |$m AS (SELECT a, b, a || b AS ab, cnt FROM p$m
           |       ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)""".stripMargin
      def fold(src: String, m: String, out: String) =
        s"""$out AS (SELECT tok, freq,
           |        list_reduce(list_transform(sym, c -> [c]),
           |          (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = $m.a AND x[1] = $m.b
           |                           THEN list_append(acc[1:len(acc)-1], $m.ab)
           |                           ELSE list_concat(acc, x) END) AS sym
           |      FROM $src LEFT JOIN $m ON true)""".stripMargin
      val steps = (1 to maxMerges).map { i =>
        s"${pairTop(s"s${i - 1}", s"m$i")},\n${fold(s"s${i - 1}", s"m$i", s"s$i")}"
      }.mkString(",\n")
      val union = (1 to maxMerges).map { i =>
        s"SELECT $i AS step, a, b, ab, cnt FROM m$i"
      }.mkString(" UNION ALL ")
      raw"""WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents),
           |w AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
           |s0 AS (SELECT tok, freq, [tok[i] for i in generate_series(1, length(tok))] AS sym FROM w),
           |bc AS (SELECT count(DISTINCT c) AS base
           |       FROM (SELECT unnest(sym) AS c FROM s0)),
           |$steps,
           |res AS ($union)
           |SELECT CAST(res.step AS INTEGER) AS step, res.a AS pair_a, res.b AS pair_b,
           |  res.ab AS merged, CAST(res.cnt AS BIGINT) AS pair_count,
           |  CAST(bc.base + res.step AS BIGINT) AS vocab_size_after
           |FROM res, bc WHERE bc.base + res.step <= $targetVocab
           |ORDER BY step""".stripMargin
    },

    // infix containment dups (quote inclusion / boilerplate wrapping).
    // String sort puts q100 between q10 and q11: it is the FIRST consumer
    // of the session gram table in sweep order (q96 stays last). Without
    // its early release the gram cache would sit across the star family
    // and the whole dedup middle — the r5 eviction-churn shape (measured:
    // q81 1.0s → 18.9s when q100 held the cache to q96). Releasing
    // immediately costs one rebuild at q44; the q44→q96 span is measured
    // safe.
    // q100: same min-gram candidate bucket + token-boundary substring
    // verification; distinct gram lists on both engines
    query("q100_containment_dups", Q.containmentDups, Q.gramsCache)(
      s"""WITH tk AS (SELECT doc_id, $toksLower AS t FROM documents),
         |tj AS (SELECT doc_id, len(t) AS n, array_to_string(t, ' ') AS joined FROM tk),
         |g AS (SELECT doc_id, md5(unnest(sh)) AS gh
         |      FROM (SELECT doc_id, ${shingleSqlN(8)} AS sh FROM tk)),
         |cm AS (SELECT doc_id, min(gh) AS gh FROM g GROUP BY doc_id),
         |c AS (SELECT tj.doc_id, tj.n, tj.joined, cm.gh
         |      FROM tj JOIN cm USING (doc_id) WHERE tj.n BETWEEN 8 AND 64),
         |h AS (SELECT g.doc_id AS host_id, tj.n AS host_n, tj.joined AS host_joined, g.gh
         |      FROM g JOIN tj ON tj.doc_id = g.doc_id),
         |v AS (SELECT c.doc_id, count(*) AS n_hosts
         |      FROM c JOIN h USING (gh)
         |      WHERE h.host_n > c.n
         |        AND strpos(' ' || h.host_joined || ' ', ' ' || c.joined || ' ') > 0
         |      GROUP BY c.doc_id)
         |SELECT c.doc_id, CAST(c.n AS INTEGER) AS n_tokens,
         |  CAST(coalesce(v.n_hosts, 0) AS BIGINT) AS n_hosts,
         |  coalesce(v.n_hosts, 0) > 0 AS is_contained
         |FROM c LEFT JOIN v USING (doc_id) ORDER BY doc_id""".stripMargin).copy(releaseEarly = true),

    // classifier distillation: exact-least-squares student of the q16 gate
    // q105: classifier distillation — exact least squares via HUGEINT
    // normal equations + Cramer (bit-exact weight replay), then one
    // broadcast scoring pass; teacher label = q16 quality gate at 0.8
    query("q105_quality_classifier", Q.qualityClassifier)(
      s"""WITH ${statsCte("documents")},
         |f AS (SELECT CAST(n_tokens AS BIGINT) AS x1, CAST(n_stop AS BIGINT) AS x2,
         |        CASE WHEN $qualityExpr >= 0.8 THEN 1 ELSE 0 END AS y
         |      FROM b),
         |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |        CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
         |        CAST(sum(x1*x1) AS HUGEINT) AS s11, CAST(sum(x1*x2) AS HUGEINT) AS s12,
         |        CAST(sum(x2*x2) AS HUGEINT) AS s22,
         |        CAST(sum(y) AS HUGEINT) AS sy, CAST(sum(x1*y) AS HUGEINT) AS s1y,
         |        CAST(sum(x2*y) AS HUGEINT) AS s2y
         |      FROM f),
         |w AS (SELECT
         |   (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)) AS det,
         |   (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) AS det0,
         |   (n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) AS det1,
         |   (n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) AS det2
         |  FROM s),
         |ww AS (SELECT CAST(det0 AS DOUBLE)/CAST(det AS DOUBLE) AS w0,
         |        CAST(det1 AS DOUBLE)/CAST(det AS DOUBLE) AS w1,
         |        CAST(det2 AS DOUBLE)/CAST(det AS DOUBLE) AS w2 FROM w),
         |p AS (SELECT f.y, ww.w0, ww.w1, ww.w2,
         |        (ww.w0 + ww.w1 * CAST(f.x1 AS DOUBLE) + ww.w2 * CAST(f.x2 AS DOUBLE)) >= 0.5 AS pred
         |      FROM f CROSS JOIN ww),
         |c AS (SELECT w0, w1, w2, count(*) AS n_docs,
         |        sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS tp,
         |        sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END) AS fp,
         |        sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END) AS tn,
         |        sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END) AS fn
         |      FROM p GROUP BY w0, w1, w2)
         |SELECT n_docs, w0, w1, w2,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
         |  CAST(tp + tn AS DOUBLE) / CAST(n_docs AS DOUBLE) AS accuracy
         |FROM c""".stripMargin),

    // reliability table of the distilled quality classifier (q105)
    // q121: calibration/reliability table of q105's student — same
    // training replay, then floor(10·score) buckets clamped to [-1,10];
    // the bucket mean routes through an exact DECIMAL(18,6) sum so it is
    // partial-aggregation-order-independent in both engines
    query("q121_calibration", Q.classifierCalibration)(
      s"""WITH ${statsCte("documents")},
         |f AS (SELECT CAST(n_tokens AS BIGINT) AS x1, CAST(n_stop AS BIGINT) AS x2,
         |        CASE WHEN $qualityExpr >= 0.8 THEN 1 ELSE 0 END AS y
         |      FROM b),
         |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |        CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
         |        CAST(sum(x1*x1) AS HUGEINT) AS s11, CAST(sum(x1*x2) AS HUGEINT) AS s12,
         |        CAST(sum(x2*x2) AS HUGEINT) AS s22,
         |        CAST(sum(y) AS HUGEINT) AS sy, CAST(sum(x1*y) AS HUGEINT) AS s1y,
         |        CAST(sum(x2*y) AS HUGEINT) AS s2y
         |      FROM f),
         |w AS (SELECT
         |   (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)) AS det,
         |   (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) AS det0,
         |   (n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) AS det1,
         |   (n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) AS det2
         |  FROM s),
         |ww AS (SELECT CAST(det0 AS DOUBLE)/CAST(det AS DOUBLE) AS w0,
         |        CAST(det1 AS DOUBLE)/CAST(det AS DOUBLE) AS w1,
         |        CAST(det2 AS DOUBLE)/CAST(det AS DOUBLE) AS w2 FROM w),
         |p AS (SELECT f.y,
         |        (ww.w0 + ww.w1 * CAST(f.x1 AS DOUBLE) + ww.w2 * CAST(f.x2 AS DOUBLE)) AS score
         |      FROM f CROSS JOIN ww),
         |bk AS (SELECT LEAST(GREATEST(CAST(floor(score * 10) AS INTEGER), -1), 10) AS bucket,
         |        y, score FROM p)
         |SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n_docs,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_score,
         |  CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate
         |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin),

    // CCNet-style perplexity buckets, log-free (exact-integer score sums)
    // q103: log-free CCNet perplexity buckets — exact-integer score sums
    // (Σ pair-count / Σ head-count), integer rank-third cut, doc_id
    // tiebreak; one double division per doc
    query("q103_bigram_predictability", Q.bigramPredictability)(
      s"""WITH tk AS (SELECT doc_id, $toksLower AS t FROM documents),
         |bg AS (SELECT doc_id,
         |    unnest(t[1:len(t)-1]) AS w1,
         |    unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]) AS pair
         |  FROM tk WHERE len(t) >= 2),
         |pc AS (SELECT pair, count(*) AS c_pair FROM bg GROUP BY pair),
         |hc AS (SELECT w1, count(*) AS c_head FROM bg GROUP BY w1),
         |pd AS (SELECT doc_id, count(*) AS n_bigrams,
         |         sum(c_pair) AS sum_pair, sum(c_head) AS sum_head
         |       FROM bg JOIN pc USING (pair) JOIN hc USING (w1) GROUP BY doc_id),
         |sc AS (SELECT doc_id, n_bigrams,
         |         CAST(sum_pair AS DOUBLE) / CAST(sum_head AS DOUBLE) AS predictability
         |       FROM pd),
         |n AS (SELECT count(*) AS n_scored FROM sc),
         |bk AS (SELECT doc_id, n_bigrams, predictability,
         |         CASE WHEN rn * 3 <= n_scored THEN 'head'
         |              WHEN rn * 3 <= n_scored * 2 THEN 'middle'
         |              ELSE 'tail' END AS ppl_bucket
         |       FROM (SELECT *, row_number() OVER (ORDER BY predictability DESC, doc_id ASC) AS rn
         |             FROM sc), n)
         |SELECT d.doc_id, CAST(coalesce(bk.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  bk.predictability, bk.ppl_bucket
         |FROM documents d LEFT JOIN bk USING (doc_id) ORDER BY doc_id""".stripMargin),

    // per-source quality drift: binned KS vs the pooled corpus
    // q99: binned two-sample KS per source vs pooled corpus — same grid,
    // same integer argmax (hugeint cross-products), one double ratio
    query("q99_quality_drift", Q.qualityDrift)(
      s"""WITH ${statsCte("documents")},
         |qd AS (SELECT doc_id, $qualityExpr AS q FROM b),
         |q0 AS (SELECT d.source, qd.q FROM qd JOIN documents d USING (doc_id)),
         |bn AS (SELECT source,
         |         CAST(least(floor(q * 32.0), CAST(31.0 AS DOUBLE)) AS INTEGER) AS bin
         |       FROM q0),
         |sb AS (SELECT source, bin, count(*) AS c FROM bn GROUP BY source, bin),
         |dense AS (SELECT s.source, g.bin, coalesce(sb.c, 0) AS c
         |          FROM (SELECT DISTINCT source FROM sb) s
         |          CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bin) g
         |          LEFT JOIN sb ON sb.source = s.source AND sb.bin = g.bin),
         |sc AS (SELECT source, bin, c,
         |         sum(c) OVER (PARTITION BY source ORDER BY bin) AS cum_s,
         |         sum(c) OVER (PARTITION BY source) AS n_s
         |       FROM dense),
         |gl AS (SELECT bin, sum(c) AS gc FROM dense GROUP BY bin),
         |gc AS (SELECT bin, sum(gc) OVER (ORDER BY bin) AS cum_g FROM gl),
         |tot AS (SELECT max(cum_g) AS n_g FROM gc),
         |k AS (SELECT sc.source, max(sc.n_s) AS n_docs, max(tot.n_g) AS n_g,
         |        max(abs(CAST(sc.cum_s AS HUGEINT) * CAST(tot.n_g AS HUGEINT)
         |              - CAST(gc.cum_g AS HUGEINT) * CAST(sc.n_s AS HUGEINT))) AS ks_num
         |      FROM sc JOIN gc USING (bin), tot GROUP BY sc.source)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(ks_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(n_g AS DOUBLE)) AS ks,
         |  (CAST(ks_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(n_g AS DOUBLE))) > 0.1 AS drifted
         |FROM k ORDER BY source""".stripMargin),

    // truncated-crawl dup class: full text = strict prefix of a longer doc
    // q98: same hash construction — full-text hash of short candidates
    // vs per-distinct-candidate-length prefix hashes of every longer doc
    query("q98_prefix_dups", Q.prefixDups)(
      s"""WITH tk AS (SELECT doc_id, $toksLower AS t FROM documents),
         |tn AS (SELECT doc_id, t, len(t) AS n FROM tk),
         |c AS (SELECT doc_id, n, md5(array_to_string(t, ' ')) AS h FROM tn WHERE n <= 64),
         |l AS (SELECT DISTINCT n AS len FROM c),
         |hst AS (SELECT tn.doc_id AS host_id, md5(array_to_string(t[1:len], ' ')) AS h
         |        FROM tn JOIN l ON l.len < tn.n),
         |j AS (SELECT c.doc_id, c.n, count(hst.host_id) AS n_hosts
         |      FROM c LEFT JOIN hst USING (h) GROUP BY c.doc_id, c.n)
         |SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
         |  CAST(n_hosts AS BIGINT) AS n_hosts, n_hosts > 0 AS is_prefix_dup
         |FROM j ORDER BY doc_id""".stripMargin),

    // hard-negative mining: per-anchor top-k wrong-label neighbors
    // q97: q22's cosine top-k with the label-inequality filter — anchors
    // are the same vec_id < 10 family; identical rounding + tie-break
    query("q97_hard_negatives", Q.hardNegatives)(
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |en AS (SELECT vec_id, label, v, sqrt($dotSelf) AS nrm FROM e),
         |q AS (SELECT vec_id AS query_id, label AS qlbl, v AS qv, nrm AS qnrm FROM en WHERE vec_id < 10),
         |s AS (SELECT query_id, vec_id,
         |  ${round4(s"CASE WHEN (qnrm * nrm) = 0 THEN CAST(0.0 AS DOUBLE) ELSE $dotQV / (qnrm * nrm) END")} AS score
         |  FROM en CROSS JOIN q WHERE query_id != vec_id AND qlbl != label)
         |SELECT query_id, vec_id AS neg_id, score, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank FROM s)
         |WHERE rank <= 5""".stripMargin),

    // source-pair 8-gram Jaccard overlap: the dataset-mixing diagnostic
    // q96: distinct 8-gram sets per source, gram-key self-join for the
    // pair intersections, size cross for the pair frame — same shapes
    // as the Spark side; one IEEE divide for the jaccard
    query("q96_source_overlap", Q.sourceOverlap, Q.gramsCache)(
      s"""WITH tk AS (SELECT source, $toksLower AS t FROM documents),
         |sh AS (SELECT source, ${shingleSqlN(8)} AS sh FROM tk),
         |g AS (SELECT DISTINCT source, gh
         |      FROM (SELECT source, md5(unnest(sh)) AS gh FROM sh)),
         |sz AS (SELECT source, count(*) AS n_grams FROM g GROUP BY source),
         |cm AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
         |       FROM g a JOIN g b USING (gh) WHERE a.source < b.source
         |       GROUP BY a.source, b.source),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |             a.n_grams AS n_a, b.n_grams AS n_b
         |      FROM sz a, sz b WHERE a.source < b.source)
         |SELECT p.source_a, p.source_b, p.n_a, p.n_b,
         |  CAST(coalesce(cm.n_common, 0) AS BIGINT) AS n_common,
         |  CAST(coalesce(cm.n_common, 0) AS DOUBLE)
         |    / CAST(p.n_a + p.n_b - coalesce(cm.n_common, 0) AS DOUBLE) AS jaccard
         |FROM p LEFT JOIN cm USING (source_a, source_b)
         |ORDER BY source_a, source_b""".stripMargin),

    // Space-Saving (min-replace) heavy hitters: q91's over-estimating dual
    // q95: like q91 — the sketch's counters/eps are merge-order-specific,
    // so only the exact top-10 and the theory-guaranteed booleans cross
    query("q95_space_saving", Q.spaceSavingTokens)(
      raw"""WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents),
           |e AS (SELECT tok, count(*) AS exact_n FROM tok GROUP BY tok
           |      ORDER BY exact_n DESC, tok ASC LIMIT 10)
           |SELECT tok, exact_n, true AS est_ge_exact, true AS est_within_eps
           |FROM e ORDER BY exact_n DESC, tok ASC""".stripMargin),

    // grouped heavy hitters: per-source frequent-token sketch contract
    // per-source exact top-3 + theory-guaranteed booleans (q91's grouped
    // form; the same rk tie-break as the Spark window)
    query("q93_grouped_heavy_hitters", Q.heavyHittersBySource)(
      raw"""WITH tok AS (SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
           |             FROM documents),
           |e AS (SELECT source, tok, count(*) AS exact_n FROM tok GROUP BY source, tok),
           |r AS (SELECT source, tok, exact_n,
           |        CAST(row_number() OVER (PARTITION BY source
           |              ORDER BY exact_n DESC, tok ASC) AS INTEGER) AS rk
           |      FROM e)
           |SELECT source, tok, rk, exact_n, true AS est_le_exact, true AS est_ge_lower
           |FROM r WHERE rk <= 3 ORDER BY source, rk""".stripMargin),

    // Misra-Gries frequent-items sketch with its verified error contract
    // like q39/q59/q69: sketch counters are partition-order-specific,
    // so only the exact top-10 and the theory-guaranteed booleans cross
    query("q91_heavy_hitters", Q.heavyHittersTokens)(
      raw"""WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents),
           |e AS (SELECT tok, count(*) AS exact_n FROM tok GROUP BY tok
           |      ORDER BY exact_n DESC, tok ASC LIMIT 10)
           |SELECT tok, exact_n, true AS est_le_exact, true AS est_ge_lower
           |FROM e ORDER BY exact_n DESC, tok ASC""".stripMargin),

    // LATERAL correlated subquery: top-2 related rows per driving row
    // identical SQL text on both engines (the point of q90)
    query("q90_lateral_topk", Q.lateralTopNations)(
      """WITH nc AS (SELECT n_regionkey, n_name, count(*) AS n_customers
        |            FROM customer JOIN nation ON c_nationkey = n_nationkey
        |            GROUP BY n_regionkey, n_name)
        |SELECT r.r_name AS region, t.n_name AS nation, t.n_customers
        |FROM region r,
        |LATERAL (SELECT n_name, n_customers FROM nc
        |         WHERE nc.n_regionkey = r.r_regionkey
        |         ORDER BY n_customers DESC, n_name ASC LIMIT 2) t
        |ORDER BY region, n_customers DESC, nation""".stripMargin),

    // point-in-time lookup: scd2 history composed with the as-of join
    // scd2 change stream (q78's CTEs) + the q46 union/last-ignore-nulls
    // as-of replay: right rows sort before left at equal ts, greatest
    // version among same-second changes wins
    query("q88_pit_join", Q.pitEnrichment)(
      s"""WITH e AS (SELECT user_id, event_id, event_type, date_trunc('second', ts) AS ts_sec,
         |             epoch(date_trunc('second', ts)) AS ep FROM events),
         |l1 AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ep ASC, event_id ASC)
         |                AS prev_state FROM e),
         |ch AS (SELECT user_id, event_type AS state, ts_sec,
         |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ep ASC, event_id ASC) AS INTEGER) AS version
         |       FROM (SELECT * FROM l1 WHERE prev_state IS NULL OR prev_state != event_type)),
         |l AS (SELECT event_id, user_id, ts_sec AS uts, 1 AS side, CAST(NULL AS BIGINT) AS tie,
         |        CAST(NULL AS VARCHAR) AS p_state, CAST(NULL AS INTEGER) AS p_version FROM e),
         |r AS (SELECT CAST(NULL AS BIGINT) AS event_id, user_id, ts_sec AS uts, 0 AS side,
         |        CAST(version AS BIGINT) AS tie, state AS p_state, version AS p_version FROM ch),
         |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
         |m AS (SELECT *, last_value(p_state IGNORE NULLS) OVER w AS m_state,
         |        last_value(p_version IGNORE NULLS) OVER w AS m_version
         |      FROM u WINDOW w AS (PARTITION BY user_id ORDER BY uts, side, tie
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_id, user_id, ${fmtTs("uts")} AS ts_s, m_state AS state, m_version AS version
         |FROM m WHERE side = 1 ORDER BY event_id""".stripMargin),

    // WITH RECURSIVE: 2-hop neighborhood sizes over the near-dup graph
    // same recursion DuckDB-side, over the serialized-minhash pair CTEs
    query("q87_recursive_reach", Q.recursiveReach, Q.pairsCache)(
      s"""WITH RECURSIVE $tkCte, $shCte,
         |sig AS (SELECT doc_id, $sigCols FROM sh),
         |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, ${bandKey(b)} AS band_key FROM sig")
              .mkString("\n UNION ALL ")}),
         |pairs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |          FROM bands l JOIN bands r
         |          ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
         |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |hop(seed, id, depth) AS (
         |  SELECT doc_id, doc_id, 0 FROM documents
         |  UNION ALL
         |  SELECT h.seed, e.dst, h.depth + 1
         |  FROM hop h JOIN sym e ON e.src = h.id
         |  WHERE h.depth < 2
         |)
         |SELECT seed AS doc_id, count(DISTINCT id) AS n_within_2hops
         |FROM hop GROUP BY seed ORDER BY doc_id""".stripMargin),

    // dataset mixture: per-source rates with epoch repetition + fractional top-up
    query("q85_source_mixture", Q.sourceMixture)(
      """WITH r AS (SELECT doc_id, source,
        |    CAST(CASE CAST(substr(source, 4) AS INT) % 3
        |      WHEN 0 THEN 0.5 WHEN 1 THEN 1.0 ELSE 2.5 END AS DOUBLE) AS rate,
        |    CAST(list_reduce([CAST(strpos('0123456789abcdef', substr(md5('mx|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
        |                      for i in generate_series(1, 8)], (a, x) -> a * 16 + x) AS DOUBLE) / 4294967296.0 AS u
        |  FROM documents),
        |c AS (SELECT doc_id, source, rate,
        |        CAST(floor(rate) AS INT)
        |          + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS copies
        |      FROM r)
        |SELECT doc_id, source, rate, CAST(unnest(generate_series(1, copies)) AS INT) AS rep
        |FROM c WHERE copies >= 1
        |ORDER BY doc_id, rep""".stripMargin),

    // skew-salted join checked against the plain-join oracle
    // the PLAIN join — the Spark side goes through CoreOps.saltedJoin, so a
    // hash match proves salting preserves join semantics exactly
    query("q65_salted_join", Q.saltedJoinAgg)(
      s"""SELECT o_orderstatus, count(*) AS n_lines,
         | ${sumMoney("l_extendedprice * (1.0 - l_discount)")} AS net_revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // quality-weighted deterministic (content-addressed) sampling
    // u = first 8 md5 hex chars of 'ws|'||doc_id as a 32-bit int / 2^32 —
    // an exact binary fraction, so u and the keep_prob compare are
    // bit-portable without rounding
    query("q66_weighted_sample", Q.weightedSample)(
      s"""WITH ${statsCte("documents")},
         |q AS (SELECT doc_id, $qualityExpr AS quality FROM b),
         |h AS (SELECT doc_id, quality,
         |  CAST(list_reduce([CAST(strpos('0123456789abcdef', substr(md5('ws|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
         |                    for i in generate_series(1, 8)], (a, x) -> a * 16 + x) AS DOUBLE) / 4294967296.0 AS u
         |FROM q)
         |SELECT doc_id, quality, u, 0.2 + 0.6 * quality AS keep_prob
         |FROM h WHERE u < 0.2 + 0.6 * quality ORDER BY doc_id""".stripMargin),

    // per-label embedding centroids (quantized-exact portable means)
    // quantized-exact means: sum of integer-valued doubles is associative,
    // so the distributed Spark sum and DuckDB's agree bit-for-bit
    query("q67_label_centroids", Q.labelCentroids)(
      """WITH e AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |x AS (SELECT label,
        |        unnest(generate_series(1, len(v))) AS pos,
        |        unnest([floor(v[i] * 1000000.0 + 0.5) for i in generate_series(1, len(v))]) AS xq
        |      FROM e),
        |g AS (SELECT label, pos, count(*) AS n_vecs, sum(xq) AS sq FROM x GROUP BY label, pos)
        |SELECT label, CAST(pos AS INTEGER) AS dim, n_vecs,
        |  sq / (1000000.0 * CAST(n_vecs AS DOUBLE)) AS centroid
        |FROM g ORDER BY label, dim""".stripMargin),

    // format breadth: JSON-lines ingest + ORC round-trip vs the original table
    // round-trip ingests: the oracle is the ORIGINAL table — any format
    // drift (text doubles, escaping, nulls, column types) breaks the hash
    query("q75_json_ingest", Q.jsonIngest)(
      "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part ORDER BY p_partkey"),

    query("q76_orc_roundtrip", Q.orcRoundtrip)(
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey"),

    // join-type completion: FULL OUTER with both unmatched sides tagged
    query("q77_full_outer", Q.fullOuterOrders)(
      s"""WITH seg AS (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'),
         |oa AS (SELECT o_custkey AS c_custkey, count(*) AS n_orders,
         |         ${sumMoney("o_totalprice")} AS total_spend
         |       FROM orders GROUP BY o_custkey)
         |SELECT c_custkey,
         |  coalesce(c_name, '_no_customer_') AS customer_name,
         |  coalesce(n_orders, 0) AS n_orders,
         |  coalesce(total_spend, 0.0) AS total_spend,
         |  CASE WHEN c_name IS NULL THEN 'order_only'
         |       WHEN n_orders IS NULL THEN 'customer_only'
         |       ELSE 'both' END AS side
         |FROM seg FULL OUTER JOIN oa USING (c_custkey)
         |ORDER BY c_custkey""".stripMargin),

    // time-based RANGE window frames (trailing hour per user)
    query("q72_range_frame", Q.rangeFrameCounts)(
      s"""WITH e AS (SELECT user_id, event_id, value, date_trunc('second', ts) AS ts_sec,
         |             epoch(date_trunc('second', ts)) AS ep FROM events)
         |SELECT user_id, event_id, ${fmtTs("ts_sec")} AS ts_s,
         |  count(*) OVER w AS n_last_hour,
         |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS value_last_hour
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY ep
         |             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)""".stripMargin),

    // double-fire suppression: gap-filter debounce per (user, type)
    query("q73_debounce", Q.debounceEvents)(
      s"""WITH e AS (SELECT user_id, event_type, event_id, date_trunc('second', ts) AS ts_sec,
         |             epoch(date_trunc('second', ts)) AS ep FROM events),
         |l AS (SELECT *, lag(ep) OVER (PARTITION BY user_id, event_type
         |                              ORDER BY ep ASC, event_id ASC) AS prev_ep FROM e)
         |SELECT user_id, event_type, event_id, ${fmtTs("ts_sec")} AS ts_s
         |FROM l WHERE prev_ep IS NULL OR ep - prev_ep >= 60
         |ORDER BY user_id, event_type, event_id""".stripMargin),

    // ratio_to_report: revenue share within flag and of grand total
    query("q74_revenue_share", Q.revenueShare)(
      """WITH g AS (SELECT l_returnflag, l_linestatus,
        |             sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS rev_dec
        |           FROM lineitem GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(rev_dec AS DOUBLE) / CAST(sum(rev_dec) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS share_of_flag,
        |  CAST(rev_dec AS DOUBLE) / CAST(sum(rev_dec) OVER () AS DOUBLE) AS share_of_total
        |FROM g ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // balanced eval sets: exact per-stratum quota, content-addressed order
    query("q71_quota_sample", Q.quotaSample)(
      """WITH h AS (SELECT doc_id, source,
        |  list_reduce([CAST(strpos('0123456789abcdef', substr(md5('qs|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
        |               for i in generate_series(1, 8)], (a, x) -> a * 16 + x) AS h
        |FROM documents),
        |r AS (SELECT doc_id, source,
        |        CAST(row_number() OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC) AS INTEGER) AS rk
        |      FROM h)
        |SELECT doc_id, source, rk FROM r WHERE rk <= 20 ORDER BY source, rk""".stripMargin),

    // vocab-coverage diagnostic: per-doc OOV fraction vs top-K corpus vocab
    query("q70_oov_rate", Q.oovRate)(
      raw"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents),
           |vocab AS (SELECT tok, true AS in_vocab FROM (
           |  SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
           |  ORDER BY cnt DESC, tok ASC LIMIT 16)),
           |j AS (SELECT t.doc_id, v.in_vocab FROM tok t LEFT JOIN vocab v USING (tok))
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           |  CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS oov_frac
           |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // native TypedImperativeAggregate t-digest, verified rank-error contract
    // like q39: the sketch's verified rank-error contract crosses the
    // boundary as booleans, never the partition-order-specific estimates
    query("q69_tdigest_percentiles", Q.tdigestPercentiles)(
      """SELECT l_returnflag, count(*) AS n_rows,
        | true AS p50_ok, true AS p90_ok, true AS p99_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // IVF ANN over 1-iteration Lloyd-trained centroids (oracle replays training)
    // full 1-iteration Lloyd replay: stride init -> assign -> quantized
    // mean per (cell, dim) -> reassign -> probe 3 cells -> top-5
    query("q68_ivf_trained", Q.ivfTrainedTopK, Q.centroidsCache) {
      def dotOf(a: String, b: String) =
        s"list_reduce([$a[i] * $b[i] for i in generate_series(1, len($a))], (acc, x) -> acc + x)"
      def normOf(a: String) =
        s"sqrt(list_reduce([$a[i] * $a[i] for i in generate_series(1, len($a))], (acc, x) -> acc + x))"
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |en AS (SELECT vec_id, v, sqrt($dotSelf) AS nrm FROM e),
         |st AS (SELECT greatest(1, count(*) // 10) AS stride FROM embeddings),
         |init AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % (SELECT stride FROM st) = 0),
         |initn AS (SELECT cid, cv, ${normOf("cv")} AS cnrm FROM init),
         |sims0 AS (SELECT en.vec_id, en.v, initn.cid,
         |    CASE WHEN (en.nrm * initn.cnrm) = 0 THEN CAST(0.0 AS DOUBLE)
         |      ELSE ${dotOf("en.v", "initn.cv")} / (en.nrm * initn.cnrm) END AS sim
         |  FROM en CROSS JOIN initn),
         |r0 AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk FROM sims0),
         |a0 AS (SELECT vec_id, v, cid FROM r0 WHERE rk = 1),
         |xx AS (SELECT cid,
         |        unnest(generate_series(1, len(v))) AS pos,
         |        unnest([floor(v[i] * 1000000.0 + 0.5) for i in generate_series(1, len(v))]) AS xq
         |      FROM a0),
         |mm AS (SELECT cid, pos, sum(xq) / (1000000.0 * CAST(count(*) AS DOUBLE)) AS m FROM xx GROUP BY cid, pos),
         |cent AS (SELECT cid, list(m ORDER BY pos) AS cv FROM mm GROUP BY cid),
         |centn AS (SELECT cid, cv, ${normOf("cv")} AS cnrm FROM cent),
         |sims AS (SELECT en.vec_id, en.v, en.nrm, centn.cid,
         |    CASE WHEN (en.nrm * centn.cnrm) = 0 THEN CAST(0.0 AS DOUBLE)
         |      ELSE ${dotOf("en.v", "centn.cv")} / (en.nrm * centn.cnrm) END AS sim
         |  FROM en CROSS JOIN centn),
         |rr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk FROM sims),
         |corp AS (SELECT vec_id, v, nrm, cid AS cell FROM rr WHERE rk = 1),
         |qc AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cid AS cell FROM rr WHERE vec_id < 10 AND rk <= 3),
         |scored AS (SELECT query_id, corp.vec_id,
         |    max(${round4(s"CASE WHEN (qc.qnrm * corp.nrm) = 0 THEN CAST(0.0 AS DOUBLE) ELSE ${dotOf("qc.qv", "corp.v")} / (qc.qnrm * corp.nrm) END")}) AS score
         |  FROM corp JOIN qc USING (cell)
         |  WHERE qc.query_id != corp.vec_id
         |  GROUP BY query_id, corp.vec_id)
         |SELECT query_id, vec_id, score, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank FROM scored)
         |WHERE rank <= 5""".stripMargin
    },

    // SemDeDup: kept/dup classification inside trained k-means cells
    // q104: SemDeDup — replays q68's one-iteration quantized-mean k-means
    // training verbatim (same init stride, same assignment tiebreaks),
    // then within-cell pairs a<b at round4(cos) >= 0.35, keep-lowest-id
    query("q104_semantic_dedup", Q.semanticDedup, Q.centroidsCache) {
      def dotOf(a: String, b: String) =
        s"list_reduce([$a[i] * $b[i] for i in generate_series(1, len($a))], (acc, x) -> acc + x)"
      def normOf(a: String) =
        s"sqrt(list_reduce([$a[i] * $a[i] for i in generate_series(1, len($a))], (acc, x) -> acc + x))"
      val cos = s"CASE WHEN (a.nrm * b.nrm) = 0 THEN CAST(0.0 AS DOUBLE) " +
        s"ELSE ${dotOf("a.v", "b.v")} / (a.nrm * b.nrm) END"
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |en AS (SELECT vec_id, v, sqrt($dotSelf) AS nrm FROM e),
         |st AS (SELECT greatest(1, count(*) // 10) AS stride FROM embeddings),
         |init AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % (SELECT stride FROM st) = 0),
         |initn AS (SELECT cid, cv, ${normOf("cv")} AS cnrm FROM init),
         |sims0 AS (SELECT en.vec_id, en.v, initn.cid,
         |    CASE WHEN (en.nrm * initn.cnrm) = 0 THEN CAST(0.0 AS DOUBLE)
         |      ELSE ${dotOf("en.v", "initn.cv")} / (en.nrm * initn.cnrm) END AS sim
         |  FROM en CROSS JOIN initn),
         |r0 AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk FROM sims0),
         |a0 AS (SELECT vec_id, v, cid FROM r0 WHERE rk = 1),
         |xx AS (SELECT cid,
         |        unnest(generate_series(1, len(v))) AS pos,
         |        unnest([floor(v[i] * 1000000.0 + 0.5) for i in generate_series(1, len(v))]) AS xq
         |      FROM a0),
         |mm AS (SELECT cid, pos, sum(xq) / (1000000.0 * CAST(count(*) AS DOUBLE)) AS m FROM xx GROUP BY cid, pos),
         |cent AS (SELECT cid, list(m ORDER BY pos) AS cv FROM mm GROUP BY cid),
         |centn AS (SELECT cid, cv, ${normOf("cv")} AS cnrm FROM cent),
         |sims AS (SELECT en.vec_id, en.v, en.nrm, centn.cid,
         |    CASE WHEN (en.nrm * centn.cnrm) = 0 THEN CAST(0.0 AS DOUBLE)
         |      ELSE ${dotOf("en.v", "centn.cv")} / (en.nrm * centn.cnrm) END AS sim
         |  FROM en CROSS JOIN centn),
         |rr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk FROM sims),
         |corp AS (SELECT vec_id, v, nrm, cid AS cell FROM rr WHERE rk = 1),
         |p AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
         |      FROM corp a JOIN corp b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |      WHERE ${round4(cos)} >= 0.35
         |      GROUP BY b.vec_id)
         |SELECT corp.vec_id, corp.cell, p.dup_of, p.dup_of IS NOT NULL AS is_semantic_dup
         |FROM corp LEFT JOIN p USING (vec_id) ORDER BY vec_id""".stripMargin
    },

    // SCD Type-2 snapshot: change-compressed validity intervals per user
    query("q78_scd2_snapshot", Q.scd2Snapshot)(scd2Sql),

    // incremental SCD2 upsert, gated as equal to the full recompute
    // q102 merges incrementally Spark-side; the CONTRACT is merged ==
    // full recompute, so the oracle is q78's SQL over all events verbatim
    query("q102_scd2_incremental", Q.scd2IncrementalMerge)(scd2Sql),

    // pre-join planning census: exact output cardinality + skew ratio
    // q101: two groupBys + full outer on the key; exact integer census,
    // one double divide for the skew ratio
    query("q101_join_cardinality", Q.joinCardinality)(
      """WITH l AS (SELECT o_orderkey AS k, count(*) AS cl FROM orders GROUP BY o_orderkey),
        |r AS (SELECT l_orderkey AS k, count(*) AS cr FROM lineitem GROUP BY l_orderkey),
        |j AS (SELECT l.cl, r.cr, coalesce(l.cl, 0) * coalesce(r.cr, 0) AS p
        |      FROM l FULL OUTER JOIN r USING (k))
        |SELECT count(cl) AS n_left_keys, count(cr) AS n_right_keys,
        |  count(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL THEN 1 END) AS n_common_keys,
        |  CAST(sum(p) AS BIGINT) AS join_rows, CAST(max(p) AS BIGINT) AS max_key_rows,
        |  CAST(max(p) AS DOUBLE) * CAST(count(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL THEN 1 END) AS DOUBLE)
        |    / CAST(sum(p) AS DOUBLE) AS skew_ratio
        |FROM j""".stripMargin),

    // date-spine resample + forward fill (LOCF) per user
    query("q79_gap_fill", Q.gapFill)(
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |                 sum(CAST(value AS DECIMAL(18,4))) AS dv
        |               FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id),
        |spine AS (SELECT user_id,
        |            CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
        |                                        INTERVAL 1 DAY)) AS DATE) AS day
        |          FROM bounds)
        |SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day_s,
        |  CAST(dv AS DOUBLE) AS day_value,
        |  CAST(last_value(dv IGNORE NULLS) OVER (PARTITION BY s.user_id ORDER BY s.day ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS filled_value,
        |  dv IS NULL AS is_gap
        |FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day""".stripMargin),

    // bloom-filter decontamination: the no-false-negative scale path of q44
    // the bloom CONTRACT: no false negatives => every exactly-contaminated
    // train doc is bloom-flagged => bloom_ok is true on EVERY row. The
    // oracle derives the exact set; `true` is the pinned contract value.
    query("q80_bloom_decontam", Q.bloomDecontamination, Q.gramsCache)(
      s"""WITH tk AS (SELECT doc_id, $toksLower AS t FROM documents),
         |sh AS (SELECT doc_id,
         |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
         |    THEN 'heldout' ELSE 'train' END AS split,
         |  ${shingleSqlN(8)} AS sh FROM tk),
         |g AS (SELECT doc_id, split, md5(unnest(sh)) AS gh FROM sh),
         |hg AS (SELECT DISTINCT gh FROM g WHERE split = 'heldout'),
         |ex AS (SELECT DISTINCT doc_id FROM g JOIN hg USING (gh) WHERE split = 'train')
         |SELECT t.doc_id,
         |  (ex.doc_id IS NOT NULL) AS exact_contaminated,
         |  true AS bloom_ok
         |FROM (SELECT DISTINCT doc_id FROM g WHERE split = 'train') t
         |LEFT JOIN ex USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // exact Pearson correlations from scaled-integer power sums
    // scaled-integer power sums (exact, associative) -> decimal cross
    // terms sized under 38 digits in both engines -> ONE scale-0
    // decimal->double conversion each -> identical IEEE divide/sqrt
    query("q81_corr_profile", Q.corrProfile) {
      // HUGEINT (int128) mirrors Spark's decimal(38,0) combination math:
      // both are exact integer arithmetic while values stay under ~1e38,
      // and both convert to double with one correctly-rounded step.
      // (DuckDB decimal multiplies cap operand widths at p1+p2 ≤ 38,
      // which can't hold wide-n × wide-sum; hugeint has no such cap.)
      def nTimes(s2: String) =
        s"(CAST(n AS HUGEINT) * CAST($s2 AS HUGEINT))"
      def prodOf(a: String, b: String) =
        s"(CAST($a AS HUGEINT) * CAST($b AS HUGEINT))"
      def corrOf(sx: String, sy: String, sxx: String, syy: String, sxy: String) =
        s"""(CAST(${nTimes(sxy)} - ${prodOf(sx, sy)} AS DOUBLE)
           | / (sqrt(CAST(${nTimes(sxx)} - ${prodOf(sx, sx)} AS DOUBLE))
           |    * sqrt(CAST(${nTimes(syy)} - ${prodOf(sy, sy)} AS DOUBLE))))""".stripMargin
      s"""WITH b AS (SELECT CAST(l_quantity AS DECIMAL(9,0)) AS q,
         |             CAST(floor(l_extendedprice * 100.0 + 0.5) AS DECIMAL(13,0)) AS p,
         |             CAST(floor(l_discount * 100.0 + 0.5) AS DECIMAL(13,0)) AS d
         |           FROM lineitem),
         |a AS (SELECT CAST(count(*) AS DECIMAL(20,0)) AS n,
         |        sum(q) AS sq, sum(p) AS sp, sum(d) AS sd,
         |        sum(q*q) AS sqq, sum(p*p) AS spp, sum(d*d) AS sdd,
         |        sum(q*p) AS sqp, sum(q*d) AS sqd, sum(p*d) AS spd FROM b)
         |SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, CAST(n AS BIGINT) AS n,
         |  ${corrOf("sq", "sp", "sqq", "spp", "sqp")} AS corr FROM a
         |UNION ALL
         |SELECT 'l_quantity', 'l_discount', CAST(n AS BIGINT),
         |  ${corrOf("sq", "sd", "sqq", "sdd", "sqd")} FROM a
         |UNION ALL
         |SELECT 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
         |  ${corrOf("sp", "sd", "spp", "sdd", "spd")} FROM a""".stripMargin
    },

    // C4-style cross-document boilerplate chunk removal
    query("q82_boilerplate", Q.boilerplateStrip)(
      s"""WITH w AS (SELECT doc_id, $toksRaw AS words FROM documents),
         |ix AS (SELECT doc_id, words,
         |         unnest(generate_series(0, CAST(floor((len(words) - 1) / 10.0) AS BIGINT))) AS ci
         |       FROM w),
         |c AS (SELECT doc_id, ci AS chunk_idx,
         |        array_to_string(words[(ci*10+1):(ci*10+10)], ' ') AS chunk,
         |        md5(array_to_string(words[(ci*10+1):(ci*10+10)], ' ')) AS ch
         |      FROM ix),
         |boiler AS (SELECT ch FROM c GROUP BY ch HAVING count(DISTINCT doc_id) >= 3),
         |kept AS (SELECT doc_id,
         |           string_agg(chunk, ' ' ORDER BY chunk_idx ASC) AS clean_text,
         |           count(*) AS n_chunks_kept
         |         FROM c WHERE ch NOT IN (SELECT ch FROM boiler)
         |         GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(floor((len(words) - 1) / 10.0) + 1 AS BIGINT) AS n_chunks FROM w)
         |SELECT t.doc_id,
         |  coalesce(k.clean_text, '') AS clean_text,
         |  coalesce(k.n_chunks_kept, 0) AS n_chunks_kept,
         |  t.n_chunks - coalesce(k.n_chunks_kept, 0) AS n_chunks_dropped
         |FROM tot t LEFT JOIN kept k USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // int8 embedding quantization with verified reconstruction-error bound
    // left fold from a prepended 0.0 == Spark's aggregate(errs, 0.0, +):
    // 0.0 + e1 is exactly e1, so both engines run the identical op chain
    query("q83_int8_quant", Q.int8Quant)(
      """WITH e AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs FROM embeddings),
        |m AS (SELECT *, list_max(list_transform(xs, x -> abs(x))) AS max_abs FROM e),
        |sc AS (SELECT *, CASE WHEN max_abs = 0 THEN CAST(1.0 AS DOUBLE)
        |                      ELSE 127.0 / max_abs END AS scale FROM m),
        |qq AS (SELECT *, list_transform(xs,
        |         x -> greatest(CAST(-127.0 AS DOUBLE),
        |                       least(CAST(127.0 AS DOUBLE), floor(x * scale + 0.5)))) AS qs
        |       FROM sc),
        |er AS (SELECT *, [abs(xs[i] - qs[i] / scale) for i in generate_series(1, len(xs))] AS errs
        |       FROM qq)
        |SELECT vec_id, label, CAST(len(xs) AS INTEGER) AS n_dims, max_abs,
        |  CAST(list_min(qs) AS INTEGER) AS q_min,
        |  CAST(list_max(qs) AS INTEGER) AS q_max,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), errs), (a, x) -> a + x) AS sum_abs_err,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), errs), (a, x) -> a + x)
        |    <= CAST(len(xs) AS DOUBLE) * 0.5 / scale AS err_bound_ok
        |FROM er""".stripMargin),

    // checks engine
    query("q23_checks_report", Q.checksReport, Star.cache) {
      def dup(table: String, key: String, name: String) =
        s"""SELECT '$name' AS check_name,
           | CAST(count($key) - count(DISTINCT $key) AS DOUBLE) AS metric,
           | (count($key) - count(DISTINCT $key)) = 0 AS passed FROM $table"""
      def missing(table: String, key: String, name: String) =
        s"""SELECT '$name' AS check_name,
           | CAST(coalesce(sum(CASE WHEN $key IS NULL THEN 1 ELSE 0 END), 0) AS DOUBLE) AS metric,
           | CAST(coalesce(sum(CASE WHEN $key IS NULL THEN 1 ELSE 0 END), 0) AS DOUBLE) = 0 AS passed FROM $table"""
      s"""WITH dimc AS ($dimc), dimd AS ($dimd), dimp AS ($dimp), dimi AS ($dimi), f AS ($fct),
         |ry AS (SELECT year, month, count(DISTINCT invoice_key) AS num_invoices,
         |        ${sumMoney("total_price")} AS total_revenue
         |       FROM f JOIN (SELECT date_key, year, month FROM dimd) d USING (date_key)
         |       GROUP BY year, month)
         |${dup("dimc", "customer_key", "dup_customer_key")}
         |UNION ALL ${missing("dimc", "customer_key", "missing_customer_key")}
         |UNION ALL ${dup("dimd", "date_key", "dup_date_key")}
         |UNION ALL SELECT 'invalid_weekday' AS check_name,
         |  CAST(coalesce(sum(CASE WHEN weekday < 1 OR weekday > 7 THEN 1 ELSE 0 END), 0) AS DOUBLE) AS metric,
         |  CAST(coalesce(sum(CASE WHEN weekday < 1 OR weekday > 7 THEN 1 ELSE 0 END), 0) AS DOUBLE) = 0 AS passed FROM dimd
         |UNION ALL ${dup("dimp", "product_key", "dup_product_key")}
         |UNION ALL SELECT 'min_price' AS check_name, CAST(min(price) AS DOUBLE) AS metric, min(price) > 0 AS passed FROM dimp
         |UNION ALL ${dup("dimi", "invoice_key", "dup_invoice_key")}
         |UNION ALL ${missing("dimi", "invoice_key", "missing_invoice_key")}
         |UNION ALL SELECT 'fct_negative_total_price' AS check_name,
         |  CAST(coalesce(sum(CASE WHEN total_price < 0 THEN 1 ELSE 0 END), 0) AS DOUBLE) AS metric,
         |  CAST(coalesce(sum(CASE WHEN total_price < 0 THEN 1 ELSE 0 END), 0) AS DOUBLE) = 0 AS passed FROM f
         |UNION ALL SELECT 'report_year_min_revenue' AS check_name,
         |  CAST(min(total_revenue) AS DOUBLE) AS metric, min(total_revenue) >= 0 AS passed FROM ry""".stripMargin
    },

    // best-copy canonicalization: cluster keeper by quality, not min-id;
    // it reads the pairs only transitively: as the first sorted components
    // consumer it primes the component map FROM the pairs
    // q106: q54's full clustering replay + quality argmax keeper — rank
    // inside each component by (quality DESC, doc_id ASC); the same
    // window in both engines, total order so engine-exact
    query("q106_cluster_keepers", Q.clusterKeepers, Q.pairsCache, Q.compCache)(
      s"""WITH RECURSIVE $tkCte, $shCte,
         |sig AS (SELECT doc_id, $sigCols FROM sh),
         |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, ${bandKey(b)} AS band_key FROM sig")
              .mkString("\n UNION ALL ")}),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |         FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
         |ver AS (SELECT cand.doc_a, cand.doc_b FROM cand
         |        JOIN sh a ON cand.doc_a = a.doc_id
         |        JOIN sh bb ON cand.doc_b = bb.doc_id
         |        WHERE ${jaccardSql("a.sh", "bb.sh")} >= 0.8),
         |ed AS (SELECT doc_a AS s, doc_b AS d FROM ver
         |       UNION ALL SELECT doc_b AS s, doc_a AS d FROM ver),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.d, r.lbl FROM reach r JOIN ed e ON e.s = r.node),
         |comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node),
         |${statsCte("documents")},
         |q AS (SELECT doc_id, $qualityExpr AS quality FROM b)
         |SELECT comp.doc_id, component, quality,
         |  first_value(comp.doc_id) OVER w AS keeper_id,
         |  comp.doc_id = first_value(comp.doc_id) OVER w AS is_kept
         |FROM comp JOIN q USING (doc_id)
         |WINDOW w AS (PARTITION BY component ORDER BY quality DESC, comp.doc_id ASC)""".stripMargin),

    // best-copy clean corpus: quality gate on q106's kept cluster members
    // q110: q106's clustering + keeper window, filtered to kept members
    // passing the q32 quality gate, with exact token counts
    query("q110_best_copy_corpus", Q.bestCopyCorpus, Q.compCache)(
      s"""WITH RECURSIVE $tkCte, $shCte,
         |sig AS (SELECT doc_id, $sigCols FROM sh),
         |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, ${bandKey(b)} AS band_key FROM sig")
              .mkString("\n UNION ALL ")}),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |         FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
         |ver AS (SELECT cand.doc_a, cand.doc_b FROM cand
         |        JOIN sh a ON cand.doc_a = a.doc_id
         |        JOIN sh bb ON cand.doc_b = bb.doc_id
         |        WHERE ${jaccardSql("a.sh", "bb.sh")} >= 0.8),
         |ed AS (SELECT doc_a AS s, doc_b AS d FROM ver
         |       UNION ALL SELECT doc_b AS s, doc_a AS d FROM ver),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.d, r.lbl FROM reach r JOIN ed e ON e.s = r.node),
         |comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node),
         |${statsCte("documents")},
         |q AS (SELECT doc_id, n_tokens, $qualityExpr AS quality FROM b),
         |k AS (SELECT comp.doc_id, component, quality, n_tokens,
         |        first_value(comp.doc_id) OVER (PARTITION BY component
         |          ORDER BY quality DESC, comp.doc_id ASC) AS keeper_id
         |      FROM comp JOIN q USING (doc_id))
         |SELECT doc_id, component, quality, n_tokens
         |FROM k WHERE doc_id = keeper_id AND quality >= 0.5""".stripMargin),

    // power-of-two token-length histogram (len(bin(n))-1: no libm log)
    // q111: power-of-two length histogram; bucket = length(bin(n)) - 1
    // (binary-string length in both engines — no libm log2)
    query("q111_token_histogram", Q.tokenHistogram)(
      raw"""WITH n AS (SELECT CASE WHEN len(trim(text)) = 0 THEN 0
         |  ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n
         | FROM documents),
         |b AS (SELECT CASE WHEN n <= 0 THEN -1
         |  ELSE CAST(length(bin(n)) - 1 AS INTEGER) END AS len_bucket, n FROM n)
         |SELECT len_bucket, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER () AS DOUBLE) AS doc_share
         |FROM b GROUP BY len_bucket""".stripMargin),

    // per-user view→purchase conversion over 30-min gap sessions
    // q112: per-user view→purchase conversion over the q64 session
    // islands; seen-view window is strictly-preceding rows; NULL
    // conversion for users with no view sessions
    query("q112_session_funnel", Q.sessionFunnel)(
      """WITH e AS (SELECT user_id, event_id, event_type,
        |            date_trunc('second', ts) AS ts_sec FROM events),
        |f AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
        |         OR (epoch(ts_sec) - epoch(lag(ts_sec) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)),
        |g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f),
        |h AS (SELECT *, max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id, sid ORDER BY ts_sec ASC, event_id ASC
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen_view FROM g),
        |s AS (SELECT user_id, sid,
        |        max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
        |        max(CASE WHEN event_type = 'purchase' AND coalesce(seen_view, 0) = 1
        |            THEN 1 ELSE 0 END) AS has_conv
        |      FROM h GROUP BY user_id, sid)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(has_view) AS BIGINT) AS n_view_sessions,
        |  CAST(sum(has_conv) AS BIGINT) AS n_converted,
        |  CASE WHEN sum(has_view) > 0
        |    THEN CAST(sum(has_conv) AS DOUBLE) / CAST(sum(has_view) AS DOUBLE) END AS conversion
        |FROM s GROUP BY user_id""".stripMargin),

    // weekly cohort retention matrix (integer-exact date math)
    // q113: weekly cohort retention; all date math integer (datediff//7),
    // no engine week-truncation semantics
    query("q113_cohort_retention", Q.cohortRetention)(
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |fd AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id),
        |tagged AS (SELECT DISTINCT d.user_id,
        |    CAST((d.day - f.cohort_day) // 7 AS BIGINT) AS week_offset,
        |    CAST((f.cohort_day - DATE '1970-01-01') // 7 AS BIGINT) AS cohort_week
        |  FROM days d JOIN fd f USING (user_id)),
        |act AS (SELECT cohort_week, week_offset, count(*) AS n_active
        |        FROM tagged GROUP BY cohort_week, week_offset),
        |cs AS (SELECT CAST((cohort_day - DATE '1970-01-01') // 7 AS BIGINT) AS cohort_week,
        |         count(*) AS cohort_size FROM fd GROUP BY 1)
        |SELECT cohort_week, week_offset, n_active, cohort_size,
        |  CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
        |FROM act JOIN cs USING (cohort_week)""".stripMargin),

    // k-step funnel report over gap sessions (CoreOps.funnelSteps)
    // q114: k-step funnel — chained conditional min-windows (step i
    // strictly after step i-1) over the q64 session islands; one
    // aggregation row exploded to per-step counts
    query("q114_funnel_report", Q.funnelReport)(
      """WITH e AS (SELECT user_id, event_id, event_type,
        |            date_trunc('second', ts) AS ts_sec FROM events),
        |f AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
        |         OR (epoch(ts_sec) - epoch(lag(ts_sec) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)),
        |g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f),
        |s0 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_sec END)
        |         OVER (PARTITION BY user_id, sid) AS step0_ts FROM g),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts_sec > step0_ts THEN ts_sec END)
        |         OVER (PARTITION BY user_id, sid) AS step1_ts FROM s0),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_sec > step1_ts THEN ts_sec END)
        |         OVER (PARTITION BY user_id, sid) AS step2_ts FROM s1),
        |sess AS (SELECT user_id, sid, max(step0_ts) AS t0, max(step1_ts) AS t1,
        |           max(step2_ts) AS t2 FROM s2 GROUP BY user_id, sid),
        |c AS (SELECT count(t0) AS c0, count(t1) AS c1, count(t2) AS c2 FROM sess)
        |SELECT 0 AS step_idx, 'view' AS step, CAST(c0 AS BIGINT) AS n_reached,
        |  CASE WHEN c0 > 0 THEN CAST(c0 AS DOUBLE) / CAST(c0 AS DOUBLE) END AS rate_vs_first FROM c
        |UNION ALL SELECT 1, 'click', CAST(c1 AS BIGINT),
        |  CASE WHEN c0 > 0 THEN CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) END FROM c
        |UNION ALL SELECT 2, 'purchase', CAST(c2 AS BIGINT),
        |  CASE WHEN c0 > 0 THEN CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) END FROM c""".stripMargin),

    // timeout-bounded funnel: 300s max step gap, attrition vs unbounded
    // q116: timeout-bounded funnel — q114's chain with each transition
    // additionally bounded to 300s after the previous step (greedy-
    // earliest anchor), reported beside the unbounded chain
    query("q116_funnel_timeout", Q.funnelTimeoutReport)(
      """WITH e AS (SELECT user_id, event_id, event_type,
        |            date_trunc('second', ts) AS ts_sec FROM events),
        |f AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
        |         OR (epoch(ts_sec) - epoch(lag(ts_sec) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)),
        |g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f),
        |s0 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_sec END)
        |         OVER (PARTITION BY user_id, sid) AS u0 FROM g),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts_sec > u0 THEN ts_sec END)
        |         OVER (PARTITION BY user_id, sid) AS u1,
        |       min(CASE WHEN event_type = 'click' AND ts_sec > u0
        |             AND epoch(ts_sec) - epoch(u0) <= 300 THEN ts_sec END)
        |         OVER (PARTITION BY user_id, sid) AS b1 FROM s0),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_sec > u1 THEN ts_sec END)
        |         OVER (PARTITION BY user_id, sid) AS u2,
        |       min(CASE WHEN event_type = 'purchase' AND ts_sec > b1
        |             AND epoch(ts_sec) - epoch(b1) <= 300 THEN ts_sec END)
        |         OVER (PARTITION BY user_id, sid) AS b2 FROM s1),
        |sess AS (SELECT user_id, sid, max(u0) AS u0, max(u1) AS u1, max(u2) AS u2,
        |           max(b1) AS b1, max(b2) AS b2 FROM s2 GROUP BY user_id, sid),
        |c AS (SELECT count(u0) AS cu0, count(u1) AS cu1, count(u2) AS cu2,
        |        count(u0) AS cb0, count(b1) AS cb1, count(b2) AS cb2 FROM sess)
        |SELECT 0 AS step_idx, 'view' AS step, CAST(cb0 AS BIGINT) AS n_reached,
        |  CAST(cu0 AS BIGINT) AS n_unbounded, CAST(cu0 - cb0 AS BIGINT) AS n_timed_out,
        |  CASE WHEN cb0 > 0 THEN CAST(cb0 AS DOUBLE) / CAST(cb0 AS DOUBLE) END AS rate_vs_first FROM c
        |UNION ALL SELECT 1, 'click', CAST(cb1 AS BIGINT), CAST(cu1 AS BIGINT),
        |  CAST(cu1 - cb1 AS BIGINT),
        |  CASE WHEN cb0 > 0 THEN CAST(cb1 AS DOUBLE) / CAST(cb0 AS DOUBLE) END FROM c
        |UNION ALL SELECT 2, 'purchase', CAST(cb2 AS BIGINT), CAST(cu2 AS BIGINT),
        |  CAST(cu2 - cb2 AS BIGINT),
        |  CASE WHEN cb0 > 0 THEN CAST(cb2 AS DOUBLE) / CAST(cb0 AS DOUBLE) END FROM c""".stripMargin),

    // KMV distinct sketch: deterministic estimate crosses the oracle exact
    // q117: KMV distinct — the estimate is a pure function of the input
    // set (k smallest distinct 52-bit md5 hashes), so the oracle replays
    // it exactly by sorting: kth hash, then (k−1)/(h_k/2^52) — the same
    // two IEEE ops as KmvState.estimate. Fewer than k distinct hashes →
    // est = the exact kept count (kth_hash null).
    query("q117_kmv_distinct", Q.kmvDistinctEstimate)(
      """WITH hs AS (SELECT DISTINCT l_returnflag,
        |  list_reduce([CAST(strpos('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)), i, 1)) - 1 AS BIGINT)
        |               for i in generate_series(1, 13)], (a, x) -> a * 16 + x) AS hv
        | FROM lineitem),
        |r AS (SELECT l_returnflag, hv,
        |        ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn,
        |        COUNT(*) OVER (PARTITION BY l_returnflag) AS nh
        |      FROM hs),
        |k AS (SELECT l_returnflag, MAX(nh) AS nh,
        |        MAX(CASE WHEN rn = 256 THEN hv END) AS h256
        |      FROM r GROUP BY 1),
        |e AS (SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS nd_exact
        |      FROM lineitem GROUP BY 1),
        |f AS (SELECT k.l_returnflag, e.nd_exact,
        |        CAST(LEAST(nh, 256) AS INTEGER) AS n_kept,
        |        CASE WHEN nh >= 256 THEN h256 END AS kth_hash,
        |        CASE WHEN nh >= 256
        |             THEN CAST(255 AS DOUBLE) / (CAST(h256 AS DOUBLE) / 4503599627370496.0)
        |             ELSE CAST(nh AS DOUBLE) END AS nd_kmv
        |      FROM k JOIN e USING (l_returnflag))
        |SELECT l_returnflag, nd_exact, n_kept, kth_hash, nd_kmv,
        |  ABS(nd_kmv - CAST(nd_exact AS DOUBLE)) / CAST(nd_exact AS DOUBLE) AS rel_err
        |FROM f ORDER BY l_returnflag""".stripMargin),

    // MAD robust outlier days over the daily revenue series
    // q118: MAD outlier days — low medians (⌈n/2⌉-th order statistic via
    // row_number, no interpolation) so med/mad are actual series values;
    // the only derived double is abs_dev/mad
    query("q118_outlier_days", Q.outlierDays)(
      """WITH daily AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |        CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |        count(*) AS n_events
        |      FROM events GROUP BY 1),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY revenue) AS rn,
        |        COUNT(*) OVER () AS n FROM daily),
        |m AS (SELECT revenue AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (SELECT daily.*, med, ABS(revenue - med) AS abs_dev FROM daily, m),
        |r2 AS (SELECT *, ROW_NUMBER() OVER (ORDER BY abs_dev) AS rn,
        |         COUNT(*) OVER () AS n FROM d),
        |m2 AS (SELECT abs_dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT day, revenue, n_events, med, abs_dev, mad,
        |  CASE WHEN mad > 0 THEN abs_dev / mad END AS robust_z,
        |  CASE WHEN mad > 0 THEN abs_dev / mad > 3.5 ELSE abs_dev > 0 END AS is_outlier
        |FROM d, m2 ORDER BY day""".stripMargin),

    // incremental rollup state merge, gated equal to full recompute
    // q119: incremental aggregate maintenance CONTRACT — the oracle is
    // the FULL RECOMPUTE over all events, so a hash match proves
    // merge(agg(history), agg(delta)) == agg(history ∪ delta)
    query("q119_incremental_agg", Q.incrementalAggMerge)(
      s"""SELECT user_id, count(*) AS n_events,
         | ${sumMoney("value")} AS total_value,
         | ${fmtTs("max(ts)")} AS last_ts
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // A/B readout: hash-split variants, per-variant conversion + lift
    // q115: A/B readout — md5-nibble variant split over the 2-step funnel
    // sessions; lift = conversion − control conversion (control lift ≡ 0)
    query("q115_experiment_readout", Q.experimentReadout)(
      """WITH e AS (SELECT user_id, event_id, event_type,
        |            date_trunc('second', ts) AS ts_sec FROM events),
        |f AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
        |         OR (epoch(ts_sec) - epoch(lag(ts_sec) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)),
        |g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f),
        |s0 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_sec END)
        |         OVER (PARTITION BY user_id, sid) AS step0_ts FROM g),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_sec > step0_ts THEN ts_sec END)
        |         OVER (PARTITION BY user_id, sid) AS step1_ts FROM s0),
        |sess AS (SELECT user_id, sid, max(step0_ts) AS t0, max(step1_ts) AS t1
        |         FROM s1 GROUP BY user_id, sid),
        |v AS (SELECT *, CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 'treatment' ELSE 'control' END AS variant
        |      FROM sess),
        |p AS (SELECT variant, count(DISTINCT user_id) AS n_users, count(*) AS n_sessions,
        |        count(t0) AS c_view, count(t1) AS c_conv FROM v GROUP BY variant),
        |q AS (SELECT variant, n_users, n_sessions,
        |        CAST(c_view AS BIGINT) AS n_view_sessions, CAST(c_conv AS BIGINT) AS n_converted,
        |        CASE WHEN c_view > 0 THEN CAST(c_conv AS DOUBLE) / CAST(c_view AS DOUBLE) END AS conversion
        |      FROM p)
        |SELECT variant, n_users, n_sessions, n_view_sessions, n_converted, conversion,
        |  conversion - max(CASE WHEN variant = 'control' THEN conversion END) OVER () AS lift_vs_control
        |FROM q""".stripMargin),

    // per-doc duplicated-chunk ratio: the drop-mostly-copied-docs signal
    // q107: per-doc duplicated-chunk ratio over non-overlapping 64-token
    // chunks; window count over per-(chunk,doc) rows = distinct-doc
    // frequency; same-doc repeats never count as shared
    query("q107_chunk_dup_profile", Q.chunkDupProfile)(
      raw"""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
         |ck AS (SELECT doc_id, md5(array_to_string(t[s : s + 63], ' ')) AS ch
         |       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t), 1), 64)) AS s FROM tk)),
         |g AS (SELECT ch, doc_id, count(*) AS n_in_doc FROM ck GROUP BY ch, doc_id),
         |f AS (SELECT *, count(*) OVER (PARTITION BY ch) AS n_docs FROM g)
         |SELECT doc_id,
         |  CAST(sum(n_in_doc) AS INTEGER) AS n_chunks,
         |  CAST(sum(CASE WHEN n_docs >= 2 THEN n_in_doc ELSE 0 END) AS INTEGER) AS n_shared_chunks,
         |  CAST(sum(CASE WHEN n_docs >= 2 THEN n_in_doc ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(n_in_doc) AS DOUBLE) AS shared_ratio
         |FROM f GROUP BY doc_id""".stripMargin),

    // Deequ-style run-over-run anomaly gate on daily pipeline metrics
    // q108: daily pipeline metrics + trailing-3-day anomaly flag; avg over
    // a bounded ordered frame of exact longs → deterministic double
    query("q108_metric_drift", Q.dailyMetricDrift)(
      """WITH daily AS (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |         count(*) AS n_rows,
        |         count(DISTINCT user_id) AS n_users,
        |         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value
        |  FROM events GROUP BY 1)
        |SELECT day, n_rows, n_users, n_null_value,
        |  avg(n_rows) OVER w AS avg3_rows,
        |  (avg(n_rows) OVER w) IS NOT NULL AND
        |    (CAST(n_rows AS DOUBLE) > (avg(n_rows) OVER w) * 1.5
        |     OR CAST(n_rows AS DOUBLE) < (avg(n_rows) OVER w) * 0.5) AS is_anomaly
        |FROM daily
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)""".stripMargin),

    // α=0.5 temperature-scaled source sampling weights (exact/IEEE-portable)
    // q109: α=0.5 temperature mixture — exact integer token sums; the only
    // doubles are one division of exact longs and one sqrt ratio (both
    // correctly-rounded IEEE ops in both engines)
    query("q109_temperature_mixture", Q.temperatureMixture)(
      raw"""WITH b AS (SELECT source,
         |  CASE WHEN len(trim(text)) = 0 THEN 0
         |    ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) END AS n_tok
         | FROM documents),
         |s AS (SELECT source, count(*) AS n_docs,
         |        CAST(sum(CAST(n_tok AS BIGINT)) AS BIGINT) AS n_tokens
         |      FROM b GROUP BY source)
         |SELECT source, n_docs, n_tokens,
         |  CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS linear_share,
         |  sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(max(n_tokens) OVER () AS DOUBLE)) AS temp_weight_rel
         |FROM s""".stripMargin)
  )

  locally {
    val names = declarations.map(_.name)
    require(names.distinct == names,
      s"query declared twice: ${names.diff(names.distinct).mkString(", ")}")
  }
}
