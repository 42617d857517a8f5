package graft.operators

/** The SQL-text face of Q1–Q20: for every relational query, the
  * `spark.sql` form a user would type over `Tables.registerAll` views.
  * Each text is asserted hash-equal (rows, order, column names) to its
  * DataFrame twin in SqlSurfaceSpec — the two surfaces compile to the
  * same Catalyst plans, so this is the proof that a SQL-first user gets
  * identical semantics from this library.
  *
  * Determinism discipline matches core.Determinism: double aggregation
  * routes through DECIMAL(18,4) with the same casts as the DataFrame
  * form, so results are bit-identical, not merely close.
  */
object RelationalSql {

  /** Q1–Q19 over the registerAll temp views. */
  val sql: Map[String, String] = Map(
    "q01_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q02_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(1) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |           (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
        |       AS DECIMAL(30,4)) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q03_join_agg" ->
      """SELECT /*+ BROADCAST(n), BROADCAST(r) */ r_name, COUNT(1) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer c
        |JOIN nation n ON c_nationkey = n_nationkey
        |JOIN region r ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,

    "q04_topk" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q05_outer_join" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY n_orders DESC, c_custkey""".stripMargin,

    "q05_full_outer" ->
      """WITH f AS (SELECT o_custkey AS custkey, COUNT(1) AS n_f
        |           FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey),
        |     o AS (SELECT o_custkey AS custkey, COUNT(1) AS n_o
        |           FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey)
        |SELECT COALESCE(f.custkey, o.custkey) AS custkey, n_f, n_o
        |FROM f FULL OUTER JOIN o ON f.custkey = o.custkey
        |ORDER BY custkey""".stripMargin,

    "q06_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q06_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q07_range_join" ->
      """WITH p1 AS (SELECT p_brand, p_size AS size1 FROM part),
        |     p2 AS (SELECT p_brand, p_size AS size2 FROM part)
        |SELECT p_brand, COUNT(1) AS n_pairs
        |FROM p1 JOIN p2 USING (p_brand)
        |WHERE size1 < size2
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "q08_window_rank" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice, o_orderpriority,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |    RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rnk,
        |    DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drnk
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q09_window_frame" ->
      """SELECT user_id, ts, event_id, value,
        |  LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum
        |FROM events
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q10_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(1) AS n,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status
        |FROM orders
        |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority ASC NULLS LAST, o_orderstatus ASC NULLS LAST""".stripMargin,

    "q11_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q12_intersect" ->
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer
        |ORDER BY custkey""".stripMargin,

    "q12_except" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY custkey""".stripMargin,

    "q12_intersect_all" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000.0
        |INTERSECT ALL
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY custkey""".stripMargin,

    "q12_except_all" ->
      """SELECT o_custkey AS custkey FROM orders
        |EXCEPT ALL
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY custkey""".stripMargin,

    "q13_string_fns" ->
      """SELECT lang, COUNT(1) AS n_docs, SUM(n_chars) AS sum_chars,
        |  COUNT(CASE WHEN text LIKE '%spark%' THEN 1 END) AS n_spark,
        |  MIN(UPPER(source)) AS min_source_upper
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q14_date_fns" ->
      """SELECT to_date(ts) AS day, event_type, COUNT(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY to_date(ts), event_type
        |ORDER BY day, event_type""".stripMargin,

    "q15_json_fns" ->
      """SELECT k % 10 AS bucket, COUNT(1) AS n
        |FROM (SELECT CAST(get_json_object(props, '$.k') AS INT) AS k FROM events)
        |GROUP BY k % 10
        |ORDER BY bucket ASC NULLS LAST""".stripMargin,

    "q16_array_fns" ->
      """SELECT label, COUNT(1) AS n,
        |  CAST(SUM(CAST(CAST(element_at(embedding, 1) AS DOUBLE) AS DECIMAL(18,4)))
        |       AS DOUBLE) AS sum_first,
        |  COUNT(CASE WHEN size(embedding) = 64 THEN 1 END) AS n_full
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,

    "q17_explode_topk" ->
      """SELECT token, COUNT(1) AS n
        |FROM (SELECT explode(split(text, ' ')) AS token FROM documents)
        |WHERE token <> ''
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 20""".stripMargin,

    "q18_union_dedup" ->
      """WITH slices AS (
        |  SELECT * FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT * FROM events WHERE value > 50.0),
        |k AS (SELECT COUNT(DISTINCT event_id) AS n_dedup_by_key FROM slices),
        |r AS (SELECT COUNT(1) AS n_union_distinct FROM (SELECT DISTINCT * FROM slices))
        |SELECT * FROM k CROSS JOIN r""".stripMargin,

    "q19_tumbling_window" ->
      """SELECT window.start AS window_start, event_type, COUNT(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY window(ts, '1 hour'), event_type
        |ORDER BY window_start, event_type""".stripMargin,

    // Spark SQL has no ASOF JOIN syntax; the SQL face of the native
    // as-of exec is the correlated point-in-time lookup a SQL user would
    // write. Result-identical to AsOfJoinExec (no (user_id, ts) ties in
    // the purchase slice, so max_by's winner is unique).
    "q21_asof_join" ->
      """SELECT c.event_id, c.user_id, c.ts,
        |  (SELECT max_by(p.value, p.ts) FROM events p
        |   WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |     AND p.ts <= c.ts AND p.ts IS NOT NULL) AS purchase_value
        |FROM events c
        |WHERE c.event_type = 'click' AND c.user_id IS NOT NULL AND c.ts IS NOT NULL
        |ORDER BY c.event_id""".stripMargin,

    // q22: the forward direction — min_by over at-or-after purchases.
    // Result-identical to asOfForward for the same reason as q21: no
    // (user_id, ts) ties in the purchase slice, so min_by's winner is
    // unique (with ties the faces would each pick their own winner).
    "q22_asof_forward" ->
      """SELECT c.event_id, c.user_id, c.ts,
        |  (SELECT min_by(p.value, p.ts) FROM events p
        |   WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |     AND p.ts >= c.ts AND p.ts IS NOT NULL) AS purchase_value
        |FROM events c
        |WHERE c.event_type = 'click' AND c.user_id IS NOT NULL AND c.ts IS NOT NULL
        |ORDER BY c.event_id""".stripMargin,
  )

  /** Q20 — the SIMPSS pipeline as one SQL statement, over two raw views
    * the caller registers: `sensor_lines(value STRING)` (NDJSON lines) and
    * `sensor_dim_raw(sensor_id INT, group_id STRING)` (untrimmed CSV).
    * Mirrors parseStrict (strict arity via json_object_keys + all-fields
    * non-null), quarantine's clean side (an `inline` generator, so each
    * line is parsed once, where a WHERE would get the parse inlined into
    * every predicate), enrich (a sensor_id → group map built once by a
    * scalar subquery and probed per row, no join; map_from_entries rejects
    * null and duplicate ids), renameToStorage, and dedupLastWins (max_by
    * over the payload struct by seq). Unknown ids drop, as in enrich's
    * drop mode. */
  val q20Sql: String =
    """WITH dim AS (
      |  SELECT map_from_entries(collect_list(struct(sensor_id, trim(group_id)))) AS groups
      |  FROM sensor_dim_raw),
      |parsed AS (
      |  SELECT json_object_keys(value) AS ks,
      |         from_json(value,
      |           'id INT, uptime INT, T INT, P INT, H INT, Ix INT, Iy INT, Iz INT, M INT, time_received TIMESTAMP, seq BIGINT',
      |           map('timestampFormat', "yyyy-MM-dd'T'HH:mm:ss")) AS r
      |  FROM sensor_lines),
      |clean AS (
      |  SELECT inline(CASE WHEN ks IS NOT NULL AND size(ks) = 11
      |    AND r.id IS NOT NULL AND r.uptime IS NOT NULL AND r.T IS NOT NULL
      |    AND r.P IS NOT NULL AND r.H IS NOT NULL AND r.Ix IS NOT NULL
      |    AND r.Iy IS NOT NULL AND r.Iz IS NOT NULL AND r.M IS NOT NULL
      |    AND r.time_received IS NOT NULL AND r.seq IS NOT NULL THEN array(r) END)
      |  FROM parsed),
      |enriched AS (
      |  SELECT * FROM (
      |    SELECT (SELECT groups FROM dim)[c.id] AS sensor_group, c.* FROM clean c)
      |  WHERE sensor_group IS NOT NULL),
      |renamed AS (
      |  SELECT sensor_group, time_received, id AS sensor_id, uptime,
      |         T AS temperature, P AS pressure, H AS humidity,
      |         Ix AS ix, Iy AS iy, Iz AS iz, M AS mask, seq
      |  FROM enriched),
      |dedup AS (
      |  SELECT sensor_group, sensor_id, time_received,
      |         max_by(struct(uptime, temperature, pressure, humidity, ix, iy, iz, mask), seq) AS l
      |  FROM renamed
      |  GROUP BY sensor_group, sensor_id, time_received)
      |SELECT time_received, sensor_group, sensor_id,
      |       l.uptime AS uptime, l.temperature AS temperature, l.pressure AS pressure,
      |       l.humidity AS humidity, l.ix AS ix, l.iy AS iy, l.iz AS iz, l.mask AS mask
      |FROM dedup
      |ORDER BY sensor_group, sensor_id, time_received""".stripMargin

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** x08's detected-language expression, GENERATED from the same
    * stopword/trigram profiles the DataFrame face reads — the two faces
    * cannot drift. SubstringHits's presence-count semantics map to
    * `size(filter(array(...), p -> contains(lt, p)))`; argmax tie-break
    * is first profile in declaration order, same as detectLang's
    * foldRight. Expects columns `lt` (lowered text) and `toks`. */
  private val langIdScoresSql: String = {
    val tri = TextAnalysis.trigramProfiles.toMap
    TextAnalysis.stopwordProfiles.map { case (lang, words) =>
      val (charWords, tokenWords) = words.partition(w => w.length == 1 && w.head > 127)
      val tokenHits =
        if (tokenWords.nonEmpty)
          s"size(array_intersect(toks, array(${tokenWords.map(sqlStr).mkString(", ")})))"
        else "0"
      val charHits =
        if (charWords.nonEmpty)
          s"size(filter(array(${charWords.map(sqlStr).mkString(", ")}), p -> contains(lt, p)))"
        else "0"
      val triHits = tri.get(lang)
        .map(ts => s"size(filter(array(${ts.map(sqlStr).mkString(", ")}), p -> contains(lt, p)))")
        .getOrElse("0")
      s"(($tokenHits + $charHits) * 3 + $triHits)"
    }.mkString("array(\n      ", ",\n      ", ")")
  }

  private val langIdDetectedSql: String = {
    val langs = TextAnalysis.stopwordProfiles.map(_._1)
    val arms = langs.zipWithIndex.map { case (lang, i) =>
      s"WHEN array_max(scores) > 0 AND element_at(scores, ${i + 1}) = array_max(scores) THEN ${sqlStr(lang)}"
    }.mkString("\n    ")
    s"CASE $arms\n    ELSE 'und' END"
  }

  /** SQL texts for the SQL-expressible LLM-pipeline extras, including the
    * injected native functions (`word_shingles`/`word_shingles_all`,
    * `cosine_sim`) a SQL user reaches through GraftExtensions. Asserted
    * result-identical to the DataFrame forms in SqlSurfaceSpec.
    *
    * Not present by design: x02/x04/x06/x15/x17 are rows-only queries
    * whose outputs hang on engine-local hashing (no stable SQL contract
    * to assert against), and x14's connected-components is an iterative
    * driver loop — each ROUND is plain SQL (two equi-joins + a min
    * aggregate), but the loop-until-fixpoint control flow is not a
    * single statement: Spark 4.1 DOES parse WITH RECURSIVE, but only
    * with UNION ALL in the recursive term
    * (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE — probed on 4.1.2), and a
    * transitive closure over a CYCLIC near-dup graph needs UNION's
    * dedup to terminate (DuckDB's x14 oracle leans on exactly that).
    * Revisit when SPARK recursion learns UNION. */
  val extrasSql: Map[String, String] = Map(
    "x03_ngram_pairs" ->
      """WITH grams AS (
        |  SELECT doc_id, lang, gram FROM documents
        |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), 3)) t AS gram),
        |rare AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(1) <= 20),
        |rg AS (SELECT g.doc_id, g.lang, g.gram FROM grams g JOIN rare USING (gram))
        |SELECT a.lang, a.doc_id AS d1, b.doc_id AS d2, COUNT(1) AS inter
        |FROM rg a JOIN rg b ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
        |GROUP BY a.lang, a.doc_id, b.doc_id
        |HAVING COUNT(1) >= 2
        |ORDER BY lang, d1, d2""".stripMargin,

    "x46_jaccard_pairs" ->
      s"""WITH $verifiedPairsSparkCte
         |SELECT d1, d2, inter, uni FROM vpairs ORDER BY d1, d2""".stripMargin,

    "x52_contamination" ->
      s"""WITH $verifiedPairsSparkCte
         |SELECT least(a.source, b.source) AS source_a,
         |       greatest(a.source, b.source) AS source_b,
         |       COUNT(1) AS n_pairs
         |FROM vpairs p JOIN documents a ON a.doc_id = p.d1
         |              JOIN documents b ON b.doc_id = p.d2
         |GROUP BY least(a.source, b.source), greatest(a.source, b.source)
         |ORDER BY source_a, source_b""".stripMargin,

    "x53_quality_deciles" ->
      s"""SELECT doc_id, lang,
         |  CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
         |  ntile(${TextAnalysis.QualityDeciles}) OVER (
         |    PARTITION BY lang
         |    ORDER BY size(filter(split(text, ' '), x -> x != '')), doc_id) AS decile
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "x47_heavy_hitters" ->
      s"""WITH big AS (
         |  SELECT bigram FROM documents
         |  LATERAL VIEW explode(word_shingles_all(filter(split(text, ' '), x -> x != ''), 2)) t AS bigram),
         |tot AS (SELECT COUNT(1) AS n FROM big)
         |SELECT bigram, COUNT(1) AS freq
         |FROM big CROSS JOIN tot
         |GROUP BY bigram, tot.n
         |HAVING COUNT(1) * ${TextAnalysis.HeavyShare} >= tot.n
         |ORDER BY freq DESC, bigram""".stripMargin,

    "x05_cosine_knn" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.query_id, v.vec_id AS neighbor_id,
        |         cosine_sim(q.qvec, v.embedding) AS sim
        |  FROM embeddings v JOIN q ON v.vec_id != q.query_id)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT query_id, neighbor_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "x07_embed_top1" ->
      """WITH scored AS (
        |  SELECT a.vec_id, b.vec_id AS nid, cosine_sim(a.embedding, b.embedding) AS sim
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id != b.vec_id)
        |SELECT vec_id, nid AS best_id FROM (
        |  SELECT vec_id, nid,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nid) AS rk
        |  FROM scored)
        |WHERE rk = 1
        |ORDER BY vec_id""".stripMargin,

    "x08_lang_id" ->
      s"""WITH t AS (
         |  SELECT lang, lower(text) AS lt,
         |         filter(split(lower(text), ' '), x -> x != '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT lang, $langIdScoresSql AS scores FROM t),
         |d AS (
         |  SELECT lang, $langIdDetectedSql AS detected FROM s)
         |SELECT lang, detected, COUNT(1) AS n FROM d
         |GROUP BY lang, detected
         |ORDER BY lang, detected""".stripMargin,

    "x11_fingerprint" ->
      """SELECT doc_id,
        |  CASE WHEN text IS NULL OR length(text) = 0 THEN CAST(7 AS BIGINT)
        |       ELSE aggregate(
        |         transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |         CAST(7 AS BIGINT),
        |         (acc, c) -> (acc * 31 + c) % 2147483647) END AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x18_doc_prep" ->
      """WITH refg AS (
        |  SELECT DISTINCT gram FROM documents
        |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), 4)) t AS gram
        |  WHERE source IN ('src0', 'src1')),
        |candg AS (
        |  SELECT doc_id, gram FROM documents
        |  LATERAL VIEW explode(word_shingles_all(filter(split(text, ' '), x -> x != ''), 4)) t AS gram
        |  WHERE source NOT IN ('src0', 'src1')),
        |contam AS (SELECT DISTINCT doc_id FROM candg JOIN refg USING (gram)),
        |keepers AS (SELECT text, MIN(doc_id) AS keep_id FROM documents GROUP BY text)
        |SELECT d.doc_id,
        |  CAST(size(filter(split(d.text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
        |  CASE WHEN d.source IN ('src0', 'src1') THEN 'reference'
        |       WHEN size(filter(split(d.text, ' '), x -> x != '')) < 40 THEN 'too_short'
        |       WHEN d.doc_id != k.keep_id THEN 'duplicate'
        |       WHEN c.doc_id IS NOT NULL THEN 'contaminated'
        |       ELSE NULL END AS drop_reason
        |FROM documents d
        |JOIN keepers k ON d.text = k.text
        |LEFT JOIN contam c ON d.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin,
    "x01_dedup_exact" -> exactDedupSparkSql,
    // x44 computes the same selection as x01 with hashed shuffle keys —
    // one SQL text, two physical strategies (cf. x26/x37).
    "x44_dedup_hash" -> exactDedupSparkSql,

    "x09_text_quality" ->
      """SELECT lang, COUNT(1) AS n_docs,
        |  SUM(size(filter(split(text, ' '), x -> x != ''))) AS sum_tokens,
        |  SUM(length(regexp_replace(text, '[^.!?,;:]', ''))) AS sum_punct,
        |  SUM(length(regexp_replace(text, '[^0-9]', ''))) AS sum_digits,
        |  SUM(length(regexp_replace(text, ' ', ''))) AS sum_nonspace
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "x10_token_count" ->
      """SELECT source, COUNT(1) AS n_docs,
        |  SUM(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))) AS sum_bpe_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "x12_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w FROM documents),
        |tokc AS (
        |  SELECT doc_id, term, COUNT(1) AS c
        |  FROM toks LATERAL VIEW explode(w) t AS term GROUP BY doc_id, term),
        |tokstats AS (
        |  SELECT doc_id, SUM(c) AS n_tok, COUNT(1) AS n_uniq_tok, MAX(c) AS top_tok_n
        |  FROM tokc GROUP BY doc_id),
        |gramc AS (
        |  SELECT doc_id, term, COUNT(1) AS c
        |  FROM toks LATERAL VIEW explode(word_shingles_all(w, 2)) t AS term
        |  GROUP BY doc_id, term),
        |gramstats AS (
        |  SELECT doc_id, SUM(c) AS n_2gram, COUNT(1) AS n_uniq_2gram, MAX(c) AS top_2gram_n
        |  FROM gramc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(n_tok, 0L) AS n_tok,
        |  coalesce(n_uniq_tok, 0L) AS n_uniq_tok,
        |  coalesce(top_tok_n, 0L) AS top_tok_n,
        |  coalesce(n_2gram, 0L) AS n_2gram,
        |  coalesce(n_uniq_2gram, 0L) AS n_uniq_2gram,
        |  coalesce(top_2gram_n, 0L) AS top_2gram_n
        |FROM documents d
        |LEFT JOIN tokstats USING (doc_id)
        |LEFT JOIN gramstats USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "x13_dup_spans" ->
      """WITH grams AS (
        |  SELECT doc_id, gram FROM documents
        |  LATERAL VIEW explode(word_shingles_all(filter(split(text, ' '), x -> x != ''), 4)) t AS gram),
        |dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        |perdoc AS (
        |  SELECT doc_id, COUNT(1) AS n_dup_spans FROM grams JOIN dup USING (gram) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(greatest(size(filter(split(text, ' '), x -> x != '')) - 3, 0) AS BIGINT) AS n_spans,
        |  coalesce(n_dup_spans, 0L) AS n_dup_spans
        |FROM documents d LEFT JOIN perdoc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "x16_decontaminate" -> decontaminateSparkSql,
    // x55 is the bloom-prefiltered plan of the SAME report as x16 — one
    // SQL text, two physical strategies (cf. x01/x44, x26/x37).
    "x55_bloom_decontaminate" -> decontaminateSparkSql,

    "x19_split" -> samplingSplitSql,
    "x20_mix" -> samplingMixSql,
    "x22_mix_weighted" -> samplingMixWeightedSql,
    "x23_bm25" -> bm25Sql,
    "x24_sessions" -> sessionSql,
    "x25_fuzzy_join" -> fuzzySql,
    "x26_stratified" -> stratifiedSql,
    "x27_scd2" -> scd2Sql,
    "x28_percentiles" -> percentileSql,
    "x29_pivot" -> pivotSql,
    "x30_unpivot" -> unpivotSql,
    "x32_moving_avg" -> movingAvgSql,
    "x33_anomaly" -> anomalySql,
    "x34_funnel" -> funnelSql,
    "x35_retention" -> retentionSql,
    "x36_dense_ids" -> denseIdsSparkSql,
    // x37 is the bounded-heap plan of the SAME selection as x26 — one
    // SQL text, two physical strategies.
    "x37_stratified_heap" -> stratifiedSql,
    "x38_salted_join" -> saltedJoinSparkSql,
    "x39_pagerank" -> pageRankSparkSql,
    "x40_weighted_sample" -> weightedSampleSparkSql,
    "x41_chunks" -> chunkSparkSql,
    "x42_weighted_group" -> weightedGroupSparkSql,
    "x43_top_terms" -> topTermsSparkSql,

    // ---- r11 extensions, SQL-friendly subset.
    "x84_distinct_exact" ->
      """SELECT
        |  CASE WHEN g = 1 THEN 'TOTAL' ELSE l_returnflag END AS grp, n_distinct
        |FROM (
        |  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_distinct,
        |    grouping(l_returnflag) AS g
        |  FROM lineitem GROUP BY ROLLUP(l_returnflag))
        |ORDER BY grp""".stripMargin,

    "x93_kanon" ->
      s"""SELECT lang, source, size_bucket, n_docs,
         |  CASE WHEN n_docs < ${DocPrep.KAnonK}L THEN 1L ELSE 0L END AS at_risk
         |FROM (
         |  SELECT lang, source,
         |    CAST(length(bin(n_chars)) AS BIGINT) AS size_bucket,
         |    COUNT(1) AS n_docs
         |  FROM documents GROUP BY 1, 2, 3)
         |ORDER BY lang, source, size_bucket""".stripMargin,

    "x108_script_mix" -> {
      import TextAnalysis.{CjkRe, CyrillicRe, GreekRe, LatinRe}
      s"""WITH planted AS (
         |  SELECT doc_id, concat(text,
         |    CASE WHEN doc_id % 4 = 0 THEN ' привет мир да' ELSE '' END,
         |    CASE WHEN doc_id % 6 = 0 THEN ' αβγ δεζ' ELSE '' END,
         |    CASE WHEN doc_id % 9 = 0 THEN ' 你好世界' ELSE '' END) AS text
         |  FROM documents),
         |counted AS (
         |  SELECT doc_id,
         |    CAST(regexp_count(text, '$LatinRe') AS BIGINT) AS n_latin,
         |    CAST(regexp_count(text, '$CyrillicRe') AS BIGINT) AS n_cyrillic,
         |    CAST(regexp_count(text, '$GreekRe') AS BIGINT) AS n_greek,
         |    CAST(regexp_count(text, '$CjkRe') AS BIGINT) AS n_cjk,
         |    CAST(regexp_count(text, '[0-9]') AS BIGINT) AS n_digit
         |  FROM planted)
         |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_digit,
         |  CASE WHEN n_cyrillic > n_latin AND n_cyrillic >= n_greek
         |            AND n_cyrillic >= n_cjk THEN 'cyrillic'
         |       WHEN n_greek > n_latin AND n_greek > n_cyrillic
         |            AND n_greek >= n_cjk THEN 'greek'
         |       WHEN n_cjk > n_latin AND n_cjk > n_cyrillic
         |            AND n_cjk > n_greek THEN 'cjk'
         |       ELSE 'latin' END AS script
         |FROM counted ORDER BY doc_id""".stripMargin
    },

    // ---- r12 extensions (x109+): the SQL a user would type for each,
    // result-identical to the DataFrame faces (SqlSurfaceSpec).
    "x109_bpe_pairs" ->
      s"""WITH words AS (
         |  SELECT w FROM documents
         |  LATERAL VIEW explode(filter(split(text, ' '), x -> x != '')) t AS w),
         |pairs AS (
         |  SELECT pair FROM words
         |  LATERAL VIEW explode(transform(sequence(1, CAST(length(w) - 1 AS INT)),
         |                                 i -> substring(w, i, 2))) t AS pair
         |  WHERE length(w) >= 2)
         |SELECT pair, COUNT(1) AS n_pair FROM pairs GROUP BY pair
         |ORDER BY n_pair DESC, pair LIMIT ${TextAnalysis.BpeTopPairs}""".stripMargin,

    "x110_pack_audit" ->
      """WITH tok AS (
        |  SELECT CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT)
        |    AS n_tokens FROM documents),
        |b AS (
        |  SELECT n_tokens,
        |    CASE WHEN n_tokens = 1 THEN 1L
        |         ELSE shiftleft(1L, length(bin(n_tokens - 1))) END AS capacity
        |  FROM tok WHERE n_tokens >= 1)
        |SELECT capacity, COUNT(1) AS n_docs, SUM(n_tokens) AS n_tokens,
        |  COUNT(1) * capacity AS padded_slots,
        |  COUNT(1) * capacity - SUM(n_tokens) AS padding,
        |  round(CAST(SUM(n_tokens) AS DOUBLE)
        |        / CAST(COUNT(1) * capacity AS DOUBLE), 6) AS efficiency
        |FROM b GROUP BY capacity ORDER BY capacity""".stripMargin,

    "x111_decay_pop" ->
      s"""WITH ref AS (
         |  SELECT max(to_date(ts)) AS d1 FROM events WHERE ts IS NOT NULL),
         |w AS (
         |  SELECT event_type,
         |    CAST(round(pow(0.5D, CAST(datediff(d1, to_date(ts)) AS DOUBLE)
         |                         / ${Analytics.DecayHalflifeDays}D), 6)
         |         AS DECIMAL(18,6)) AS w
         |  FROM events CROSS JOIN ref WHERE ts IS NOT NULL)
         |SELECT event_type, COUNT(1) AS n_events,
         |  CAST(SUM(w) AS DOUBLE) AS decayed_count
         |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,

    "x112_zipf_slope" ->
      s"""WITH tc AS (
         |  SELECT source, t, COUNT(1) AS c FROM documents
         |  LATERAL VIEW explode(filter(split(text, ' '), x -> x != '')) v AS t
         |  GROUP BY source, t),
         |ranked AS (
         |  SELECT source, c,
         |    row_number() OVER (PARTITION BY source ORDER BY c DESC, t) AS r
         |  FROM tc),
         |m AS (
         |  SELECT source, COUNT(1) AS n_terms,
         |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         |    CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * x) AS DOUBLE) AS sxx
         |  FROM (SELECT source,
         |          CAST(round(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
         |          CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
         |        FROM ranked WHERE r <= ${TextAnalysis.ZipfTopTerms})
         |  GROUP BY source)
         |SELECT source, n_terms,
         |  round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
         |    / nullif(CAST(n_terms AS DOUBLE) * sxx - sx * sx, 0.0D), 6)
         |    AS zipf_slope
         |FROM m ORDER BY source""".stripMargin,

    "x113_truncation" ->
      s"""WITH tok AS (
         |  SELECT source,
         |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n
         |  FROM documents)
         |SELECT source, COUNT(1) AS n_docs,
         |  SUM(CASE WHEN n > ${DocPrep.TruncMaxTokens}L THEN 1L ELSE 0L END)
         |    AS n_truncated,
         |  SUM(n) AS tokens_total,
         |  SUM(least(n, ${DocPrep.TruncMaxTokens}L)) AS tokens_kept,
         |  SUM(n) - SUM(least(n, ${DocPrep.TruncMaxTokens}L)) AS tokens_dropped,
         |  round(CAST(SUM(n) - SUM(least(n, ${DocPrep.TruncMaxTokens}L)) AS DOUBLE)
         |        / CAST(SUM(n) AS DOUBLE), 6) AS drop_rate
         |FROM tok GROUP BY source ORDER BY source""".stripMargin,

    "x115_split_balance" ->
      s"""WITH cell AS (
         |  SELECT ${splitCaseSparkSql("doc_id")} AS split,
         |    lang, COUNT(1) AS n_docs
         |  FROM documents GROUP BY 1, 2),
         |m AS (
         |  SELECT split, lang, n_docs,
         |    SUM(n_docs) OVER (PARTITION BY split) AS split_total,
         |    SUM(n_docs) OVER (PARTITION BY lang) AS lang_total,
         |    SUM(n_docs) OVER () AS total
         |  FROM cell)
         |SELECT split, lang, n_docs,
         |  round(CAST(split_total AS DOUBLE) * CAST(lang_total AS DOUBLE)
         |        / CAST(total AS DOUBLE), 6) AS expected,
         |  round((CAST(n_docs AS DOUBLE)
         |          - CAST(split_total AS DOUBLE) * CAST(lang_total AS DOUBLE)
         |            / CAST(total AS DOUBLE))
         |        * (CAST(n_docs AS DOUBLE)
         |          - CAST(split_total AS DOUBLE) * CAST(lang_total AS DOUBLE)
         |            / CAST(total AS DOUBLE))
         |        / (CAST(split_total AS DOUBLE) * CAST(lang_total AS DOUBLE)
         |           / CAST(total AS DOUBLE)), 6) AS chi2_term
         |FROM m ORDER BY split, lang""".stripMargin,

    "x117_conversion_lag" ->
      """WITH f AS (
        |  SELECT user_id, MIN(ts) AS t_from FROM events
        |  WHERE event_type = 'view' AND ts IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY user_id),
        |t AS (
        |  SELECT user_id, MIN(ts) AS t_to FROM events
        |  WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY user_id)
        |SELECT f.user_id,
        |  unix_timestamp(t_from) AS from_sec,
        |  unix_timestamp(t_to) AS to_sec,
        |  unix_timestamp(t_to) - unix_timestamp(t_from) AS lag_sec
        |FROM f JOIN t ON f.user_id = t.user_id
        |WHERE t_to >= t_from
        |ORDER BY f.user_id""".stripMargin,

    "x118_vocab90" ->
      s"""WITH tc AS (
         |  SELECT source, t, COUNT(1) AS c FROM documents
         |  LATERAL VIEW explode(filter(split(text, ' '), x -> x != '')) v AS t
         |  GROUP BY source, t),
         |ranked AS (
         |  SELECT source, c,
         |    row_number() OVER (PARTITION BY source ORDER BY c DESC, t) AS r,
         |    SUM(c) OVER (PARTITION BY source ORDER BY c DESC, t
         |                 ROWS UNBOUNDED PRECEDING) AS cum,
         |    SUM(c) OVER (PARTITION BY source) AS total
         |  FROM tc)
         |SELECT source, COUNT(1) AS n_types, MIN(total) AS n_tokens,
         |  MIN(CASE WHEN cum * 100 >= ${TextAnalysis.VocabCoverPct}L * total
         |           THEN r END) AS head_types,
         |  MIN(CASE WHEN cum * 100 >= ${TextAnalysis.VocabCoverPct}L * total
         |           THEN cum END) AS head_tokens,
         |  round(CAST(MIN(CASE WHEN cum * 100 >= ${TextAnalysis.VocabCoverPct}L * total
         |                      THEN cum END) AS DOUBLE)
         |        / CAST(MIN(total) AS DOUBLE), 6) AS head_share
         |FROM ranked GROUP BY source ORDER BY source""".stripMargin,

    "x121_fertility" ->
      s"""WITH agg AS (
         |  SELECT lang, COUNT(1) AS n_docs,
         |    CAST(SUM(size(filter(split(text, ' '), x -> x != ''))) AS BIGINT)
         |      AS n_words,
         |    CAST(SUM(regexp_count(text, '${TextAnalysis.tokenPattern}'))
         |         AS BIGINT) AS n_bpe,
         |    CAST(SUM(length(text)) AS BIGINT) AS n_chars
         |  FROM documents GROUP BY lang)
         |SELECT lang, n_docs, n_words, n_bpe, n_chars,
         |  round(CAST(n_bpe AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS fertility,
         |  round(CAST(n_chars AS DOUBLE) / CAST(n_bpe AS DOUBLE), 6)
         |    AS chars_per_token
         |FROM agg ORDER BY lang""".stripMargin,

    "x122_cooccur_lift" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |marg AS (SELECT event_type, COUNT(1) AS n_t FROM ut GROUP BY 1),
        |tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(1) AS n_ab
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, ma.n_t AS n_a, mb.n_t AS n_b, n_ab,
        |  round(CAST(n_users AS DOUBLE) * CAST(n_ab AS DOUBLE)
        |        / (CAST(ma.n_t AS DOUBLE) * CAST(mb.n_t AS DOUBLE)), 6) AS lift
        |FROM pairs
        |JOIN marg ma ON ma.event_type = type_a
        |JOIN marg mb ON mb.event_type = type_b
        |CROSS JOIN tot
        |ORDER BY type_a, type_b""".stripMargin,

    "x125_dialog_audit" ->
      """WITH ev AS (
        |  SELECT user_id AS thread_id, event_type AS role, ts, event_id
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |lagged AS (
        |  SELECT thread_id, role, ts,
        |    lag(role) OVER (PARTITION BY thread_id ORDER BY ts, event_id)
        |      AS prev_role
        |  FROM ev)
        |SELECT thread_id, COUNT(1) AS n_turns,
        |  COUNT(DISTINCT role) AS n_roles,
        |  SUM(CASE WHEN role = prev_role THEN 1L ELSE 0L END) AS n_breaks,
        |  unix_timestamp(MAX(ts)) - unix_timestamp(MIN(ts)) AS span_sec
        |FROM lagged GROUP BY thread_id ORDER BY thread_id""".stripMargin,

    "x126_rate_bursts" ->
      s"""WITH b AS (
         |  SELECT event_type,
         |    unix_timestamp(date_trunc('hour', ts)) AS hour_sec,
         |    COUNT(1) AS c
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         |m AS (
         |  SELECT event_type, COUNT(1) AS n, SUM(c) AS sc, SUM(c * c) AS scc
         |  FROM b GROUP BY 1),
         |j AS (
         |  SELECT b.event_type, hour_sec, c,
         |    round((CAST(c AS DOUBLE)
         |           - CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
         |      / nullif(sqrt((CAST(n AS DOUBLE) * CAST(scc AS DOUBLE)
         |                     - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
         |                    / nullif(CAST(n AS DOUBLE)
         |                             * (CAST(n AS DOUBLE) - 1), 0.0D)),
         |               0.0D), 6) AS z
         |  FROM b JOIN m ON m.event_type = b.event_type)
         |SELECT event_type, hour_sec, c, z,
         |  CASE WHEN z >= ${Analytics.BurstZ}D THEN 1L ELSE 0L END AS burst
         |FROM j ORDER BY event_type, hour_sec""".stripMargin,

    "x127_ks_audit" ->
      s"""WITH tagged AS (
         |  SELECT source, ${splitCaseSparkSql("doc_id")} AS split,
         |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS len
         |  FROM documents),
         |f AS (
         |  SELECT source, len,
         |    SUM(CASE WHEN split = 'train' THEN 1L ELSE 0L END) AS c1,
         |    SUM(CASE WHEN split = 'val' THEN 1L ELSE 0L END) AS c2
         |  FROM tagged WHERE split IN ('train', 'val') GROUP BY 1, 2),
         |cum AS (
         |  SELECT source,
         |    SUM(c1) OVER (PARTITION BY source ORDER BY len
         |                  ROWS UNBOUNDED PRECEDING) AS cum1,
         |    SUM(c2) OVER (PARTITION BY source ORDER BY len
         |                  ROWS UNBOUNDED PRECEDING) AS cum2,
         |    SUM(c1) OVER (PARTITION BY source) AS n1,
         |    SUM(c2) OVER (PARTITION BY source) AS n2
         |  FROM f)
         |SELECT source, MIN(n1) AS n_train, MIN(n2) AS n_val,
         |  round(MAX(abs(
         |    CAST(cum1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0D)
         |    - CAST(cum2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0D))), 6) AS ks
         |FROM cum GROUP BY source ORDER BY source""".stripMargin,

    "x128_psi_drift" ->
      s"""WITH tagged AS (
         |  SELECT source, ${splitCaseSparkSql("doc_id")} AS split,
         |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS len
         |  FROM documents),
         |b AS (
         |  SELECT source,
         |    CASE WHEN len = 1 THEN 1L
         |         ELSE shiftleft(1L, length(bin(len - 1))) END AS bucket,
         |    SUM(CASE WHEN split = 'train' THEN 1L ELSE 0L END) AS c1,
         |    SUM(CASE WHEN split = 'val' THEN 1L ELSE 0L END) AS c2
         |  FROM tagged WHERE split IN ('train', 'val') AND len >= 1
         |  GROUP BY 1, 2),
         |w AS (
         |  SELECT source, c1, c2,
         |    SUM(c1) OVER (PARTITION BY source) AS n1,
         |    SUM(c2) OVER (PARTITION BY source) AS n2,
         |    COUNT(1) OVER (PARTITION BY source) AS nb
         |  FROM b),
         |t AS (
         |  SELECT source, n1, n2, nb,
         |    CAST(round((CAST(c1 + 1 AS DOUBLE) / CAST(n1 + nb AS DOUBLE)
         |                - CAST(c2 + 1 AS DOUBLE) / CAST(n2 + nb AS DOUBLE))
         |      * round(ln((CAST(c1 + 1 AS DOUBLE) / CAST(n1 + nb AS DOUBLE))
         |                 / (CAST(c2 + 1 AS DOUBLE) / CAST(n2 + nb AS DOUBLE))),
         |              6), 6) AS DECIMAL(18,6)) AS term
         |  FROM w)
         |SELECT source, MIN(n1) AS n_train, MIN(n2) AS n_val,
         |  MIN(nb) AS n_buckets, CAST(SUM(term) AS DOUBLE) AS psi
         |FROM t GROUP BY source ORDER BY source""".stripMargin,

    "x131_skew_profile" ->
      """WITH u AS (
        |  SELECT 'lineitem.l_orderkey' AS key_name, COUNT(1) AS n_keys,
        |    SUM(c) AS n_rows, MAX(c) AS max_c,
        |    CAST(CAST(percentile(c, 0.5D) AS DECIMAL(18,4)) AS DOUBLE) AS p50_c,
        |    CAST(CAST(percentile(c, 0.99D) AS DECIMAL(18,4)) AS DOUBLE) AS p99_c
        |  FROM (SELECT l_orderkey, COUNT(1) AS c FROM lineitem GROUP BY 1)
        |  UNION ALL
        |  SELECT 'orders.o_custkey' AS key_name, COUNT(1) AS n_keys,
        |    SUM(c) AS n_rows, MAX(c) AS max_c,
        |    CAST(CAST(percentile(c, 0.5D) AS DECIMAL(18,4)) AS DOUBLE) AS p50_c,
        |    CAST(CAST(percentile(c, 0.99D) AS DECIMAL(18,4)) AS DOUBLE) AS p99_c
        |  FROM (SELECT o_custkey, COUNT(1) AS c FROM orders GROUP BY 1))
        |SELECT key_name, n_keys, n_rows, max_c, p50_c, p99_c,
        |  round(CAST(max_c AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |        / CAST(n_rows AS DOUBLE), 6) AS skew
        |FROM u ORDER BY key_name""".stripMargin,

    "x133_dup_histogram" ->
      """WITH g AS (
        |  SELECT md5(text) AS k, COUNT(1) AS group_size
        |  FROM documents GROUP BY 1)
        |SELECT group_size, COUNT(1) AS n_groups,
        |  group_size * COUNT(1) AS n_docs,
        |  (group_size - 1) * COUNT(1) AS removable_dups
        |FROM g GROUP BY group_size ORDER BY group_size""".stripMargin,

    "x132_exact_split" ->
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY ${sparkBucketSql("graft")}, doc_id) AS r,
         |    COUNT(1) OVER (PARTITION BY source) AS n
         |  FROM documents)
         |SELECT doc_id, source,
         |  CASE WHEN r <= n * 8 div 10 THEN 'train'
         |       WHEN r <= n * 9 div 10 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM r ORDER BY doc_id""".stripMargin,
    "x45_embed_neardup" ->
      s"""SELECT id1, id2 FROM (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2,
         |         cosine_sim(a.embedding, b.embedding) AS sim
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE sim >= CAST(${Similarity.NearDupThreshold} AS DOUBLE)
         |ORDER BY id1, id2""".stripMargin,

    "x48_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, term FROM documents
         |  LATERAL VIEW explode(filter(split(text, ' '), x -> x != '')) t AS term),
         |tf AS (SELECT doc_id, term, COUNT(1) AS tf FROM toks GROUP BY doc_id, term),
         |n AS (SELECT COUNT(1) AS n_docs FROM documents),
         |post AS (
         |  SELECT doc_id, term, tf, COUNT(1) OVER (PARTITION BY term) AS df FROM tf),
         |scored AS (
         |  SELECT doc_id, term, tf, df,
         |    CAST(CAST(round(tf * ln(CAST(n.n_docs AS DOUBLE) / df), 6)
         |              AS DECIMAL(18,6)) AS DOUBLE) AS score
         |  FROM post CROSS JOIN n),
         |ranked AS (
         |  SELECT doc_id, term, tf, df, score,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
         |  FROM scored)
         |SELECT doc_id, term, tf, df, score, rank
         |FROM ranked WHERE rank <= ${TextAnalysis.TfIdfK}
         |ORDER BY doc_id, rank""".stripMargin,

    "x50_upsample" -> upsampleSparkSql,
    "x56_token_budget" -> tokenBudgetSparkSql,
    "x57_ngram_lm" -> ngramLmSparkSql,
    "x58_winsorize" -> winsorSparkSql,
    "x59_interval_join" -> intervalJoinSparkSql,
    "x60_mad_outliers" -> madOutlierSparkSql,
    "x61_interval_topk" -> intervalTopKSparkSql,
    "x64_snm_pairs" -> snmSparkSql,
    "x65_data_card" -> dataCardSparkSql,
    "x66_length_hist" -> lengthHistSparkSql,
    "x67_lm_score" -> lmScoreSparkSql,
    "x68_temp_mix" -> temperatureMixSparkSql,
    "x69_split_leakage" -> splitLeakageSparkSql,
    "x70_pmi" -> pmiSparkSql,
    "x71_pit_enrich" -> pitEnrichSparkSql,
    "x72_cdc_chunks" -> cdcSparkSql,
    "x73_centroid_outliers" -> centroidOutlierSparkSql,
    // x76: the brute-force similarity join a SQL user writes — the
    // DataFrame face reaches the same rows through prefix filtering
    // (result-identity across the two PLANS is the point, the
    // x36/x37/x25 twin discipline).
    "x76_ppjoin" ->
      """WITH grams AS (
        |  SELECT DISTINCT doc_id, gram FROM documents
        |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), 3)) t AS gram),
        |gsz AS (SELECT doc_id, COUNT(1) AS n FROM grams GROUP BY doc_id),
        |vint AS (
        |  SELECT g1.doc_id AS d1, g2.doc_id AS d2, COUNT(1) AS inter
        |  FROM grams g1 JOIN grams g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
        |  GROUP BY 1, 2)
        |SELECT v.d1, v.d2, CAST(v.inter AS BIGINT) AS inter,
        |  CAST(s1.n + s2.n - v.inter AS BIGINT) AS uni
        |FROM vint v JOIN gsz s1 ON s1.doc_id = v.d1 JOIN gsz s2 ON s2.doc_id = v.d2
        |WHERE v.inter * 2 >= s1.n + s2.n - v.inter
        |ORDER BY d1, d2""".stripMargin,
    // x74: the CUBE clause — dialect-identical to the DuckDB twin
    // modulo the tokenizer functions.
    "x74_cube" ->
      """WITH t AS (
        |  SELECT lang, source,
        |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS nt
        |  FROM documents)
        |SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |  COUNT(1) AS n_docs, SUM(nt) AS n_tokens
        |FROM t GROUP BY CUBE(lang, source)
        |ORDER BY lang, source""".stripMargin,
    "x75_transitions" ->
      """WITH nxt AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |pc AS (
        |  SELECT from_type, to_type, COUNT(1) AS n
        |  FROM nxt WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  SUM(n) OVER (PARTITION BY from_type) AS n_from
        |FROM pc ORDER BY from_type, to_type""".stripMargin,
    "x62_normalize" ->
      """SELECT doc_id, normalize_text(text) AS norm_text,
        |  CAST(length(normalize_text(text)) AS BIGINT) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x63_oov" ->
      s"""WITH toks AS (
         |  SELECT doc_id, term FROM documents
         |  LATERAL VIEW explode(filter(split(text, ' '), x -> x != '')) t AS term),
         |vocab AS (
         |  SELECT term FROM (
         |    SELECT term, COUNT(1) AS c FROM toks GROUP BY term
         |    ORDER BY c DESC, term LIMIT ${TextAnalysis.OovVocabN})),
         |hits AS (
         |  SELECT doc_id, COUNT(1) AS n_iv FROM toks
         |  WHERE term IN (SELECT term FROM vocab) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
         |  CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT)
         |    - coalesce(n_iv, 0L) AS n_oov
         |FROM documents d LEFT JOIN hits USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "x21_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
        |    doc_id % 32 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens, shard,
        |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |                        ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, n_tokens, shard,
        |  shard * CAST(1099511627776 AS BIGINT) -- 2^40 shard stride
        |    + FLOOR((cum - n_tokens) / CAST(2000.0 AS DOUBLE)) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,

    // r13: the plain-aggregate extras that had DataFrame-only faces —
    // every one a straight SQL statement of the same Catalyst plan.
    "x79_funnel" -> funnelSparkSql,
    "x80_trend" -> trendSparkSql,
    "x81_token_entropy" -> tokenEntropySparkSql,
    "x82_kl_drift" -> klDriftSparkSql,
    "x85_quantiles_exact" -> quantilesExactSparkSql,
    "x86_freq_exact" -> freqExactSparkSql,
    "x88_snapshot_diff" -> snapshotDiffSparkSql,
    "x89_boilerplate" -> boilerplateSparkSql,
    "x90_novelty" -> noveltySparkSql,
    "x95_source_overlap" -> sourceOverlapSparkSql,
    "x96_growth" -> growthSparkSql,
    "x97_pii_audit" -> piiSparkSql,
    "x98_source_cap" -> sourceCapSparkSql,
    "x99_annotator" -> annotatorSparkSql,
    "x134_spearman" -> spearmanSparkSql,
    "x135_split_diversity" -> splitDiversitySparkSql,
    "x136_effective_tokens" -> effectiveTokensSparkSql,
    "x137_hybrid_rrf" -> hybridRrfSparkSql,
    "x139_line_dedup" -> lineDedupSparkSql,
    // x141's SQL face is the window form — value-identical to the
    // engine face's distributed grouped prefix scan (the spec asserts
    // it), differing only in physical strategy, like x26 vs x37.
    "x141_epoch_order" ->
      s"""SELECT epoch, doc_id,
         |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id)
         |       AS BIGINT) AS ord
         |FROM (
         |  SELECT doc_id, epoch,
         |    md5(concat(CAST(doc_id AS STRING), ':ord:',
         |               CAST(epoch AS STRING))) AS k
         |  FROM documents
         |  LATERAL VIEW explode(sequence(0L, ${Sampling.EpochCount - 1}L))
         |    t AS epoch)
         |ORDER BY epoch, ord""".stripMargin,
    "x142_mlm_mask" -> mlmMaskSparkSql,
    "x143_pack_manifest" -> packManifestSparkSql,
    "x146_sft_pairs" ->
      """WITH ev AS (
        |  SELECT user_id AS thread_id, event_type AS role, ts, event_id
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |lagged AS (
        |  SELECT thread_id, role, ts, event_id,
        |    lag(role) OVER w AS prev_role,
        |    lag(event_id) OVER w AS prev_event,
        |    lag(ts) OVER w AS prev_ts,
        |    CAST(row_number() OVER w AS BIGINT) AS turn_idx
        |  FROM ev
        |  WINDOW w AS (PARTITION BY thread_id ORDER BY ts, event_id))
        |SELECT thread_id, turn_idx,
        |  prev_event AS prompt_event, event_id AS response_event,
        |  prev_role AS prompt_role, role AS response_role,
        |  unix_timestamp(ts) - unix_timestamp(prev_ts) AS gap_sec
        |FROM lagged
        |WHERE prev_role IS NOT NULL AND prev_role != role
        |ORDER BY thread_id, turn_idx""".stripMargin,
    "x144_threshold_sweep" ->
      s"""WITH $verifiedPairsSparkCte,
         |grid AS (SELECT CAST(t AS BIGINT) AS threshold_pct
         |  FROM (SELECT explode(array(${
           graft.operators.Dedup.SweepThresholds.mkString(", ")})) AS t))
         |SELECT threshold_pct,
         |  SUM(CASE WHEN inter * 100 >= threshold_pct * uni
         |      THEN 1L ELSE 0L END) AS n_pairs
         |FROM vpairs CROSS JOIN grid
         |GROUP BY threshold_pct ORDER BY threshold_pct""".stripMargin,

    // ---- r14 extensions: the web-prep family — the x102 URL ladder,
    // its markup/link-graph consumers, and the drift/propagation
    // rollups — all regexp chains + aggregates a SQL user can type over
    // the registered views (the page-sized plants are CTE stages, not
    // a reason to stay DataFrame-only).
    "x102_url_canon" -> urlCanonSparkSql,
    "x103_markup_strip" -> markupStripSparkSql,
    "x104_url_dedup" -> urlDedupSparkSql,
    "x107_waterfall" -> waterfallSparkSql,
    "x114_link_graph" -> linkGraphSparkSql,
    "x116_anchor_text" -> anchorTextSparkSql,
    "x119_host_reputation" -> hostReputationSparkSql,
    "x123_link_degrees" -> linkDegreesSparkSql,
    "x124_robots_gate" -> robotsGateSparkSql,
    "x130_snapshot_psi" -> snapshotPsiSparkSql,
    "x138_label_prop" -> labelPropSparkSql,
    "x145_triangles" -> trianglesSparkSql,
    // ---- r14 quality/curriculum quartet.
    "x147_gopher_rules" -> gopherSparkSql,
    "x148_readability" -> readabilitySparkSql,
    "x149_gram_leakage" -> gramLeakageSparkSql,
    "x150_curriculum" -> curriculumSparkSql,
    "x151_contam_excise" -> exciseSparkSql,
    "x152_leak_probe" -> leakProbeSparkSql,
    "x153_dsir_weights" -> dsirSparkSql,
    "x154_line_rep" -> lineRepSparkSql,
    "x155_nb_quality" -> nbQualitySparkSql,
    "x156_doremi" -> doremiSparkSql,
    "x157_self_excise" -> selfExciseSparkSql,
    "x158_pca_proj" -> pcaProjSparkSql,
    "x159_ccnet_buckets" -> ccnetSparkSql,
    "x160_data_budget" -> dataBudgetSparkSql,
    "x161_bpe_merges" -> bpeMergesSparkSql,
    "x163_quality_panel" -> qualityPanelSparkSql,
    "x164_encoding" -> encodingSparkSql,
    "x165_context_sweep" -> contextSweepSparkSql,
    "x166_span_corrupt" -> spanCorruptSparkSql,
    "x168_source_scorecard" -> sourceScorecardSparkSql,
    "x169_cross_probe" -> crossProbeSparkSql,
    // x171 is DEFINED to coincide with x169 (frozen-index probe vs
    // union re-mine — two physical strategies, one selection), so it
    // shares the text, the x44/x55 discipline. x170 joins the k-means
    // chain class (x78/x83/x92) and x172 the x167 unrolled-MM doubling
    // class — DuckDB-oracle-only.
    "x171_cross_probe_incr" -> crossProbeSparkSql,
    "x173_pack_winner" -> packWinnerSparkSql,
    "x177_calibration" -> calibrationSparkSql,
    // x162 carries NO Spark-SQL text: the doubled unrolled-iteration
    // chain plus deflation exceeds Spark's CTE analysis budget (the
    // logical tree re-expands past the 8g test heap), where DuckDB's
    // MATERIALIZED CTEs evaluate each stage once. The engine face and
    // the DuckDB oracle stay cross-checked.
    // ---- r14 second wave: five twins for operators previously listed
    // as DataFrame-first that ARE plainly expressible (the DuckDB
    // oracle proved the semantics portable; these are the Spark texts).
    "x87_containment" -> containmentSparkSql,
    "x94_margin" -> marginSparkSql,
    "x100_edit_pairs" -> editPairsSparkSql,
    "x105_kripp_alpha" -> krippSparkSql,
    "x120_hard_negatives" -> hardNegativesSparkSql,
    "x77_zonemap" -> zonemapSparkSql,
    // the deterministic k-means family: the same unrolled Lloyd CTE
    // chain the DuckDB oracle runs, in Spark dialect over the injected
    // cosine_sim kernel.
    "x78_kmeans" -> kmeansSparkSql,
    "x101_dawid_skene" -> dawidSkeneSparkSql,
    "x83_ann_exact" -> annExactSparkSql,
    "x92_semdedup" -> semDedupSparkSql,
  )

  /** x46's accepted pair set as a spark.sql CTE chain ending at
    * `vpairs` (d1, d2, inter, uni) — shared by the x46 and x52 twins so
    * the accept semantics cannot drift (mirror of ExtrasOracle's
    * DuckDB-side verifiedPairsCte). */
  private def verifiedPairsSparkCte: String =
    """grams AS (
      |  SELECT doc_id, lang, gram FROM documents
      |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), 3)) t AS gram),
      |rare AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(1) <= 20),
      |rg AS (SELECT g.doc_id, g.lang, g.gram FROM grams g JOIN rare USING (gram)),
      |cand AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM rg a JOIN rg b ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |  HAVING COUNT(1) >= 2),
      |gsz AS (SELECT doc_id, COUNT(1) AS n FROM grams GROUP BY doc_id),
      |vint AS (
      |  SELECT c.d1, c.d2, COUNT(1) AS inter
      |  FROM cand c JOIN grams g1 ON g1.doc_id = c.d1
      |              JOIN grams g2 ON g2.doc_id = c.d2 AND g2.gram = g1.gram
      |  GROUP BY c.d1, c.d2),
      |vpairs AS (
      |  SELECT v.d1, v.d2, v.inter, s1.n + s2.n - v.inter AS uni
      |  FROM vint v JOIN gsz s1 ON s1.doc_id = v.d1 JOIN gsz s2 ON s2.doc_id = v.d2
      |  WHERE v.inter * 2 >= s1.n + s2.n - v.inter)""".stripMargin

  /** Spark-SQL face of Dedup.crossProbeQuery (x169): the x46 chain
    * over the planted bipartite corpus, cross-side pairs only,
    * oriented (cand_id, ref_id); maxDf = 100 as in the engine face. */
  private def crossProbeSparkSql: String =
    """WITH base AS (
      |  SELECT doc_id, source IN ('src0', 'src1') AS isref,
      |    CASE WHEN source NOT IN ('src0', 'src1') AND doc_id % 23 = 0 THEN
      |      concat('planteddup', CAST((doc_id div 23) % 3 AS STRING),
      |        repeat(concat(' block', CAST((doc_id div 23) % 3 AS STRING)), 25))
      |    WHEN source IN ('src0', 'src1') AND doc_id % 11 = 0 THEN
      |      concat('planteddup', CAST((doc_id div 11) % 3 AS STRING),
      |        repeat(concat(' block', CAST((doc_id div 11) % 3 AS STRING)), 25))
      |    ELSE text END AS text,
      |    CASE WHEN source NOT IN ('src0', 'src1') AND doc_id % 23 = 0
      |         THEN concat('zz', CAST((doc_id div 23) % 3 AS STRING))
      |    WHEN source IN ('src0', 'src1') AND doc_id % 11 = 0
      |         THEN concat('zz', CAST((doc_id div 11) % 3 AS STRING))
      |    ELSE lang END AS lang
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, lang, gram FROM base
      |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), 3)) t AS gram),
      |rare AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(1) <= 100),
      |rg AS (SELECT g.doc_id, g.lang, g.gram FROM grams g JOIN rare USING (gram)),
      |cand AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM rg a JOIN rg b ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |  HAVING COUNT(1) >= 2),
      |xp AS (
      |  SELECT c.d1, c.d2, f1.isref AS r1
      |  FROM cand c JOIN base f1 ON f1.doc_id = c.d1
      |              JOIN base f2 ON f2.doc_id = c.d2
      |  WHERE f1.isref != f2.isref),
      |gsz AS (SELECT doc_id, COUNT(1) AS n FROM grams GROUP BY doc_id),
      |vint AS (
      |  SELECT c.d1, c.d2, c.r1, COUNT(1) AS inter
      |  FROM xp c JOIN grams g1 ON g1.doc_id = c.d1
      |            JOIN grams g2 ON g2.doc_id = c.d2 AND g2.gram = g1.gram
      |  GROUP BY c.d1, c.d2, c.r1),
      |vpairs AS (
      |  SELECT v.d1, v.d2, v.r1, v.inter, s1.n + s2.n - v.inter AS uni
      |  FROM vint v JOIN gsz s1 ON s1.doc_id = v.d1 JOIN gsz s2 ON s2.doc_id = v.d2
      |  WHERE v.inter * 2 >= s1.n + s2.n - v.inter)
      |SELECT CASE WHEN r1 THEN d2 ELSE d1 END AS cand_id,
      |  CASE WHEN r1 THEN d1 ELSE d2 END AS ref_id,
      |  CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni
      |FROM vpairs
      |ORDER BY cand_id, ref_id""".stripMargin

  /** Spark-SQL face of [[Sampling.hashBucket]] (the spark.sql dialect
    * twin; the DuckDB twin lives in ExtrasOracle). */
  private def sparkBucketSql(salt: String): String =
    "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), " +
      s"':$salt')), 1, 8), 16, 10) AS BIGINT)"

  /** Spark-SQL twin of Sampling.upsampleQuery (x50), weights from the
    * SAME map as the engine face and the DuckDB oracle. */
  private def upsampleSparkSql: String = {
    val whens = Sampling.epochWeights.toSeq.sortBy(_._1)
      .map { case (src, r) => s"WHEN '$src' THEN CAST($r AS DOUBLE)" }
      .mkString(" ")
    s"""WITH w AS (
       |  SELECT doc_id, source,
       |    CASE source $whens ELSE CAST(1.0 AS DOUBLE) END AS ew
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source,
       |    FLOOR(ew) + CASE WHEN ${sparkBucketSql("epoch")}
       |                          < (ew - FLOOR(ew)) * ${Sampling.BucketSpace}
       |                     THEN 1 ELSE 0 END AS n
       |  FROM w)
       |SELECT doc_id, source, copy
       |FROM (SELECT * FROM c WHERE n > 0)
       |LATERAL VIEW explode(sequence(CAST(0 AS BIGINT), n - 1)) t AS copy
       |ORDER BY doc_id, copy""".stripMargin
  }

  /** Generated from the SAME fraction table and threshold arithmetic as
    * Sampling.splitQuery, so the faces cannot drift. */
  /** The x19 split CASE over the shared cumulative-threshold table,
    * parameterized by the id column — reused by the x69 leakage twin on
    * each pair side. */
  private def splitCaseSparkSql(keySql: String): String = {
    val bucket = "CAST(conv(substring(md5(concat(CAST(" + keySql +
      " AS STRING), ':graft')), 1, 8), 16, 10) AS BIGINT)"
    val whens = Sampling.splitCums.map { case (name, cum) =>
      s"WHEN $bucket < ${cum * Sampling.BucketSpace} THEN '$name'"
    }.mkString("\n       ")
    s"""CASE WHEN $keySql IS NULL THEN CAST(NULL AS STRING)
       |       $whens
       |       ELSE '${Sampling.splitFractions.last._1}' END""".stripMargin
  }

  private def samplingSplitSql: String =
    s"""SELECT doc_id,
       |  ${splitCaseSparkSql("doc_id")} AS split
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Spark-SQL twin of Sampling.splitLeakageQuery (x69) — x46's shared
    * vpairs CTE, split CASE per pair side. */
  private def splitLeakageSparkSql: String =
    s"""WITH $verifiedPairsSparkCte,
       |sp AS (
       |  SELECT ${splitCaseSparkSql("d1")} AS s1,
       |         ${splitCaseSparkSql("d2")} AS s2
       |  FROM vpairs)
       |SELECT least(s1, s2) AS split_a, greatest(s1, s2) AS split_b,
       |       COUNT(1) AS n_pairs
       |FROM sp WHERE s1 != s2
       |GROUP BY 1, 2
       |ORDER BY split_a, split_b""".stripMargin

  /** Spark-SQL twin of TextAnalysis.dataCardQuery (x65). */
  private def dataCardSparkSql: String =
    """WITH t AS (
      |  SELECT source, lang, md5(text) AS tk,
      |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS nt
      |  FROM documents)
      |SELECT coalesce(source, 'TOTAL') AS source,
      |  COUNT(1) AS n_docs,
      |  SUM(nt) AS n_tokens,
      |  COUNT(DISTINCT lang) AS n_langs,
      |  COUNT(DISTINCT tk) AS n_uniq_texts,
      |  MIN(nt) AS min_tokens, MAX(nt) AS max_tokens,
      |  COUNT(1) - COUNT(DISTINCT tk) AS n_dup_docs
      |FROM t GROUP BY ROLLUP(source)
      |ORDER BY source""".stripMargin

  /** Spark-SQL twin of Sampling.lengthHistQuery (x66). */
  private def lengthHistSparkSql: String =
    """WITH t AS (
      |  SELECT source,
      |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS nt
      |  FROM documents)
      |SELECT source, CAST(length(bin(nt)) AS INT) AS bucket,
      |  COUNT(1) AS n_docs, SUM(nt) AS sum_tokens,
      |  MIN(nt) AS min_tokens, MAX(nt) AS max_tokens
      |FROM t GROUP BY 1, 2
      |ORDER BY source, bucket""".stripMargin

  /** Spark-SQL twin of Similarity.centroidOutlierQuery (x73) — the
    * injected cosine_sim kernel over the same decimal-summed centroid. */
  private def centroidOutlierSparkSql: String =
    s"""WITH comp AS (
       |  SELECT label, pos, CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS c
       |  FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, v
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT label,
       |    transform(array_sort(collect_list(struct(pos, c))), x -> x.c) AS centroid
       |  FROM comp GROUP BY label),
       |scored AS (
       |  SELECT e.label, e.vec_id,
       |    CAST(CAST(round(cosine_sim(e.embedding, c.centroid), 6)
       |         AS DECIMAL(18,6)) AS DOUBLE) AS cos_c
       |  FROM embeddings e JOIN cent c USING (label)),
       |ranked AS (
       |  SELECT label, vec_id, cos_c,
       |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos_c, vec_id) AS rank
       |  FROM scored)
       |SELECT label, vec_id, cos_c, rank
       |FROM ranked WHERE rank <= ${Similarity.CentroidOutlierK}
       |ORDER BY label, rank""".stripMargin

  /** Spark-SQL twin of Chunking.cdcQuery (x72). */
  private def cdcSparkSql: String = {
    val bucket = "CAST(conv(substring(md5(concat(tok, ':cdc')), 1, 8), 16, 10) AS BIGINT)"
    s"""WITH toks AS (
       |  SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w FROM documents),
       |t AS (
       |  SELECT doc_id, pos, tok FROM toks
       |  LATERAL VIEW posexplode(w) u AS pos, tok),
       |b AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN $bucket % ${Chunking.CdcDivisor} = 0 THEN 1L ELSE 0L END AS bd
       |  FROM t),
       |c AS (
       |  SELECT doc_id, pos, tok,
       |    COALESCE(SUM(bd) OVER (PARTITION BY doc_id ORDER BY pos
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS chunk_id
       |  FROM b)
       |SELECT doc_id, chunk_id, COUNT(1) AS n_chunk_tokens,
       |  array_join(transform(array_sort(collect_list(struct(pos, tok))),
       |                       x -> x.tok), ' ') AS chunk
       |FROM c GROUP BY doc_id, chunk_id
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** Spark-SQL twin of Sampling.temperatureMixQuery (x68). */
  private def temperatureMixSparkSql: String = {
    val bucket = "CAST(conv(substring(md5(concat(CAST(d.doc_id AS STRING), " +
      "':temp')), 1, 8), 16, 10) AS BIGINT)"
    s"""WITH c AS (SELECT source, COUNT(1) AS n FROM documents GROUP BY source),
       |m AS (SELECT MIN(n) AS n_min FROM c),
       |r AS (SELECT source, sqrt(CAST(n_min AS DOUBLE) / n) AS rate
       |      FROM c CROSS JOIN m)
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN r USING (source)
       |WHERE $bucket < rate * ${Sampling.BucketSpace}
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Spark-SQL twin of TextAnalysis.lmScoreQuery (x67) — the injected
    * word_shingles_all generator for the positional bigrams, then the
    * same add-one arithmetic and 6-decimal ln image. */
  private def lmScoreSparkSql: String =
    """WITH toks AS (
      |  SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w FROM documents),
      |bg AS (
      |  SELECT doc_id, substring_index(b, ' ', 1) AS w1,
      |         substring_index(b, ' ', -1) AS w2
      |  FROM toks LATERAL VIEW explode(word_shingles_all(w, 2)) t AS b),
      |docbg AS (SELECT doc_id, w1, w2, COUNT(1) AS dc FROM bg GROUP BY 1, 2, 3),
      |corpus AS (SELECT w1, w2, SUM(dc) AS c12 FROM docbg GROUP BY 1, 2),
      |ctx AS (SELECT w1, SUM(c12) AS c1 FROM corpus GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT term) AS v
      |      FROM toks LATERAL VIEW explode(w) t AS term),
      |scored AS (
      |  SELECT doc_id, dc,
      |    CAST(round(ln(CAST(c12 + 1L AS DOUBLE) / CAST(c1 + v AS DOUBLE)), 6)
      |         AS DECIMAL(18,6)) AS lp
      |  FROM docbg JOIN corpus USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v),
      |per AS (
      |  SELECT doc_id, SUM(dc) AS n_bigrams,
      |    CAST(SUM(dc * lp) AS DOUBLE) / SUM(dc) AS avg_logp
      |  FROM scored GROUP BY 1)
      |SELECT d.doc_id, coalesce(n_bigrams, 0L) AS n_bigrams, avg_logp
      |FROM documents d LEFT JOIN per USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Spark-SQL face of Sampling.ccnetBucketsQuery (x159): the x67 LM
    * body plus the WINDOW form of the engine's distributed rank —
    * x150's strategy equivalence, value-identical. */
  private def ccnetSparkSql: String = {
    val b = Sampling.CcnetBuckets
    s"""WITH toks AS (
       |  SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w FROM documents),
       |bg AS (
       |  SELECT doc_id, substring_index(bb, ' ', 1) AS w1,
       |         substring_index(bb, ' ', -1) AS w2
       |  FROM toks LATERAL VIEW explode(word_shingles_all(w, 2)) t AS bb),
       |docbg AS (SELECT doc_id, w1, w2, COUNT(1) AS dc FROM bg GROUP BY 1, 2, 3),
       |corpus AS (SELECT w1, w2, SUM(dc) AS c12 FROM docbg GROUP BY 1, 2),
       |ctx AS (SELECT w1, SUM(c12) AS c1 FROM corpus GROUP BY 1),
       |v AS (SELECT COUNT(DISTINCT term) AS v
       |      FROM toks LATERAL VIEW explode(w) t AS term),
       |scored AS (
       |  SELECT doc_id, dc,
       |    CAST(round(ln(CAST(c12 + 1L AS DOUBLE) / CAST(c1 + v AS DOUBLE)), 6)
       |         AS DECIMAL(18,6)) AS lp
       |  FROM docbg JOIN corpus USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v),
       |per AS (
       |  SELECT doc_id, SUM(dc) AS n_bigrams,
       |    CAST(SUM(dc * lp) AS DOUBLE) / SUM(dc) AS avg_logp
       |  FROM scored GROUP BY 1),
       |ranked AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY avg_logp, doc_id) AS BIGINT) AS rank,
       |    CAST(COUNT(1) OVER () AS BIGINT) AS n
       |  FROM per WHERE avg_logp IS NOT NULL)
       |SELECT d.doc_id, coalesce(p.n_bigrams, 0L) AS n_bigrams,
       |  p.avg_logp, r.rank,
       |  CAST(($b * (r.rank - 1)) div r.n AS BIGINT) AS bucket
       |FROM documents d
       |LEFT JOIN per p USING (doc_id)
       |LEFT JOIN ranked r ON d.doc_id = r.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Spark-SQL twin of TextAnalysis.pmiQuery (x70). */
  private def pmiSparkSql: String =
    s"""WITH toks AS (
       |  SELECT filter(split(text, ' '), x -> x != '') AS w FROM documents),
       |bg AS (
       |  SELECT substring_index(b, ' ', 1) AS w1, substring_index(b, ' ', -1) AS w2
       |  FROM toks LATERAL VIEW explode(word_shingles_all(w, 2)) t AS b),
       |pc AS (SELECT w1, w2, COUNT(1) AS c12 FROM bg GROUP BY 1, 2),
       |tot AS (SELECT SUM(c12) AS t FROM pc),
       |marg AS (
       |  SELECT w1, w2, c12,
       |    SUM(c12) OVER (PARTITION BY w1) AS c1,
       |    SUM(c12) OVER (PARTITION BY w2) AS c2
       |  FROM pc)
       |SELECT w1, w2, c12,
       |  CAST(CAST(round(ln((CAST(c12 AS DOUBLE) / c1) * (CAST(t AS DOUBLE) / c2)), 6)
       |            AS DECIMAL(18,6)) AS DOUBLE) AS pmi
       |FROM marg CROSS JOIN tot
       |WHERE c12 >= ${TextAnalysis.PmiMinCount}
       |ORDER BY pmi DESC, w1, w2
       |LIMIT ${TextAnalysis.PmiTopN}""".stripMargin

  private def samplingMixSql: String = {
    val rates = Sampling.mixRates.toSeq.sortBy(_._1)
      .map { case (src, r) => s"WHEN '$src' THEN CAST($r AS DOUBLE)" }.mkString(" ")
    s"""SELECT doc_id, source FROM documents
       |WHERE ${sparkBucketSql("mix")}
       |      < (CASE source $rates ELSE CAST(1.0 AS DOUBLE) END) * ${Sampling.BucketSpace}
       |ORDER BY doc_id""".stripMargin
  }

  /** Spark-SQL face of TextSearch.bm25Query, generated from the same
    * query set and constants. Dialect diffs from the DuckDB twin only:
    * split/filter/size/explode for the list ops. */
  private def bm25Sql: String = {
    val qvals = TextSearch.demoQueries.flatMap { case (qid, text) =>
      text.split(" ").filter(_.nonEmpty).distinct.map(t => s"($qid, '$t')")
    }.mkString(", ")
    val k1 = TextSearch.DefaultK1
    val b = TextSearch.DefaultB
    def d(x: Double) = s"CAST($x AS DOUBLE)"
    s"""WITH q (query_id, term) AS (SELECT * FROM VALUES $qvals),
       |dl AS (
       |  SELECT doc_id, CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT) AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT COUNT(1) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(1) AS avgdl
       |  FROM dl),
       |tf AS (
       |  SELECT doc_id, term, COUNT(1) AS tf
       |  FROM (SELECT doc_id, explode(filter(split(text, ' '), x -> x <> '')) AS term
       |        FROM documents)
       |  WHERE term IN (SELECT term FROM q)
       |  GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(1) AS df FROM tf GROUP BY term),
       |contrib AS (
       |  SELECT q.query_id, tf.doc_id,
       |    CAST(round(
       |      ln(1 + (stats.n_docs - df.df + ${d(0.5)}) / (df.df + ${d(0.5)})) *
       |      (tf.tf * ${d(k1 + 1)}) /
       |      (tf.tf + ${d(k1)} * (1 - ${d(b)} + ${d(b)} * dl.dl / stats.avgdl)),
       |      6) AS DECIMAL(18,6)) AS c
       |  FROM q JOIN tf ON q.term = tf.term
       |  JOIN df ON q.term = df.term
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN stats),
       |scored AS (
       |  SELECT query_id, doc_id, CAST(SUM(c) AS DOUBLE) AS score
       |  FROM contrib GROUP BY query_id, doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Spark-SQL face of Sessionize.sessionQuery: the lag/cumsum window
    * pair a SQL analyst writes. */
  private def sessionSql: String =
    s"""WITH o AS (
       |  SELECT user_id, event_id, ts, value,
       |    CASE WHEN lag(unix_micros(ts))
       |           OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       |         OR unix_micros(ts) - lag(unix_micros(ts))
       |           OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |           > ${Sessionize.DefaultGapUs}
       |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS new_s
       |  FROM events),
       |s AS (
       |  SELECT user_id, ts, value,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
       |  FROM o)
       |SELECT user_id, session_idx, COUNT(1) AS n_events,
       |       MIN(ts) AS session_start, MAX(ts) AS session_end,
       |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
       |FROM s GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin

  /** Spark-SQL face of Linkage.fuzzyQuery: the cross join + threshold a
    * SQL user writes (the DataFrame face reaches the same rows through
    * deletion-neighborhood blocking — result-identity IS the recall
    * proof at this scale). */
  private def fuzzySql: String = {
    val probes = Linkage.fuzzyProbes
      .map { case (id, p) => s"($id, '${p.replace("'", "''")}')" }.mkString(", ")
    s"""WITH p (probe_id, probe) AS (SELECT * FROM VALUES $probes),
       |n AS (SELECT DISTINCT p_name FROM part)
       |SELECT p.probe_id, p.probe, n.p_name, levenshtein(p.probe, n.p_name) AS dist
       |FROM p CROSS JOIN n
       |WHERE levenshtein(p.probe, n.p_name) <= 2
       |ORDER BY probe_id, dist, p_name""".stripMargin
  }

  /** Spark-SQL face of Sampling.stratifiedQuery. */
  private def stratifiedSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, source, ${sparkBucketSql("strat")} AS bucket
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, source,
       |         row_number() OVER (PARTITION BY source ORDER BY bucket, doc_id) AS rn
       |  FROM b)
       |SELECT doc_id, source FROM r WHERE rn <= ${Sampling.StratifiedN} ORDER BY doc_id""".stripMargin

  /** The x01/x44 selection: exact dedup grouped on text. */
  /** Shared by x16 (broadcast exact semi-join) and x55 (bloom-prefiltered
    * probe): one report, two physical strategies. */
  private def decontaminateSparkSql: String =
    """WITH refg AS (
      |  SELECT DISTINCT gram FROM documents
      |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), 4)) t AS gram
      |  WHERE source IN ('src0', 'src1')),
      |cand AS (SELECT doc_id, text FROM documents WHERE source NOT IN ('src0', 'src1')),
      |candg AS (
      |  SELECT doc_id, gram FROM cand
      |  LATERAL VIEW explode(word_shingles_all(filter(split(text, ' '), x -> x != ''), 4)) t AS gram),
      |hits AS (
      |  SELECT doc_id, COUNT(1) AS n_hit_spans FROM candg JOIN refg USING (gram) GROUP BY doc_id)
      |SELECT c.doc_id,
      |  CAST(greatest(size(filter(split(text, ' '), x -> x != '')) - 3, 0) AS BIGINT) AS n_spans,
      |  coalesce(n_hit_spans, 0L) AS n_hit_spans
      |FROM cand c LEFT JOIN hits USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Spark-SQL twin of Sampling.tokenBudgetQuery (x56): the per-source
    * running-sum window — the single-task-per-source plan the engine
    * face's distributed prefix scan replaces. */
  private def tokenBudgetSparkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, source, n_tokens, cum_tokens,
       |  cum_tokens - n_tokens < ${Sampling.TokenBudgetPerSource} AS kept
       |FROM c ORDER BY doc_id""".stripMargin

  /** Spark-SQL twin of TextAnalysis.ngramLmQuery (x57). */
  private def ngramLmSparkSql: String =
    s"""WITH big AS (
       |  SELECT bg FROM documents
       |  LATERAL VIEW explode(word_shingles_all(filter(split(text, ' '), x -> x != ''), 2)) t AS bg),
       |pc AS (
       |  SELECT substring_index(bg, ' ', 1) AS w1, substring_index(bg, ' ', -1) AS w2,
       |         COUNT(1) AS cnt
       |  FROM big GROUP BY 1, 2)
       |SELECT w1, w2, cnt,
       |  COUNT(1) OVER (PARTITION BY w1) AS n_right,
       |  COUNT(1) OVER (PARTITION BY w2) AS n_left
       |FROM pc
       |ORDER BY cnt DESC, w1, w2
       |LIMIT ${TextAnalysis.NgramLmTopN}""".stripMargin

  /** Spark-SQL twin of IntervalJoin.intervalCountQuery (x59): the
    * declarative BETWEEN join a SQL user writes — Spark plans it as a
    * nested-loop join, which is exactly why the engine face bins.
    * Result-identical at the spec's scale; at corpus scale use the
    * DataFrame face. */
  private def intervalJoinSparkSql: String =
    s"""WITH iv AS (
       |  SELECT o_orderkey, to_date(o_orderdate) AS d0,
       |    date_add(to_date(o_orderdate),
       |             CAST(o_orderkey % ${IntervalJoin.WindowModDays} AS INT)) AS d1
       |  FROM orders),
       |pts AS (
       |  SELECT to_date(l_shipdate) AS d FROM lineitem
       |  WHERE l_quantity >= ${IntervalJoin.PointQuantityMin}),
       |hits AS (
       |  SELECT o_orderkey, COUNT(1) AS nh
       |  FROM iv JOIN pts ON pts.d BETWEEN iv.d0 AND iv.d1
       |  GROUP BY o_orderkey)
       |SELECT i.o_orderkey, coalesce(nh, 0L) AS n_hits
       |FROM iv i LEFT JOIN hits USING (o_orderkey)
       |ORDER BY o_orderkey""".stripMargin

  /** Spark-SQL twin of Dedup.snmQuery (x64): the same normalize-sort
    * key via the registered normalize_text function, rank-window
    * candidates (non-equi rank join — the declarative face; the
    * DataFrame face explodes offsets into an equi-join), and x46's
    * integer Jaccard accept. */
  private def snmSparkSql: String =
    s"""WITH ranked AS (
       |  SELECT doc_id,
       |    ROW_NUMBER() OVER (ORDER BY normalize_text(text), doc_id) AS rk
       |  FROM documents),
       |cand AS (
       |  SELECT least(a.doc_id, b.doc_id) AS d1, greatest(a.doc_id, b.doc_id) AS d2
       |  FROM ranked a JOIN ranked b ON b.rk - a.rk BETWEEN 1 AND ${Dedup.SnmWindow - 1}),
       |grams AS (
       |  SELECT doc_id, gram FROM documents
       |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), 3)) t AS gram),
       |gsz AS (SELECT doc_id, COUNT(1) AS n FROM grams GROUP BY doc_id),
       |vint AS (
       |  SELECT c.d1, c.d2, COUNT(1) AS inter
       |  FROM cand c JOIN grams g1 ON g1.doc_id = c.d1
       |              JOIN grams g2 ON g2.doc_id = c.d2 AND g2.gram = g1.gram
       |  GROUP BY c.d1, c.d2)
       |SELECT v.d1, v.d2, v.inter, s1.n + s2.n - v.inter AS uni
       |FROM vint v JOIN gsz s1 ON s1.doc_id = v.d1 JOIN gsz s2 ON s2.doc_id = v.d2
       |WHERE v.inter * 2 >= s1.n + s2.n - v.inter
       |ORDER BY d1, d2""".stripMargin

  /** Spark-SQL twin of IntervalJoin.topKIntervalQuery (x61): the
    * declarative BETWEEN join + window rank (same nested-loop caveat as
    * the x59 twin; the DataFrame face bins and pre-reduces per day). */
  private def intervalTopKSparkSql: String =
    s"""WITH iv AS (
       |  SELECT o_orderkey, to_date(o_orderdate) AS d0,
       |    date_add(to_date(o_orderdate),
       |             CAST(o_orderkey % ${IntervalJoin.WindowModDays} AS INT)) AS d1
       |  FROM orders),
       |pts AS (
       |  SELECT to_date(l_shipdate) AS d, l_orderkey AS pt_orderkey,
       |         l_linenumber AS pt_linenumber, l_extendedprice AS score
       |  FROM lineitem WHERE l_quantity >= ${IntervalJoin.PointQuantityMin}),
       |ranked AS (
       |  SELECT o_orderkey, pt_orderkey, pt_linenumber, score,
       |         ROW_NUMBER() OVER (PARTITION BY o_orderkey
       |                            ORDER BY score DESC, pt_orderkey, pt_linenumber) AS rank
       |  FROM iv JOIN pts ON pts.d BETWEEN iv.d0 AND iv.d1)
       |SELECT o_orderkey, rank, pt_orderkey, pt_linenumber, score
       |FROM ranked WHERE rank <= ${IntervalJoin.TopKPerInterval}
       |ORDER BY o_orderkey, rank""".stripMargin

  /** Spark-SQL twin of Analytics.madOutlierQuery (x60). */
  private def madOutlierSparkSql: String =
    """WITH base AS (
      |  SELECT event_id, event_type, CAST(value AS DECIMAL(18,4)) AS v
      |  FROM events WHERE value IS NOT NULL),
      |med AS (
      |  SELECT event_type, CAST(percentile(value, 0.5) AS DECIMAL(18,4)) AS med
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
      |dev AS (
      |  SELECT event_id, b.event_type, abs(v - med) AS dv
      |  FROM base b JOIN med USING (event_type)),
      |mad AS (
      |  SELECT event_type, CAST(percentile(CAST(dv AS DOUBLE), 0.5) AS DECIMAL(18,4)) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT event_id, d.event_type
      |FROM dev d JOIN mad USING (event_type)
      |WHERE dv > CAST(4.4478 AS DECIMAL(18,4)) * mad
      |ORDER BY event_id""".stripMargin

  /** Spark-SQL twin of Analytics.winsorQuery (x58). */
  private def winsorSparkSql: String =
    s"""WITH b AS (
       |  SELECT event_type,
       |    CAST(percentile(value, ${Analytics.WinsorLo}) AS DECIMAL(18,4)) AS p_lo,
       |    CAST(percentile(value, ${Analytics.WinsorHi}) AS DECIMAL(18,4)) AS p_hi
       |  FROM events GROUP BY event_type),
       |v AS (
       |  SELECT e.event_type, CAST(value AS DECIMAL(18,4)) AS v, p_lo, p_hi
       |  FROM events e JOIN b USING (event_type)
       |  WHERE value IS NOT NULL)
       |SELECT event_type,
       |  COUNT(v) AS n,
       |  COUNT(CASE WHEN v < p_lo THEN 1 END) AS n_lo,
       |  COUNT(CASE WHEN v > p_hi THEN 1 END) AS n_hi,
       |  CAST(first(p_lo) AS DOUBLE) AS p_lo,
       |  CAST(first(p_hi) AS DOUBLE) AS p_hi,
       |  CAST(SUM(least(greatest(v, p_lo), p_hi)) AS DOUBLE) AS sum_w
       |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin

  private def exactDedupSparkSql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(1) AS n_copies
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  /** Spark-SQL face of Sampling.denseIdQuery: the window form of the same
    * total order (the DataFrame face reaches the identical assignment via
    * range-repartition + zipWithIndex — result-identity across the two
    * PLANS is the point of the twin). */
  private def denseIdsSparkSql: String =
    """SELECT doc_id, source,
      |  CAST(row_number() OVER (ORDER BY source, doc_id) - 1 AS BIGINT) AS dense_id
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Spark-SQL face of SkewTools.saltedJoinQuery: the PLAIN join — salting
    * must be result-invisible, so the twin is the query a user writes
    * before reaching for the salt. */
  private def saltedJoinSparkSql: String =
    """SELECT l_orderkey, l_linenumber, partkey, p_brand
      |FROM (SELECT l_orderkey, l_linenumber, l_partkey AS partkey FROM lineitem) f
      |JOIN (SELECT p_partkey AS partkey, p_brand FROM part) d USING (partkey)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Spark-SQL face of Graph.pageRankQuery: the same five fixed-point
    * integer iterations unrolled as chained CTEs (Spark `div` = DuckDB
    * `//`), over the same x03 candidate-pair edge CTE. Generated from the
    * SAME constants as the DataFrame face and the DuckDB oracle. */
  private def pageRankSparkSql: String = {
    val dp = Graph.PageRankDampingPct
    val units = Graph.RankUnits
    val iters = Graph.PageRankIters
    val iterCtes = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""d$i AS (
         |  SELECT COALESCE(SUM(r.rank), CAST(0 AS BIGINT)) AS ds
         |  FROM $prev r LEFT JOIN deg ON deg.id = r.id WHERE deg.id IS NULL),
         |m$i AS (
         |  SELECT e.v AS id, SUM(r.rank div deg.deg) AS msg
         |  FROM edges e JOIN $prev r ON e.u = r.id JOIN deg ON deg.id = r.id
         |  GROUP BY e.v),
         |r$i AS (
         |  SELECT r.id, CAST(c.base +
         |      ($dp * (d$i.ds div c.n + COALESCE(m$i.msg, CAST(0 AS BIGINT)))) div 100
         |    AS BIGINT) AS rank
         |  FROM $prev r CROSS JOIN d$i CROSS JOIN c
         |  LEFT JOIN m$i ON m$i.id = r.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH grams AS (
       |  SELECT doc_id, lang, gram FROM documents
       |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), 3)) t AS gram),
       |rare AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(1) <= 20),
       |rg AS (SELECT g.doc_id, g.lang, g.gram FROM grams g JOIN rare USING (gram)),
       |pairs AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM rg a JOIN rg b ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |  HAVING COUNT(1) >= 2),
       |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
       |deg AS (SELECT u AS id, COUNT(1) AS deg FROM edges GROUP BY u),
       |c AS (SELECT COUNT(1) AS n, $units div COUNT(1) AS unit,
       |             ((100 - $dp) * ($units div COUNT(1))) div 100 AS base
       |      FROM documents),
       |r0 AS (SELECT doc_id AS id, CAST(c.unit AS BIGINT) AS rank
       |       FROM documents CROSS JOIN c),
       |$iterCtes
       |SELECT id AS doc_id, CAST(rank AS DOUBLE) / CAST($units AS DOUBLE) AS rank
       |FROM r$iters ORDER BY doc_id""".stripMargin
  }

  /** The A-ES score expression shared by x40/x42 — identical double ops
    * to Sampling.weightedSample: u = (bucket+1)/2^32, pow(u, 1/weight). */
  private def aesScoreSql(salt: String): String =
    s"POWER(CAST(${sparkBucketSql(salt)} + 1 AS DOUBLE) / ${Sampling.BucketSpace}, " +
      "CAST(1 AS DOUBLE) / CAST(n_tokens AS DOUBLE))"

  /** Spark-SQL face of Sampling.weightedSampleQuery: the ORDER BY/LIMIT
    * form of the global A-ES top-n. */
  private def weightedSampleSparkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |top AS (
       |  SELECT doc_id, source FROM (
       |    SELECT doc_id, source, ${aesScoreSql("aes")} AS sc
       |    FROM t WHERE n_tokens > 0)
       |  ORDER BY sc DESC, doc_id LIMIT ${Sampling.WeightedN})
       |SELECT doc_id, source FROM top ORDER BY doc_id""".stripMargin

  /** Spark-SQL face of Sampling.weightedGroupSampleQuery: the window form
    * of the per-group A-ES top-n (the DataFrame face runs on a bounded
    * heap aggregator — same selection). */
  private def weightedGroupSparkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, source, ${aesScoreSql("aesg")} AS sc
       |  FROM t WHERE n_tokens > 0),
       |r AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY sc DESC, doc_id) AS rk
       |  FROM s)
       |SELECT doc_id, source FROM r WHERE rk <= ${Sampling.WeightedPerGroupN}
       |ORDER BY doc_id""".stripMargin

  /** Spark-SQL face of Chunking.chunkQuery: the same stride windows via
    * posexplode(sequence)/slice. Empty-token docs are filtered BEFORE the
    * sequence (an empty doc would make sequence(0,-1,48) throw). */
  private def chunkSparkSql: String = {
    val (c, s) = (Chunking.ChunkSize, Chunking.ChunkStride)
    s"""WITH t AS (
       |  SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w FROM documents),
       |nz AS (SELECT doc_id, w FROM t WHERE size(w) > 0),
       |e AS (
       |  SELECT doc_id, pos, slice(w, start + 1, $c) AS win
       |  FROM nz
       |  LATERAL VIEW posexplode(sequence(0, size(w) - 1, $s)) p AS pos, start)
       |SELECT doc_id, CAST(pos AS BIGINT) AS chunk_id,
       |  CAST(size(win) AS BIGINT) AS n_chunk_tokens,
       |  array_join(win, ' ') AS chunk
       |FROM e ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** Spark-SQL face of TextAnalysis.topTermsQuery: the row_number window
    * form of the same per-group top-k (the DataFrame face runs on the
    * bounded term heap — same selection, same tie rule). */
  private def topTermsSparkSql: String =
    s"""WITH toks AS (
       |  SELECT lang, token FROM documents
       |  LATERAL VIEW explode(array_distinct(filter(split(text, ' '), x -> x != ''))) t AS token),
       |d AS (SELECT lang, token, COUNT(1) AS df FROM toks GROUP BY lang, token),
       |r AS (
       |  SELECT lang, token, df,
       |    row_number() OVER (PARTITION BY lang ORDER BY df DESC, token) AS rk
       |  FROM d)
       |SELECT lang, token, df FROM r WHERE rk <= ${TextAnalysis.TopTermsK}
       |ORDER BY lang, df DESC, token""".stripMargin

  /** Spark-SQL face of Analytics.scd2Query: NOT(a <=> b) is the null-safe
    * change test (Spark SQL's IS DISTINCT FROM spelling). */
  /** The x27 history build as a CTE chain ending at `hist` — shared by
    * the x27 and x71 twins (mirror of ExtrasOracle's scd2Cte). */
  private def scd2SparkCte(where: String = ""): String =
    s"""o AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events $where),
      |changes AS (
      |  -- rn = 1 unconditionally: LAG's null sentinel must not swallow
      |  -- an entity whose history STARTS with a null attribute value
      |  SELECT user_id, event_type, ts, event_id FROM o
      |  WHERE rn = 1 OR NOT (event_type <=> prev_type)),
      |hist AS (
      |  SELECT user_id, event_type AS attr, ts AS effective_from,
      |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version
      |  FROM changes)""".stripMargin

  private def scd2Sql: String =
    s"""WITH ${scd2SparkCte()}
      |SELECT user_id, attr, effective_from, effective_to, version,
      |  (effective_to IS NULL) AS is_current
      |FROM hist ORDER BY user_id, version""".stripMargin

  /** Spark-SQL twin of Analytics.pitEnrichQuery (x71): the q21
    * correlated max_by lookup against the shared x27 history CTE built
    * over the non-click dimension log (Spark has no ASOF syntax; unique
    * at-or-before winner by the same no-(user, ts)-ties argument). */
  private def pitEnrichSparkSql: String =
    s"""WITH ${scd2SparkCte("WHERE event_type != 'click'")}
       |SELECT c.event_id, c.user_id, c.ts,
       |  (SELECT max_by(h.attr, h.effective_from) FROM hist h
       |   WHERE h.user_id = c.user_id AND h.effective_from <= c.ts) AS attr
       |FROM events c
       |WHERE c.event_type = 'click' AND c.user_id IS NOT NULL AND c.ts IS NOT NULL
       |ORDER BY c.event_id""".stripMargin

  /** Spark-SQL face of Analytics.percentileQuery. */
  private def percentileSql: String = {
    val cols = Analytics.percentileSpec.map { case (name, p) =>
      s"CAST(CAST(percentile(value, CAST($p AS DOUBLE)) AS DECIMAL(18,4)) AS DOUBLE) AS $name"
    }.mkString(",\n  ")
    s"""SELECT event_type,
       |  $cols
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** Spark-SQL face of Analytics.pivotQuery: the SQL PIVOT clause with
    * the same explicit year list (`FOR yr IN (...)` — plan-time columns,
    * no distinct-values job, like the DataFrame face). */
  private def pivotSql: String = {
    val inList = Analytics.pivotYears.map(y => s"'y$y' AS y$y").mkString(", ")
    s"""SELECT * FROM (
       |  SELECT n_name, concat('y', year(o_orderdate)) AS yr,
       |         CAST(o_totalprice AS DECIMAL(18,4)) AS price
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey)
       |PIVOT (CAST(SUM(price) AS DOUBLE) FOR yr IN ($inList))
       |ORDER BY n_name""".stripMargin
  }

  /** Spark-SQL face of Analytics.unpivotQuery: the UNPIVOT clause over
    * the same PIVOT subquery — the wide→long round trip in SQL text. */
  private def unpivotSql: String = {
    val inList = Analytics.pivotYears.map(y => s"'y$y' AS y$y").mkString(", ")
    // unaliased list: the name column takes the column name itself
    val unpivotList = Analytics.pivotYears.map(y => s"y$y").mkString(", ")
    s"""SELECT n_name, yr, revenue FROM (
       |  SELECT * FROM (
       |    SELECT n_name, concat('y', year(o_orderdate)) AS yr2,
       |           CAST(o_totalprice AS DECIMAL(18,4)) AS price
       |    FROM orders
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN nation ON c_nationkey = n_nationkey)
       |  PIVOT (CAST(SUM(price) AS DOUBLE) FOR yr2 IN ($inList)))
       |UNPIVOT (revenue FOR yr IN ($unpivotList))
       |WHERE revenue IS NOT NULL
       |ORDER BY n_name, yr""".stripMargin
  }

  /** Spark-SQL face of Analytics.movingAvgQuery. The divisor counts the
    * DECIMAL image, like the DataFrame face — a NaN nulls out of both
    * the sum and the count. */
  private def movingAvgSql: String =
    s"""SELECT event_id, user_id, ts,
       |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
       |    / COUNT(CAST(value AS DECIMAL(18,4))) OVER w AS mavg
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY unix_micros(ts)
       |             RANGE BETWEEN ${Analytics.MovingAvgWindowUs} PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin

  /** Spark-SQL face of Analytics.anomalyQuery. */
  private def anomalySql: String =
    """WITH s AS (
      |  SELECT event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(value*value AS DECIMAL(18,4))) AS DOUBLE) AS s2,
      |    COUNT(value) AS n
      |  FROM events GROUP BY event_type)
      |SELECT e.event_id, e.event_type, e.value,
      |  CAST(CAST((e.value - s1/n) / sqrt(s2/n - (s1/n)*(s1/n)) AS DECIMAL(18,4))
      |       AS DOUBLE) AS z
      |FROM events e JOIN s USING (event_type)
      |WHERE abs(e.value - s1/n) > """.stripMargin +
      s"${Analytics.AnomalyK} * sqrt(s2/n - (s1/n)*(s1/n))\nORDER BY event_id"

  /** Spark-SQL face of Analytics.funnelQuery — same constants. */
  private def funnelSql: String = {
    val w = Analytics.FunnelWindowUs
    val stages = Analytics.FunnelStages
    val ctes = stages.zipWithIndex.map { case (stage, i) =>
      if (i == 0)
        s"s0 AS (SELECT user_id, MIN(ts) AS st FROM events WHERE event_type = '$stage' GROUP BY user_id)"
      else
        s"""s$i AS (
           |  SELECT e.user_id, MIN(e.ts) AS st FROM events e JOIN s${i - 1} p ON e.user_id = p.user_id
           |  WHERE e.event_type = '$stage' AND e.ts > p.st
           |    AND unix_micros(e.ts) - unix_micros(p.st) <= $w GROUP BY e.user_id)""".stripMargin
    }.mkString(",\n")
    val counts = stages.zipWithIndex.map { case (stage, i) =>
      s"SELECT '${Analytics.stageLabel(i, stage)}' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s$i"
    }.mkString("\nUNION ALL ")
    s"WITH $ctes\nSELECT * FROM (\n$counts)\nORDER BY stage"
  }

  /** Spark-SQL face of Analytics.retentionQuery. */
  private def retentionSql: String =
    """WITH f AS (
      |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      |  FROM events GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT e.user_id, f.cohort_week,
      |    CAST(datediff(CAST(date_trunc('week', e.ts) AS DATE), f.cohort_week) / 7 AS INT) AS week_k
      |  FROM events e JOIN f ON e.user_id = f.user_id)
      |SELECT cohort_week, week_k, CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM activity GROUP BY cohort_week, week_k
      |ORDER BY cohort_week, week_k""".stripMargin

  /** Spark-SQL face of Sampling.mixWeightedQuery: the weights TABLE as a
    * VALUES CTE left-joined onto the corpus — the SQL a user types for
    * the broadcast-weights form; rates from the SAME map. */
  private def samplingMixWeightedSql: String = {
    val rows = Sampling.weightedMixRates.toSeq.sortBy(_._1)
      .map { case (src, r) => s"('$src', CAST($r AS DOUBLE))" }.mkString(", ")
    s"""WITH w (source, rate) AS (SELECT * FROM VALUES $rows)
       |SELECT d.doc_id, d.source FROM documents d
       |LEFT JOIN w ON d.source = w.source
       |WHERE ${sparkBucketSql("mixw")}
       |      < coalesce(w.rate, CAST(${Sampling.weightedMixDefault} AS DOUBLE))
       |        * ${Sampling.BucketSpace}
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The whitespace lexer as SQL text — one definition for every r13
    * twin (the exact image of TextAnalysis.wsTokens). A `def`, not a
    * `val`: the extrasSql map initializes before anything declared
    * below it, and a not-yet-assigned val would interpolate "null"
    * into every twin text. */
  private def wSql = "filter(split(text, ' '), x -> x != '')"

  /** A Scala regex constant as a spark.sql string literal: the SQL
    * parser processes backslash escapes, so each backslash doubles. */
  private def sqlRe(re: String): String = re.replace("\\", "\\\\")

  /** Spark-SQL face of TextAnalysis.funnelQuery (x79): the same rule
    * texts (interpolated verbatim from FunnelStages, like the engine
    * face and the DuckDB twin), first-failed-stage CASE, window cumsum
    * over the |rules|-row aggregate. */
  private def funnelSparkSql: String = {
    val cases = TextAnalysis.FunnelStages.zipWithIndex
      .map { case ((_, pred), i) => s"WHEN $pred THEN ${i + 1}" }
      .mkString(" ")
    val values = TextAnalysis.FunnelStages.zipWithIndex
      .map { case ((name, _), i) => s"(${i + 1}, '$name')" }
      .mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, text, $wSql AS w FROM documents),
       |tokc AS (
       |  SELECT doc_id, term, COUNT(1) AS c FROM toks
       |  LATERAL VIEW explode(w) t AS term GROUP BY doc_id, term),
       |tokstats AS (
       |  SELECT doc_id, SUM(c) AS n_tok, COUNT(1) AS n_uniq_tok
       |  FROM tokc GROUP BY doc_id),
       |gramc AS (
       |  SELECT doc_id, term, COUNT(1) AS c FROM toks
       |  LATERAL VIEW explode(word_shingles_all(w, 2)) t AS term
       |  GROUP BY doc_id, term),
       |gramstats AS (
       |  SELECT doc_id, SUM(c) AS n_2gram, MAX(c) AS top_2gram_n
       |  FROM gramc GROUP BY doc_id),
       |sig AS (
       |  SELECT t.doc_id,
       |    CAST(size(w) AS BIGINT) AS n_tokens,
       |    CAST(length(text) - regexp_count(text, ' ') AS BIGINT) AS n_nonspace,
       |    coalesce(n_tok, 0L) AS n_tok,
       |    coalesce(n_uniq_tok, 0L) AS n_uniq_tok,
       |    coalesce(n_2gram, 0L) AS n_2gram,
       |    coalesce(top_2gram_n, 0L) AS top_2gram_n
       |  FROM toks t LEFT JOIN tokstats USING (doc_id)
       |  LEFT JOIN gramstats USING (doc_id)),
       |dropped AS (SELECT CASE $cases END AS stage FROM sig),
       |c AS (SELECT stage, COUNT(1) AS c FROM dropped
       |  WHERE stage IS NOT NULL GROUP BY stage),
       |st AS (SELECT * FROM VALUES $values AS t(stage, rule)),
       |tot AS (SELECT COUNT(1) AS n_total FROM sig),
       |f AS (
       |  SELECT st.stage, st.rule, coalesce(c.c, 0L) AS n_dropped, tot.n_total
       |  FROM st LEFT JOIN c ON c.stage = st.stage CROSS JOIN tot)
       |SELECT CAST(stage AS BIGINT) AS stage, rule,
       |  n_total - coalesce(SUM(n_dropped) OVER (ORDER BY stage
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS n_in,
       |  n_dropped,
       |  n_total - coalesce(SUM(n_dropped) OVER (ORDER BY stage
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)
       |    - n_dropped AS n_out
       |FROM f ORDER BY stage""".stripMargin
  }

  /** Spark-SQL face of Analytics.trendQuery (x80): exact moments (x as
    * the integer day offset from the global min day via a scalar
    * subquery, y in DECIMAL(18,4)), each moment cast to DOUBLE once,
    * identical closed-form parenthesization, nullif degenerate guard. */
  private def trendSparkSql: String = {
    val den = """nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0D)"""
      .stripMargin
    s"""WITH e AS (
       |  SELECT event_type,
       |    CAST(datediff(to_date(ts),
       |      (SELECT MIN(to_date(ts)) FROM events
       |       WHERE value IS NOT NULL AND ts IS NOT NULL)) AS BIGINT) AS x,
       |    CAST(value AS DECIMAL(18,4)) AS y
       |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
       |m AS (
       |  SELECT event_type, COUNT(1) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
       |    CAST(SUM(y) AS DOUBLE) AS sy,
       |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
       |    CAST(SUM(y * y) AS DOUBLE) AS syy
       |  FROM e GROUP BY event_type)
       |SELECT event_type, n,
       |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |    / $den, 6) AS slope,
       |  round((sy * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sxy)
       |    / $den, 6) AS intercept,
       |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |    * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |    / ($den
       |       * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r2
       |FROM m ORDER BY event_type""".stripMargin
  }

  /** Spark-SQL face of TextAnalysis.tokenEntropyQuery (x81): per-doc
    * window over the (doc, term) aggregate, ln term rounded at 6 into
    * DECIMAL(18,6) before the exact decimal dot product. */
  private def tokenEntropySparkSql: String =
    s"""WITH tc AS (
       |  SELECT doc_id, t, COUNT(1) AS c FROM documents
       |  LATERAL VIEW explode($wSql) tt AS t
       |  GROUP BY doc_id, t),
       |per AS (
       |  SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM tc),
       |lp AS (
       |  SELECT doc_id, c, n,
       |    CAST(round(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 6)
       |         AS DECIMAL(18,6)) AS lp
       |  FROM per),
       |agg AS (
       |  SELECT doc_id, MIN(n) AS n_tokens, COUNT(1) AS n_types,
       |    CAST(SUM(c * lp) AS DOUBLE) / MIN(n) AS entropy
       |  FROM lp GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_tokens, 0L) AS n_tokens,
       |  coalesce(n_types, 0L) AS n_types, entropy
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Spark-SQL face of TextAnalysis.klDriftQuery (x82): source and term
    * marginals as windows over the (source, term) aggregate, the corpus
    * total via one cross-joined 1-row CTE, the x70 ratio-of-ratios ln
    * argument rounded at 6 into DECIMAL(18,6). */
  private def klDriftSparkSql: String =
    s"""WITH tc AS (
       |  SELECT source, t, COUNT(1) AS c FROM documents
       |  LATERAL VIEW explode($wSql) tt AS t
       |  GROUP BY source, t),
       |tot AS (SELECT SUM(c) AS n FROM tc),
       |w AS (
       |  SELECT source, c,
       |    SUM(c) OVER (PARTITION BY source) AS ns,
       |    SUM(c) OVER (PARTITION BY t) AS ct
       |  FROM tc),
       |lp AS (
       |  SELECT source, c, ns,
       |    CAST(round(ln((CAST(c AS DOUBLE) / ns) * (CAST(n AS DOUBLE) / ct)), 6)
       |         AS DECIMAL(18,6)) AS lp
       |  FROM w CROSS JOIN tot)
       |SELECT source, MIN(ns) AS n_tokens, COUNT(1) AS n_types,
       |  CAST(SUM(c * lp) AS DOUBLE) / MIN(ns) AS kl
       |FROM lp GROUP BY source ORDER BY source""".stripMargin

  /** Spark-SQL face of Sketches.quantilesExactQuery (x85): histogram
    * once, TOTAL derived from the histogram, discrete order statistics
    * at integer indices (n+1) div 2 and (19n+19) div 20. */
  private def quantilesExactSparkSql: String =
    """WITH hist AS (
      |  SELECT l_returnflag AS grp, l_extendedprice AS v, COUNT(1) AS c
      |  FROM lineitem GROUP BY l_returnflag, l_extendedprice),
      |allh AS (
      |  SELECT grp, v, c FROM hist
      |  UNION ALL
      |  SELECT 'TOTAL' AS grp, v, SUM(c) AS c FROM hist GROUP BY v),
      |cum AS (
      |  SELECT grp, v,
      |    SUM(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
      |    SUM(c) OVER (PARTITION BY grp) AS n
      |  FROM allh)
      |SELECT grp, MAX(n) AS n,
      |  MIN(CASE WHEN cum >= (n + 1) div 2 THEN v END) AS p50,
      |  MIN(CASE WHEN cum >= (19 * n + 19) div 20 THEN v END) AS p95
      |FROM cum GROUP BY grp ORDER BY grp""".stripMargin

  /** Spark-SQL face of Sketches.freqExactQuery (x86): one bigram
    * aggregate, TOTAL level derived from it, the same integer heaviness
    * test count·share ≥ group weight. */
  private def freqExactSparkSql: String =
    s"""WITH counts AS (
       |  SELECT lang, item, COUNT(1) AS c FROM documents
       |  LATERAL VIEW explode(word_shingles_all($wSql, 2)) t AS item
       |  GROUP BY lang, item),
       |allc AS (
       |  SELECT lang AS grp, item, c FROM counts
       |  UNION ALL
       |  SELECT 'TOTAL' AS grp, item, SUM(c) AS c FROM counts GROUP BY item),
       |m AS (SELECT grp, item, c, SUM(c) OVER (PARTITION BY grp) AS n FROM allc)
       |SELECT grp, n, item, c AS freq FROM m
       |WHERE c * ${Sketches.FreqShare} >= n
       |ORDER BY grp, freq DESC, item""".stripMargin

  /** Spark-SQL face of DocPrep.snapshotDiffQuery (x88): the same
    * deterministically-derived old/new snapshots (mod-17/19/23
    * residues), full outer join, per-source status rollup. */
  private def snapshotDiffSparkSql: String =
    s"""WITH o AS (
       |  SELECT doc_id, source AS src_o,
       |    CASE WHEN doc_id % 23 = 0
       |      THEN array_join(slice($wSql, 1, greatest(size($wSql) - 1, 0)), ' ')
       |      ELSE text END AS text_o
       |  FROM documents WHERE doc_id % 17 != 0),
       |n AS (
       |  SELECT doc_id, source AS src_n, text AS text_n
       |  FROM documents WHERE doc_id % 19 != 0),
       |j AS (
       |  SELECT coalesce(src_n, src_o) AS source,
       |    CASE WHEN text_o IS NULL THEN 'added'
       |         WHEN text_n IS NULL THEN 'removed'
       |         WHEN text_o != text_n THEN 'changed'
       |         ELSE 'unchanged' END AS status
       |  FROM o FULL OUTER JOIN n USING (doc_id))
       |SELECT source,
       |  SUM(CASE WHEN status = 'added' THEN 1L ELSE 0L END) AS n_added,
       |  SUM(CASE WHEN status = 'removed' THEN 1L ELSE 0L END) AS n_removed,
       |  SUM(CASE WHEN status = 'changed' THEN 1L ELSE 0L END) AS n_changed,
       |  SUM(CASE WHEN status = 'unchanged' THEN 1L ELSE 0L END) AS n_unchanged
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** Spark-SQL face of TextAnalysis.boilerplateQuery (x89): the
    * document-frequency cut over the DISTINCT (doc, gram) aggregate,
    * corpus doc count cross-joined, per-doc recount via left join. */
  private def boilerplateSparkSql: String =
    s"""WITH pos AS (
       |  SELECT doc_id, gram FROM documents
       |  LATERAL VIEW explode(word_shingles_all($wSql, 3)) t AS gram),
       |df AS (
       |  SELECT gram, COUNT(1) AS df
       |  FROM (SELECT DISTINCT doc_id, gram FROM pos) GROUP BY gram),
       |nd AS (SELECT COUNT(1) AS n_docs FROM documents),
       |common AS (
       |  SELECT gram, 1L AS hit FROM df CROSS JOIN nd
       |  WHERE df * ${TextAnalysis.BoilerDocShare} >= n_docs),
       |per AS (
       |  SELECT doc_id, COUNT(1) AS n_grams,
       |    SUM(coalesce(hit, 0L)) AS n_boiler
       |  FROM pos LEFT JOIN common USING (gram) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_grams, 0L) AS n_grams,
       |  coalesce(n_boiler, 0L) AS n_boiler,
       |  CASE WHEN n_grams > 0
       |    THEN CAST(n_boiler AS DOUBLE) / n_grams END AS boiler_share
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Spark-SQL face of TextAnalysis.noveltyQuery (x90): first-seen
    * owner per gram over the distinct-gram stream, per-doc share. */
  private def noveltySparkSql: String =
    s"""WITH dg AS (
       |  SELECT doc_id, gram FROM documents
       |  LATERAL VIEW explode(word_shingles($wSql, 3)) t AS gram),
       |fs AS (SELECT gram, MIN(doc_id) AS first_doc FROM dg GROUP BY gram),
       |per AS (
       |  SELECT dg.doc_id, COUNT(1) AS n_grams,
       |    SUM(CASE WHEN fs.first_doc = dg.doc_id THEN 1L ELSE 0L END) AS n_new
       |  FROM dg JOIN fs ON dg.gram = fs.gram GROUP BY dg.doc_id)
       |SELECT d.doc_id, coalesce(n_grams, 0L) AS n_grams,
       |  coalesce(n_new, 0L) AS n_new,
       |  CASE WHEN n_grams > 0
       |    THEN CAST(n_new AS DOUBLE) / n_grams END AS novelty
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Spark-SQL face of TextAnalysis.sourceOverlapQuery (x95): exact
    * Jaccard between source gram sets; the |sources|² grid left-joined
    * so absent intersections read 0. */
  private def sourceOverlapSparkSql: String =
    s"""WITH sg AS (
       |  SELECT DISTINCT source, gram FROM documents
       |  LATERAL VIEW explode(word_shingles($wSql, 3)) t AS gram),
       |sizes AS (SELECT source, COUNT(1) AS n FROM sg GROUP BY source),
       |inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b, COUNT(1) AS n_inter
       |  FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
       |  GROUP BY a.source, b.source),
       |grid AS (
       |  SELECT a.source AS source_a, a.n AS n_a,
       |         b.source AS source_b, b.n AS n_b
       |  FROM sizes a CROSS JOIN sizes b WHERE a.source < b.source)
       |SELECT g.source_a, g.source_b, n_a, n_b,
       |  coalesce(n_inter, 0L) AS n_inter,
       |  n_a + n_b - coalesce(n_inter, 0L) AS n_union,
       |  CAST(coalesce(n_inter, 0L) AS DOUBLE)
       |    / (n_a + n_b - coalesce(n_inter, 0L)) AS jaccard
       |FROM grid g LEFT JOIN inter i
       |  ON g.source_a = i.source_a AND g.source_b = i.source_b
       |ORDER BY g.source_a, g.source_b""".stripMargin

  /** Spark-SQL face of TextAnalysis.growthCurveQuery (x96): per-bucket
    * rollup + first-seen grams per bucket + running distinct total. */
  private def growthSparkSql: String =
    s"""WITH pb AS (
       |  SELECT CAST(FLOOR(doc_id / ${TextAnalysis.GrowthBucketDocs}) AS BIGINT)
       |      AS bucket,
       |    COUNT(1) AS n_docs,
       |    SUM(CAST(size($wSql) AS BIGINT)) AS n_tokens
       |  FROM documents GROUP BY 1),
       |fs AS (
       |  SELECT gram, MIN(doc_id) AS first_doc FROM documents
       |  LATERAL VIEW explode(word_shingles($wSql, 3)) t AS gram
       |  GROUP BY gram),
       |ng AS (
       |  SELECT CAST(FLOOR(first_doc / ${TextAnalysis.GrowthBucketDocs}) AS BIGINT)
       |      AS bucket,
       |    COUNT(1) AS n_new_grams
       |  FROM fs GROUP BY 1)
       |SELECT pb.bucket, n_docs, n_tokens,
       |  coalesce(n_new_grams, 0L) AS n_new_grams,
       |  SUM(coalesce(n_new_grams, 0L)) OVER (ORDER BY pb.bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_grams
       |FROM pb LEFT JOIN ng ON pb.bucket = ng.bucket
       |ORDER BY pb.bucket""".stripMargin

  /** Spark-SQL face of DocPrep.piiQuery (x97): the same deterministic
    * plant (mod-5/7/11 residues), regexp_count over the shared regex
    * constants, fixed-order sequential redaction. */
  private def piiSparkSql: String = {
    val (em, ph, ip) =
      (sqlRe(DocPrep.PiiEmailRe), sqlRe(DocPrep.PiiPhoneRe), sqlRe(DocPrep.PiiIpRe))
    s"""WITH planted AS (
       |  SELECT doc_id, concat(text,
       |    CASE WHEN doc_id % 5 = 0
       |      THEN concat(' contact user', CAST(doc_id AS STRING),
       |                  '@example.com ok') ELSE '' END,
       |    CASE WHEN doc_id % 7 = 0
       |      THEN concat(' call 555-867-',
       |                  lpad(CAST(doc_id % 10000 AS STRING), 4, '0'),
       |                  ' now') ELSE '' END,
       |    CASE WHEN doc_id % 11 = 0
       |      THEN concat(' host 10.', CAST(doc_id % 256 AS STRING),
       |                  '.0.1 up') ELSE '' END) AS text
       |  FROM documents),
       |a AS (
       |  SELECT doc_id,
       |    CAST(regexp_count(text, '$em') AS BIGINT) AS n_email,
       |    CAST(regexp_count(text, '$ph') AS BIGINT) AS n_phone,
       |    CAST(regexp_count(text, '$ip') AS BIGINT) AS n_ip,
       |    CAST(length(text) AS BIGINT) AS raw_len,
       |    CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
       |      '$em', '[EMAIL]'), '$ph', '[PHONE]'), '$ip', '[IP]'))
       |      AS BIGINT) AS redacted_len
       |  FROM planted)
       |SELECT doc_id, n_email, n_phone, n_ip,
       |  n_email + n_phone + n_ip AS pii_total, raw_len, redacted_len
       |FROM a ORDER BY doc_id""".stripMargin
  }

  /** Spark-SQL face of Sampling.sourceCapQuery (x98): the hash-priority
    * rank window with the shared bucket expression. */
  private def sourceCapSparkSql: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY ${sparkBucketSql("cap")}, doc_id) AS BIGINT) AS rk
       |  FROM documents)
       |SELECT doc_id, source, rk,
       |  CASE WHEN rk <= ${Sampling.SourceCapN} THEN 1L ELSE 0L END AS kept
       |FROM ranked ORDER BY doc_id""".stripMargin

  /** Spark-SQL face of Analytics.annotatorQuery (x99): the same
    * synthetic vote frame, min_by first-vote dedup, count-desc /
    * label-asc majority tie-break, one double division at the end. */
  private def annotatorSparkSql: String =
    """WITH votes AS (
      |  SELECT user_id % 7 AS annotator, event_id % 500 AS item,
      |    event_type AS label, event_id AS vote_id
      |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
      |fv AS (
      |  SELECT item, annotator, min_by(label, vote_id) AS label
      |  FROM votes GROUP BY item, annotator),
      |mj AS (
      |  SELECT item, label AS maj_label,
      |    row_number() OVER (PARTITION BY item ORDER BY c DESC, label) AS rn
      |  FROM (SELECT item, label, COUNT(1) AS c FROM fv GROUP BY item, label)),
      |per AS (
      |  SELECT f.annotator, COUNT(1) AS n_items,
      |    SUM(CASE WHEN f.label = m.maj_label THEN 1L ELSE 0L END) AS n_agree
      |  FROM fv f JOIN (SELECT item, maj_label FROM mj WHERE rn = 1) m
      |    ON f.item = m.item
      |  GROUP BY f.annotator)
      |SELECT annotator, n_items, n_agree,
      |  round(CAST(n_agree AS DOUBLE) / CAST(n_items AS DOUBLE), 6) AS agreement
      |FROM per ORDER BY annotator""".stripMargin

  /** Spark-SQL face of Analytics.spearmanQuery (x134): two permutation
    * rank windows, Σd² exact in DECIMAL(38,0), n(n²−1) exact in
    * decimal, one double division rounded at 6. */
  private def spearmanSparkSql: String =
    s"""WITH v AS (
       |  SELECT source, doc_id,
       |    CAST(size($wSql) AS BIGINT) AS len,
       |    CAST(regexp_count(text, '[.!?,;:]') AS BIGINT) AS punct
       |  FROM documents),
       |r AS (
       |  SELECT source,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY len, doc_id)
       |         AS BIGINT) AS rx,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY punct, doc_id)
       |         AS BIGINT) AS ry
       |  FROM v)
       |SELECT source, COUNT(1) AS n_docs,
       |  CAST(SUM(CAST((rx - ry) * (rx - ry) AS DECIMAL(38,0))) AS DOUBLE)
       |    AS sum_d2,
       |  round(1.0D - 6.0D
       |      * CAST(SUM(CAST((rx - ry) * (rx - ry) AS DECIMAL(38,0))) AS DOUBLE)
       |      / CAST(CAST(COUNT(1) AS DECIMAL(38,0))
       |             * (CAST(COUNT(1) AS DECIMAL(38,0))
       |                * CAST(COUNT(1) AS DECIMAL(38,0)) - 1) AS DOUBLE),
       |    6) AS rho
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Spark-SQL face of Sampling.splitDiversityQuery (x135): the x81
    * entropy discipline over the (split, source) cells. */
  private def splitDiversitySparkSql: String =
    s"""WITH cell AS (
       |  SELECT ${splitCaseSparkSql("doc_id")} AS split, source,
       |    COUNT(1) AS c
       |  FROM documents GROUP BY 1, 2),
       |t AS (SELECT split, c, SUM(c) OVER (PARTITION BY split) AS n FROM cell),
       |lp AS (
       |  SELECT split, c, n,
       |    CAST(round(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 6)
       |         AS DECIMAL(18,6)) AS lp
       |  FROM t)
       |SELECT split, MIN(n) AS n_docs, COUNT(1) AS n_sources,
       |  CAST(SUM(c * lp) AS DOUBLE) / MIN(n) AS entropy
       |FROM lp GROUP BY split ORDER BY split""".stripMargin

  /** Spark-SQL face of TextSearch.hybridQuery (x137): both leg ranks
    * over injected word_shingles / cosine_sim, identical RRF pinning. */
  private def hybridRrfSparkSql: String = {
    val (rrfK, legK, topK, qMax) = (TextSearch.RrfK, TextSearch.HybridLegK,
      TextSearch.HybridTopK, TextSearch.HybridQueryMax)
    s"""WITH dg AS (
       |  SELECT doc_id, gram FROM documents
       |  LATERAL VIEW explode(word_shingles($wSql, 3)) t AS gram),
       |qg AS (SELECT doc_id AS query_id, gram FROM dg WHERE doc_id < $qMax),
       |lexinter AS (
       |  SELECT q.query_id, d.doc_id, COUNT(1) AS inter
       |  FROM qg q JOIN dg d ON q.gram = d.gram
       |  WHERE d.doc_id != q.query_id
       |  GROUP BY q.query_id, d.doc_id),
       |lex AS (
       |  SELECT query_id, doc_id, r FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY inter DESC, doc_id) AS r
       |    FROM lexinter) WHERE r <= $legK),
       |sims AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS doc_id,
       |    round(cosine_sim(q.embedding, v.embedding), 6) AS sim
       |  FROM embeddings q JOIN embeddings v
       |    ON q.vec_id < $qMax AND v.vec_id != q.vec_id),
       |vec AS (
       |  SELECT query_id, doc_id, r FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY sim DESC, doc_id) AS r
       |    FROM sims) WHERE r <= $legK),
       |fused AS (
       |  SELECT query_id, doc_id,
       |    CAST(SUM(CAST(round(1.0D / CAST($rrfK + r AS DOUBLE), 6)
       |                  AS DECIMAL(18,6))) AS DOUBLE) AS score
       |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM vec)
       |  GROUP BY query_id, doc_id)
       |SELECT query_id, doc_id, score, rank FROM (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** Spark-SQL face of Dedup.lineDedupQuery (x139): the same fixed-
    * width line chunking, occurrence cut, and ordered reassembly. */
  private def lineDedupSparkSql: String = {
    val (lt, min) = (graft.operators.Dedup.LineTokens,
      graft.operators.Dedup.LineDupMin)
    s"""WITH toks AS (SELECT doc_id, $wSql AS w FROM documents),
       |lines AS (
       |  SELECT doc_id, idx, line FROM toks
       |  LATERAL VIEW posexplode(
       |    CASE WHEN size(w) > 0
       |      THEN transform(
       |        sequence(0L, CAST(ceil(size(w) / $lt.0) AS BIGINT) - 1),
       |        i -> array_join(slice(w, CAST(i * $lt + 1 AS INT), $lt), ' '))
       |      ELSE CAST(array() AS ARRAY<STRING>) END) t AS idx, line),
       |freq AS (SELECT line, COUNT(1) AS c FROM lines GROUP BY line),
       |per AS (
       |  SELECT doc_id, COUNT(1) AS n_lines,
       |    SUM(CASE WHEN c < $min THEN 0L ELSE 1L END) AS n_dropped,
       |    concat_ws(' ', transform(array_sort(collect_list(
       |      CASE WHEN c < $min THEN struct(idx, line) END)),
       |      s -> s.line)) AS out
       |  FROM lines JOIN freq USING (line) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(n_lines, 0L) AS n_lines,
       |  coalesce(n_dropped, 0L) AS n_dropped,
       |  CAST(size(filter(split(coalesce(out, ''), ' '), x -> x != ''))
       |       AS BIGINT) AS n_tokens_kept,
       |  md5(coalesce(out, '')) AS out_key
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Spark-SQL face of DocPrep.mlmMaskQuery (x142): the same bucket
    * test on 'doc:pos' (keepAtRate's arithmetic inlined), '[MASK]'
    * substitution, position-ordered reassembly. */
  private def mlmMaskSparkSql: String = {
    val thresh = DocPrep.MaskRate * Sampling.BucketSpace
    s"""WITH toks AS (
       |  SELECT doc_id, pos, tok FROM documents
       |  LATERAL VIEW posexplode($wSql) t AS pos, tok),
       |m AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN CAST(conv(substring(md5(concat(
       |        CAST(doc_id AS STRING), ':', CAST(pos AS STRING), ':mask')),
       |        1, 8), 16, 10) AS BIGINT) < ${thresh}D
       |      THEN '[MASK]' ELSE tok END AS t2
       |  FROM toks),
       |per AS (
       |  SELECT doc_id, COUNT(1) AS n_tokens,
       |    SUM(CASE WHEN t2 = '[MASK]' THEN 1L ELSE 0L END) AS n_masked,
       |    concat_ws(' ', transform(array_sort(collect_list(
       |      struct(pos, t2))), s -> s.t2)) AS out
       |  FROM m GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(n_tokens, 0L) AS n_tokens,
       |  coalesce(n_masked, 0L) AS n_masked,
       |  md5(coalesce(out, '')) AS masked_key
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Spark-SQL face of Sampling.packManifestQuery (x143): x21's text
    * extended with the per-pack offset window and ordered CSV rollup. */
  private def packManifestSparkSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
      |    doc_id % 32 AS shard
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens, shard,
      |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t),
      |p AS (
      |  SELECT doc_id, n_tokens,
      |    shard * CAST(1099511627776 AS BIGINT)
      |      + FLOOR((cum - n_tokens) / CAST(2000.0 AS DOUBLE)) AS pack_id
      |  FROM c),
      |o AS (
      |  SELECT pack_id, doc_id, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY pack_id ORDER BY doc_id
      |                        ROWS UNBOUNDED PRECEDING) - n_tokens AS off
      |  FROM p)
      |SELECT pack_id, COUNT(1) AS n_docs, SUM(n_tokens) AS pack_tokens,
      |  concat_ws(',', transform(array_sort(collect_list(
      |    struct(doc_id, off))), s -> CAST(s.doc_id AS STRING))) AS doc_ids,
      |  concat_ws(',', transform(array_sort(collect_list(
      |    struct(doc_id, off))), s -> CAST(s.off AS STRING))) AS offsets
      |FROM o GROUP BY pack_id ORDER BY pack_id""".stripMargin

  /** Spark-SQL face of Dedup.effectiveTokensQuery (x136): md5 family
    * keys, pinned 1/k image in DECIMAL(18,6), exact decimal sum. */
  private def effectiveTokensSparkSql: String =
    s"""WITH toks AS (
       |  SELECT source, md5(text) AS k,
       |    CAST(size($wSql) AS BIGINT) AS n_tokens
       |  FROM documents),
       |fam AS (SELECT k, COUNT(1) AS fam FROM toks GROUP BY k)
       |SELECT source, COUNT(1) AS n_docs, SUM(n_tokens) AS tokens_raw,
       |  CAST(SUM(n_tokens * CAST(round(1.0D / CAST(fam AS DOUBLE), 6)
       |                           AS DECIMAL(18,6))) AS DOUBLE)
       |    AS tokens_effective
       |FROM toks t JOIN fam f ON t.k = f.k
       |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // r14 web-prep twins. The x102 canonicalization ladder is one shared
  // CTE-stage generator (plain concatenation, NOT s-interpolation, so
  // the `$1` regex backrefs survive untouched); every consumer —
  // x102/x104/x114/x116/x124/x138/x145 — reuses it, so the ladder
  // semantics cannot drift between twins.

  /** CTE stages applying WebPrep.canonicalUrl to a column named `_u0`
    * in CTE `inCte`, carrying `carry` columns through; ends at `_c`
    * with (carry, url, canon). */
  private def canonStagesSql(inCte: String, carry: String): String =
    "_t1 AS (SELECT " + carry + ", _u0,\n" +
    "  regexp_replace(regexp_replace(regexp_replace(regexp_replace(_u0,\n" +
    "    '#.*$', ''),\n" +
    "    '([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*', '$1'),\n" +
    "    '([?&])&+', '$1'),\n" +
    "    '[?&]$', '') AS _tidy FROM " + inCte + "),\n" +
    "_t2 AS (SELECT " + carry + ", _u0,\n" +
    "  CASE WHEN _tidy RLIKE '^[A-Za-z][A-Za-z0-9+.-]*://'\n" +
    "       THEN concat(lower(regexp_extract(_tidy, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1)),\n" +
    "                   regexp_extract(_tidy, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(.*)$', 1))\n" +
    "       ELSE _tidy END AS _hl FROM _t1),\n" +
    "_c AS (SELECT " + carry + ", _u0 AS url,\n" +
    "  regexp_replace(regexp_replace(regexp_replace(_hl,\n" +
    "    '^[a-z][a-z0-9+.-]*://', ''), '^www\\\\.', ''), '(.)/$', '$1') AS canon\n" +
    "  FROM _t2)"

  /** WebPrep.urlHost over a canonical-URL SQL expression. */
  private def urlHostSql(c: String): String =
    "regexp_replace(regexp_extract(" + c + ", '^([^/?#]*)', 1), ':[0-9]+$', '')"

  /** The x102 queries()-face URL plant (Docs path, all noise residues). */
  private def urlPlantDocsSql: String =
    """concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
      |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
      |    source, '.example.com/Docs/', CAST(doc_id AS STRING),
      |    CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END,
      |    CASE WHEN doc_id % 5 = 0 THEN concat('?utm_source=feed&page=', CAST(doc_id % 4 AS STRING)) ELSE '' END,
      |    CASE WHEN doc_id % 11 = 0 THEN '#sec2' ELSE '' END)""".stripMargin

  /** The x104/x124 colliding URL plant (path = doc_id mod 23). */
  private def urlPlantCollideSql: String =
    """concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
      |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
      |    source, '.example.com/p/', CAST(doc_id % 23 AS STRING),
      |    CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed' ELSE '' END,
      |    CASE WHEN doc_id % 11 = 0 THEN '#sec2' ELSE '' END)""".stripMargin

  /** Spark-SQL face of WebPrep.urlQuery (x102). */
  private def urlCanonSparkSql: String =
    "WITH u AS (SELECT doc_id, " + urlPlantDocsSql + " AS _u0 FROM documents),\n" +
    canonStagesSql("u", "doc_id") + "\n" +
    "SELECT doc_id, canon, " + urlHostSql("canon") + " AS host,\n" +
    "  CASE WHEN url != canon THEN 1L ELSE 0L END AS changed\n" +
    "FROM _c ORDER BY doc_id"

  /** Spark-SQL face of WebPrep.urlDedupQuery (x104). */
  private def urlDedupSparkSql: String =
    "WITH u AS (SELECT doc_id, " + urlPlantCollideSql + " AS _u0 FROM documents),\n" +
    canonStagesSql("u", "doc_id") + ",\n" +
    "k AS (SELECT canon, MIN(doc_id) AS keep_id FROM _c GROUP BY canon)\n" +
    "SELECT doc_id, canon, keep_id,\n" +
    "  CASE WHEN doc_id != keep_id THEN 1L ELSE 0L END AS dup\n" +
    "FROM _c JOIN k USING (canon) ORDER BY doc_id"

  /** Spark-SQL face of WebPrep.markupQuery (x103). */
  private def markupStripSparkSql: String =
    """WITH h AS (
      |  SELECT doc_id, concat('<html><head><title>Doc ', CAST(doc_id AS STRING),
      |    '</title></head><body><p>', text, '</p>',
      |    CASE WHEN doc_id % 3 = 0 THEN '<a href="/x">x</a>' ELSE '' END,
      |    CASE WHEN doc_id % 9 = 0 THEN '<a href="/y">y</a>' ELSE '' END,
      |    '</body></html>') AS html FROM documents),
      |s AS (SELECT doc_id, html,
      |  trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' '), '\\s+', ' ')) AS text
      |  FROM h)
      |SELECT doc_id,
      |  regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
      |  CAST(regexp_count(html, '<a ') AS BIGINT) AS n_links,
      |  text, CAST(length(text) AS BIGINT) AS clean_len
      |FROM s ORDER BY doc_id""".stripMargin

  /** Spark-SQL face of DocPrep.waterfallQuery (x107): the x18 gate
    * CTEs rolled to (source, stage) with token accounting. */
  private def waterfallSparkSql: String =
    """WITH refg AS (
      |  SELECT DISTINCT gram FROM documents
      |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), 4)) t AS gram
      |  WHERE source IN ('src0', 'src1')),
      |candg AS (
      |  SELECT doc_id, gram FROM documents
      |  LATERAL VIEW explode(word_shingles_all(filter(split(text, ' '), x -> x != ''), 4)) t AS gram
      |  WHERE source NOT IN ('src0', 'src1')),
      |contam AS (SELECT DISTINCT doc_id FROM candg JOIN refg USING (gram)),
      |keepers AS (SELECT text, MIN(doc_id) AS keep_id FROM documents GROUP BY text),
      |prep AS (
      |  SELECT d.source,
      |    CAST(size(filter(split(d.text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
      |    CASE WHEN d.source IN ('src0', 'src1') THEN 'reference'
      |         WHEN size(filter(split(d.text, ' '), x -> x != '')) < 40 THEN 'too_short'
      |         WHEN d.doc_id != k.keep_id THEN 'duplicate'
      |         WHEN c.doc_id IS NOT NULL THEN 'contaminated'
      |         ELSE NULL END AS drop_reason
      |  FROM documents d
      |  JOIN keepers k ON d.text = k.text
      |  LEFT JOIN contam c ON d.doc_id = c.doc_id)
      |SELECT source, coalesce(drop_reason, 'kept') AS stage,
      |  COUNT(1) AS n_docs, SUM(n_tokens) AS n_tokens
      |FROM prep GROUP BY source, coalesce(drop_reason, 'kept')
      |ORDER BY source, stage""".stripMargin

  /** The x114 planted-markup link-graph as CTE stages ending at `lg`
    * (src_host, dst_host, n_links) — shared by x114/x123/x138/x145. */
  private def linkGraphCtesSql: String =
    """h AS (
      |  SELECT concat(source, '.example.com') AS src_host,
      |    concat('<p>see <a href="https://src', CAST((doc_id * 7) % 20 AS STRING),
      |      '.example.com/p/', CAST(doc_id % 13 AS STRING), '">a</a>',
      |      CASE WHEN doc_id % 3 = 0 THEN concat('<a href="HTTPS://WWW.src',
      |        CAST((doc_id * 3) % 20 AS STRING),
      |        '.example.com/q?utm_source=feed&x=1">b</a>') ELSE '' END,
      |      CASE WHEN doc_id % 5 = 0 THEN '<a href="https://hub.example.com/h#frag">c</a>' ELSE '' END,
      |      '</p>') AS html FROM documents),
      |xu AS (
      |  SELECT src_host, url AS _u0 FROM h
      |  LATERAL VIEW explode(regexp_extract_all(html, 'href="([^"]+)"', 1)) t AS url),
      |""".stripMargin +
    canonStagesSql("xu", "src_host") + ",\n" +
    "lg AS (\n" +
    "  SELECT src_host, " + urlHostSql("canon") + " AS dst_host,\n" +
    "    COUNT(1) AS n_links\n" +
    "  FROM _c GROUP BY src_host, dst_host)"

  /** Spark-SQL face of WebPrep.linkGraphQuery (x114). */
  private def linkGraphSparkSql: String =
    "WITH " + linkGraphCtesSql + "\n" +
    "SELECT src_host, dst_host, n_links FROM lg ORDER BY src_host, dst_host"

  /** Spark-SQL face of WebPrep.anchorTextQuery (x116). */
  private def anchorTextSparkSql: String =
    """WITH h AS (
      |  SELECT concat('<p><a href="https://src', CAST((doc_id * 7) % 20 AS STRING),
      |    '.example.com/p/', CAST(doc_id % 13 AS STRING),
      |    '">read src', CAST((doc_id * 7) % 20 AS STRING),
      |    ' item ', CAST(doc_id % 13 AS STRING), '</a>',
      |    CASE WHEN doc_id % 3 = 0 THEN concat('<a href="HTTPS://WWW.src',
      |      CAST((doc_id * 3) % 20 AS STRING),
      |      '.example.com/q?utm_source=x">visit src',
      |      CAST((doc_id * 3) % 20 AS STRING), ' now</a>') ELSE '' END,
      |    '</p>') AS html FROM documents),
      |an AS (
      |  SELECT a FROM h
      |  LATERAL VIEW explode(regexp_extract_all(html, '<a href="[^"]*"[^>]*>[^<]*</a>', 0)) t AS a),
      |hr AS (SELECT a, regexp_extract(a, 'href="([^"]+)"', 1) AS _u0 FROM an),
      |""".stripMargin +
    canonStagesSql("hr", "a") + "\n" +
    "SELECT " + urlHostSql("canon") + " AS dst_host, term, COUNT(1) AS n_anchors\n" +
    "FROM _c\n" +
    "LATERAL VIEW explode(filter(split(regexp_extract(a, '>([^<]*)</a>', 1), ' '), x -> x != '')) t AS term\n" +
    "GROUP BY dst_host, term ORDER BY dst_host, term"

  /** Spark-SQL face of WebPrep.hostReputationQuery (x119) — same
    * broadcast hint, same all-integer admit arithmetic. */
  private def hostReputationSparkSql: String =
    "WITH s AS (SELECT doc_id, concat(source, '.example.com') AS host,\n" +
    "  size(filter(split(text, ' '), x -> x != '')) >= " + WebPrep.HostRepMinTokens + " AS pass\n" +
    "  FROM documents),\n" +
    """r AS (SELECT host, COUNT(1) AS host_docs,
      |  SUM(CASE WHEN pass THEN 1L ELSE 0L END) AS host_pass FROM s GROUP BY host)
      |SELECT /*+ BROADCAST(r) */ doc_id, host, host_docs, host_pass,
      |  CASE WHEN host_pass * 2 >= host_docs THEN 1L ELSE 0L END AS admitted
      |FROM s JOIN r USING (host) ORDER BY doc_id""".stripMargin

  /** Spark-SQL face of WebPrep.linkDegreesQuery (x123). */
  private def linkDegreesSparkSql: String =
    "WITH " + linkGraphCtesSql + ",\n" +
    """outs AS (SELECT src_host AS host, COUNT(1) AS out_deg,
      |  SUM(n_links) AS out_links FROM lg GROUP BY src_host),
      |ins AS (SELECT dst_host AS host, COUNT(1) AS in_deg,
      |  SUM(n_links) AS in_links FROM lg GROUP BY dst_host),
      |ks AS (SELECT src_host, dst_host FROM lg WHERE src_host != dst_host),
      |recip AS (
      |  SELECT k.src_host AS host, COUNT(1) AS recip_deg FROM ks k
      |  LEFT SEMI JOIN ks r ON r.src_host = k.dst_host AND r.dst_host = k.src_host
      |  GROUP BY k.src_host)
      |SELECT host, coalesce(out_deg, 0L) AS out_deg,
      |  coalesce(out_links, 0L) AS out_links,
      |  coalesce(in_deg, 0L) AS in_deg,
      |  coalesce(in_links, 0L) AS in_links,
      |  coalesce(recip_deg, 0L) AS recip_deg
      |FROM outs FULL OUTER JOIN ins USING (host) LEFT JOIN recip USING (host)
      |ORDER BY host""".stripMargin

  /** Spark-SQL face of WebPrep.robotsGateQuery (x124): rule table as
    * inline VALUES, longest (lexicographic max — nested prefixes)
    * match, admit iff no rule fires. */
  private def robotsGateSparkSql: String =
    "WITH u AS (SELECT doc_id, " + urlPlantCollideSql + " AS _u0 FROM documents),\n" +
    canonStagesSql("u", "doc_id") + ",\n" +
    "p AS (SELECT doc_id, canon, " + urlHostSql("canon") + " AS host,\n" +
    "  regexp_extract(canon, '(/.*)$', 1) AS path FROM _c),\n" +
    "rules AS (SELECT host AS r_host, path_prefix FROM VALUES\n  " +
    WebPrep.RobotsRules.map { case (h, p) => "(" + sqlStr(h) + ", " + sqlStr(p) + ")" }
      .mkString(",\n  ") + " AS r(host, path_prefix))\n" +
    """SELECT doc_id, canon, host, MAX(path_prefix) AS matched_prefix,
      |  CASE WHEN MAX(path_prefix) IS NULL THEN 1L ELSE 0L END AS admitted
      |FROM p LEFT JOIN rules
      |  ON p.host = r_host AND startswith(p.path, path_prefix)
      |GROUP BY doc_id, canon, host ORDER BY doc_id""".stripMargin

  /** Spark-SQL face of Sampling.snapshotPsiQuery (x130): the x88
    * snapshot plant through the x128 PSI discipline (power-of-two
    * buckets, +1 Laplace, term-rounded decimal sum). */
  private def snapshotPsiSparkSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, text,
      |    filter(split(text, ' '), x -> x != '') AS w FROM documents),
      |snap AS (
      |  SELECT source, true AS is_a,
      |    CAST(CASE WHEN doc_id % 23 = 0
      |      THEN size(filter(split(array_join(slice(w, 1, greatest(size(w) - 1, 0)), ' '), ' '), x -> x != ''))
      |      ELSE size(w) END AS BIGINT) AS len
      |  FROM base WHERE doc_id % 17 != 0
      |  UNION ALL
      |  SELECT source, false AS is_a, CAST(size(w) AS BIGINT) AS len
      |  FROM base WHERE doc_id % 19 != 0),
      |b AS (
      |  SELECT source,
      |    CASE WHEN len = 1 THEN 1L
      |         ELSE shiftleft(1L, length(bin(len - 1))) END AS bucket,
      |    SUM(CASE WHEN is_a THEN 1L ELSE 0L END) AS c1,
      |    SUM(CASE WHEN NOT is_a THEN 1L ELSE 0L END) AS c2
      |  FROM snap WHERE len >= 1
      |  GROUP BY 1, 2),
      |w AS (
      |  SELECT source, c1, c2,
      |    SUM(c1) OVER (PARTITION BY source) AS n1,
      |    SUM(c2) OVER (PARTITION BY source) AS n2,
      |    COUNT(1) OVER (PARTITION BY source) AS nb
      |  FROM b),
      |t AS (
      |  SELECT source, n1, n2, nb,
      |    CAST(round((CAST(c1 + 1 AS DOUBLE) / CAST(n1 + nb AS DOUBLE)
      |                - CAST(c2 + 1 AS DOUBLE) / CAST(n2 + nb AS DOUBLE))
      |      * round(ln((CAST(c1 + 1 AS DOUBLE) / CAST(n1 + nb AS DOUBLE))
      |                 / (CAST(c2 + 1 AS DOUBLE) / CAST(n2 + nb AS DOUBLE))),
      |              6), 6) AS DECIMAL(18,6)) AS term
      |  FROM w)
      |SELECT source, MIN(n1) AS n_old, MIN(n2) AS n_new,
      |  MIN(nb) AS n_buckets, CAST(SUM(term) AS DOUBLE) AS psi
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** Spark-SQL face of WebPrep.labelPropagationQuery (x138): one
    * synchronous vote step over the x114 graph with x119 seeds. */
  private def labelPropSparkSql: String =
    "WITH " + linkGraphCtesSql + ",\n" +
    "rep AS (SELECT concat(source, '.example.com') AS host, COUNT(1) AS hd,\n" +
    "  SUM(CASE WHEN size(filter(split(text, ' '), x -> x != '')) >= " +
    WebPrep.HostRepMinTokens + " THEN 1L ELSE 0L END) AS hp\n" +
    "  FROM documents GROUP BY concat(source, '.example.com')),\n" +
    """seeds AS (SELECT host, CASE WHEN hp * 2 >= hd THEN 1L ELSE 0L END AS seed FROM rep),
      |ke AS (SELECT src_host, dst_host, n_links FROM lg WHERE src_host != dst_host),
      |und AS (
      |  SELECT host, nbr, SUM(n_links) AS w FROM (
      |    SELECT src_host AS host, dst_host AS nbr, n_links FROM ke
      |    UNION ALL
      |    SELECT dst_host AS host, src_host AS nbr, n_links FROM ke)
      |  GROUP BY host, nbr),
      |votes AS (
      |  SELECT u.host,
      |    SUM(CASE WHEN s.seed = 1L THEN u.w ELSE 0L END) AS votes_ok,
      |    SUM(CASE WHEN s.seed = 0L THEN u.w ELSE 0L END) AS votes_bad
      |  FROM und u LEFT JOIN seeds s ON u.nbr = s.host GROUP BY u.host)
      |SELECT v.host, coalesce(s.seed, -1L) AS seed, votes_ok, votes_bad,
      |  CASE WHEN votes_ok > votes_bad THEN 1L
      |       WHEN votes_bad > votes_ok THEN 0L
      |       ELSE coalesce(s.seed, -1L) END AS propagated
      |FROM votes v LEFT JOIN seeds s ON v.host = s.host ORDER BY v.host""".stripMargin

  /** Spark-SQL face of WebPrep.triangleQuery (x145): the id-ordered
    * wedge join a SQL user types — same rows as the engine face's
    * degree-oriented plan (orientation is output-invariant). */
  private def trianglesSparkSql: String =
    "WITH " + linkGraphCtesSql + ",\n" +
    """und AS (
      |  SELECT DISTINCT least(src_host, dst_host) AS a,
      |    greatest(src_host, dst_host) AS b
      |  FROM lg WHERE src_host != dst_host),
      |deg AS (
      |  SELECT host, COUNT(1) AS degree FROM (
      |    SELECT a AS host FROM und UNION ALL SELECT b AS host FROM und)
      |  GROUP BY host),
      |tri AS (
      |  SELECT host, COUNT(1) AS n_triangles FROM (
      |    SELECT e1.a AS ca, e1.b AS cb, e2.b AS cc
      |    FROM und e1 JOIN und e2 ON e1.b = e2.a
      |    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b) wdg
      |  LATERAL VIEW explode(array(ca, cb, cc)) t AS host
      |  GROUP BY host)
      |SELECT host, degree, coalesce(n_triangles, 0L) AS n_triangles,
      |  CASE WHEN degree >= 2 THEN
      |    round(2.0D * CAST(coalesce(n_triangles, 0L) AS DOUBLE)
      |          / CAST(degree * (degree - 1) AS DOUBLE), 6)
      |  END AS clustering
      |FROM deg LEFT JOIN tri USING (host) ORDER BY host""".stripMargin

  /** Spark-SQL face of TextAnalysis.gopherQuery (x147). */
  private def gopherSparkSql: String = {
    val stops = TextAnalysis.GopherStops.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w,
       |    CAST(length(regexp_replace(text, ' ', '')) AS BIGINT) AS n_chars
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, CAST(size(w) AS BIGINT) AS n_tokens, n_chars,
       |    CAST(size(filter(w, x -> x rlike '[A-Za-z]')) AS BIGINT) AS n_alpha,
       |    CAST(size(array_intersect(array_distinct(w), array($stops))) AS BIGINT) AS n_stop
       |  FROM t)
       |SELECT doc_id, n_tokens, n_chars, n_alpha, n_stop,
       |  CASE WHEN n_tokens BETWEEN ${TextAnalysis.GopherMinTokens}
       |            AND ${TextAnalysis.GopherMaxTokens}
       |       AND 3 * n_tokens <= n_chars AND n_chars <= 10 * n_tokens
       |       AND 5 * n_alpha >= 4 * n_tokens
       |       AND n_stop >= 2 THEN 1L ELSE 0L END AS admitted
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Spark-SQL face of TextAnalysis.readabilityQuery (x148). */
  private def readabilitySparkSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_words,
      |    CAST(greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1) AS BIGINT) AS n_sentences,
      |    CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT) AS n_syllables
      |  FROM documents)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  CASE WHEN n_words > 0 THEN
      |    round(206.835D
      |      - 1.015D * round(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE), 6)
      |      - 84.6D * round(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE), 6), 6)
      |  END AS flesch
      |FROM m ORDER BY doc_id""".stripMargin

  /** Spark-SQL face of Sampling.gramLeakageQuery (x149). */
  private def gramLeakageSparkSql: String =
    s"""WITH g AS (
       |  SELECT DISTINCT ${splitCaseSparkSql("doc_id")} AS split, gram
       |  FROM documents
       |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), ${Sampling.LeakGramN})) t AS gram),
       |sz AS (SELECT split, COUNT(1) AS n_grams FROM g GROUP BY split),
       |sh AS (
       |  SELECT a.split AS split_a, b.split AS split_b,
       |    COUNT(1) AS shared_grams
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.split < b.split
       |  GROUP BY 1, 2)
       |SELECT p.split_a, p.split_b, p.grams_a, p.grams_b,
       |  coalesce(sh.shared_grams, 0L) AS shared_grams
       |FROM (SELECT a.split AS split_a, b.split AS split_b,
       |        a.n_grams AS grams_a, b.n_grams AS grams_b
       |      FROM sz a JOIN sz b ON a.split < b.split) p
       |LEFT JOIN sh ON sh.split_a = p.split_a AND sh.split_b = p.split_b
       |ORDER BY split_a, split_b""".stripMargin

  /** Spark-SQL face of Sampling.leakProbeQuery (x152): raw grams where
    * the engine face carries xxhash64 keys — same counts, the x44
    * hashed-key equivalence. */
  private def leakProbeSparkSql: String =
    s"""WITH dg AS (
       |  SELECT DISTINCT doc_id, ${splitCaseSparkSql("doc_id")} AS own, gram
       |  FROM documents
       |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), ${Sampling.LeakGramN})) t AS gram),
       |idx AS (SELECT DISTINCT own AS split, gram FROM dg)
       |SELECT d.doc_id, i.split, COUNT(1) AS shared_grams
       |FROM dg d JOIN idx i ON d.gram = i.gram AND i.split != d.own
       |GROUP BY 1, 2
       |ORDER BY doc_id, split""".stripMargin

  /** Spark-SQL face of Sampling.dsirQuery (x153). */
  private def dsirSparkSql: String = {
    val b = Sampling.DsirBuckets
    def bkt(tok: String) =
      s"CAST(conv(substring(md5(concat($tok, ':${Sampling.DsirSalt}')), 1, 8), 16, 10) AS BIGINT) % $b"
    s"""WITH ttok AS (
       |  SELECT ${bkt("term")} AS b FROM documents
       |  LATERAL VIEW explode(filter(split(text, ' '), x -> x != '')) t AS term
       |  WHERE source = 'src0'),
       |tc AS (SELECT b, COUNT(1) AS tc FROM ttok GROUP BY b),
       |rtok AS (
       |  SELECT doc_id, ${bkt("term")} AS b FROM documents
       |  LATERAL VIEW explode(filter(split(text, ' '), x -> x != '')) t AS term
       |  WHERE source != 'src0'),
       |rbd AS (SELECT doc_id, b, COUNT(1) AS n FROM rtok GROUP BY 1, 2),
       |rc AS (SELECT b, SUM(n) AS rc FROM rbd GROUP BY b),
       |tot AS (
       |  SELECT (SELECT coalesce(SUM(tc), 0L) FROM tc) AS tt,
       |         (SELECT coalesce(SUM(rc), 0L) FROM rc) AS rt),
       |lam AS (
       |  SELECT rc.b,
       |    CAST(round(ln(CAST(coalesce(tc.tc, 0L) + 1 AS DOUBLE)
       |                  / CAST(tot.tt + $b AS DOUBLE)), 6) AS DECIMAL(18,6))
       |    - CAST(round(ln(CAST(rc.rc + 1 AS DOUBLE)
       |                    / CAST(tot.rt + $b AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lam
       |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot),
       |per AS (
       |  SELECT doc_id, SUM(n) AS n_tokens,
       |    CAST(SUM(n * lam) AS DOUBLE) / SUM(n) AS avg_lr
       |  FROM rbd JOIN lam USING (b) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_tokens, 0L) AS n_tokens, avg_lr
       |FROM (SELECT doc_id FROM documents WHERE source != 'src0') d
       |LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Spark-SQL face of Dedup.lineRepetitionQuery (x154). */
  private def lineRepSparkSql: String = {
    val lt = Dedup.LineTokens
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 6 = 0 AND text IS NOT NULL THEN
       |      concat_ws(' ',
       |        concat_ws(' ', slice(filter(split(text, ' '), x -> x != ''), 1, $lt)),
       |        text)
       |    ELSE text END AS text
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w
       |  FROM planted),
       |lines AS (
       |  SELECT doc_id, line FROM toks
       |  LATERAL VIEW explode(
       |    CASE WHEN size(w) > 0
       |      THEN transform(
       |        sequence(0L, CAST(ceil(size(w) / $lt.0) AS BIGINT) - 1),
       |        i -> array_join(slice(w, CAST(i * $lt + 1 AS INT), $lt), ' '))
       |      ELSE CAST(array() AS ARRAY<STRING>) END) t AS line),
       |grp AS (
       |  SELECT doc_id, line, COUNT(1) AS c,
       |    CAST(size(filter(split(line, ' '), x -> x != '')) AS BIGINT) AS len
       |  FROM lines GROUP BY doc_id, line),
       |per AS (
       |  SELECT doc_id, SUM(c) AS n_lines,
       |    SUM(CASE WHEN c > 1 THEN c ELSE 0L END) AS n_dup_lines,
       |    SUM(CASE WHEN c > 1 THEN (c - 1) * len ELSE 0L END) AS dup_tokens
       |  FROM grp GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(n_lines, 0L) AS n_lines,
       |  COALESCE(n_dup_lines, 0L) AS n_dup_lines,
       |  COALESCE(dup_tokens, 0L) AS dup_tokens
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Spark-SQL face of DocPrep.encodingQuery (x164): the same plant
    * (char() instead of chr()), the same shared pattern constants. */
  private def encodingSparkSql: String = {
    val (ctrl, nonAscii, longSp) =
      (sqlRe(DocPrep.CtrlRe), sqlRe(DocPrep.NonAsciiRe), sqlRe(DocPrep.LongSpaceRe))
    s"""WITH planted AS (
       |  SELECT doc_id, concat(text,
       |    CASE WHEN doc_id % 9 = 0
       |      THEN concat(' bad', char(65533), 'decode') ELSE '' END,
       |    CASE WHEN doc_id % 13 = 0
       |      THEN concat(' bell', char(7), 'byte') ELSE '' END,
       |    CASE WHEN doc_id % 17 = 0 THEN ' wide    gap' ELSE '' END) AS text
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(regexp_count(text, char(65533)) AS BIGINT) AS n_repl,
       |    CAST(regexp_count(text, '$ctrl') AS BIGINT) AS n_ctrl,
       |    CAST(length(regexp_replace(text, '$nonAscii', '')) AS BIGINT) AS n_ascii,
       |    CAST(regexp_count(text, '$longSp') AS BIGINT) AS n_longspace
       |  FROM planted)
       |SELECT doc_id, n_chars, n_repl, n_ctrl, n_ascii, n_longspace,
       |  CASE WHEN n_repl = 0 AND n_ctrl = 0 AND n_longspace = 0
       |       THEN 1L ELSE 0L END AS clean
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Spark-SQL face of DocPrep.contextSweepQuery (x165). */
  private def contextSweepSparkSql: String = {
    val grid = DocPrep.ContextGrid.map(l => s"${l}L").mkString(", ")
    s"""WITH nn AS (
       |  SELECT CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n
       |  FROM documents),
       |g AS (
       |  SELECT n, max_len FROM nn
       |  LATERAL VIEW explode(array($grid)) t AS max_len),
       |a AS (
       |  SELECT max_len, COUNT(1) AS n_docs,
       |    SUM(CASE WHEN n > max_len THEN 1L ELSE 0L END) AS n_truncated,
       |    SUM(n) AS tokens_total,
       |    SUM(least(n, max_len)) AS tokens_kept,
       |    SUM(max_len - least(n, max_len)) AS pad_tokens
       |  FROM g GROUP BY max_len)
       |SELECT max_len, n_docs, n_truncated, tokens_total, tokens_kept,
       |  tokens_total - tokens_kept AS tokens_dropped, pad_tokens,
       |  round(CAST(tokens_total - tokens_kept AS DOUBLE)
       |    / CAST(tokens_total AS DOUBLE), 6) AS drop_rate,
       |  round(CAST(tokens_kept AS DOUBLE)
       |    / CAST(n_docs * max_len AS DOUBLE), 6) AS util
       |FROM a ORDER BY max_len""".stripMargin
  }

  /** Spark-SQL face of Sampling.packWinnerQuery (x173): the x165 sweep
    * aggregates, the constrained argmax (LIMIT 1 over round-6 images of
    * exact integers), then the x21 pack window with the winner as both
    * truncation cap and bin budget. */
  private def packWinnerSparkSql: String = {
    val grid = DocPrep.ContextGrid.map(l => s"${l}L").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n,
       |    doc_id % 32 AS shard
       |  FROM documents),
       |g AS (SELECT n, max_len FROM t
       |      LATERAL VIEW explode(array($grid)) u AS max_len),
       |a AS (
       |  SELECT max_len, COUNT(1) AS n_docs, SUM(n) AS tot,
       |    SUM(least(n, max_len)) AS kept
       |  FROM g GROUP BY max_len),
       |win AS (
       |  SELECT max_len FROM a
       |  WHERE round(CAST(tot - kept AS DOUBLE) / CAST(tot AS DOUBLE), 6)
       |    <= ${Sampling.PackWinnerMaxDrop}
       |  ORDER BY round(CAST(kept AS DOUBLE)
       |    / CAST(n_docs * max_len AS DOUBLE), 6) DESC, max_len
       |  LIMIT 1),
       |c AS (
       |  SELECT t.doc_id, least(t.n, w.max_len) AS n_tokens, t.shard,
       |    w.max_len,
       |    SUM(least(t.n, w.max_len)) OVER (PARTITION BY t.shard
       |      ORDER BY t.doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t CROSS JOIN win w)
       |SELECT doc_id, n_tokens, shard,
       |  shard * CAST(1099511627776 AS BIGINT) -- 2^40 shard stride
       |    + FLOOR((cum - n_tokens) / CAST(max_len AS DOUBLE)) AS pack_id,
       |  max_len
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** Spark-SQL face of Analytics.calibrationQuery (x177): the same
    * planted residue predictions, exact decimal bin sums with one
    * rounded division each, and the n-weighted summary row. */
  private def calibrationSparkSql: String = {
    val b = Analytics.CalibBins
    s"""WITH p AS (
       |  SELECT round(((event_id % 97) + 0.5) / 97.0, 6) AS conf,
       |    CASE WHEN user_id % 97 < event_id % 97 THEN 1L ELSE 0L END AS c
       |  FROM events WHERE event_id IS NOT NULL AND user_id IS NOT NULL),
       |binned AS (
       |  SELECT least(CAST(FLOOR(conf * $b) AS BIGINT), ${b - 1}L) AS bin,
       |    conf, c
       |  FROM p),
       |per AS (
       |  SELECT bin, COUNT(1) AS n,
       |    round(CAST(SUM(CAST(conf AS DECIMAL(18,6))) AS DOUBLE)
       |      / CAST(COUNT(1) AS DOUBLE), 6) AS avg_conf,
       |    round(CAST(SUM(c) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE), 6)
       |      AS accuracy
       |  FROM binned GROUP BY bin),
       |per2 AS (
       |  SELECT bin, n, avg_conf, accuracy,
       |    round(abs(accuracy - avg_conf), 6) AS gap
       |  FROM per),
       |tot AS (
       |  SELECT SUM(n) AS n,
       |    round(CAST(SUM(CAST(avg_conf AS DECIMAL(18,6)) * n) AS DOUBLE)
       |      / CAST(SUM(n) AS DOUBLE), 6) AS avg_conf,
       |    round(CAST(SUM(CAST(accuracy AS DECIMAL(18,6)) * n) AS DOUBLE)
       |      / CAST(SUM(n) AS DOUBLE), 6) AS accuracy,
       |    round(CAST(SUM(CAST(gap AS DECIMAL(18,6)) * n) AS DOUBLE)
       |      / CAST(SUM(n) AS DOUBLE), 6) AS gap
       |  FROM per2)
       |SELECT bin, n, avg_conf, accuracy, gap FROM per2
       |UNION ALL
       |SELECT -1L, n, avg_conf, accuracy, gap FROM tot
       |ORDER BY bin""".stripMargin
  }

  /** Spark-SQL face of DocPrep.spanCorruptQuery (x166): the engine's
    * aligned-cell hash decisions re-derived per position, sentinel
    * ordinals via one per-doc window, position-ordered reassembly. */
  private def spanCorruptSparkSql: String = {
    val l = DocPrep.SpanLen
    val thresh = DocPrep.SpanRate * graft.operators.Sampling.BucketSpace
    val bucket = "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', " +
      s"CAST(pos - pos % $l AS STRING), ':${DocPrep.SpanSalt}')), 1, 8), 16, 10) AS BIGINT)"
    s"""WITH toks AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok
       |  FROM (SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w
       |        FROM documents)
       |  LATERAL VIEW posexplode(w) t AS pos, tok),
       |m AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN $bucket < ${thresh}D THEN 1 ELSE 0 END AS hit
       |  FROM toks),
       |k AS (
       |  SELECT doc_id, pos, tok, hit,
       |    CASE WHEN hit = 1 AND pos % $l = 0 THEN 1 ELSE 0 END AS st,
       |    SUM(CASE WHEN hit = 1 AND pos % $l = 0 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS ks
       |  FROM m),
       |per AS (
       |  SELECT doc_id, COUNT(1) AS n_tokens,
       |    SUM(st) AS n_spans,
       |    SUM(hit) AS n_masked,
       |    concat_ws(' ', transform(
       |      array_sort(collect_list(named_struct('p', pos, 'x',
       |        CASE WHEN st = 1
       |               THEN concat('<extra_id_', CAST(ks - 1 AS STRING), '>')
       |             WHEN hit = 1 THEN CAST(NULL AS STRING)
       |             ELSE tok END))),
       |      s -> s.x)) AS out
       |  FROM k GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(n_tokens, 0L) AS n_tokens,
       |  COALESCE(n_spans, 0L) AS n_spans,
       |  COALESCE(n_masked, 0L) AS n_masked,
       |  md5(COALESCE(out, '')) AS masked_key
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Spark-SQL face of TextAnalysis.qualityPanelQuery (x163): the
    * x147/x148/x154/x97 twins' arithmetic over the RAW corpus,
    * stitched on doc_id. */
  private def qualityPanelSparkSql: String =
    qualityPanelInnerSparkSql + "\nORDER BY gm.doc_id"

  /** The x163 per-doc panel text WITHOUT presentation order — shared
    * by the x168 rollup twin. */
  private def qualityPanelInnerSparkSql: String = {
    val stops = TextAnalysis.GopherStops.map(s => s"'$s'").mkString(", ")
    val lt = Dedup.LineTokens
    val (em, ph, ip) =
      (sqlRe(DocPrep.PiiEmailRe), sqlRe(DocPrep.PiiPhoneRe), sqlRe(DocPrep.PiiIpRe))
    val (ctrl, nonAscii, longSp) =
      (sqlRe(DocPrep.CtrlRe), sqlRe(DocPrep.NonAsciiRe), sqlRe(DocPrep.LongSpaceRe))
    s"""WITH t AS (
       |  SELECT doc_id, text, filter(split(text, ' '), x -> x != '') AS w,
       |    CAST(length(regexp_replace(text, ' ', '')) AS BIGINT) AS n_chars
       |  FROM documents),
       |gm AS (
       |  SELECT doc_id, CAST(size(w) AS BIGINT) AS n_tokens, n_chars,
       |    CAST(size(filter(w, x -> x rlike '[A-Za-z]')) AS BIGINT) AS n_alpha,
       |    CAST(size(array_intersect(array_distinct(w), array($stops))) AS BIGINT) AS n_stop
       |  FROM t),
       |rm AS (
       |  SELECT doc_id, CAST(size(w) AS BIGINT) AS n_words,
       |    CAST(greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1) AS BIGINT) AS n_sentences,
       |    CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT) AS n_syllables
       |  FROM t),
       |lines AS (
       |  SELECT doc_id, line FROM t
       |  LATERAL VIEW explode(
       |    CASE WHEN size(w) > 0
       |      THEN transform(
       |        sequence(0L, CAST(ceil(size(w) / $lt.0) AS BIGINT) - 1),
       |        i -> array_join(slice(w, CAST(i * $lt + 1 AS INT), $lt), ' '))
       |      ELSE CAST(array() AS ARRAY<STRING>) END) t2 AS line),
       |grp AS (
       |  SELECT doc_id, line, COUNT(1) AS c,
       |    CAST(size(filter(split(line, ' '), x -> x != '')) AS BIGINT) AS len
       |  FROM lines GROUP BY doc_id, line),
       |per AS (
       |  SELECT doc_id, SUM(c) AS n_lines,
       |    SUM(CASE WHEN c > 1 THEN c ELSE 0L END) AS n_dup_lines,
       |    SUM(CASE WHEN c > 1 THEN (c - 1) * len ELSE 0L END) AS dup_tokens
       |  FROM grp GROUP BY doc_id),
       |pa AS (
       |  SELECT doc_id,
       |    CAST(regexp_count(text, '$em') AS BIGINT) AS n_email,
       |    CAST(regexp_count(text, '$ph') AS BIGINT) AS n_phone,
       |    CAST(regexp_count(text, '$ip') AS BIGINT) AS n_ip,
       |    CAST(length(text) AS BIGINT) AS raw_len,
       |    CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
       |      '$em', '[EMAIL]'), '$ph', '[PHONE]'), '$ip', '[IP]'))
       |      AS BIGINT) AS redacted_len
       |  FROM t),
       |enc AS (
       |  SELECT doc_id,
       |    CAST(regexp_count(text, char(65533)) AS BIGINT) AS n_repl,
       |    CAST(regexp_count(text, '$ctrl') AS BIGINT) AS n_ctrl,
       |    CAST(length(regexp_replace(text, '$nonAscii', '')) AS BIGINT) AS n_ascii,
       |    CAST(regexp_count(text, '$longSp') AS BIGINT) AS n_longspace
       |  FROM t)
       |SELECT gm.doc_id, gm.n_tokens, gm.n_chars, gm.n_alpha, gm.n_stop,
       |  CASE WHEN gm.n_tokens BETWEEN ${TextAnalysis.GopherMinTokens}
       |            AND ${TextAnalysis.GopherMaxTokens}
       |       AND 3 * gm.n_tokens <= gm.n_chars
       |       AND gm.n_chars <= 10 * gm.n_tokens
       |       AND 5 * gm.n_alpha >= 4 * gm.n_tokens
       |       AND gm.n_stop >= 2 THEN 1L ELSE 0L END AS admitted,
       |  rm.n_words, rm.n_sentences, rm.n_syllables,
       |  CASE WHEN rm.n_words > 0 THEN
       |    round(206.835D
       |      - 1.015D * round(CAST(rm.n_words AS DOUBLE) / CAST(rm.n_sentences AS DOUBLE), 6)
       |      - 84.6D * round(CAST(rm.n_syllables AS DOUBLE) / CAST(rm.n_words AS DOUBLE), 6), 6)
       |  END AS flesch,
       |  COALESCE(per.n_lines, 0L) AS n_lines,
       |  COALESCE(per.n_dup_lines, 0L) AS n_dup_lines,
       |  COALESCE(per.dup_tokens, 0L) AS dup_tokens,
       |  pa.n_email, pa.n_phone, pa.n_ip,
       |  pa.n_email + pa.n_phone + pa.n_ip AS pii_total,
       |  pa.raw_len, pa.redacted_len,
       |  enc.n_repl, enc.n_ctrl, enc.n_ascii, enc.n_longspace,
       |  CASE WHEN enc.n_repl = 0 AND enc.n_ctrl = 0
       |        AND enc.n_longspace = 0
       |       THEN 1L ELSE 0L END AS clean
       |FROM gm JOIN rm USING (doc_id) LEFT JOIN per USING (doc_id)
       |  JOIN pa USING (doc_id) JOIN enc USING (doc_id)""".stripMargin
  }

  /** Spark-SQL face of TextAnalysis.sourceScorecardQuery (x168). */
  private def sourceScorecardSparkSql: String =
    s"""WITH panel AS (
       |${qualityPanelInnerSparkSql}
       |)
       |SELECT d.source, COUNT(1) AS n_docs,
       |  SUM(p.admitted) AS n_admitted,
       |  SUM(p.clean) AS n_clean,
       |  SUM(CASE WHEN p.pii_total > 0 THEN 1L ELSE 0L END) AS n_pii_docs,
       |  SUM(CASE WHEN p.n_dup_lines > 0 THEN 1L ELSE 0L END) AS n_dup_docs,
       |  COALESCE(SUM(p.n_tokens), 0L) AS n_tokens,
       |  CASE WHEN COUNT(p.flesch) > 0 THEN
       |    round(CAST(SUM(CAST(p.flesch AS DECIMAL(18,6))) AS DOUBLE)
       |      / CAST(COUNT(p.flesch) AS DOUBLE), 6) END AS avg_flesch
       |FROM panel p JOIN documents d USING (doc_id)
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** Spark-SQL face of TextAnalysis.nbQualityQuery (x155). */
  private def nbQualitySparkSql: String = {
    val b = TextAnalysis.NbBuckets
    def bkt(tok: String) =
      s"CAST(conv(substring(md5(concat($tok, ':${TextAnalysis.NbSalt}')), 1, 8), 16, 10) AS BIGINT) % $b"
    s"""WITH lab AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END AS BIGINT) AS y,
       |    text
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, y, filter(split(text, ' '), x -> x != '') AS w
       |  FROM lab WHERE text IS NOT NULL),
       |feats AS (
       |  SELECT doc_id, y, ${bkt("term")} AS bk FROM toks
       |  LATERAL VIEW explode(concat(w, word_shingles_all(w, 2))) t AS term),
       |dbc AS (SELECT doc_id, y, bk, COUNT(1) AS n FROM feats GROUP BY 1, 2, 3),
       |cb AS (
       |  SELECT bk, SUM(CASE WHEN y = 1 THEN n ELSE 0L END) AS pc,
       |         SUM(CASE WHEN y = 0 THEN n ELSE 0L END) AS nc
       |  FROM dbc GROUP BY bk),
       |tot AS (SELECT coalesce(SUM(pc), 0L) AS pt, coalesce(SUM(nc), 0L) AS nt FROM cb),
       |wts AS (
       |  SELECT bk,
       |    CAST(round(ln(CAST(pc + 1 AS DOUBLE) / CAST(pt + $b AS DOUBLE)), 6) AS DECIMAL(18,6))
       |    - CAST(round(ln(CAST(nc + 1 AS DOUBLE) / CAST(nt + $b AS DOUBLE)), 6) AS DECIMAL(18,6)) AS wb
       |  FROM cb CROSS JOIN tot),
       |pri AS (
       |  SELECT CAST(round(ln(CAST(coalesce(SUM(y), 0L) + 1 AS DOUBLE)
       |      / CAST(COUNT(1) - coalesce(SUM(y), 0L) + 1 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w0
       |  FROM lab),
       |sc AS (
       |  SELECT doc_id, SUM(n) AS n_feats, SUM(n * wb) AS s
       |  FROM dbc JOIN wts USING (bk) GROUP BY doc_id)
       |SELECT l.doc_id, l.y, coalesce(n_feats, 0L) AS n_feats,
       |  CAST(w0 + coalesce(s, CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS log_odds,
       |  CAST(CASE WHEN w0 + coalesce(s, CAST(0 AS DECIMAL(18,6))) > 0
       |       THEN 1 ELSE 0 END AS BIGINT) AS pred
       |FROM lab l LEFT JOIN sc USING (doc_id) CROSS JOIN pri
       |ORDER BY l.doc_id""".stripMargin
  }

  /** The x156 weight pipeline as a WITH-clause prefix ending in
    * `wts2` — shared by the x156 face and the x160 planner. */
  private def doremiCoreSparkSql: String = {
    val b = Sampling.DoremiBuckets
    val keep = s"CAST(${Sampling.DoremiKeep} AS DOUBLE)"
    val smooth = s"CAST(${Sampling.DoremiSmooth} AS DOUBLE)"
    val eta = s"CAST(${Sampling.DoremiEta} AS DOUBLE)"
    def bkt(tok: String) =
      s"CAST(conv(substring(md5(concat($tok, ':${Sampling.DoremiSalt}')), 1, 8), 16, 10) AS BIGINT) % $b"
    s"""WITH tok AS (
       |  SELECT source, ${bkt("term")} AS b FROM documents
       |  LATERAL VIEW explode(filter(split(text, ' '), x -> x != '')) t AS term),
       |sbc AS (SELECT source, b, COUNT(1) AS n FROM tok GROUP BY 1, 2),
       |cb AS (SELECT b, SUM(n) AS cn FROM sbc GROUP BY b),
       |nt AS (SELECT coalesce(SUM(cn), 0L) AS nn FROM cb),
       |lp AS (
       |  SELECT b, cn,
       |    CAST(round(ln(CAST(cn AS DOUBLE) / CAST(nn AS DOUBLE)), 6)
       |         AS DECIMAL(18,6)) AS lp
       |  FROM cb CROSS JOIN nt),
       |h AS (
       |  SELECT -CAST(SUM(cn * lp) AS DOUBLE)
       |    / CAST((SELECT nn FROM nt) AS DOUBLE) AS h FROM lp),
       |ce AS (
       |  SELECT source, SUM(n) AS n_tokens,
       |    -CAST(SUM(n * lp) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS ce
       |  FROM sbc JOIN lp USING (b) GROUP BY source),
       |ex AS (
       |  SELECT source, n_tokens, ce,
       |    greatest(round(ce - h, 6), CAST(0 AS DOUBLE)) AS excess,
       |    CAST(round(exp($eta * greatest(round(ce - h, 6), CAST(0 AS DOUBLE))), 6)
       |         AS DECIMAL(18,6)) AS e
       |  FROM ce CROSS JOIN h),
       |nrm AS (SELECT SUM(e) AS se, CAST(COUNT(1) AS DOUBLE) AS k FROM ex),
       |wts2 AS (
       |  SELECT source, n_tokens, ce, excess,
       |    $keep * (CAST(e AS DOUBLE) / CAST(se AS DOUBLE)) + $smooth / k AS weight
       |  FROM ex CROSS JOIN nrm)""".stripMargin
  }

  /** Spark-SQL face of Sampling.doremiQuery (x156). */
  private def doremiSparkSql: String =
    s"""$doremiCoreSparkSql
       |SELECT source, n_tokens, ce, excess, weight
       |FROM wts2
       |ORDER BY source""".stripMargin

  /** Spark-SQL face of Sampling.dataBudgetQuery (x160). */
  private def dataBudgetSparkSql: String = {
    val bf = s"CAST(${Sampling.BudgetFactor} AS DOUBLE)"
    val cap = s"CAST(${Sampling.BudgetEpochCap} AS DOUBLE)"
    s"""$doremiCoreSparkSql,
       |tot AS (SELECT CAST(coalesce(SUM(n_tokens), 0L) AS DOUBLE) AS t
       |        FROM wts2),
       |plan2 AS (
       |  SELECT source, n_tokens, weight,
       |    round($bf * t * weight, 6) AS demand
       |  FROM wts2 CROSS JOIN tot),
       |alloc2 AS (
       |  SELECT source, n_tokens, weight, demand,
       |    least(demand, $cap * CAST(n_tokens AS DOUBLE)) AS alloc
       |  FROM plan2)
       |SELECT source, n_tokens, weight, demand, alloc,
       |  round(alloc / CAST(n_tokens AS DOUBLE), 6) AS epochs
       |FROM alloc2
       |ORDER BY source""".stripMargin
  }

  /** Spark-SQL face of TextAnalysis.bpeMergeQuery (x161): the DuckDB
    * twin's run-parity window rewrite in Spark dialect — a THIRD
    * strategy for the same loop (the engine face folds in-row), value-
    * identical, at the engine's distinct-word grain: w0 aggregates
    * occurrences to (word, n) once, pair counts weight by n, and the
    * word string itself is the window partition key — deterministic
    * under stage retry / speculative re-execution, unlike a
    * monotonically_increasing_id row id (SPARK-23207-class hazard). */
  private def bpeMergesSparkSql: String = {
    val steps = (1 to TextAnalysis.BpeMergeSteps).map { t =>
      val prev = s"w${t - 1}"
      s"""p$t AS (
         |  SELECT concat(element_at(s, i), chr(1), element_at(s, i + 1)) AS p, n
         |  FROM $prev LATERAL VIEW explode(sequence(1, size(s) - 1)) t AS i
         |  WHERE size(s) >= 2),
         |top$t AS (
         |  SELECT split_part(p, chr(1), 1) AS a,
         |         split_part(p, chr(1), 2) AS b,
         |         SUM(n) AS n
         |  FROM p$t GROUP BY p ORDER BY n DESC, p LIMIT 1),
         |pos$t AS (
         |  SELECT wid, n, i + 1 AS i, sym
         |  FROM $prev LATERAL VIEW posexplode(s) t AS i, sym),
         |m$t AS (
         |  SELECT wid, n, i, sym,
         |    lead(sym) OVER (PARTITION BY wid ORDER BY i) AS nxt,
         |    CASE WHEN sym = (SELECT a FROM top$t)
         |          AND lead(sym) OVER (PARTITION BY wid ORDER BY i)
         |              = (SELECT b FROM top$t)
         |         THEN 1 ELSE 0 END AS m
         |  FROM pos$t),
         |r$t AS (
         |  SELECT wid, n, i, sym, nxt, m,
         |    CASE WHEN m = 1 THEN
         |      i - row_number() OVER (PARTITION BY wid, m ORDER BY i) END AS grp
         |  FROM m$t),
         |k$t AS (
         |  SELECT wid, n, i, sym, nxt, m,
         |    CASE WHEN m = 1
         |          AND (i - MIN(i) OVER (PARTITION BY wid, grp)) % 2 = 0
         |         THEN 1 ELSE 0 END AS take
         |  FROM r$t),
         |e$t AS (
         |  SELECT wid, n, i,
         |    CASE WHEN take = 1 THEN concat(sym, nxt) ELSE sym END AS sym,
         |    lag(take) OVER (PARTITION BY wid ORDER BY i) AS consumed
         |  FROM k$t),
         |w$t AS (
         |  SELECT wid, n, transform(array_sort(collect_list(struct(i, sym))),
         |           x -> x.sym) AS s
         |  FROM e$t WHERE coalesce(consumed, 0) = 0
         |  GROUP BY wid, n)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to TextAnalysis.BpeMergeSteps).map { t =>
      s"""SELECT CAST($t AS INT) AS step, a AS lhs, b AS rhs,
         |  concat(a, b) AS merged, n AS n_pair FROM top$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH w0 AS (
       |  SELECT w AS wid, CAST(COUNT(1) AS BIGINT) AS n, split(w, '') AS s
       |  FROM (SELECT explode(filter(split(text, ' '), x -> x != '')) AS w
       |        FROM documents) t
       |  WHERE length(w) >= 2
       |  GROUP BY w),
       |$steps
       |$unions
       |ORDER BY step""".stripMargin
  }

  /** Spark-SQL face of Dedup.selfExciseQuery (x157): the engine's
    * exact lexicographic (doc_id, g) struct argmin keeper. */
  private def selfExciseSparkSql: String =
    s"""WITH cand AS (
       |  SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w
       |  FROM documents WHERE text IS NOT NULL),
       |occ AS (
       |  SELECT doc_id, g, gram FROM cand
       |  LATERAL VIEW posexplode(word_shingles_all(w, 4)) t AS g, gram),
       |keepers AS (
       |  SELECT gram, COUNT(1) AS cnt,
       |    MIN(struct(doc_id, g)) AS keep_oid
       |  FROM occ GROUP BY gram),
       |cut AS (
       |  SELECT o.doc_id, o.g FROM occ o JOIN keepers k USING (gram)
       |  WHERE k.cnt >= 2 AND struct(o.doc_id, o.g) != k.keep_oid),
       |dropped AS (
       |  SELECT DISTINCT doc_id, p FROM cut
       |  LATERAL VIEW explode(sequence(g, g + 3)) t AS p),
       |tokens AS (
       |  SELECT doc_id, p, tok FROM cand
       |  LATERAL VIEW posexplode(w) t AS p, tok),
       |kept AS (
       |  SELECT t.doc_id, t.p, t.tok FROM tokens t
       |  LEFT ANTI JOIN dropped d ON t.doc_id = d.doc_id AND t.p = d.p),
       |agg AS (
       |  SELECT doc_id, COUNT(1) AS n_kept,
       |    concat_ws(' ', transform(array_sort(collect_list(struct(p, tok))),
       |      s -> s.tok)) AS out
       |  FROM kept GROUP BY doc_id)
       |SELECT c.doc_id, CAST(size(w) AS BIGINT) AS n_tokens,
       |  CAST(size(w) - coalesce(n_kept, 0L) AS BIGINT) AS n_dropped,
       |  md5(coalesce(out, '')) AS out_key
       |FROM cand c LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Spark-SQL face of Similarity.pcaProjectionQuery (x158): the
    * whole power iteration IN-ENGINE as unrolled CTE stages — a second
    * physical strategy for the same arithmetic (the engine face
    * iterates the collected d×d matrix driver-side), value-identical
    * because every inexact step rounds at the same place. */
  /** One unrolled power-iteration chain (Spark dialect) over Gram CTE
    * `g` with variable prefix `xp`, starting from `${xp}0`. */
  private def pcaStepsSparkSql(g: String, xp: String, iters: Int): String =
    (1 to iters).map { t =>
      s"""${xp}y$t AS (
         |  SELECT $g.j AS i, SUM($g.gv * $xp${t - 1}.x) AS y
         |  FROM $g JOIN $xp${t - 1} ON $g.i = $xp${t - 1}.i GROUP BY $g.j),
         |${xp}n$t AS (
         |  SELECT sqrt(CAST(SUM(yd * yd) AS DOUBLE)) AS nrm FROM
         |    (SELECT CAST(round(CAST(y AS DOUBLE), 6) AS DECIMAL(18,6)) AS yd
         |     FROM ${xp}y$t) s),
         |$xp$t AS (
         |  SELECT i, CAST(round(round(CAST(y AS DOUBLE), 6) / nrm, 6)
         |         AS DECIMAL(12,6)) AS x
         |  FROM ${xp}y$t CROSS JOIN ${xp}n$t)""".stripMargin
    }.mkString(",\n")

  private def pcaGramSparkSql: String =
    """g AS (
      |  SELECT i, j,
      |    CAST(SUM(CAST(vi AS DECIMAL(18,4)) * CAST(vj AS DECIMAL(18,4)))
      |         AS DECIMAL(24,8)) AS gv
      |  FROM embeddings
      |  LATERAL VIEW posexplode(embedding) a AS i, vi
      |  LATERAL VIEW posexplode(embedding) b AS j, vj
      |  GROUP BY 1, 2),
      |dims AS (SELECT DISTINCT i FROM g),
      |x0 AS (
      |  SELECT i, CAST(round(1.0 / sqrt((SELECT CAST(COUNT(1) AS DOUBLE)
      |                                   FROM dims)), 6)
      |         AS DECIMAL(12,6)) AS x
      |  FROM dims)""".stripMargin

  private def pcaAxisSparkSql(from: String, name: String): String =
    s"""$name AS (
       |  SELECT transform(array_sort(collect_list(struct(i, x))),
       |           s -> CAST(s.x AS DOUBLE)) AS a
       |  FROM $from)""".stripMargin

  private def pcaProjSparkSql: String = {
    val iters = Similarity.PcaIters
    s"""WITH $pcaGramSparkSql,
       |${pcaStepsSparkSql("g", "x", iters)},
       |${pcaAxisSparkSql(s"x$iters", "axis")}
       |SELECT vec_id, label,
       |  CAST(CAST(round(dot_product(embedding, axis.a), 6)
       |       AS DECIMAL(18,6)) AS DOUBLE) AS proj
       |FROM embeddings CROSS JOIN axis
       |ORDER BY vec_id""".stripMargin
  }

  /** Spark-SQL face of Dedup.exciseQuery (x151). */
  private def exciseSparkSql: String =
    """WITH refg AS (
      |  SELECT DISTINCT gram FROM documents
      |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), 4)) t AS gram
      |  WHERE source IN ('src0', 'src1')),
      |cand AS (
      |  SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w
      |  FROM documents
      |  WHERE source NOT IN ('src0', 'src1') AND text IS NOT NULL),
      |grams AS (
      |  SELECT doc_id, g, gram FROM cand
      |  LATERAL VIEW posexplode(word_shingles_all(w, 4)) t AS g, gram),
      |hits AS (SELECT DISTINCT doc_id, g FROM grams JOIN refg USING (gram)),
      |dropped AS (
      |  SELECT DISTINCT doc_id, p FROM hits
      |  LATERAL VIEW explode(sequence(g, g + 3)) t AS p),
      |tokens AS (
      |  SELECT doc_id, p, tok FROM cand
      |  LATERAL VIEW posexplode(w) t AS p, tok),
      |kept AS (
      |  SELECT t.doc_id, t.p, t.tok FROM tokens t
      |  LEFT ANTI JOIN dropped d ON t.doc_id = d.doc_id AND t.p = d.p),
      |agg AS (
      |  SELECT doc_id, COUNT(1) AS n_kept,
      |    concat_ws(' ', transform(array_sort(collect_list(struct(p, tok))),
      |      s -> s.tok)) AS out
      |  FROM kept GROUP BY doc_id)
      |SELECT c.doc_id, CAST(size(w) AS BIGINT) AS n_tokens,
      |  CAST(size(w) - coalesce(n_kept, 0L) AS BIGINT) AS n_dropped,
      |  md5(coalesce(out, '')) AS out_key
      |FROM cand c LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Spark-SQL face of Sampling.curriculumQuery (x150): the window
    * form — value-identical to the engine face's distributed prefix
    * scan (the spec asserts it), differing only in physical strategy,
    * like x26 vs x37 and x141. */
  private def curriculumSparkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(row_number() OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS rank,
       |    CAST(COUNT(1) OVER () AS BIGINT) AS n
       |  FROM t)
       |SELECT doc_id, n_tokens, rank,
       |  (${Sampling.CurriculumBands} * (rank - 1)) div n AS band
       |FROM r ORDER BY doc_id""".stripMargin
  /** Spark-SQL face of Dedup.containmentQuery (x87): the x46 candidate
    * CTE with the asymmetric containment accept
    * inter·5 >= min(n1,n2)·3 instead of the Jaccard cut. */
  private def containmentSparkSql: String =
    """WITH grams AS (
      |  SELECT doc_id, lang, gram FROM documents
      |  LATERAL VIEW explode(word_shingles(filter(split(text, ' '), x -> x != ''), 3)) t AS gram),
      |rare AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(1) <= 20),
      |rg AS (SELECT g.doc_id, g.lang, g.gram FROM grams g JOIN rare USING (gram)),
      |cand AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM rg a JOIN rg b ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |  HAVING COUNT(1) >= 2),
      |gsz AS (SELECT doc_id, COUNT(1) AS n FROM grams GROUP BY doc_id),
      |vint AS (
      |  SELECT c.d1, c.d2, COUNT(1) AS inter
      |  FROM cand c JOIN grams g1 ON g1.doc_id = c.d1
      |               JOIN grams g2 ON g2.doc_id = c.d2 AND g2.gram = g1.gram
      |  GROUP BY c.d1, c.d2)
      |SELECT v.d1, v.d2, CAST(v.inter AS BIGINT) AS inter,
      |  CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2
      |FROM vint v JOIN gsz s1 ON s1.doc_id = v.d1
      |            JOIN gsz s2 ON s2.doc_id = v.d2
      |WHERE v.inter * 5 >= least(s1.n, s2.n) * 3
      |ORDER BY d1, d2""".stripMargin

  /** Spark-SQL face of Similarity.marginQuery (x94): round-6 decimal
    * sims, rank tie-broken on neighbor id, exact decimal top-k sum,
    * the margin as the same (cos1·m)/sum float image. */
  private def marginSparkSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
       |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM e
       |      WHERE vec_id < ${Similarity.MarginQueryIds}),
       |sc AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    CAST(round(cosine_sim(q.qvec, e.embedding), 6) AS DECIMAL(18,6)) AS sim
       |  FROM q JOIN e ON e.vec_id != q.query_id),
       |r AS (
       |  SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rk
       |  FROM sc)
       |SELECT query_id,
       |  MAX(CASE WHEN rk = 1 THEN neighbor_id END) AS best_id,
       |  CAST(MAX(CASE WHEN rk = 1 THEN sim END) AS DOUBLE) * COUNT(1)
       |    / CAST(SUM(sim) AS DOUBLE) AS margin
       |FROM r WHERE rk <= ${Similarity.MarginK}
       |GROUP BY query_id ORDER BY query_id""".stripMargin

  /** Spark-SQL face of Dedup.editPairsQuery (x100): the SNM rank
    * window a SQL user writes — same pair set as the engine's
    * denseIds-ranked neighborhood equi-join, same integer accept. */
  private def editPairsSparkSql: String =
    s"""WITH norm AS (
       |  SELECT doc_id,
       |    substring(normalize_text(text), 1, ${Dedup.EditPrefix}) AS pfx
       |  FROM documents),
       |ranked AS (
       |  SELECT doc_id, pfx,
       |    ROW_NUMBER() OVER (ORDER BY pfx, doc_id) AS rk
       |  FROM norm)
       |SELECT least(a.doc_id, b.doc_id) AS d1,
       |  greatest(a.doc_id, b.doc_id) AS d2,
       |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist,
       |  CASE WHEN levenshtein(a.pfx, b.pfx) * 10
       |         <= greatest(length(a.pfx), length(b.pfx))
       |       THEN 1L ELSE 0L END AS near
       |FROM ranked a JOIN ranked b
       |  ON b.rk - a.rk BETWEEN 1 AND ${Dedup.SnmWindow - 1}
       |ORDER BY d1, d2""".stripMargin

  /** Spark-SQL face of Analytics.krippendorffQuery (x105): the same
    * closed-form alpha with min_by first-vote dedup and the round-6
    * decimal D_o terms. */
  private def krippSparkSql: String =
    """WITH votes AS (
      |  SELECT user_id % 7 AS annotator, event_id % 500 AS item,
      |    event_type AS label, event_id AS vote_id
      |  FROM events
      |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
      |firstv AS (
      |  SELECT item, annotator, min_by(label, vote_id) AS label
      |  FROM votes GROUP BY item, annotator),
      |byil AS (
      |  SELECT item, label, COUNT(1) AS n_il FROM firstv GROUP BY item, label),
      |byi AS (
      |  SELECT item, SUM(n_il) AS n_i FROM byil GROUP BY item
      |  HAVING SUM(n_il) >= 2),
      |il AS (
      |  SELECT b.item, b.label, b.n_il, i.n_i FROM byil b JOIN byi i USING (item)),
      |dosum AS (
      |  SELECT SUM(CAST(round(CAST(n_il * (n_i - n_il) AS DOUBLE)
      |                          / CAST(n_i - 1 AS DOUBLE), 6)
      |               AS DECIMAL(18,6))) AS do_sum
      |  FROM il),
      |tot AS (SELECT SUM(n_i) AS n, COUNT(1) AS n_items FROM byi),
      |denum AS (
      |  SELECT SUM(n_l * (n - n_l)) AS de_num, n, n_items
      |  FROM (SELECT label, SUM(n_il) AS n_l FROM il GROUP BY label)
      |       CROSS JOIN tot
      |  GROUP BY n, n_items)
      |SELECT n, n_items,
      |  round(1.0D - (CAST(do_sum AS DOUBLE) / CAST(n AS DOUBLE))
      |              / (CAST(de_num AS DOUBLE)
      |                 / CAST(n * (n - 1) AS DOUBLE)), 6) AS alpha
      |FROM denum CROSS JOIN dosum
      |ORDER BY n""".stripMargin

  /** Spark-SQL face of Similarity.hardNegativesQuery (x120): two-leg
    * (anchor × is_pos) rank on the round-6 sim, nid tie-break. */
  private def hardNegativesSparkSql: String =
    """WITH v AS (
      |  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 200),
      |sims AS (
      |  SELECT a.vec_id, b.vec_id AS nid, a.label = b.label AS is_pos,
      |    round(cosine_sim(a.embedding, b.embedding), 6) AS sim
      |  FROM v a JOIN v b ON a.vec_id != b.vec_id),
      |r AS (
      |  SELECT vec_id, nid, is_pos,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, is_pos
      |                       ORDER BY sim DESC, nid) AS rk
      |  FROM sims)
      |SELECT vec_id,
      |  MIN(CASE WHEN is_pos THEN nid END) AS pos_id,
      |  MIN(CASE WHEN NOT is_pos THEN nid END) AS neg_id
      |FROM r WHERE rk = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin
  /** Spark-SQL face of Layout.zonemapQuery (x77): lo/span as a 1-row
    * CTE instead of the engine's driver-collected literals — same
    * explicit bucket arithmetic, same interleave kernel. */
  private def zonemapSparkSql: String = {
    val n = 1L << graft.operators.Layout.ZmBits
    def bucket(v: String, lo: String, span: String): String =
      s"CASE WHEN $span = 0D THEN 0L ELSE least(${n - 1}L, greatest(0L, " +
        s"floor(((CAST($v AS DOUBLE) - $lo) * $n.0D) / $span))) END"
    s"""WITH e AS (
       |  SELECT user_id, value FROM events
       |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
       |r AS (
       |  SELECT CAST(min(user_id) AS DOUBLE) AS lo_u,
       |         CAST(max(user_id) - min(user_id) AS DOUBLE) AS span_u,
       |         CAST(min(value) AS DOUBLE) AS lo_v,
       |         CAST(max(value) AS DOUBLE) - CAST(min(value) AS DOUBLE) AS span_v
       |  FROM e),
       |z AS (
       |  SELECT user_id, value,
       |    shiftright(interleave_bits(
       |      CAST(${bucket("user_id", "lo_u", "span_u")} AS INT),
       |      CAST(${bucket("value", "lo_v", "span_v")} AS INT),
       |      ${graft.operators.Layout.ZmBits}), ${graft.operators.Layout.ZmShift}) AS zbucket
       |  FROM e CROSS JOIN r)
       |SELECT zbucket, COUNT(1) AS n,
       |  MIN(user_id) AS min_u, MAX(user_id) AS max_u,
       |  MIN(value) AS min_v, MAX(value) AS max_v
       |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin
  }

  // ---- the deterministic k-means CTE chain (x78/x83/x92), mirroring
  // ExtrasOracle's kmCtes in Spark dialect: assignment = argmax of the
  // round-6 cosine (cid tie-break), update = per-component exact
  // DECIMAL(18,4) sums cast to double, emptied clusters keep their
  // previous centroid.

  private def kmAssignSparkCte(a: String, c: String): String =
    s"""$a AS (
       |  SELECT vec_id, cid, sim FROM (
       |    SELECT e.vec_id, c.cid,
       |      CAST(round(cosine_sim(e.v, c.cv), 6) AS DECIMAL(18,6)) AS sim,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(cosine_sim(e.v, c.cv), 6) DESC, c.cid) AS rn
       |    FROM e CROSS JOIN $c c) WHERE rn = 1)""".stripMargin

  private def kmUpdateSparkCte(c: String, a: String, prev: String): String =
    s"""$c AS (
       |  SELECT $prev.cid, coalesce(s.cv, $prev.cv) AS cv
       |  FROM $prev LEFT JOIN (
       |    SELECT cid,
       |      transform(array_sort(collect_list(struct(pos, cs))), x -> x.cs) AS cv
       |    FROM (
       |      SELECT a.cid, pos,
       |        CAST(SUM(CAST(el AS DECIMAL(18,4))) AS DOUBLE) AS cs
       |      FROM $a a JOIN e USING (vec_id)
       |      LATERAL VIEW posexplode(e.v) t AS pos, el
       |      GROUP BY a.cid, pos) GROUP BY cid) s ON s.cid = $prev.cid)""".stripMargin

  private def kmSparkCtes: String = {
    val rounds = (1 to Similarity.KmeansIters).map { i =>
      kmAssignSparkCte(s"a$i", s"c${i - 1}") + ",\n" +
        kmUpdateSparkCte(s"c$i", s"a$i", s"c${i - 1}")
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |c0 AS (
       |  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < ${Similarity.KmeansK}),
       |$rounds,
       |${kmAssignSparkCte("afin", s"c${Similarity.KmeansIters}")}""".stripMargin
  }

  /** Spark-SQL face of Similarity.kmeansQuery (x78). */
  private def kmeansSparkSql: String =
    s"""WITH $kmSparkCtes
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
       |  CAST(sim AS DOUBLE) AS cos_c
       |FROM afin ORDER BY vec_id""".stripMargin

  /** Spark-SQL face of Similarity.annExactQuery (x83): the IVF probe
    * over the x78-pinned codebook. */
  private def annExactSparkSql: String =
    s"""WITH $kmSparkCtes,
       |q AS (
       |  SELECT vec_id AS query_id, v AS qv FROM e
       |  WHERE vec_id < ${Similarity.AnnExactQueryIds}),
       |pr AS (
       |  SELECT query_id, qv, cid FROM (
       |    SELECT q.query_id, q.qv, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY round(cosine_sim(q.qv, c.cv), 6) DESC, c.cid) AS prn
       |    FROM q CROSS JOIN c${Similarity.KmeansIters} c)
       |  WHERE prn <= ${Similarity.AnnExactProbes}),
       |scored AS (
       |  SELECT pr.query_id, a.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY pr.query_id
       |      ORDER BY round(cosine_sim(pr.qv, e.v), 6) DESC, a.vec_id) AS rank
       |  FROM pr JOIN afin a ON a.cid = pr.cid AND a.vec_id != pr.query_id
       |  JOIN e ON e.vec_id = a.vec_id)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
       |FROM scored WHERE rank <= ${Similarity.AnnExactK}
       |ORDER BY query_id, rank""".stripMargin

  /** Spark-SQL face of Similarity.semDedupQuery (x92): within-cluster
    * lower-id-wins duplicate counting at the round-6 cosine cut. */
  private def semDedupSparkSql: String =
    s"""WITH $kmSparkCtes,
       |p AS (
       |  SELECT a2.vec_id AS vec_id, COUNT(1) AS n_dups
       |  FROM afin a1 JOIN afin a2 ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
       |  JOIN e e1 ON e1.vec_id = a1.vec_id
       |  JOIN e e2 ON e2.vec_id = a2.vec_id
       |  WHERE round(cosine_sim(e1.v, e2.v), 6) >= ${Similarity.SemDedupTau}
       |  GROUP BY a2.vec_id)
       |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster,
       |  coalesce(p.n_dups, 0L) AS n_dups,
       |  CASE WHEN p.n_dups IS NULL THEN 1L ELSE 0L END AS keep
       |FROM afin a LEFT JOIN p USING (vec_id)
       |ORDER BY a.vec_id""".stripMargin
  /** Spark-SQL face of Analytics.dawidSkeneQuery (x101): the one
    * closed-form majority -> integer-weight -> revote round, integer
    * weights via `div` so no float enters the rank order. */
  private def dawidSkeneSparkSql: String =
    """WITH votes AS (
      |  SELECT user_id % 7 AS annotator, event_id % 500 AS item,
      |    event_type AS label, event_id AS vote_id
      |  FROM events
      |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
      |firstv AS (
      |  SELECT item, annotator, min_by(label, vote_id) AS label
      |  FROM votes GROUP BY item, annotator),
      |maj AS (
      |  SELECT item, label AS maj_label FROM (
      |    SELECT item, label,
      |      ROW_NUMBER() OVER (PARTITION BY item
      |        ORDER BY COUNT(1) DESC, label) AS r
      |    FROM firstv GROUP BY item, label)
      |  WHERE r = 1),
      |wts AS (
      |  SELECT f.annotator,
      |    (1000000L * SUM(CASE WHEN f.label = m.maj_label THEN 1L ELSE 0L END))
      |      div COUNT(1) AS iw
      |  FROM firstv f JOIN maj m USING (item)
      |  GROUP BY f.annotator),
      |revote AS (
      |  SELECT item, label AS ds_label FROM (
      |    SELECT f.item, f.label,
      |      ROW_NUMBER() OVER (PARTITION BY f.item
      |        ORDER BY SUM(w.iw) DESC, f.label) AS r
      |    FROM firstv f JOIN wts w USING (annotator)
      |    GROUP BY f.item, f.label)
      |  WHERE r = 1),
      |nv AS (SELECT item, COUNT(1) AS n_votes FROM firstv GROUP BY item)
      |SELECT n.item, n.n_votes, m.maj_label, r.ds_label,
      |  CASE WHEN m.maj_label != r.ds_label THEN 1L ELSE 0L END AS flipped
      |FROM nv n JOIN maj m USING (item) JOIN revote r USING (item)
      |ORDER BY item""".stripMargin
}
