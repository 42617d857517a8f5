package graft.operators

/** The SQL-text face of the q-series: for every relational query, the
  * `spark.sql` form a user would type over `Tables.registerAll` views,
  * plus Q20's pipeline as one statement. Each text is asserted hash-equal
  * (rows, order, column names) to its DataFrame form in SqlSurfaceSpec —
  * the two surfaces compile to the same Catalyst plans, so this is the
  * proof that a SQL-first user gets identical semantics from this library.
  * SQL texts exist only for these queries; the x-series extras faces are
  * DataFrame-only, and their values are checked against the DuckDB SQL in
  * `ExtrasOracle`.
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
}
