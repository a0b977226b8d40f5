package graft.oracle

/**
 * DuckDB oracle SQL for [[graft.operators.Relational]]. Each statement
 * must produce the SAME column names and value-equal rows as its Spark
 * twin at sf0.01 (the driver sorts columns by name and hash-compares
 * values). Floats are rounded identically on both sides.
 */
object RelationalSql {

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(30,8))), 4) AS DOUBLE) AS sum_qty,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS sum_base_price,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 4) AS DOUBLE) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY 1, 2""".stripMargin,

    "q02_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |       round(l_extendedprice * (1 - l_discount), 4) AS net_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount > 0.05""".stripMargin,

    "q03_revenue_by_nation" ->
      """SELECT r_name, n_name,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue,
        |       count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "q04_topk_parts_per_flag" ->
      """WITH rev AS (
        |  SELECT l_returnflag, l_partkey,
        |         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |  FROM lineitem GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY revenue DESC, l_partkey ASC) AS rk
        |  FROM rev
        |)
        |SELECT l_returnflag, l_partkey, revenue, CAST(rk AS INTEGER) AS rk
        |FROM ranked WHERE rk <= 3""".stripMargin,

    "q05_distinct_counts" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps,
        |       count(DISTINCT l_orderkey) AS n_orders,
        |       count(*) AS n_rows
        |FROM lineitem""".stripMargin,

    // approx-sketch CONTRACT row: the oracle recomputes the exact
    // counts and pins each within-5% verdict to literal 1 — a
    // drifting HLL estimate flips the Spark-side ok column and
    // hash-fails the row (same pattern for q53b/q99/q102)
    "q05b_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps,
        |       count(DISTINCT l_orderkey) AS n_orders,
        |       count(*) AS n_rows,
        |       1 AS parts_ok, 1 AS supps_ok, 1 AS orders_ok
        |FROM lineitem""".stripMargin,

    "q06_daily_events" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |       count(*) AS n,
        |       round(sum(value), 4) AS sum_value,
        |       floor(avg(value) * 10000.0 + 0.5) / 10000.0 AS avg_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q07_event_buckets" ->
      """SELECT event_type,
        |       CASE WHEN value < 50 THEN 'low'
        |            WHEN value < 150 THEN 'mid'
        |            ELSE 'high' END AS bucket,
        |       count(*) AS n,
        |       round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q08_customers_without_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= DATE '2000-01-01')""".stripMargin,

    "q09_top_customer_per_nation" ->
      """WITH ranked AS (
        |  SELECT n_name, c_custkey, c_acctbal, row_number() OVER (
        |    PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |)
        |SELECT n_name, c_custkey, round(c_acctbal, 4) AS best_acctbal
        |FROM ranked WHERE rk = 1""".stripMargin,

    "q10_user_item_stats" ->
      s"""WITH ${graft.sources.Tables.ratingsSql}
         |SELECT user_id, count(*) AS n_items,
         |       round(avg(rating), 4) AS mean_rating,
         |       round(min(rating), 4) AS min_rating,
         |       round(max(rating), 4) AS max_rating
         |FROM ratings GROUP BY 1""".stripMargin,

    "q11_user_baskets" ->
      """SELECT o_custkey AS user_id,
        |       CAST(l_shipdate AS DATE) AS basket_date,
        |       array_to_string(list_sort(list(DISTINCT l_partkey)), ',') AS items,
        |       count(DISTINCT l_partkey) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    "q12_part_strings" ->
      """SELECT p_partkey,
        |       lower(p_brand) AS brand_lc,
        |       CAST(length(p_name) AS INTEGER) AS name_len,
        |       string_split(p_type, ' ')[1] AS type_head,
        |       printf('%s_%d', p_brand, p_size) AS brand_size
        |FROM part""".stripMargin,

    "q13_order_lifecycle" ->
      """SELECT o_custkey,
        |       min(o_orderdate) AS first_order,
        |       max(o_orderdate) AS last_order,
        |       count(*) AS n_orders,
        |       date_diff('day', min(o_orderdate), max(o_orderdate)) AS active_days
        |FROM orders GROUP BY 1""".stripMargin,

    "q14_period_ids" ->
      """SELECT order_date,
        |       row_number() OVER (ORDER BY order_date) - 1 AS period_id
        |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders)""".stripMargin,

    "q15_array_hof" ->
      """SELECT l_orderkey,
        |       CAST(len(parts) AS INTEGER) AS n_parts,
        |       CAST(len(list_filter(parts, x -> x % 2 = 1)) AS INTEGER) AS n_odd_parts,
        |       array_to_string(parts, ',') AS parts_csv
        |FROM (
        |  SELECT l_orderkey, list_sort(list(l_partkey)) AS parts
        |  FROM lineitem GROUP BY 1
        |)""".stripMargin,

    "q51_topk_heap" ->
      """WITH rev AS (
        |  SELECT l_returnflag, l_partkey,
        |         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |  FROM lineitem GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY revenue DESC, l_partkey ASC) AS rk
        |  FROM rev
        |)
        |SELECT l_returnflag, l_partkey, revenue, CAST(rk AS INTEGER) AS rk
        |FROM ranked WHERE rk <= 3""".stripMargin,

    "q37_candidate_freq" ->
      """WITH freq AS (
        |  SELECT c_mktsegment, item_id, count(*) AS n_orders FROM (
        |    SELECT DISTINCT c_mktsegment, l_orderkey, l_partkey AS item_id
        |    FROM lineitem
        |    JOIN orders   ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey)
        |  GROUP BY 1, 2)
        |SELECT c_mktsegment, item_id, n_orders, CAST(rk AS INTEGER) AS rk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY c_mktsegment
        |        ORDER BY n_orders DESC, item_id ASC) AS rk
        |      FROM freq)
        |WHERE rk <= 3""".stripMargin,

    "q38_seq_encode" ->
      """WITH w AS (
        |  SELECT min(o_orderdate) AS dmin,
        |         CAST(ceil((date_diff('day', min(o_orderdate), max(o_orderdate)) + 1) / 8.0)
        |              AS BIGINT) AS width
        |  FROM orders),
        |assigned AS (
        |  SELECT o.o_orderkey, o.o_custkey AS user_id,
        |         least(CAST(date_diff('day', w.dmin, o.o_orderdate) AS BIGINT) // w.width,
        |               7) AS period_id
        |  FROM orders o CROSS JOIN w),
        |ev AS (
        |  SELECT DISTINCT a.user_id, a.period_id, l.l_partkey AS item_id
        |  FROM assigned a JOIN lineitem l ON l.l_orderkey = a.o_orderkey),
        |agg AS (
        |  SELECT user_id, max(period_id) AS pmax, count(*) AS n_events
        |  FROM ev GROUP BY 1)
        |SELECT e.user_id, CAST(a.n_events AS INTEGER) AS n_events,
        |       string_agg(CAST(e.item_id AS VARCHAR) || '_' ||
        |                  CAST(a.pmax - e.period_id AS VARCHAR), ','
        |                  ORDER BY e.period_id, e.item_id) AS seq_csv
        |FROM ev e JOIN agg a USING (user_id)
        |GROUP BY e.user_id, a.n_events""".stripMargin,

    "q39_set_ops" ->
      """WITH a AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-01-01 00:00:00'),
        |b AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00')
        |SELECT
        |  (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS n_union,
        |  (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_intersect,
        |  (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_except_a,
        |  (SELECT count(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a)) AS n_except_b""".stripMargin,

    "q53_event_percentiles" ->
      """SELECT event_type,
        |       floor(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50,
        |       floor(quantile_cont(value, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90,
        |       floor(quantile_cont(value, 0.99) * 10000.0 + 0.5) / 10000.0 AS p99,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    // q53's exact percentiles + pinned within-tolerance verdicts for
    // the approx_percentile sketch (see q05b note)
    "q53b_approx_percentiles" ->
      """SELECT event_type,
        |       floor(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50,
        |       floor(quantile_cont(value, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90,
        |       floor(quantile_cont(value, 0.99) * 10000.0 + 0.5) / 10000.0 AS p99,
        |       count(*) AS n,
        |       1 AS p50_ok, 1 AS p90_ok, 1 AS p99_ok
        |FROM events GROUP BY 1""".stripMargin,

    // exact slice distincts + pinned within-tolerance verdicts for the
    // mergeable-HLL rollup (see q05b note)
    "q102_sketch_rollup" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |       count(*) AS n_events, 1 AS users_ok
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT '<all>', count(DISTINCT user_id), count(*), 1 FROM events""".stripMargin,

    "q54_event_pivot" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |       COALESCE(round(sum(CASE WHEN event_type = 'click' THEN value END), 4), 0.0) AS click,
        |       COALESCE(round(sum(CASE WHEN event_type = 'error' THEN value END), 4), 0.0) AS error,
        |       COALESCE(round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4), 0.0) AS purchase,
        |       COALESCE(round(sum(CASE WHEN event_type = 'signup' THEN value END), 4), 0.0) AS signup,
        |       COALESCE(round(sum(CASE WHEN event_type = 'view' THEN value END), 4), 0.0) AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q55_revenue_rollup" ->
      """SELECT COALESCE(r_name, '<all>') AS r_name,
        |       COALESCE(n_name, '<all>') AS n_name,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |                           AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue,
        |       count(*) AS n_rows
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "q57_event_sessions" ->
      """WITH seq AS (
        |  SELECT event_id, user_id, ts, event_type,
        |         lag(ts) OVER (PARTITION BY user_id
        |                       ORDER BY ts ASC, event_id ASC) AS prev_ts
        |  FROM events),
        |tagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |                   OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
        |                 THEN 1 ELSE 0 END AS new_session
        |  FROM seq),
        |sessions AS (
        |  SELECT *, sum(new_session) OVER (
        |    PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS session_id
        |  FROM tagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events,
        |       count(DISTINCT event_type) AS n_types,
        |       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_s
        |FROM sessions GROUP BY 1, 2""".stripMargin,

    // delay is a DIFF OF FLOORS (Spark unix_timestamp truncates each
    // endpoint to whole seconds before subtracting), not floor-of-diff
    "q68_click_attribution" ->
      """SELECT c.user_id,
        |       c.event_id AS click_id,
        |       p.event_id AS purchase_id,
        |       CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS delay_s,
        |       p.value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id
        | AND p.ts >= c.ts
        | AND p.ts < c.ts + INTERVAL 30 MINUTE""".stripMargin,

    "q71_trending_users" ->
      """WITH uv AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id,
        |         floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS vol
        |  FROM events GROUP BY 1, 2)
        |SELECT day, user_id,
        |       floor(vol * 10000.0 + 0.5) / 10000.0 AS volume,
        |       CAST(rk AS INTEGER) AS rk
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY day ORDER BY vol DESC, user_id ASC) AS rk
        |  FROM uv)
        |WHERE rk <= 5""".stripMargin,

    "q56_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts,
        |       o.o_orderdate AS last_order_ts,
        |       CAST(date_diff('day', o.o_orderdate, e.ts) AS INTEGER) AS days_since_order
        |FROM events e ASOF JOIN orders o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,

    "q40_event_windows" ->
      """SELECT CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP) AS w_start,
        |       CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600 + 21600) AS TIMESTAMP) AS w_end,
        |       event_type, count(*) AS n,
        |       round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q73_event_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |      FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.t_view
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |      FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |      GROUP BY e.user_id),
        |base AS (SELECT count(*) AS n_base FROM v),
        |stages AS (
        |  SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n_users FROM v
        |  UNION ALL SELECT 2, 'click_after_view', count(*) FROM c
        |  UNION ALL SELECT 3, 'purchase_after_click', count(*) FROM p)
        |SELECT stage, stage_name, n_users,
        |       floor(CAST(n_users AS DOUBLE) / n_base * 10000.0 + 0.5) / 10000.0
        |         AS conversion
        |FROM stages CROSS JOIN base""".stripMargin,

    "q74_trailing_window" ->
      """WITH wt AS (
        |  SELECT user_id, event_id,
        |         count(*) OVER win AS n_7d,
        |         sum(CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
        |                  AS DECIMAL(18,6))) OVER win AS s,
        |         max(value) OVER win AS mx
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, n_7d,
        |       CAST(round(s, 4) AS DOUBLE) AS sum_7d,
        |       floor(CAST(s AS DOUBLE) / n_7d * 10000.0 + 0.5) / 10000.0 AS avg_7d,
        |       floor(mx * 10000.0 + 0.5) / 10000.0 AS max_7d
        |FROM wt""".stripMargin,

    "q77_column_profile" -> lineitemProfileSql,

    "q75_cohort_retention" ->
      """WITH ev AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        |fw AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id)
        |SELECT CAST(cohort_wk AS TIMESTAMP) AS cohort_week,
        |       CAST(date_diff('day', cohort_wk, wk) / 7 AS INT) AS week_offset,
        |       count(DISTINCT ev.user_id) AS n_active
        |FROM ev JOIN fw USING (user_id)
        |GROUP BY 1, 2""".stripMargin
  )

  /** q77's profile — also embedded as a CTE by AnalyticsSql's q87. */
  private[oracle] lazy val lineitemProfileSql: String = {
    val branches = Seq(
      "SELECT 'l_orderkey' AS col_name, CAST(l_orderkey AS VARCHAR) AS v FROM lineitem",
      "SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem",
      "SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem",
      "SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem",
      "SELECT 'l_returnflag', l_returnflag FROM lineitem",
      "SELECT 'l_linestatus', l_linestatus FROM lineitem",
      "SELECT 'l_shipdate', strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') FROM lineitem")
    s"""WITH lv AS (${branches.mkString("\nUNION ALL ")})
       |SELECT col_name,
       |       count(*) AS n_rows,
       |       count(v) AS n_filled,
       |       count(DISTINCT v) AS n_distinct,
       |       min(v) AS min_v,
       |       max(v) AS max_v
       |FROM lv GROUP BY col_name""".stripMargin
  }
}
