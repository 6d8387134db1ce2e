package graft.ops

/** DuckDB oracle SQL for [[Relational]] — one entry per declared query.
  *
  * Conventions (SURVEY.md §2.2 determinism rules):
  *  - total ORDER BY on a unique column set, explicit projection;
  *  - double aggregates via `CAST(SUM(CAST(e AS DECIMAL(20,8))) AS DOUBLE)`
  *    — exact and order-independent, mirroring [[graft.core.Numeric.dsum]];
  *  - column aliases identical to the Spark side (the driver sorts columns
  *    by name before hashing).
  */
object RelationalOracles {
  private def dsum(e: String) = s"CAST(ROUND(SUM(CAST(($e) AS DECIMAL(20,8))), 2) AS DOUBLE)"

  val sql: Map[String, String] = Map(
    // the reference's full-scan executeSelect (`db.cpp:487-502`)
    "scan_full" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
        |  l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the key order the reference's B-tree intends (`db.cpp:64-70`)
    "scan_ordered" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the point lookup a B-tree serves (`db.cpp:64-70`)
    "key_lookup" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        |  l_extendedprice
        |FROM lineitem WHERE l_orderkey = 42 ORDER BY l_linenumber""".stripMargin,

    "insert_parse" ->
      """WITH lines AS (
        |  SELECT c_custkey,
        |    concat_ws(' ',
        |      CASE WHEN c_custkey % 97 = 0 THEN 'update' ELSE 'insert' END,
        |      CAST(c_custkey - 5 AS VARCHAR),
        |      CASE WHEN c_custkey % 50 = 0 THEN c_name || repeat('x', 30)
        |           ELSE c_name END,
        |      CASE WHEN c_custkey % 89 = 0 THEN ''
        |           ELSE c_name || '@example.com' END) AS stmt
        |  FROM customer),
        |parsed AS (
        |  SELECT stmt, regexp_split_to_array(trim(stmt), '\s+') AS p FROM lines)
        |SELECT
        |  TRY_CAST(p[2] AS BIGINT) AS id,
        |  p[3] AS username,
        |  p[4] AS email,
        |  CASE
        |    WHEN p[1] <> 'insert'
        |      THEN 'Unrecognized keyword at start of ''' || stmt || ''''
        |    WHEN len(p) < 4 THEN 'Syntax error. Could not parse statement'
        |    WHEN TRY_CAST(p[2] AS BIGINT) IS NULL THEN 'Syntax error. Could not parse statement'
        |    WHEN TRY_CAST(p[2] AS BIGINT) < 0 THEN 'ID must be positive.'
        |    WHEN length(p[3]) > 32 THEN 'String is too long.'
        |    WHEN length(p[4]) > 255 THEN 'String is too long.'
        |    ELSE NULL
        |  END AS reject_reason
        |FROM parsed
        |ORDER BY id, username""".stripMargin,

    // the reference's append-only executeInsert (`db.cpp:469-485`)
    "insert_append" ->
      """SELECT id, username, email FROM (
        |  SELECT c_custkey AS id, c_name AS username,
        |         c_name || '@example.com' AS email FROM customer
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (900001, 'user900001', 'person900001@example.com'),
        |    (900002, 'user900002', 'person900002@example.com'),
        |    (-1, 'bad_id', 'rejected@example.com'),
        |    (900003, repeat('x', 33), 'too_long_username@example.com')
        |  ) AS t(id, username, email)
        |) WHERE id >= 0 AND length(username) <= 32 AND length(email) <= 255
        |ORDER BY id""".stripMargin,

    "filter_pred" ->
      s"""SELECT ${dsum("l_extendedprice * l_discount")} AS revenue,
         |  COUNT(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate <  TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 0.02 AND 0.04
         |  AND l_quantity < 25""".stripMargin,

    // null-safe join: IS NOT DISTINCT FROM matches the NULL bucket;
    // the plain-= count is zero exactly there
    "join_null_safe" ->
      """WITH fact AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |         ELSE o_orderkey % 5 END AS tag
        |  FROM orders),
        |dim AS (
        |  SELECT tag,
        |    coalesce('region_' || CAST(tag AS VARCHAR), 'unattributed')
        |      AS tag_name
        |  FROM (SELECT DISTINCT tag FROM fact))
        |SELECT d.tag_name, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN f.tag = d.tag THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_plain_eq,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(20,8))), 2) AS DOUBLE)
        |    AS revenue
        |FROM fact f JOIN dim d ON f.tag IS NOT DISTINCT FROM d.tag
        |GROUP BY d.tag_name ORDER BY d.tag_name""".stripMargin,

    // FK audit: orphan counts recomputed declaratively — planted keys
    // (+9e9) can never hit a parent, so orphans = planted-slice size
    "constraint_fk" ->
      """SELECT fk_edge, n_child, n_orphan,
        |  CAST(round(CAST(n_orphan AS DOUBLE) / CAST(n_child AS DOUBLE), 6)
        |    AS DOUBLE) AS orphan_share
        |FROM (
        |  SELECT 'lineitem->orders' AS fk_edge,
        |    (SELECT COUNT(*) FROM lineitem)
        |      + (SELECT COUNT(*) FROM lineitem WHERE l_orderkey % 101 = 0)
        |      AS n_child,
        |    (SELECT COUNT(*) FROM lineitem WHERE l_orderkey % 101 = 0)
        |      AS n_orphan
        |  UNION ALL
        |  SELECT 'orders->customer',
        |    (SELECT COUNT(*) FROM orders)
        |      + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 97 = 0),
        |    (SELECT COUNT(*) FROM orders WHERE o_orderkey % 97 = 0))
        |ORDER BY fk_edge""".stripMargin,

    // the reference's parse-time validation (`db.cpp:404-419`)
    "constraint_check" ->
      """SELECT id, username, email, reject_reason,
        |  (reject_reason IS NULL) AS accepted
        |FROM (
        |  SELECT id, username, email,
        |    CASE WHEN id < 0 THEN 'ID must be positive.'
        |         WHEN length(username) > 32 THEN 'String is too long.'
        |         WHEN length(email) > 255 THEN 'String is too long.'
        |    END AS reject_reason
        |  FROM (
        |    SELECT c_custkey - 5 AS id,
        |      CASE WHEN c_custkey % 50 = 0
        |           THEN c_name || repeat('x', 30) ELSE c_name END AS username,
        |      c_name || '@example.com' AS email
        |    FROM customer))
        |ORDER BY id""".stripMargin,

    "join_inner" ->
      """SELECT l_orderkey, l_linenumber, o_custkey, o_orderstatus,
        |  l_quantity, l_extendedprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "join_broadcast" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_orders,
         |  ${dsum("o_totalprice")} AS sum_price
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "join_left" ->
      s"""SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
         |  COALESCE(${dsum("o_totalprice")}, 0.0) AS sum_price
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,

    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "join_full" ->
      """SELECT COALESCE(a.ka, b.kb) AS o_orderkey,
        |  round(COALESCE(a.pa, 0.0), 2) AS price_a,
        |  round(COALESCE(b.pb, 0.0), 2) AS price_b,
        |  (a.ka IS NOT NULL AND b.kb IS NOT NULL) AS in_both
        |FROM (SELECT o_orderkey AS ka, o_totalprice AS pa FROM orders
        |      WHERE o_orderkey % 2 = 0) a
        |FULL OUTER JOIN
        |     (SELECT o_orderkey AS kb, o_totalprice AS pb FROM orders
        |      WHERE o_orderkey % 3 = 0) b
        |  ON a.ka = b.kb
        |ORDER BY o_orderkey""".stripMargin,

    "join_cross" ->
      """SELECT n_nationkey, n_name, r_regionkey, r_name,
        |  (n_regionkey = r_regionkey) AS is_home
        |FROM nation CROSS JOIN region
        |ORDER BY n_nationkey, r_regionkey""".stripMargin,

    "join_range" ->
      """SELECT e1.user_id AS user_id, e1.event_id AS signup_id,
        |  e2.event_id AS purchase_id
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND e2.ts > e1.ts
        | AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
        |WHERE e1.event_type = 'signup' AND e2.event_type = 'purchase'
        |ORDER BY user_id, signup_id, purchase_id""".stripMargin,

    "join_asof" ->
      """SELECT event_id, user_id, o_orderkey AS asof_orderkey,
        |  o_totalprice AS asof_totalprice
        |FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC NULLS LAST,
        |               o.o_orderkey DESC NULLS LAST) AS rn
        |  FROM events e LEFT JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // forward direction: earliest order at-or-after the event; ties at
    // the same date resolve to the lowest orderkey (= the union-sweep's
    // first-over-following on the (orderkey, price) payload struct)
    "join_asof_fwd" ->
      """SELECT event_id, user_id, o_orderkey AS next_orderkey,
        |  o_totalprice AS next_totalprice
        |FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate ASC NULLS LAST,
        |               o.o_orderkey ASC NULLS LAST) AS rn
        |  FROM events e LEFT JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // tolerance-bounded backward as-of: latest click within 30 minutes;
    // the window bound in the ON clause equals the carry-then-reject rule
    // (if the latest prior click is stale, every older one is staler)
    "join_asof_tol" ->
      """SELECT event_id, user_id, click_id AS asof_click_id,
        |  click_value AS asof_value
        |FROM (
        |  SELECT p.event_id, p.user_id, c.event_id AS click_id,
        |    c.value AS click_value,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts DESC NULLS LAST,
        |               c.event_id DESC NULLS LAST) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON c.user_id = p.user_id AND c.ts <= p.ts
        |    AND c.ts >= p.ts - INTERVAL 30 MINUTE)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // nearest-direction as-of: min |dt| with ties to the backward side;
    // within a side at equal |dt| the tie mirrors the sweep's carry order
    // (backward carry = max struct -> max event_id; forward carry =
    // first in ascending order -> min event_id)
    "join_asof_near" ->
      """SELECT event_id, user_id, click_id AS near_click_id,
        |  click_value AS asof_value
        |FROM (
        |  SELECT p.event_id, p.user_id, c.event_id AS click_id,
        |    c.value AS click_value,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY
        |      abs(date_diff('microsecond', p.ts, c.ts)),
        |      CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
        |      CASE WHEN c.ts <= p.ts THEN -c.event_id ELSE c.event_id END)
        |      AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON c.user_id = p.user_id)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "agg_hash" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  ${dsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  (${dsum("l_quantity")} / COUNT(*)) AS avg_qty,
         |  (${dsum("l_extendedprice")} / COUNT(*)) AS avg_price,
         |  (${dsum("l_discount")} / COUNT(*)) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_distinct" ->
      """SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "agg_rollup" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
         |  COALESCE(l_linestatus, 'ALL') AS linestatus,
         |  ${dsum("l_quantity")} AS sum_qty, COUNT(*) AS n_rows
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY returnflag, linestatus""".stripMargin,

    "agg_cube" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
         |  COALESCE(o_orderpriority, 'ALL') AS orderpriority,
         |  ${dsum("o_totalprice")} AS sum_price, COUNT(*) AS n_rows
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY orderstatus, orderpriority""".stripMargin,

    "agg_grouping_sets" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
         |  COALESCE(o_orderpriority, 'ALL') AS orderpriority,
         |  ${dsum("o_totalprice")} AS sum_price, COUNT(*) AS n_rows
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY orderstatus, orderpriority""".stripMargin,

    // DuckDB list dialect; the Spark-text twin lives in SqlCatalog
    "agg_collect" ->
      """SELECT o_custkey,
        |  array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
        |  COUNT(*) AS n_orders
        |FROM orders WHERE o_custkey % 50 = 0
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "window_rank" ->
      """SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    RANK() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,

    "window_running" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(20,8))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
        |    AS running_price
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "window_lag" ->
      s"""WITH daily AS (
         |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, ${dsum("value")} AS v
         |  FROM events GROUP BY 1)
         |SELECT day, v, LAG(v, 1) OVER (ORDER BY day) AS prev_v,
         |  v - LAG(v, 1) OVER (ORDER BY day) AS delta
         |FROM daily ORDER BY day""".stripMargin,

    "sort_limit_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "set_union" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |UNION
        |SELECT c_custkey FROM customer WHERE c_nationkey < 10
        |ORDER BY c_custkey""".stripMargin,

    "set_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_nationkey < 10
        |ORDER BY c_custkey""".stripMargin,

    "set_except" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_nationkey < 10
        |ORDER BY c_custkey""".stripMargin,

    // bag semantics: multiplicities survive, folded to cardinalities
    "set_ops_all" ->
      """SELECT 'except_all' AS op, COUNT(*) AS n FROM (
        |  SELECT l_partkey, l_suppkey FROM lineitem WHERE l_orderkey % 2 = 0
        |  EXCEPT ALL
        |  SELECT l_partkey, l_suppkey FROM lineitem WHERE l_orderkey % 3 = 0)
        |UNION ALL
        |SELECT 'intersect_all' AS op, COUNT(*) AS n FROM (
        |  SELECT l_partkey, l_suppkey FROM lineitem WHERE l_orderkey % 2 = 0
        |  INTERSECT ALL
        |  SELECT l_partkey, l_suppkey FROM lineitem WHERE l_orderkey % 3 = 0)
        |ORDER BY op""".stripMargin,
  )
}
