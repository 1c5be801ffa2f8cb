package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-5 SQL-surface extensions: correlated LATERAL joins, recursive
  * CTEs (Spark 4's `WITH RECURSIVE` / `UnionLoop`), and higher-order
  * array functions — surfaces a DBMS-backed pipeline like the
  * reference's gets for free from Postgres/DuckDB and a Spark-native
  * engine must provide explicitly. Each carries a bit-exact DuckDB
  * oracle that reaches the same result by an independent mechanism.
  */
object Extensions {

  private val dec2 = DecimalType(18, 2)

  /** Correlated LATERAL join: the two most recent orders per customer
    * of one nation (reference workload shape: "latest rows per key",
    * cf. README_duckdb.md:78-84, which the reference writes as a
    * window). The LATERAL subquery carries a correlated ORDER BY +
    * LIMIT, which Catalyst decorrelates into a ranked window over a
    * single keyed shuffle — same plan family as q05/q50, reached from
    * the SQL-apply surface instead. DuckDB runs the identical
    * statement as the oracle.
    */
  val q59_lateral: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("g_q59_customer")
    t(s, dir, "orders").createOrReplaceTempView("g_q59_orders")
    s.sql(
      """SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        |FROM g_q59_customer c,
        |LATERAL (
        |  SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |         o_totalprice
        |  FROM g_q59_orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC
        |  LIMIT 2) o
        |WHERE c.c_nationkey = 5""".stripMargin)
  }

  val q59_sql: String =
    """SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
      |FROM customer c,
      |LATERAL (
      |  SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
      |         o_totalprice
      |  FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_orderdate DESC, o_orderkey DESC
      |  LIMIT 2) o
      |WHERE c.c_nationkey = 5""".stripMargin

  /** Recursive-CTE month spine with zero-filled gaps: one row per
    * calendar month from the first to the last order month, left-joined
    * to the monthly order aggregate (the date-dimension pattern a SQL
    * warehouse builds with WITH RECURSIVE). The recursion carries its
    * own stop bound in the working row, so the recursive term needs no
    * subquery; depth = #months (~10²), far under the level limit, and
    * the spine is tiny at any corpus scale — the only full-table work
    * is the ordinary monthly aggregate. The oracle reaches the same
    * spine via DuckDB's generate_series, an independent mechanism.
    */
  val q60_month_spine: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("g_q60_orders")
    s.sql(
      """WITH RECURSIVE spine(month_start, last_month) AS (
        |  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS TIMESTAMP),
        |         CAST(date_trunc('month', MAX(o_orderdate)) AS TIMESTAMP)
        |  FROM g_q60_orders
        |  UNION ALL
        |  SELECT month_start + INTERVAL '1' MONTH, last_month
        |  FROM spine WHERE month_start < last_month
        |),
        |m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |         COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |  FROM g_q60_orders GROUP BY 1
        |)
        |SELECT s.month_start, COALESCE(m.n_orders, 0) AS n_orders,
        |       COALESCE(m.total_price, CAST(0.0 AS DOUBLE)) AS total_price
        |FROM spine s LEFT JOIN m ON s.month_start = m.month_start""".stripMargin)
  }

  val q60_sql: String =
    """WITH b AS (
      |  SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
      |         date_trunc('month', MAX(o_orderdate)) AS hi
      |  FROM orders),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS TIMESTAMP)
      |    AS month_start FROM b),
      |m AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |         COUNT(*) AS n_orders,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |  FROM orders GROUP BY 1)
      |SELECT s.month_start, COALESCE(m.n_orders, 0) AS n_orders,
      |       COALESCE(m.total_price, 0.0) AS total_price
      |FROM spine s LEFT JOIN m ON s.month_start = m.month_start""".stripMargin

  /** Higher-order array functions over per-key order histories:
    * collect each customer's order totals into a sorted array, then
    * stay inside the array — `aggregate` folds the exact decimal sum,
    * `filter` with a lambda counts above-average orders, `transform`
    * normalizes to shares. One shuffle (the groupBy); every lambda is
    * codegen'd array work, no explode-regroup round trip — at corpus
    * scale the array stage costs nothing beyond the aggregate that
    * built it. The oracle is DuckDB's independent list-lambda engine
    * (list_aggregate / list_filter / list_transform).
    *
    * Numeric discipline: the fold accumulates DECIMAL(38,2) exactly;
    * ratios are single double divisions of exact values (bit-identical
    * across engines).
    */
  val q61_array_hof: Q = (s, dir) => {
    val wide = DecimalType(38, 2)
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(col("o_totalprice").cast(dec2))).as("totals"))
      .withColumn("order_total",
        aggregate(col("totals"), lit(0).cast(wide), (acc, x) => acc + x))
      .select(
        col("o_custkey"),
        size(col("totals")).cast("long").as("n_orders"),
        col("order_total").cast("double").as("order_total"),
        size(filter(col("totals"), x =>
          x.cast("double") > col("order_total").cast("double") /
            size(col("totals")))).cast("long").as("n_above_avg"),
        element_at(
          transform(col("totals"), x =>
            x.cast("double") / col("order_total").cast("double")), -1)
          .as("top_share"))
  }

  val q61_sql: String =
    """WITH a AS (
      |  SELECT o_custkey,
      |         list(CAST(o_totalprice AS DECIMAL(18,2)) ORDER BY CAST(o_totalprice AS DECIMAL(18,2))) AS totals
      |  FROM orders GROUP BY o_custkey),
      |b AS (
      |  SELECT o_custkey, totals,
      |         CAST(list_aggregate(totals, 'sum') AS DECIMAL(38,2)) AS order_total
      |  FROM a)
      |SELECT o_custkey,
      |       len(totals) AS n_orders,
      |       CAST(order_total AS DOUBLE) AS order_total,
      |       len(list_filter(totals, x ->
      |         CAST(x AS DOUBLE) > CAST(order_total AS DOUBLE) / len(totals))) AS n_above_avg,
      |       CAST(totals[-1] AS DOUBLE) / CAST(order_total AS DOUBLE) AS top_share
      |FROM b""".stripMargin

  /** Multiple DISTINCT aggregates in one grouped aggregation — Catalyst
    * plans this with an Expand (one replicated row-set per distinct
    * group), not N self-joins, so it stays a single two-exchange
    * aggregate at any scale. Mixing in a plain SUM exercises the
    * regular-aggregate path through the same Expand. Exact decimal sum,
    * final cast to double (the repo-wide money discipline).
    */
  val q62_multi_distinct: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(date_trunc("month", col("o_orderdate"))).as("n_months"),
        sum(col("o_totalprice").cast(dec2)).cast("double").as("total_price"),
        count(lit(1)).as("n_orders"))

  val q62_sql: String =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(DISTINCT date_trunc('month', o_orderdate)) AS n_months,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** Null-aware anti join: `NOT IN (subquery)` under three-valued
    * logic — an outer row with a NULL key is never returned (unknown ≠
    * known-absent), which is exactly where NOT IN diverges from q07's
    * NOT EXISTS / left-anti. One market segment's keys are mapped to
    * NULL to exercise that rule on real rows. Spark plans this as a
    * null-aware anti join (broadcast; falls back to nested-loop only
    * when the build side is large AND nullable — here the subquery is
    * a pruned key list, broadcastable at any corpus scale). DuckDB
    * evaluates the same statement under the same SQL semantics.
    */
  val q63_not_in: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("g_q63_customer")
    t(s, dir, "orders").createOrReplaceTempView("g_q63_orders")
    s.sql(
      """WITH c AS (
        |  SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN NULL
        |              ELSE c_custkey END AS k,
        |         c_name, c_mktsegment
        |  FROM g_q63_customer)
        |SELECT k, c_name, c_mktsegment
        |FROM c
        |WHERE k NOT IN (SELECT o_custkey FROM g_q63_orders
        |                WHERE o_orderpriority = '1-URGENT')""".stripMargin)
  }

  val q63_sql: String =
    """WITH c AS (
      |  SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN NULL
      |              ELSE c_custkey END AS k,
      |         c_name, c_mktsegment
      |  FROM customer)
      |SELECT k, c_name, c_mktsegment
      |FROM c
      |WHERE k NOT IN (SELECT o_custkey FROM orders
      |                WHERE o_orderpriority = '1-URGENT')""".stripMargin

  /** Semi-structured VARIANT path (Spark 4's binary-encoded variant
    * type, the engine-native answer to JSON-string columns): build a
    * nested variant per event ({"u": user_id, "p": {"k": ...}}), then
    * extract through nested paths with typed `variant_get` — parse
    * once, access many, no per-access string re-parse (the q17
    * get_json_object shape re-parses per extraction). The aggregate
    * stays one map-side-combined shuffle on exact integers. The oracle
    * never sees the variant: it reaches the same numbers from the raw
    * columns, so the check proves the variant round-trip is lossless.
    */
  val q64_variant: Q = (s, dir) =>
    t(s, dir, "events")
      .select(col("event_type"),
        parse_json(concat(lit("{\"u\":"), col("user_id"),
          lit(",\"p\":"), col("props"), lit("}"))).as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.u', 'bigint')").as("u"),
        expr("variant_get(v, '$.p.k', 'int')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("u")).as("n_users"),
        sum(col("k")).cast("long").as("sum_k"))

  val q64_sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type""".stripMargin

  /** Data-quality validation report — the expectations/dbt-test shape a
    * production pipeline runs before publishing a table: one row per
    * rule with its violation count and the row count it checked.
    * Row-level rules (positivity, NOT NULL) share ONE conditional
    * aggregate per table; the uniqueness rule is count−distinct; the
    * referential rule is a broadcast anti-join count. Inputs are
    * deterministically corrupted in-query (seeded by key modulus) so
    * the report detects a known, replayable violation set — the oracle
    * applies the same corruption and must count the same rows.
    * At 100 TB each rule family stays one aggregate/anti-join over the
    * table; nothing is collected but the per-rule counters.
    */
  val q66_data_quality: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .withColumn("l_quantity",
        when(pmod(col("l_orderkey"), lit(997)) === 0, -col("l_quantity"))
          .otherwise(col("l_quantity")))
      .withColumn("l_shipdate",
        when(pmod(col("l_orderkey"), lit(991)) === 0, lit(null))
          .otherwise(col("l_shipdate")))
    val ord = t(s, dir, "orders")
      .withColumn("o_custkey",
        when(pmod(col("o_orderkey"), lit(499)) === 0,
          col("o_custkey") + 10000000L).otherwise(col("o_custkey")))
    val cust = t(s, dir, "customer")

    val rowRules = li.agg(
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("v_qty"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("v_ship"),
      count(lit(1)).as("n"))
      .select(explode(array(
        struct(lit("lineitem.quantity_positive").as("rule"),
          col("v_qty").as("n_violations"), col("n").as("n_rows_checked")),
        struct(lit("lineitem.shipdate_not_null").as("rule"),
          col("v_ship").as("n_violations"), col("n").as("n_rows_checked"))))
        .as("r"))
      .select(col("r.*"))
    val pkRule = ord.agg(
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_violations"),
      count(lit(1)).as("n_rows_checked"))
      .select(lit("orders.pk_unique").as("rule"),
        col("n_violations"), col("n_rows_checked"))
    // violations and checked-rows in ONE pass: broadcast left join
    // against the (unique-keyed) dim, count the null probes — no
    // cross-join of two scalar aggregates
    val fkRule = ord.join(broadcast(cust.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_violations"),
        count(lit(1)).as("n_rows_checked"))
      .select(lit("orders.fk_customer").as("rule"),
        col("n_violations"), col("n_rows_checked"))
    rowRules.unionByName(pkRule).unionByName(fkRule)
  }

  val q66_sql: String =
    """WITH li AS (
      |  SELECT CASE WHEN l_orderkey % 997 = 0 THEN -l_quantity
      |              ELSE l_quantity END AS l_quantity,
      |         CASE WHEN l_orderkey % 991 = 0 THEN NULL
      |              ELSE l_shipdate END AS l_shipdate
      |  FROM lineitem),
      |ord AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 499 = 0 THEN o_custkey + 10000000
      |              ELSE o_custkey END AS o_custkey
      |  FROM orders)
      |SELECT 'lineitem.quantity_positive' AS rule,
      |  COUNT(*) FILTER (WHERE l_quantity <= 0) AS n_violations,
      |  COUNT(*) AS n_rows_checked
      |FROM li
      |UNION ALL
      |SELECT 'lineitem.shipdate_not_null',
      |  COUNT(*) FILTER (WHERE l_shipdate IS NULL), COUNT(*)
      |FROM li
      |UNION ALL
      |SELECT 'orders.pk_unique',
      |  COUNT(*) - COUNT(DISTINCT o_orderkey), COUNT(*)
      |FROM ord
      |UNION ALL
      |SELECT 'orders.fk_customer',
      |  COUNT(*) FILTER (WHERE NOT EXISTS
      |    (SELECT 1 FROM customer WHERE c_custkey = o_custkey)),
      |  COUNT(*)
      |FROM ord""".stripMargin

  /** MAP-typed columns end to end: build a per-customer status→count
    * map with `map_from_entries` over a collected struct array, then
    * consume it with the map surface — `size`, typed `element_at`
    * lookups, and a lambda fold over `map_values`. Outputs are scalar
    * so map iteration order never matters, and the oracle reaches the
    * same numbers from plain conditional aggregates — proving the map
    * round-trip is lossless. Two exchanges (status rollup, then
    * per-customer collect), both map-side combined.
    */
  val q67_map_ops: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderstatus"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("o_custkey"))
      .agg(map_from_entries(
        collect_list(struct(col("o_orderstatus"), col("__cnt")))).as("__m"))
      .select(
        col("o_custkey"),
        size(col("__m")).cast("long").as("n_statuses"),
        coalesce(element_at(col("__m"), "O"), lit(0L)).as("n_open"),
        coalesce(element_at(col("__m"), "F"), lit(0L)).as("n_fulfilled"),
        aggregate(map_values(col("__m")), lit(0L), (acc, x) => acc + x)
          .as("n_orders"))

  val q67_sql: String =
    """SELECT o_custkey,
      |  COUNT(DISTINCT o_orderstatus) AS n_statuses,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** SCD Type-2 dimension merge (`Incremental.scdMerge`): the customer
    * dimension versioned by market segment, with one change batch
    * derived deterministically from orders — customers with an odd
    * order count move to a tier segment effective at their latest
    * order date (even counts re-assert the current segment → no-op
    * path), customers with no orders are untouched, and one synthetic
    * key exercises the new-key insert path. The oracle replays the
    * merge as explicit UNION ALL branches over the same full-outer
    * join — an independent formulation of the versioning rule.
    */
  val q68_scd2_merge: Q = (s, dir) => {
    val dim = t(s, dir, "customer").select(
      col("c_custkey"),
      col("c_mktsegment").as("segment"),
      lit("1992-01-01 00:00:00").cast("timestamp").as("valid_from"),
      lit(null).cast("timestamp").as("valid_to"))
    val fromOrders = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("__n"), max(col("o_orderdate")).as("change_ts"))
      .join(t(s, dir, "customer"), Seq("c_custkey"))
      .select(
        col("c_custkey"),
        when(col("__n") % 2 === 0, col("c_mktsegment"))
          .otherwise(concat(lit("TIER"), (col("__n") % 3).cast("string")))
          .as("segment"),
        col("change_ts").cast("timestamp"))
    val updates = fromOrders.unionByName(
      s.range(1).select(
        lit(900001L).as("c_custkey"), lit("FRESH").as("segment"),
        lit("1998-06-01 00:00:00").cast("timestamp").as("change_ts")))
    graft.load.Incremental
      .scdMerge(dim, updates, "c_custkey", "segment", "change_ts")
      .withColumn("is_current", col("valid_to").isNull)
  }

  val q68_sql: String =
    """WITH cur AS (SELECT c_custkey, c_mktsegment AS segment,
      |    TIMESTAMP '1992-01-01' AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to FROM customer),
      |u0 AS (SELECT o_custkey AS c_custkey, COUNT(*) AS n,
      |    MAX(o_orderdate) AS ts FROM orders GROUP BY o_custkey),
      |u AS (SELECT u0.c_custkey,
      |    CASE WHEN n % 2 = 0 THEN c.c_mktsegment
      |         ELSE 'TIER' || CAST(n % 3 AS VARCHAR) END AS new_seg,
      |    CAST(ts AS TIMESTAMP) AS ts
      |  FROM u0 JOIN customer c ON u0.c_custkey = c.c_custkey
      |  UNION ALL
      |  SELECT 900001, 'FRESH', TIMESTAMP '1998-06-01'),
      |j AS (SELECT COALESCE(cur.c_custkey, u.c_custkey) AS c_custkey,
      |    cur.segment, cur.valid_from, cur.valid_to, u.new_seg, u.ts,
      |    cur.c_custkey IS NULL AS is_new,
      |    u.c_custkey IS NOT NULL
      |      AND cur.segment IS DISTINCT FROM u.new_seg AS changed
      |  FROM cur FULL OUTER JOIN u ON cur.c_custkey = u.c_custkey),
      |out AS (
      |  SELECT c_custkey, new_seg AS segment, ts AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to FROM j WHERE is_new
      |  UNION ALL
      |  SELECT c_custkey, segment, valid_from, ts FROM j
      |  WHERE NOT is_new AND changed
      |  UNION ALL
      |  SELECT c_custkey, new_seg, ts, CAST(NULL AS TIMESTAMP) FROM j
      |  WHERE NOT is_new AND changed
      |  UNION ALL
      |  SELECT c_custkey, segment, valid_from, valid_to FROM j
      |  WHERE NOT is_new AND NOT changed)
      |SELECT *, valid_to IS NULL AS is_current FROM out""".stripMargin

  /** Incremental join maintenance (`Incremental.deltaJoin`): the
    * orders⋈customer materialized view refreshed by the three-term
    * delta rule instead of a recompute — orders split old/new at a
    * date boundary, customers split old/new on a key residue, so all
    * three delta terms are non-empty. The query aggregates
    * (old join ∪ delta); the oracle aggregates the FULL join computed
    * directly — hash equality IS the proof that the delta rule
    * reconstructs the view exactly. Sums quantize to DECIMAL(18,2)
    * so both plans are order-independent-exact.
    */
  val q69_delta_join: Q = (s, dir) => {
    val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    val cut = lit("1997-01-01").cast("timestamp")
    val (aOld, aNew) = (
      t(s, dir, "orders").where(col("o_orderdate") < cut),
      t(s, dir, "orders").where(col("o_orderdate") >= cut))
    def proj(df: DataFrame) = df.select(
      col("o_custkey").as("c_custkey"),
      year(col("o_orderdate")).as("o_year"), col("o_totalprice"))
    val (bOld, bNew) = (
      cust.where(col("c_custkey") % 10 =!= 0),
      cust.where(col("c_custkey") % 10 === 0))
    val keys = Seq("c_custkey")
    proj(aOld).join(bOld, keys)
      .unionByName(graft.load.Incremental
        .deltaJoin(proj(aOld), proj(aNew), bOld, bNew, keys))
      .groupBy(col("c_mktsegment"), col("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec2)).cast("double").as("total_price"))
  }

  val q69_sql: String =
    """SELECT c_mktsegment, CAST(year(o_orderdate) AS INT) AS o_year,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2""".stripMargin

  /** Native ROLLUP (hierarchical subtotals year → priority → grand
    * total) from the DataFrame surface — the `.cube`/GROUPING SETS
    * family's third member (q29/q32 cover the other two from the SQL
    * surface). Plans as ONE Expand + hash aggregate, not one scan per
    * grouping level. grouping_id bit order (first rollup column most
    * significant) is restated arithmetically in the oracle.
    */
  val q70_rollup: Q = (s, dir) =>
    t(s, dir, "orders")
      .rollup(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
      .agg(grouping_id().cast("long").as("g_id"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec2)).cast("double").as("total_price"))

  val q70_sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
      |  CAST(GROUPING(year(o_orderdate)) * 2
      |    + GROUPING(o_orderpriority) AS BIGINT) AS g_id,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY ROLLUP (year(o_orderdate), o_orderpriority)""".stripMargin

  /** Snapshot reconciliation (`Reconcile.tableDiff`): diff the orders
    * table against a deterministically perturbed copy of itself —
    * every 97th key dropped (removed), every 89th surviving key's
    * price bumped (changed), three synthetic negative keys appended
    * (added) — and report row counts per status. The oracle replays
    * the perturbation and classifies via the same null-safe
    * comparisons, independently formulated as CASE over IS [NOT]
    * DISTINCT FROM.
    */
  val q71_table_diff: Q = (s, dir) => {
    val a = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val b = t(s, dir, "orders")
      .where(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 89 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .unionByName(s.range(3).select(
        (col("id") * -1 - 1).as("o_orderkey"),
        lit("X").as("o_orderstatus"), lit(0.0).as("o_totalprice")))
    graft.load.Reconcile
      .tableDiff(a, b, Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
      .groupBy(col("status")).agg(count(lit(1)).as("n_rows"))
  }

  val q71_sql: String =
    """WITH a AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |b AS (SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT CAST(-1 - i AS BIGINT), 'X', 0.0
      |  FROM generate_series(0, 2) AS t(i)),
      |j AS (SELECT a.o_orderkey IS NOT NULL AS ina,
      |    b.o_orderkey IS NOT NULL AS inb,
      |    a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
      |      AND a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice AS same
      |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
      |SELECT CASE WHEN NOT inb THEN 'removed' WHEN NOT ina THEN 'added'
      |            WHEN same THEN 'same' ELSE 'changed' END AS status,
      |  COUNT(*) AS n_rows
      |FROM j GROUP BY 1""".stripMargin

  /** Point-in-time SCD2 lookup — the consumption side of q68: resolve
    * each order against the segment version in effect AT its order
    * date (`valid_from <= d < valid_to`, open version unbounded), then
    * roll up. Half-open intervals make the boundary order resolve to
    * the version it opened — every order matches exactly one version,
    * which the n_orders total proves (it must equal the plain
    * orders⋈customer count). Plan: one equi-join on the key with the
    * range predicate as a residual filter — never an inequality-only
    * join — since a key holds ≤2 versions here (and O(few) in any real
    * dimension). The oracle nests the full q68 merge as a derived
    * table and applies the same interval rule.
    */
  val q74_scd_asof: Q = (s, dir) => {
    val dim = q68_scd2_merge(s, dir)
      .select(col("c_custkey"), col("segment"),
        col("valid_from"), col("valid_to"))
    t(s, dir, "orders")
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("d"))
      .join(dim, Seq("c_custkey"))
      .where(col("valid_from") <= col("d") &&
        (col("valid_to").isNull || col("d") < col("valid_to")))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        sum(col("o_orderkey")).as("orderkey_sum"))
  }

  val q74_sql: String =
    s"""WITH dim AS ($q68_sql),
       |o AS (SELECT o_custkey AS c_custkey, o_orderkey,
       |    CAST(o_orderdate AS TIMESTAMP) AS d FROM orders)
       |SELECT segment, COUNT(*) AS n_orders,
       |  COUNT(DISTINCT c_custkey) AS n_customers,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS orderkey_sum
       |FROM o JOIN dim USING (c_custkey)
       |WHERE valid_from <= d AND (valid_to IS NULL OR d < valid_to)
       |GROUP BY segment""".stripMargin

  /** Schema-drift union — multi-source ingestion where generations of
    * the same feed carry different column sets: `unionByName` with
    * missing-column null-fill aligns by NAME (a positional UNION would
    * silently misalign), then one aggregate profiles per-column
    * presence. The oracle states the null-fill explicitly. Narrow
    * scans + one aggregate; column pruning still reaches each branch.
    */
  val q75_schema_drift_union: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val v1 = o.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val v2 = o.where(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val v3 = o.where(col("o_orderkey") % 3 === 2)
      .select(col("o_orderkey"), col("o_orderpriority"))
    v1.unionByName(v2, allowMissingColumns = true)
      .unionByName(v3, allowMissingColumns = true)
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_totalprice")).as("n_price"),
        count(col("o_orderpriority")).as("n_priority"),
        sum(col("o_totalprice").cast(dec2)).cast("double").as("total_price"))
  }

  val q75_sql: String =
    """WITH u AS (
      |  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, o_orderpriority
      |  FROM orders WHERE o_orderkey % 3 = 1
      |  UNION ALL
      |  SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority
      |  FROM orders WHERE o_orderkey % 3 = 2)
      |SELECT COUNT(*) AS n_rows, COUNT(o_totalprice) AS n_price,
      |  COUNT(o_orderpriority) AS n_priority,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM u""".stripMargin

  /** Interval-concurrency sweep — peak number of simultaneously
    * in-transit shipments per supplier ([ship, receipt) half-open, so
    * a same-day ship+receive nets zero). The synthetic lineitem has no
    * receipt date, so one is derived deterministically in-query
    * (ship + quantity%30 + 1 days — the q66 recipe), keeping the whole
    * sweep oracle-replayable. The classic "max concurrent sessions"
    * shape done scale-safe: explode each interval to ±1 deltas,
    * collapse per (key, date) — which also removes any same-date
    * ordering ambiguity — then ONE keyed window for the running sum.
    * Everything after the union is partitioned by supplier; the
    * per-partition max reuses the same exchange. `peak_date` is the
    * first date the peak is reached.
    */
  val q76_interval_concurrency: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_shipdate"),
        date_add(col("l_shipdate"),
          pmod(col("l_quantity").cast("int"), lit(30)) + 1)
          .as("l_receiptdate"))
    val deltas = li
      .select(col("l_suppkey"), col("l_shipdate").as("d"), lit(1L).as("delta"))
      .unionAll(li.select(col("l_suppkey"), col("l_receiptdate").as("d"),
        lit(-1L).as("delta")))
      .groupBy(col("l_suppkey"), col("d"))
      .agg(sum(col("delta")).as("delta"))
    val wRun = Window.partitionBy(col("l_suppkey")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("l_suppkey"))
    deltas
      .withColumn("open", sum(col("delta")).over(wRun))
      .withColumn("mx", max(col("open")).over(wAll))
      .groupBy(col("l_suppkey"))
      .agg(max(col("open")).as("peak_in_transit"),
        min(when(col("open") === col("mx"), col("d"))).as("peak_date"))
  }

  val q76_sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_shipdate,
      |    l_shipdate + to_days(CAST(CAST(l_quantity AS INTEGER) % 30 + 1 AS INTEGER))
      |      AS l_receiptdate
      |  FROM lineitem),
      |deltas AS (
      |  SELECT l_suppkey, d, CAST(SUM(delta) AS BIGINT) AS delta FROM (
      |    SELECT l_suppkey, l_shipdate AS d, 1 AS delta FROM li
      |    UNION ALL
      |    SELECT l_suppkey, l_receiptdate AS d, -1 AS delta FROM li)
      |  GROUP BY l_suppkey, d),
      |run AS (SELECT l_suppkey, d,
      |  CAST(SUM(delta) OVER (PARTITION BY l_suppkey ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open
      | FROM deltas),
      |m AS (SELECT l_suppkey, d, open,
      |  MAX(open) OVER (PARTITION BY l_suppkey) AS mx FROM run)
      |SELECT l_suppkey, CAST(MAX(open) AS BIGINT) AS peak_in_transit,
      |  MIN(CASE WHEN open = mx THEN d END) AS peak_date
      |FROM m GROUP BY l_suppkey""".stripMargin

  /** Event-pattern matching over ordered per-user journeys — the
    * MATCH_RECOGNIZE-style behavioral query: each user's events
    * collapse to a journey string (event-type initials in (ts,
    * event_id) order) and a funnel regex counts non-overlapping
    * `view → click* → purchase` runs. TWO keyed aggregates build the
    * journey — per-(user, day) segments first, then a day-ordered
    * concatenation — so no aggregation buffer holds an unbounded
    * per-user event array (see [[journeyQuery]]); the regex is a
    * narrow projection after them. The journey
    * itself is md5-compressed in the output so the oracle hash-checks
    * the exact sequence, not just its length. Ordering parity: the
    * oracle sorts by the micros-cast timestamp (Spark's read already
    * truncates nanos→micros) with the same event_id tie-break.
    */
  val q77_event_patterns: Q = journeyQuery("vc*p")

  /** Parameterized journey/funnel matcher behind [[q77_event_patterns]]
    * (and [[q81_funnel_patterns]]): any regex over the initials
    * alphabet counts non-overlapping runs. Per-user state is BOUNDED by
    * two-level assembly: a first keyed aggregate builds per-(user, day)
    * segment strings (sorting only one day's events per group — the hot
    * key splits across its days), and a second concatenates the
    * pre-sorted day strings in day order. day(ts) is monotone in ts, so
    * the concatenation equals the global (ts, event_id) sort while no
    * single aggregation buffer ever holds a power user's full history
    * as 40-byte structs — worst-case state is one day's initials (1
    * byte/event) plus ~#days day-strings.
    */
  private[graft] def journeyQuery(pattern: String): Q = (s, dir) =>
    journeyFrame(t(s, dir, "events"), pattern)

  /** [[journeyQuery]]'s core over any frame with (user_id, ts,
    * event_id, event_type) — separated so the day-boundary invariant
    * (two-level assembly ≡ global sort) is property-testable on
    * generated event sets, not just the fixture.
    */
  private[graft] def journeyFrame(
      events: org.apache.spark.sql.DataFrame, pattern: String): org.apache.spark.sql.DataFrame = {
    val e = events
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ini"))
    val days = e
      .withColumn("__d", to_date(col("ts")))
      .groupBy(col("user_id"), col("__d"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("ini")))),
        x => x.getField("ini")), "").as("__s"))
    days.groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__d"), col("__s")))),
        x => x.getField("__s")), "").as("__j"))
      .select(col("user_id"),
        length(col("__j")).cast("long").as("n_events"),
        md5(col("__j")).as("journey_hash"),
        regexp_count(col("__j"), lit(pattern)).cast("long").as("n_funnels"))
  }

  /** Oracle template for [[journeyQuery]]: DuckDB assembles the SAME
    * journey with a single ordered string_agg — the naive global
    * mechanism the two-level Spark plan must replay byte-exactly.
    */
  private def journeySql(pattern: String): String =
    s"""WITH j AS (
       |  SELECT user_id,
       |    string_agg(substr(event_type, 1, 1), ''
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS journey
       |  FROM events GROUP BY user_id)
       |SELECT user_id, CAST(length(journey) AS BIGINT) AS n_events,
       |  md5(journey) AS journey_hash,
       |  CAST(len(regexp_extract_all(journey, '$pattern')) AS BIGINT) AS n_funnels
       |FROM j""".stripMargin

  val q77_sql: String = journeySql("vc*p")

  /** A second funnel over the same parameterized journey matcher —
    * `view+ → click+ → purchase` (all three stages required, repeats
    * allowed) instead of q77's `view → click* → purchase`. Exercises
    * [[journeyQuery]]'s pattern generality with its own oracle.
    */
  val q81_funnel_patterns: Q = journeyQuery("v+c+p")

  val q81_sql: String = journeySql("v+c+p")

  /** Time-in-state accounting: for each (user, event_type), the total
    * microseconds spent in that state before the next event — the
    * duration-weighted behavioral profile (how long users sit on a
    * view vs an error). One keyed lead window, one keyed aggregate;
    * all-integer arithmetic (epoch micros), so no float-order hazards
    * at any scale. The open-ended last event carries no duration and
    * is excluded, stated identically in the oracle.
    */
  val q78_time_in_state: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("__dur",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .where(col("__dur").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("__dur")).as("total_micros"),
        count(lit(1)).as("n_intervals"))
  }

  val q78_sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    CAST(ts AS TIMESTAMP) AS ts FROM events),
      |x AS (SELECT user_id, event_type,
      |  epoch_us(LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))
      |    - epoch_us(ts) AS dur
      | FROM e)
      |SELECT user_id, event_type, CAST(SUM(dur) AS BIGINT) AS total_micros,
      |  COUNT(*) AS n_intervals
      |FROM x WHERE dur IS NOT NULL GROUP BY user_id, event_type""".stripMargin

  /** Winsorization (p05/p95 outlier clipping per group) — the standard
    * pre-training value-cleaning pass. Bounds are NEAREST-RANK order
    * statistics (the value at rank ⌈p·n⌉), not interpolated quantiles:
    * an actual data value is engine-exact where an interpolation
    * formula's float ops might not replay — and with ties the rank-k
    * value is well-defined no matter how ranks broke them.
    *
    * Scale shape — TWO-LEVEL nearest-rank selection (the t16 recipe),
    * NOT a rank window partitioned by the 5-value group key (which
    * would funnel ~20% of the table through one task's sort):
    *   1. per-(group, value-bucket) counts — one keyed aggregate with
    *      map-side combine; buckets quantize the value at width 1000,
    *      so the bucket table is bounded by the VALUE RANGE (TPC-H
    *      o_totalprice ∈ ~[1e3, 5e5] at every SF ⇒ ~500 buckets/group),
    *      never by row count;
    *   2. a bucket-prefix cumulative over that tiny table locates the
    *      bucket containing each target rank k = ⌈p·n⌉ and its residual
    *      rank r = k − rows_before_bucket;
    *   3. one residual pass over JUST the located buckets (a broadcast
    *      semi-filter; ~n/500 rows each) aggregates per distinct value
    *      and takes the least v whose within-bucket running count
    *      reaches r — the exact k-th smallest, ties and all.
    * Tiny per-group bounds broadcast back → one conditional aggregate;
    * the clipped total runs through the DECIMAL(18,2) money discipline.
    */
  val q79_winsorize: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority").as("grp"), col("o_totalprice").as("v"))
    val bucketWidth = 1000.0 // value quantum; buckets ≈ range/1000, SF-free
    val ob = o.withColumn("__b", floor(col("v") / bucketWidth))
    val bcnt = ob.groupBy(col("grp"), col("__b")).agg(count(lit(1)).as("__c"))
    // the ONLY group-partitioned window runs over the bucket-count
    // table (~500 rows/group at any SF), not the data
    val wPre = Window.partitionBy(col("grp")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = bcnt
      .withColumn("__before", coalesce(sum(col("__c")).over(wPre), lit(0L)))
    val totals = bcnt.groupBy(col("grp")).agg(sum(col("__c")).as("n"))
    val targets = cum.join(broadcast(totals), Seq("grp"))
      .select(col("grp"), col("__b"), col("__before"), col("__c"),
        explode(array(
          struct(lit("lo").as("bound"),
            ceil(col("n") * 0.05).cast("long").as("k")),
          struct(lit("hi").as("bound"),
            ceil(col("n") * 0.95).cast("long").as("k")))).as("__t"))
      .where(col("__t.k") > col("__before") &&
        col("__t.k") <= col("__before") + col("__c"))
      .select(col("grp"), col("__b"), col("__t.bound").as("__bound"),
        (col("__t.k") - col("__before")).as("__r"))
    // residual: per-distinct-value counts inside the located bucket
    // only; the running count resolves ties exactly as rank order does
    val wV = Window.partitionBy(col("grp"), col("__bound")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val located = ob.join(broadcast(targets), Seq("grp", "__b"))
      .groupBy(col("grp"), col("__bound"), col("__r"), col("v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(wV))
      .where(col("__cum") >= col("__r"))
      .groupBy(col("grp"), col("__bound")).agg(min(col("v")).as("__bv"))
    val bounds = located.groupBy(col("grp")).agg(
      max(when(col("__bound") === "lo", col("__bv"))).as("lo"),
      max(when(col("__bound") === "hi", col("__bv"))).as("hi"))
    o.join(broadcast(bounds), Seq("grp"))
      .withColumn("cv", least(greatest(col("v"), col("lo")), col("hi")))
      .groupBy(col("grp")).agg(
        count(lit(1)).as("n"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clipped_high"),
        sum(col("cv").cast(dec2)).cast("double").as("winsorized_total"))
  }

  val q79_sql: String =
    """WITH o AS (SELECT o_orderpriority AS grp, o_totalprice AS v FROM orders),
      |r AS (SELECT grp, v, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v) AS rn,
      |        COUNT(*) OVER (PARTITION BY grp) AS n FROM o),
      |b AS (SELECT grp, MIN(CASE WHEN rn >= ceil(n * 0.05) THEN v END) AS lo,
      |             MIN(CASE WHEN rn >= ceil(n * 0.95) THEN v END) AS hi
      |      FROM r GROUP BY grp)
      |SELECT grp, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
      |  CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
      |  CAST(SUM(CAST(LEAST(GREATEST(v, lo), hi) AS DECIMAL(18,2))) AS DOUBLE)
      |    AS winsorized_total
      |FROM o JOIN b USING (grp) GROUP BY grp""".stripMargin

  /** Per-key OLS trend: the slope of daily shipped quantity over time
    * for every supplier — grouped linear regression, the t23 Zipf
    * recipe turned per-key. Here every moment (n, Σx, Σy, Σxy, Σx²) is
    * an ALL-INTEGER sum (x = day index, y = integer quantity), all
    * under 2⁵³, so the moments are exact longs and the slope/intercept
    * are single double expressions over exact values — no decimal
    * quantization needed at all. Two keyed map-side-combined
    * aggregates; the regression itself adds no shuffle.
    */
  val q80_trend_slopes: Q = (s, dir) => {
    val daily = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"),
        datediff(col("l_shipdate"), lit("1992-01-01").cast("date")).as("x"))
      .agg(sum(col("l_quantity").cast("long")).as("y"))
    daily.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x").cast("long")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast("long") * col("y")).as("sxy"),
        sum(col("x").cast("long") * col("x")).as("sxx"))
      .where(col("n_days") >= 2)
      .select(col("l_suppkey"), col("n_days"),
        ((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope"),
        ((col("sy").cast("double")
          - ((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * col("sx").cast("double")) / col("n_days").cast("double"))
          .as("intercept"))
  }

  val q80_sql: String =
    """WITH daily AS (
      |  SELECT l_suppkey,
      |    date_diff('day', DATE '1992-01-01', l_shipdate) AS x,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y
      |  FROM lineitem GROUP BY 1, 2),
      |m AS (SELECT l_suppkey, COUNT(*) AS n_days,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM daily GROUP BY l_suppkey HAVING COUNT(*) >= 2)
      |SELECT l_suppkey, n_days,
      |  CAST(n_days * sxy - sx * sy AS DOUBLE)
      |    / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope,
      |  (CAST(sy AS DOUBLE)
      |    - (CAST(n_days * sxy - sx * sy AS DOUBLE)
      |       / CAST(n_days * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
      |    / CAST(n_days AS DOUBLE) AS intercept
      |FROM m""".stripMargin

  /** Z-order layout statistics — the observable contract of
    * [[graft.load.Scale.zorderBy]] as a hash-checked query. Each row is
    * one 64th of the z-curve (the top 6 bits of the 2×16-bit
    * interleaved z-value over (l_partkey, l_suppkey)) — i.e. one
    * file-to-be of a clustered write — with the per-bucket min/max/span
    * of BOTH dimensions: exactly the parquet footer stats a scan uses
    * to skip files. Interleaving keeps both spans narrow at once
    * (a single-column sort leaves the other dimension spanning its
    * full range — ScaleSpec measures that comparison; this query pins
    * the exact arithmetic: rank scaling, bit interleave, bucketing).
    *
    * The oracle rebuilds the identical z-value in SQL — the bit-term
    * string is generated by the same (i, j) → shift loop the Scala
    * expression tree uses, so the two engines interleave identical
    * bits. Scale shape: one bounds aggregate (2 scalars per dim, the
    * zorderBy recipe), one narrow projection, one keyed aggregate —
    * nothing about it changes at 100 TB.
    */
  val q82_zorder_stats: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey").cast("long").as("pk"),
        col("l_suppkey").cast("long").as("sk"))
    val b = li.agg(
      min(col("pk")).cast("double"), max(col("pk")).cast("double"),
      min(col("sk")).cast("double"), max(col("sk")).cast("double"))
      .collect()(0) // 4 scalars — the zorderBy bounds hop
    val z = graft.load.Scale.zvalue(Seq(
      (col("pk"), b.getDouble(0), b.getDouble(1)),
      (col("sk"), b.getDouble(2), b.getDouble(3))), bits = 16)
    li.withColumn("z_bucket", shiftright(z, 26))
      .groupBy(col("z_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"),
        (max(col("pk")) - min(col("pk"))).as("pk_span"),
        min(col("sk")).as("min_sk"), max(col("sk")).as("max_sk"),
        (max(col("sk")) - min(col("sk"))).as("sk_span"))
  }

  val q82_sql: String = {
    // the same (bit i, col j) → shift i*(ncols-1)+j loop as
    // Scale.zvalue, ncols = 2
    val zTerms = (0 until 16).flatMap { i =>
      Seq(s"((rpk & ${1L << i}) << $i)", s"((rsk & ${1L << i}) << ${i + 1})")
    }.mkString(" | ")
    s"""WITH li AS (SELECT CAST(l_partkey AS BIGINT) AS pk,
       |                   CAST(l_suppkey AS BIGINT) AS sk FROM lineitem),
       |b AS (SELECT CAST(MIN(pk) AS DOUBLE) AS plo, CAST(MAX(pk) AS DOUBLE) AS phi,
       |             CAST(MIN(sk) AS DOUBLE) AS slo, CAST(MAX(sk) AS DOUBLE) AS shi
       |      FROM li),
       |r AS (SELECT pk, sk,
       |  LEAST(GREATEST(CAST(FLOOR((CAST(pk AS DOUBLE) - plo) / (phi - plo) * 65535)
       |    AS BIGINT), 0), 65535) AS rpk,
       |  LEAST(GREATEST(CAST(FLOOR((CAST(sk AS DOUBLE) - slo) / (shi - slo) * 65535)
       |    AS BIGINT), 0), 65535) AS rsk
       | FROM li CROSS JOIN b),
       |z AS (SELECT pk, sk, ($zTerms) AS zv FROM r)
       |SELECT zv >> 26 AS z_bucket, COUNT(*) AS n_rows,
       |  MIN(pk) AS min_pk, MAX(pk) AS max_pk, MAX(pk) - MIN(pk) AS pk_span,
       |  MIN(sk) AS min_sk, MAX(sk) AS max_sk, MAX(sk) - MIN(sk) AS sk_span
       |FROM z GROUP BY 1""".stripMargin
  }

  /** Grouped time-series DENSIFICATION + gap fill: per-nation monthly
    * revenue joined against a complete (nation × month) spine, missing
    * months forward-filled from the last observed value, leading gaps
    * left NULL. Distinct from q52 (which imputes a column forward
    * WITHIN existing rows): this op CONSTRUCTS the missing rows — the
    * regularization step an irregular series needs before fixed-stride
    * window math (a bar feed with halted symbols, a metrics rollup
    * with quiet days).
    *
    * Scale shape: the window runs over the AGGREGATED frame (nations ×
    * months — bounded by the key space, not the fact table), so the
    * fact-table scan is one keyed aggregate and the gap-fill cost is
    * independent of row count. The spine cross join is nations × a
    * 1-row-derived month range — broadcast-bounded by construction.
    * Revenue follows the q01 discipline: exact DECIMAL sums, DOUBLE on
    * output.
    */
  val q83_gap_fill: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders")
    val rev = o
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), trunc(col("o_orderdate"), "month").as("month"))
      .agg(sum(col("o_totalprice").cast(dec2)).cast("double").as("revenue"))
    val months = o
      .agg(trunc(min(col("o_orderdate")), "month").as("lo"),
        trunc(max(col("o_orderdate")), "month").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 month)")).as("month"))
    val spine = t(s, dir, "nation").select(col("n_name")).crossJoin(months)
    val w = Window.partitionBy(col("n_name")).orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(rev, Seq("n_name", "month"), "left")
      .select(col("n_name"), col("month"),
        last(col("revenue"), ignoreNulls = true).over(w).as("revenue_filled"),
        col("revenue").isNull.as("is_gap"))
  }

  val q83_sql: String =
    """WITH rev AS (
      |  SELECT n_name, date_trunc('month', o_orderdate)::DATE AS month,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |b AS (SELECT date_trunc('month', MIN(o_orderdate))::DATE AS lo,
      |             date_trunc('month', MAX(o_orderdate))::DATE AS hi
      |      FROM orders),
      |months AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH))::DATE AS month
      |           FROM b),
      |spine AS (SELECT n_name, month FROM nation CROSS JOIN months)
      |SELECT s.n_name, s.month,
      |  last_value(rev.revenue IGNORE NULLS) OVER (
      |    PARTITION BY s.n_name ORDER BY s.month
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_filled,
      |  rev.revenue IS NULL AS is_gap
      |FROM spine s
      |LEFT JOIN rev ON s.n_name = rev.n_name AND s.month = rev.month""".stripMargin

  /** CSV source/sink round-trip — the interchange format the parquet/
    * JSON/DSv2/JDBC family was missing: the engine WRITES a projection
    * to CSV (header, partition-parallel), reads it back under an
    * explicit schema (never inference — a 100 TB CSV read with
    * schema inference scans everything twice), and aggregates; the
    * oracle reads THE SAME files with DuckDB's independent CSV parser,
    * so quoting/escaping/header handling are cross-engine-checked, not
    * assumed. Integer/string columns only by design: CSV is a textual
    * format and float text round-tripping is a parser-specific
    * contract no interchange pipeline should lean on.
    */
  private def csvRoundTripPath(dir: String): String =
    graft.ingest.FixtureTables.path("csv_lineitem", dir)

  val q84_csv_roundtrip: Q = (s, dir) => {
    val path = csvRoundTripPath(dir)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_quantity").cast("long").as("qty"))
      .write.mode("overwrite").option("header", "true").csv(path)
    s.read
      .option("header", "true")
      .schema("l_orderkey LONG, l_returnflag STRING, qty LONG")
      .csv(path)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("qty")).as("sum_qty"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
  }

  def q84_sql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n_rows,
       |  CAST(SUM(qty) AS BIGINT) AS sum_qty,
       |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
       |FROM read_csv('${csvRoundTripPath(graft.queries.Corpus.oracleSfDir)}/*.csv',
       |  header = true,
       |  columns = {'l_orderkey': 'BIGINT', 'l_returnflag': 'VARCHAR',
       |             'qty': 'BIGINT'})
       |GROUP BY l_returnflag""".stripMargin

  /** ORC source/sink round-trip — the second binary columnar format
    * next to parquet (ORC support is native in Spark). Where q84's CSV
    * check deliberately excludes non-integer types, ORC is TYPED, so
    * this round-trip carries the hard columns: DECIMAL(15,4) money,
    * timestamps, longs — written to ORC, read back, aggregated with
    * exact decimal sums. DuckDB cannot read ORC, so the oracle states
    * the round-trip's CONTRACT instead: the same aggregate computed
    * from the original table — any value the ORC writer/reader
    * mangles (decimal rescale, timestamp zone shift, null flip)
    * breaks the hash. Write is partition-parallel; the read prunes to
    * the three referenced columns (ReadSchema, like any columnar
    * scan).
    */
  private def orcRoundTripPath(dir: String): String =
    graft.ingest.FixtureTables.path("orc_lineitem", dir)

  val q115_orc_roundtrip: Q = (s, dir) => {
    val path = orcRoundTripPath(dir)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_extendedprice").cast("decimal(15,4)").as("price"),
        col("l_shipdate"))
      .write.mode("overwrite").orc(path)
    s.read.orc(path)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price")).cast("double").as("sum_price"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        max(col("l_orderkey")).as("max_key"))
  }

  def q115_sql: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4))) AS DOUBLE)
      |    AS sum_price,
      |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
      |  MAX(l_orderkey) AS max_key
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin

  /** JSON-lines source/sink round-trip — q84's cross-parser check for
    * the other interchange text format: the engine writes a projection
    * as newline-delimited JSON (partition-parallel), reads it back
    * under an explicit schema (inference at 100 TB = a second full
    * scan), and the oracle reads THE SAME files with DuckDB's
    * independent JSON parser — escaping, field order, null encoding
    * and date formatting are cross-engine-checked, not assumed.
    * Long/string/date columns by q84's no-float rule: JSON is textual
    * and float text round-tripping is parser-specific.
    */
  private def jsonRoundTripPath(dir: String): String =
    graft.ingest.FixtureTables.path("json_orders", dir)

  val q116_json_roundtrip: Q = (s, dir) => {
    val path = jsonRoundTripPath(dir)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("o_day"),
        col("o_custkey"))
      .write.mode("overwrite").json(path)
    s.read
      .schema("o_orderkey LONG, o_orderpriority STRING, o_day DATE, o_custkey LONG")
      .json(path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("n_custs"),
        min(col("o_day")).as("min_day"),
        max(col("o_day")).as("max_day"),
        max(col("o_orderkey")).as("max_key"))
  }

  def q116_sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_rows,
       |  COUNT(DISTINCT o_custkey) AS n_custs,
       |  MIN(o_day) AS min_day, MAX(o_day) AS max_day,
       |  MAX(o_orderkey) AS max_key
       |FROM read_json('${jsonRoundTripPath(graft.queries.Corpus.oracleSfDir)}/*.json',
       |  columns = {'o_orderkey': 'BIGINT', 'o_orderpriority': 'VARCHAR',
       |             'o_day': 'DATE', 'o_custkey': 'BIGINT'})
       |GROUP BY o_orderpriority""".stripMargin

  /** q153: Avro round-trip — the remaining common interchange format
    * after parquet/CSV/ORC/JSON-lines/JDBC/DSv2. Spark's distribution
    * carries the Avro CORE library but not the `spark-avro`
    * connector, so the engine owns the container framing
    * ([[graft.sources.AvroTables]]): partition-parallel write of the
    * order projection through `DataFileWriter` over the Hadoop FS
    * API, read back under an explicit schema through
    * `DataFileReader`/FsInput, one task per file. DuckDB's Avro
    * reader is an extension this environment cannot install, so the
    * oracle states the round-trip CONTRACT instead (the q115 ORC
    * discipline): the same aggregate computed from the original
    * table — any value the Avro encode/decode mangles (double bits,
    * micros, string escaping, a dropped row) breaks the per-status
    * membership checksum, which folds every field of every row
    * through an order-free bit_xor of 60-bit md5 prefixes. Doubles
    * enter the checksum via the e-2 integer quantization (prices are
    * 2-decimal money; the s03 boundary discipline), never via float
    * text.
    */
  private def avroRoundTripPath(dir: String): String =
    graft.ingest.FixtureTables.path("avro_orders", dir)

  val q153_avro_roundtrip: Q = (s, dir) => {
    import graft.functions.KmvSketch
    val path = avroRoundTripPath(dir)
    val src = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        unix_micros(col("o_orderdate")
          .cast(org.apache.spark.sql.types.TimestampType))
          .as("o_orderdate_us"))
    graft.sources.AvroTables.writeOrders(src, path)
    graft.sources.AvroTables.readOrders(s, path)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate_us"),
        expr("CAST(round(o_totalprice * 100.0, 0) AS BIGINT)")
          .as("__price_e2"))
      .withColumn("__hx", KmvSketch.hash64(concat_ws(":",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("__price_e2"), col("o_orderdate_us"))))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__price_e2")).as("sum_price_e2"),
        min(col("o_orderdate_us")).as("min_ts_us"),
        max(col("o_orderdate_us")).as("max_ts_us"),
        expr("bit_xor(__hx)").as("checksum"))
  }

  def q153_sql: String =
    """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS price_e2,
      |    epoch_us(o_orderdate) AS ts_us
      |  FROM orders)
      |SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(price_e2) AS BIGINT) AS sum_price_e2,
      |  MIN(ts_us) AS min_ts_us, MAX(ts_us) AS max_ts_us,
      |  CAST(bit_xor(('0x' || substr(md5(
      |      CAST(o_orderkey AS VARCHAR) || ':' ||
      |      CAST(o_custkey AS VARCHAR) || ':' || o_orderstatus || ':' ||
      |      CAST(price_e2 AS VARCHAR) || ':' ||
      |      CAST(ts_us AS VARCHAR)), 1, 15))::BIGINT) AS BIGINT)
      |    AS checksum
      |FROM o
      |GROUP BY o_orderstatus""".stripMargin

  /** q124: sharded corpus export + manifest — the release step that
    * turns a curated corpus into N deterministic shards (parquet
    * `partitionBy`, the storage layout a training loader reads
    * shard-parallel) and emits the manifest a release is signed by:
    * per shard the row count, id range, byte-ish checksum (an
    * order-independent SUM of per-document md5-prefix integers — the
    * t38 hex-prefix parity trick, so both engines derive the same
    * 60-bit value per doc). The write is partition-parallel (one task
    * writes only its shard keys); the manifest comes from reading the
    * WRITTEN files back, so the oracle — DuckDB over the same files
    * with hive partitioning — cross-checks the round trip, not just
    * the arithmetic. Spark's partition-column type inference is
    * pinned by an explicit cast (discovery yields INT, the manifest
    * contract is BIGINT).
    */
  private def shardExportPath(dir: String): String =
    graft.ingest.FixtureTables.path("q124_shards", dir)

  val q124_shard_manifest: Q = (s, dir) => {
    val path = shardExportPath(dir)
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        pmod(col("doc_id"), lit(16L)).as("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    s.read.parquet(path)
      // hash the (doc_id, text) PAIR, not the bare text: XOR
      // self-cancels, so folding per-text hashes would make any even
      // count of identical texts invisible to the checksum (a
      // duplicated-or-pairwise-lost shard would still verify). Keying
      // by doc_id gives every row a distinct contribution, so the
      // checksum now catches duplicate and dropped rows alike.
      .withColumn("__h", graft.functions.KmvSketch.hash64(
        concat_ws(":", col("doc_id"), col("text"))))
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        // XOR fold, not SUM: per-doc values are 60-bit, so an additive
        // fold needs >64 bits and lands on a wide-decimal output — the
        // one boundary type the driver's hash has disagreed on for two
        // rounds (r9/r10, values bit-identical under replay). XOR keeps
        // the fold order-independent AND inside BIGINT, and both
        // engines ship a native bit_xor aggregate.
        expr("bit_xor(__h)").as("checksum"))
  }

  def q124_sql: String =
    s"""SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
       |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
       |  bit_xor(('0x' || substr(md5(
       |    doc_id::VARCHAR || ':' || text), 1, 15))::BIGINT) AS checksum
       |FROM read_parquet(
       |  '${shardExportPath(graft.queries.Corpus.oracleSfDir)}/*/*.parquet',
       |  hive_partitioning = true)
       |GROUP BY 1""".stripMargin

  /** q125: schema evolution at the STORAGE layer — a dataset written
    * over time under an evolving schema (v1 files lack the column a
    * later writer added) read back as one table via the parquet
    * reader's schema merge, nulls standing in for pre-evolution rows.
    * q75 proves the API-level `unionByName`; this proves the
    * reader-level merge on real files — the shape every long-lived
    * 100 TB dataset has, where rewriting old files to the new schema
    * is not an option. `mergeSchema` is an explicit option because at
    * scale it footer-samples; the oracle reads the SAME files with
    * DuckDB's independent `union_by_name` parquet reader, so null
    * semantics and decimal round-trip are cross-engine-checked.
    */
  private def schemaEvoPath(dir: String): String =
    graft.ingest.FixtureTables.path("q125_schema_evo", dir)

  val q125_schema_evolution: Q = (s, dir) => {
    val path = schemaEvoPath(dir)
    val o = t(s, dir, "orders")
    o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$path/v1")
    o.where(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast(dec2).as("price"))
      .write.mode("overwrite").parquet(s"$path/v2")
    s.read.option("mergeSchema", "true")
      .parquet(s"$path/v1", s"$path/v2")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("price")).as("n_with_price"),
        // e-2 BIGINT cents, not DECIMAL(28,2): the sum of 2-decimal
        // prices is exactly an integer count of cents, and BIGINT is a
        // driver-hash-proven boundary type (229 green queries) while
        // wide decimals red-hashed two rounds running despite
        // bit-identical replays. ×100 before CAST is exact (DECIMAL
        // arithmetic), and sf-scale totals sit far below 2⁶³ cents.
        (sum(col("price")) * lit(100)).cast("long").as("total_price_e2"),
        max(col("o_orderkey")).as("max_key"))
  }

  def q125_sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_rows,
       |  COUNT(price) AS n_with_price,
       |  CAST(SUM(price) * 100 AS BIGINT) AS total_price_e2,
       |  MAX(o_orderkey) AS max_key
       |FROM read_parquet(
       |  ['${schemaEvoPath(graft.queries.Corpus.oracleSfDir)}/v1/*.parquet',
       |   '${schemaEvoPath(graft.queries.Corpus.oracleSfDir)}/v2/*.parquet'],
       |  union_by_name = true)
       |GROUP BY o_orderpriority""".stripMargin

  /** Cumulative user-growth curve — distinct users ever seen, by day
    * (the DAU/"total accounts" acquisition metric). A naive
    * per-day COUNT(DISTINCT user) OVER an expanding frame re-scans
    * history per day; the scale-safe identity is first-seen
    * attribution: each user contributes once at MIN(event date), new
    * users aggregate per day, and one running sum over the ~|days|-row
    * daily frame yields the curve. The window input is bounded by the
    * calendar, not the event volume — the q83/aggregate-first
    * discipline.
    */
  val q85_user_growth: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val firstSeen = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"))
    val daily = firstSeen.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("new_users"))
    val w = Window.partitionBy(year(col("day"))).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // year partition keeps the window keyed (lint pattern 1) while the
    // fixture spans one year; cumulative totals reset per year —
    // documented year-to-date semantics
    daily.select(col("day"), col("new_users"),
      sum(col("new_users")).over(w).as("users_ytd"))
  }

  val q85_sql: String =
    """WITH fs AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)::DATE) AS first_day
      |            FROM events GROUP BY user_id),
      |d AS (SELECT first_day AS day, COUNT(*) AS new_users FROM fs GROUP BY 1)
      |SELECT day, new_users,
      |  CAST(SUM(new_users) OVER (PARTITION BY date_part('year', day)
      |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS users_ytd
      |FROM d""".stripMargin

  /** Per-brand 2-D skyline (Pareto frontier): the parts where no other
    * part of the same brand is both cheaper-or-equal AND
    * larger-or-equal (strict in at least one) — the classic
    * multi-objective "best tradeoffs" operator (minimize
    * p_retailprice, maximize p_size). The naive formulation is a
    * quadratic self-join (every part against every part); this is the
    * sort-scan identity instead: collapse to one row per (brand,
    * price) keeping MAX(size) — same-price dominance resolved by the
    * aggregate — then a point survives iff its size strictly exceeds
    * the running max size over all STRICTLY cheaper price levels (a
    * keyed window over the price-level frame, whose cardinality is
    * bounded by |brands| × |price domain|, catalog-small next to the
    * part table at any scale). The ORACLE is the quadratic NOT EXISTS
    * dominance test itself — an independent mechanism, so the hash
    * match proves the window scan computes exactly the dominance
    * semantics.
    */
  val q87_skyline: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val lvl = t(s, dir, "part")
      .groupBy(col("p_brand"), col("p_retailprice").as("price"))
      .agg(max(col("p_size")).as("best_size"),
        count(lit(1)).as("n_parts"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // rows are distinct price levels, so ROWS ... -1 = strictly cheaper
    lvl.withColumn("__prev_best", max(col("best_size")).over(w))
      .where(col("__prev_best").isNull ||
        col("best_size") > col("__prev_best"))
      .select(col("p_brand"), col("price"), col("best_size"), col("n_parts"))
  }

  val q87_sql: String =
    """WITH lvl AS (
      |  SELECT p_brand, p_retailprice AS price,
      |         MAX(p_size) AS best_size, COUNT(*) AS n_parts
      |  FROM part GROUP BY 1, 2)
      |SELECT p_brand, price, best_size, n_parts
      |FROM lvl a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM lvl b
      |  WHERE b.p_brand = a.p_brand
      |    AND b.price < a.price AND b.best_size >= a.best_size)""".stripMargin

  /** First-order Markov transition matrix over per-user event streams:
    * for every (from_type → to_type) pair of CONSECUTIVE events of one
    * user, the transition count and the row-normalized probability —
    * the behavioral model behind next-action prediction, anomaly
    * scoring (improbable transitions), and bot detection (too-peaked
    * rows). Consecutiveness is per user by (ts, event_id) — one LEAD
    * over a user-keyed window (bounded by per-user activity, never a
    * global sort), then a count aggregate over the transition-pair
    * space (|event types|², catalog-small), and the row normalizer is
    * a window over that tiny matrix. Counts are exact integers; the
    * probability is one final double division, rounded — the
    * order-independence discipline of t32.
    */
  val q88_markov_transitions: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val perUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(perUser))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val byFrom = Window.partitionBy(col("from_type"))
    trans.select(col("from_type"), col("to_type"), col("n_trans"),
      round(col("n_trans").cast("double") /
        sum(col("n_trans")).over(byFrom), 6).as("p_trans"))
  }

  val q88_sql: String =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |         LEAD(event_type) OVER (PARTITION BY user_id
      |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
      |  FROM events),
      |m AS (SELECT from_type, to_type, COUNT(*) AS n_trans
      |      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n_trans,
      |  ROUND(CAST(n_trans AS DOUBLE) /
      |    SUM(n_trans) OVER (PARTITION BY from_type), 6) AS p_trans
      |FROM m""".stripMargin

  /** CUSUM drift detection per event type — the one-sided cumulative-sum
    * control chart (Page 1954) over the DAILY event-count series:
    * s_t = max(0, s_{t-1} + (n_t − mean)), with the max excursion and
    * the first day the statistic breaches one mean-day of excess. The
    * recursion is inherently sequential per key, so it runs as an
    * `aggregate` higher-order fold over the per-type day series —
    * legitimate to materialize because its length is bounded by the
    * CALENDAR (days × |event types|), not event volume; the heavy
    * lifting (daily bucketing of the raw stream) stays a keyed
    * map-side-combined aggregate. All arithmetic is INTEGER-scaled by
    * |days| (s_t ← max(0, s_{t-1} + n_t·days − total), threshold
    * total) so the fold is exact — no floating-point accumulation —
    * and the two reported ratios are final double divisions, rounded.
    * The ORACLE replays the same recursion as a DuckDB RECURSIVE CTE
    * walking rank-joined rows — an independent evaluation mechanism
    * for the same recurrence.
    */
  /** The Page recursion over a (event_type, day, n) daily-count frame —
    * shared by q89 and the streaming fold's read-time derivation
    * ([[graft.streaming.StreamingIngest.currentCusum]]): the base
    * (daily counts) is additive and foldable; the sequential statistic
    * is always DERIVED from it, never persisted, so arrival order can
    * never leak into the result.
    */
  def cusumFromDaily(daily: DataFrame): DataFrame = {
    val series = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n")).as("total_events"),
        sort_array(collect_list(struct(col("day"), col("n"))))
          .as("__series"))
    val zero = struct(lit(0L).as("s"), lit(0L).as("smax"),
      lit(null).cast("timestamp").as("breach"))
    val folded = series.withColumn("__fold",
      aggregate(col("__series"), zero, (acc, x) => {
        val s2 = greatest(lit(0L), acc.getField("s") +
          x.getField("n") * col("n_days") - col("total_events"))
        struct(s2.as("s"), greatest(acc.getField("smax"), s2).as("smax"),
          coalesce(acc.getField("breach"),
            when(s2 > col("total_events"), x.getField("day"))).as("breach"))
      }))
    folded.select(col("event_type"), col("n_days"), col("total_events"),
      col("__fold.smax").as("max_cusum_scaled"),
      round(col("__fold.smax").cast("double") / col("n_days"), 6)
        .as("max_excess_events"),
      col("__fold.breach").as("first_breach_day"))
  }

  /** Additive seasonal decomposition (STL shape at toy scale) over
    * the per-type daily event series: trend = centered 7-row moving
    * average, seasonal = day-of-week mean of the detrended series,
    * remainder = what's left — the q89 family's diagnostic sibling
    * (CUSUM finds level shifts; this separates the weekly rhythm from
    * them). Scale story is q89's: the decomposition runs on the
    * CALENDAR-bounded daily frame (days × |types|), never on events —
    * the one big aggregate is the daily count, map-side combined.
    *
    * Numeric discipline: the g01 fixed-point lesson applied to a
    * statistic — a first formulation with `round(x, 6)` read 1 ulp
    * apart across engines on the seasonal mean (Spark rounds the
    * shortest decimal repr, DuckDB via a 10⁶ multiply), so ALL
    * arithmetic here is exact-integer MICRO-UNITS: trend_u =
    * (Σn·10⁶) div windowCount (positive → truncation ≡ floor),
    * det_u = n·10⁶ − trend_u, seasonal_u = floor-div of Σdet_u (a
    * negative-safe floor division both engines state identically),
    * remainder_u = det_u − seasonal_u. The output doubles are
    * u/10⁶ computed from identical integers — bit-identical.
    * Day-of-week: Spark's `dayofweek` is 1=Sunday..7, DuckDB's
    * 0=Sunday..6 — the Spark side subtracts 1.
    */
  val q117_seasonal_decompose: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val trended = daily
      .withColumn("__sumw", sum(col("n")).over(w))
      .withColumn("__cntw", count(col("n")).over(w))
      .withColumn("__trend_u", expr("(__sumw * 1000000L) div __cntw"))
      .withColumn("__det_u", col("n") * lit(1000000L) - col("__trend_u"))
      .withColumn("__dow", dayofweek(col("day")) - lit(1))
    val seasonal = trended
      .groupBy(col("event_type"), col("__dow"))
      .agg(sum(col("__det_u")).as("__s"), count(lit(1)).as("__c"))
      // floor division, negative-safe: subtract the non-negative mod
      // first so the numerator divides exactly (truncate ≡ floor)
      .withColumn("__seasonal_u",
        expr("(__s - ((__s % __c + __c) % __c)) div __c"))
      .select(col("event_type"), col("__dow"), col("__seasonal_u"))
    trended.join(seasonal, Seq("event_type", "__dow"))
      .select(col("event_type"), col("day"), col("n"),
        (col("__trend_u").cast("double") / lit(1000000.0)).as("trend"),
        (col("__seasonal_u").cast("double") / lit(1000000.0)).as("seasonal"),
        ((col("__det_u") - col("__seasonal_u")).cast("double")
          / lit(1000000.0)).as("remainder"))
  }

  val q117_sql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |         CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |tr AS (
      |  SELECT event_type, day, n,
      |    (SUM(n) OVER w * 1000000) // COUNT(n) OVER w AS trend_u,
      |    dayofweek(day) AS dow
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |det AS (SELECT *, n * 1000000 - trend_u AS det_u FROM tr),
      |seas AS (
      |  SELECT event_type, dow,
      |    (SUM(det_u) - ((SUM(det_u) % COUNT(*) + COUNT(*)) % COUNT(*)))
      |      // COUNT(*) AS seasonal_u
      |  FROM det GROUP BY 1, 2)
      |SELECT d.event_type, d.day, d.n,
      |  CAST(d.trend_u AS DOUBLE) / 1000000.0e0 AS trend,
      |  CAST(s.seasonal_u AS DOUBLE) / 1000000.0e0 AS seasonal,
      |  CAST(d.det_u - s.seasonal_u AS DOUBLE) / 1000000.0e0 AS remainder
      |FROM det d JOIN seas s ON s.event_type = d.event_type AND s.dow = d.dow"""
      .stripMargin

  val q89_cusum_drift: Q = (s, dir) =>
    cusumFromDaily(t(s, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))

  val q89_sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |               CAST(SUM(n) AS BIGINT) AS total_events
      |        FROM daily GROUP BY 1),
      |rnk AS (SELECT d.event_type, d.day, d.n, t.n_days, t.total_events,
      |               ROW_NUMBER() OVER (PARTITION BY d.event_type
      |                 ORDER BY d.day) AS rn
      |        FROM daily d JOIN tot t USING (event_type)),
      |walk(event_type, rn, s, smax, breach) AS (
      |  SELECT event_type, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |         CAST(0 AS BIGINT), CAST(NULL AS TIMESTAMP) FROM tot
      |  UNION ALL
      |  SELECT w.event_type, w.rn + 1,
      |    GREATEST(0, w.s + r.n * r.n_days - r.total_events),
      |    GREATEST(w.smax,
      |      GREATEST(0, w.s + r.n * r.n_days - r.total_events)),
      |    COALESCE(w.breach,
      |      CASE WHEN GREATEST(0, w.s + r.n * r.n_days - r.total_events)
      |        > r.total_events THEN r.day END)
      |  FROM walk w JOIN rnk r
      |    ON r.event_type = w.event_type AND r.rn = w.rn + 1)
      |SELECT t.event_type, t.n_days, t.total_events,
      |  CAST(f.smax AS BIGINT) AS max_cusum_scaled,
      |  ROUND(CAST(f.smax AS DOUBLE) / t.n_days, 6) AS max_excess_events,
      |  f.breach AS first_breach_day
      |FROM walk f JOIN tot t
      |  ON f.event_type = t.event_type AND f.rn = t.n_days""".stripMargin

  /** Theil–Sen robust trend per event type — the median of all
    * pairwise slopes over the daily-count series (and the median
    * residual intercept), the standard outlier-immune alternative to
    * q80's least-squares slopes: a single corrupted day moves OLS
    * arbitrarily but moves a median of O(days²) slopes not at all
    * (breakdown point ~29%). The pairwise enumeration is legitimate
    * for the same reason q89's fold is: the series is CALENDAR-bounded
    * (days per type), so pairs are |days|²/2 per type — a constant in
    * corpus size — while the daily bucketing of the raw stream stays a
    * keyed map-side-combined aggregate that carries all the data
    * growth. Slopes are single divisions of exact integers; the two
    * medians interpolate identically in both engines (rank p·(n−1),
    * linear between order statistics), rounded on output.
    */
  val q90_theilsen_trend: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("i", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
    val a = daily.select(col("event_type"), col("i").as("ia"), col("n").as("na"))
    val b = daily.select(col("event_type"), col("i").as("ib"), col("n").as("nb"))
    val slopes = a.hint("merge").join(b.hint("merge"), Seq("event_type"))
      .where(col("ib") > col("ia"))
      .select(col("event_type"),
        ((col("nb") - col("na")).cast("double") /
          (col("ib") - col("ia"))).as("slope"))
    val m = slopes.groupBy(col("event_type"))
      .agg(percentile(col("slope"), lit(0.5)).as("m"),
        count(lit(1)).as("n_pairs"))
    daily.join(m, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(round(first(col("m")), 6).as("sen_slope"),
        round(percentile(col("n") - col("m") * col("i"), lit(0.5)), 6)
          .as("sen_intercept"),
        first(col("n_pairs")).as("n_pairs"))
  }

  val q90_sql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |idx AS (SELECT event_type, n,
      |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
      |        FROM daily),
      |sl AS (SELECT a.event_type,
      |         CAST(b.n - a.n AS DOUBLE) / (b.i - a.i) AS slope
      |       FROM idx a JOIN idx b
      |         ON a.event_type = b.event_type AND b.i > a.i),
      |m AS (SELECT event_type, quantile_cont(slope, 0.5) AS m,
      |             COUNT(*) AS n_pairs
      |      FROM sl GROUP BY 1)
      |SELECT i.event_type, ROUND(ANY_VALUE(m.m), 6) AS sen_slope,
      |  ROUND(quantile_cont(i.n - m.m * i.i, 0.5), 6) AS sen_intercept,
      |  ANY_VALUE(m.n_pairs) AS n_pairs
      |FROM idx i JOIN m ON i.event_type = m.event_type
      |GROUP BY 1""".stripMargin

  /** Top session entry paths — the first three event types of every
    * session (q28's 30-minute-gap sessionization via the custom
    * [[graft.operators.Sessionize]] operator), ranked by session
    * count: the "how do users start" behavioral query every product
    * analytics stack ships (the Sankey/flow diagram's data side).
    * The path string builds from three conditional MAXes over the
    * rank ≤ 3 rows — not collect_list, whose order is
    * nondeterministic — and `concat_ws` drops the NULLs of shorter
    * sessions identically in both engines. Shape: user-keyed session
    * windows (bounded per user) → per-session 3-row aggregate → a
    * count over the path space (bounded by |types|³) → top-10
    * sort+limit (TopK, never a global sort).
    */
  val q91_session_paths: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val gapMicros = 30L * 60 * 1000 * 1000
    val sess = graft.operators.Sessionize(
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
      Seq("user_id"), "ts", gapMicros)
    val w = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    sess.withColumn("__rn", row_number().over(w)).where(col("__rn") <= 3)
      .groupBy(col("user_id"), col("session_id"))
      .agg(concat_ws(">",
        max(when(col("__rn") === 1, col("event_type"))),
        max(when(col("__rn") === 2, col("event_type"))),
        max(when(col("__rn") === 3, col("event_type")))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(10)
  }

  val q91_sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
      |  FROM events),
      |flagged AS (
      |  SELECT *,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
      |         OR LAG(epoch_us(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         THEN 1 ELSE 0 END AS is_start
      |  FROM e),
      |sess AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM flagged),
      |p AS (SELECT user_id, session_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, session_id
      |      ORDER BY ts, event_id) AS rn
      |  FROM sess),
      |agg AS (SELECT user_id, session_id,
      |    concat_ws('>',
      |      MAX(CASE WHEN rn = 1 THEN event_type END),
      |      MAX(CASE WHEN rn = 2 THEN event_type END),
      |      MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
      |  FROM p WHERE rn <= 3 GROUP BY 1, 2)
      |SELECT path, COUNT(*) AS n_sessions FROM agg
      |GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin

  // q92-q94: the three TPC-H classics the surface had only in pieces —
  // named here because they are the canonical multi-join + decimal-agg
  // + top-k shapes a warehouse is judged on. Shared discipline: money
  // math in DECIMAL(18,2) (order-independent-exact sums, the q01 rule),
  // DOUBLE only at the output boundary; dimension tables broadcast
  // explicitly; the top-k is a sort+limit (TopK physical op, never a
  // global sort); every date predicate reaches the parquet scan.
  private def rev = (dec2Col(col("l_extendedprice")) *
    (lit(1) - dec2Col(col("l_discount"))))
  private def dec2Col(c: org.apache.spark.sql.Column) = c.cast(dec2)

  /** TPC-H Q3 (shipping priority): revenue of unshipped BUILDING-segment
    * orders. Fact-fact join shuffles on the order key; the customer
    * filter semi-reduces orders before lineitem joins in.
    */
  val q92_tpch_q3: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = t(s, dir, "orders")
      .where(expr("o_orderdate < TIMESTAMP '1998-03-15 00:00:00'"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    t(s, dir, "lineitem")
      .where(expr("l_shipdate > TIMESTAMP '1998-03-15 00:00:00'"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  val q92_sql: String =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  o_orderdate, o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5 (local supplier volume): revenue where customer and
    * supplier share an ASIA nation. nation⋈region collapse to a
    * broadcast dimension; the c_nationkey = s_nationkey equality rides
    * the join keys, never a post-filter over a wider product.
    */
  val q93_tpch_q5: Q = (s, dir) => {
    val asiaNations = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region").where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    // customer/orders/supplier are FACT-sized at real scale — only the
    // nation⋈region dimension broadcasts; the rest are keyed shuffles
    // AQE may upgrade to broadcast at small SF on runtime stats
    val cust = t(s, dir, "customer")
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val ord = t(s, dir, "orders")
      .where(expr("o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'") &&
        expr("o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"), col("n_name"))
    val supp = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    t(s, dir, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supp,
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q93_sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q10 (returned items): the top-20 customers by revenue lost
    * to returns in one quarter.
    */
  val q94_tpch_q10: Q = (s, dir) => {
    val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val ord = t(s, dir, "orders")
      .where(expr("o_orderdate >= TIMESTAMP '1998-10-01 00:00:00'") &&
        expr("o_orderdate < TIMESTAMP '1999-01-01 00:00:00'"))
      .select(col("o_orderkey"), col("o_custkey"))
    t(s, dir, "lineitem")
      .where(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(rev).cast("double").as("revenue"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q94_sql: String =
    """WITH r AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      |    AND o_orderdate >= TIMESTAMP '1998-10-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |  GROUP BY o_custkey)
      |SELECT c_custkey, c_name, revenue, c_acctbal, n_name
      |FROM r, customer, nation
      |WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** Benford first-significant-digit profile of order totals — the
    * classic fabricated-data / ingestion-corruption forensic: organic
    * multi-scale monetary amounts follow P(d) = log₁₀(1 + 1/d), and a
    * feed that pads, truncates, or invents values drifts off the curve
    * (the audit literature's first screen). The digit comes from the
    * DECIMAL string, not floor(x / 10^⌊log₁₀x⌋) — the float-log
    * formulation can flip digit at 999.99…-style boundaries when the
    * two engines' libm differ by an ulp; the decimal cast is exact and
    * renders identically. One keyed aggregate over exact counts; the
    * expected curve and the χ² contribution are final rounded doubles.
    */
  val q95_benford: Q = (s, dir) => {
    // >= 1, not > 0: a sub-1 magnitude's DECIMAL string leads with '0'
    // and would need mantissa normalization; the monetary screen
    // applies to totals >= 1 by definition (none below exist in any
    // fixture — the guard is the documented domain, not a workaround)
    val totals = t(s, dir, "orders")
      .where(col("o_totalprice") >= 1)
      .agg(count(lit(1)).as("__n")).select(col("__n"))
    val digits = t(s, dir, "orders")
      .where(col("o_totalprice") >= 1)
      .select(substring(col("o_totalprice").cast(dec2).cast("string"), 1, 1)
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
    graft.functions.PortableMath
      .withBindings(digits.crossJoin(broadcast(totals)), q95Bindings)
      .select(col("digit"), col("n_orders"),
        col("observed_e6"), col("benford_e6"), col("chi2_term_e6"))
  }

  /** Benford expectation log₁₀(1 + 1/d) for d ∈ 1..9 folded to NINE
    * generation-time double literals (no runtime transcendental at
    * all — the engines just select the same constant); the χ² term is
    * then +,−,×,/ over engine-identical doubles, quantized by exact
    * floor. `round(log10(…), 6)` was the round-9 divergence class.
    */
  private def q95Bindings: graft.functions.PortableMath.Bindings = {
    import graft.functions.PortableMath._
    val ben = Dual.cases(
      (1 to 8).map { d =>
        DualCond(col("digit") === lit(d.toString), s"(digit = '$d')") ->
          Dual.lit(math.log10(1.0 + 1.0 / d))
      },
      Dual.lit(math.log10(1.0 + 1.0 / 9)))
    val obs = Dual.col("n_orders").toDouble / Dual.col("__n").toDouble
    val dev = obs - Dual.col("__ben")
    Seq(
      "__ben" -> ben,
      "observed_e6" -> roundedUnits(obs, 6),
      "benford_e6" -> roundedUnits(Dual.col("__ben"), 6),
      "chi2_term_e6" -> roundedUnits(
        dev * dev / Dual.col("__ben") * Dual.col("__n").toDouble, 6))
  }

  def q95_sql: String = {
    val chain = graft.functions.PortableMath.sqlWithBindings(
      "SELECT digit, n_orders, n AS __n FROM g CROSS JOIN t", q95Bindings)
    s"""WITH d AS (
       |  SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
       |           AS digit
       |  FROM orders WHERE o_totalprice >= 1),
       |g AS (SELECT digit, COUNT(*) AS n_orders FROM d GROUP BY 1),
       |t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n FROM g)
       |SELECT digit, n_orders, observed_e6, benford_e6, chi2_term_e6
       |FROM ($chain)""".stripMargin
  }

  /** TPC-H Q14 (promotion effect): the share of one month's discounted
    * revenue attributable to PROMO parts — the classic conditional-
    * aggregate-over-a-join shape. The lineitem⋈part join is keyed
    * (part is fact-sized at real scale; AQE broadcasts at small SF),
    * the month predicate reaches the lineitem scan, and both sums run
    * in DECIMAL (q01 discipline) with one final double ratio.
    */
  val q97_tpch_q14: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .where(expr("l_shipdate >= TIMESTAMP '1998-03-01 00:00:00'") &&
        expr("l_shipdate < TIMESTAMP '1998-04-01 00:00:00'"))
      .join(t(s, dir, "part").select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0)))
          .cast("double").as("promo_revenue"),
        sum(rev).cast("double").as("total_revenue"),
        count(lit(1)).as("n_rows"))
      .select(
        round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 6)
          .as("promo_pct"),
        col("promo_revenue"), col("total_revenue"), col("n_rows"))
  }

  val q97_sql: String =
    """WITH j AS (
      |  SELECT p_type,
      |    CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS dp
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey
      |    AND l_shipdate >= TIMESTAMP '1998-03-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'),
      |a AS (SELECT
      |    CAST(SUM(CASE WHEN p_type = 'PROMO' THEN dp ELSE 0 END) AS DOUBLE)
      |      AS promo_revenue,
      |    CAST(SUM(dp) AS DOUBLE) AS total_revenue,
      |    COUNT(*) AS n_rows
      |  FROM j)
      |SELECT ROUND(100.0 * promo_revenue / total_revenue, 6) AS promo_pct,
      |  promo_revenue, total_revenue, n_rows
      |FROM a""".stripMargin

  /** TPC-H Q18 (large-volume customers): orders whose total quantity
    * exceeds 300, with their customers, top-100 by value. The classic
    * formulation re-joins lineitem inside an IN-subquery; here the
    * per-order quantity aggregates ONCE and semi-reduces orders by
    * join — same rows, one lineitem pass (the Q10
    * aggregate-before-join move). Quantity sums run in DECIMAL so the
    * HAVING threshold is order-independent-exact; top-100 is a
    * sort+limit TopK.
    */
  val q98_tpch_q18: Q = (s, dir) => {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(dec2Col(col("l_quantity"))).as("__qty"))
      .where(col("__qty") > 300)
    t(s, dir, "orders").join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("__qty").cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  val q98_sql: String =
    """WITH big AS (
      |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      |  FROM lineitem GROUP BY 1
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
      |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(qty AS DOUBLE) AS total_qty
      |FROM big, orders, customer
      |WHERE o_orderkey = l_orderkey AND o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin

  /** TPC-H Q13 (customer distribution): how many customers placed
    * exactly N orders, zero included — the canonical LEFT OUTER +
    * double-aggregation shape (the outer join is what keeps
    * order-less customers in the histogram; an inner join silently
    * drops the most interesting bucket). First aggregate is keyed by
    * customer (fact-sized shuffle), second by the count value — a
    * frame bounded by max-orders-per-customer, so the final sort is
    * catalog-small. (The reference Q13's o_comment NOT LIKE filter has
    * no column here; the join-histogram semantics are the point.)
    */
  val q99_tpch_q13: Q = (s, dir) => {
    val counts = t(s, dir, "customer").select(col("c_custkey"))
      .join(t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    counts.groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q99_sql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) t
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q17 (small-quantity-order revenue): lineitems of one brand
    * below 20% of their part's average quantity — the CORRELATED
    * SCALAR AVG subquery, the decorrelation shape this surface had not
    * yet exercised (Catalyst rewrites the per-part average into an
    * aggregate + join; the naive plan re-scans lineitem per row).
    * Stated via `spark.sql` so the decorrelator itself is under test,
    * like q59's LATERAL. l_quantity is integer-valued, so the
    * correlated AVG is exact-sum/count — deterministic across engines
    * and summation orders — and the revenue sum runs in DECIMAL.
    * (The reference Q17's p_container filter has no column here; the
    * brand filter alone keeps the correlated-subquery semantics.)
    */
  val q100_tpch_q17: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("g_q100_lineitem")
    t(s, dir, "part").createOrReplaceTempView("g_q100_part")
    s.sql(
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         / 7.0 AS avg_yearly,
        |       COUNT(*) AS n_rows
        |FROM g_q100_lineitem, g_q100_part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#13'
        |  AND l_quantity < (SELECT 0.2 * AVG(l_quantity)
        |                    FROM g_q100_lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin)
  }

  val q100_sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |         / 7.0 AS avg_yearly,
      |       COUNT(*) AS n_rows
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#13'
      |  AND l_quantity < (SELECT 0.2 * AVG(l_quantity)
      |                    FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin

  val queries: Map[String, Q] = Map(
    "q59_lateral"        -> q59_lateral,
    "q60_month_spine"    -> q60_month_spine,
    "q61_array_hof"      -> q61_array_hof,
    "q62_multi_distinct" -> q62_multi_distinct,
    "q63_not_in"         -> q63_not_in,
    "q64_variant"        -> q64_variant,
    "q66_data_quality"   -> q66_data_quality,
    "q67_map_ops"        -> q67_map_ops,
    "q68_scd2_merge"     -> q68_scd2_merge,
    "q69_delta_join"     -> q69_delta_join,
    "q70_rollup"         -> q70_rollup,
    "q71_table_diff"     -> q71_table_diff,
    "q74_scd_asof"       -> q74_scd_asof,
    "q75_schema_drift_union" -> q75_schema_drift_union,
    "q76_interval_concurrency" -> q76_interval_concurrency,
    "q77_event_patterns" -> q77_event_patterns,
    "q78_time_in_state"  -> q78_time_in_state,
    "q79_winsorize"      -> q79_winsorize,
    "q80_trend_slopes"   -> q80_trend_slopes,
    "q81_funnel_patterns" -> q81_funnel_patterns,
    "q82_zorder_stats"   -> q82_zorder_stats,
    "q83_gap_fill"       -> q83_gap_fill,
    "q84_csv_roundtrip"  -> q84_csv_roundtrip,
    "q115_orc_roundtrip" -> q115_orc_roundtrip,
    "q116_json_roundtrip" -> q116_json_roundtrip,
    "q153_avro_roundtrip" -> q153_avro_roundtrip,
    "q124_shard_manifest" -> q124_shard_manifest,
    "q125_schema_evolution" -> q125_schema_evolution,
    "q85_user_growth"    -> q85_user_growth,
    "q87_skyline"        -> q87_skyline,
    "q88_markov_transitions" -> q88_markov_transitions,
    "q89_cusum_drift"    -> q89_cusum_drift,
    "q117_seasonal_decompose" -> q117_seasonal_decompose,
    "q90_theilsen_trend" -> q90_theilsen_trend,
    "q91_session_paths"  -> q91_session_paths,
    "q92_tpch_q3"        -> q92_tpch_q3,
    "q93_tpch_q5"        -> q93_tpch_q5,
    "q94_tpch_q10"       -> q94_tpch_q10,
    "q95_benford"        -> q95_benford,
    "q97_tpch_q14"       -> q97_tpch_q14,
    "q98_tpch_q18"       -> q98_tpch_q18,
    "q99_tpch_q13"       -> q99_tpch_q13,
    "q100_tpch_q17"      -> q100_tpch_q17)

  // def, not val: q84's oracle embeds the per-dir CSV fixture path for
  // the CURRENT Corpus.oracleSfDir (the s03 centroid-dump recipe)
  def oracles: Map[String, String] = Map(
    "q59_lateral"        -> q59_sql,
    "q60_month_spine"    -> q60_sql,
    "q61_array_hof"      -> q61_sql,
    "q62_multi_distinct" -> q62_sql,
    "q63_not_in"         -> q63_sql,
    "q64_variant"        -> q64_sql,
    "q66_data_quality"   -> q66_sql,
    "q67_map_ops"        -> q67_sql,
    "q68_scd2_merge"     -> q68_sql,
    "q69_delta_join"     -> q69_sql,
    "q70_rollup"         -> q70_sql,
    "q71_table_diff"     -> q71_sql,
    "q74_scd_asof"       -> q74_sql,
    "q75_schema_drift_union" -> q75_sql,
    "q76_interval_concurrency" -> q76_sql,
    "q77_event_patterns" -> q77_sql,
    "q78_time_in_state"  -> q78_sql,
    "q79_winsorize"      -> q79_sql,
    "q80_trend_slopes"   -> q80_sql,
    "q81_funnel_patterns" -> q81_sql,
    "q82_zorder_stats"   -> q82_sql,
    "q83_gap_fill"       -> q83_sql,
    "q84_csv_roundtrip"  -> q84_sql,
    "q115_orc_roundtrip" -> q115_sql,
    "q116_json_roundtrip" -> q116_sql,
    "q153_avro_roundtrip" -> q153_sql,
    "q124_shard_manifest" -> q124_sql,
    "q125_schema_evolution" -> q125_sql,
    "q85_user_growth"    -> q85_sql,
    "q87_skyline"        -> q87_sql,
    "q88_markov_transitions" -> q88_sql,
    "q89_cusum_drift"    -> q89_sql,
    "q117_seasonal_decompose" -> q117_sql,
    "q90_theilsen_trend" -> q90_sql,
    "q91_session_paths"  -> q91_sql,
    "q92_tpch_q3"        -> q92_sql,
    "q93_tpch_q5"        -> q93_sql,
    "q94_tpch_q10"       -> q94_sql,
    "q95_benford"        -> q95_sql,
    "q97_tpch_q14"       -> q97_sql,
    "q98_tpch_q18"       -> q98_sql,
    "q99_tpch_q13"       -> q99_sql,
    "q100_tpch_q17"      -> q100_sql)
}
