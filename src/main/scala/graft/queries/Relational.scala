package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The relational query surface (SURVEY.md §2.B + §2.C), each entry
  * paired with DuckDB oracle SQL in [[graft.SparkEntry.oracleSql]].
  *
  * Numeric-parity discipline: the corpus's money columns are doubles
  * holding exact 2-decimal values, so both engines cast them to
  * DECIMAL(18,2) before aggregating (exact, order-independent sums) and
  * cast the final aggregate back to DOUBLE — bit-identical results, no
  * float-summation-order drift. Averages divide the exact decimal sum
  * (as double) by the count.
  */
object Relational {

  private val D = DecimalType(18, 2)
  private def dec(c: Column): Column = c.cast(D)

  /** Render a double so DuckDB parses it to the IDENTICAL bits. A bare
    * decimal literal (`0.18181818181818182`) is typed DECIMAL(18,17)
    * first and DuckDB's decimal→double conversion is not correctly
    * rounded (measured 11/128 literals land 1 ulp off); an exponent
    * forces the native DOUBLE parser, which is exact for shortest-repr
    * strings.
    */
  private[queries] def sqlDouble(d: Double): String = {
    val s = d.toString
    if (s.contains('E') || s.contains('e')) s else s + "e0"
  }

  /** B1-style scan+agg (TPC-H Q1 pricing summary): filter → hash agg with
    * partial aggregation map-side; only 6 of 10 lineitem columns read.
    */
  val q01_pricing_summary: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .where(expr("l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
          * (lit(1) + dec(col("l_tax")))).cast("double").as("sum_charge"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(dec(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val q01_sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      | CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** B2/A4: tight filter + narrow projection (TPC-H Q6 revenue-at-risk).
    * Predicates push to the parquet scan; only 4 columns read.
    */
  val q02_filter_pushdown: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .where(
        expr("l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'") &&
        expr("l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'") &&
        dec(col("l_discount")).between(lit("0.05").cast(D), lit("0.07").cast(D)) &&
        col("l_quantity") < 24)
      .agg(
        sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q02_sql: String =
    """SELECT
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN CAST('0.05' AS DECIMAL(18,2)) AND CAST('0.07' AS DECIMAL(18,2))
      |  AND l_quantity < 24""".stripMargin

  /** B7: dimension joins — nation and region are tiny, so both join
    * stages broadcast (no shuffle of the customer side at any scale).
    */
  val q03_broadcast_join: Q = (s, dir) => {
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(dec(col("c_acctbal"))).cast("double").as("total_acctbal"))
  }

  val q03_sql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  /** Fact-fact equi-join on the natural key (shuffle/sort-merge at scale,
    * AQE may flip to broadcast at small SF) + distinct-count aggregate.
    */
  val q04_join_agg: Q = (s, dir) => {
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .where(expr("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"))
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
  }

  val q04_sql: String =
    """SELECT o_orderpriority,
      | COUNT(DISTINCT o_orderkey) AS n_orders,
      | COUNT(*) AS n_lines,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY o_orderpriority""".stripMargin

  /** B8: global top-K with deterministic tiebreak — plans as
    * TakeOrderedAndProject (per-partition heap + driver merge, no global
    * sort even at 100 TB).
    */
  val q05_topk: Q = (s, dir) => {
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
  }

  val q05_sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 10""".stripMargin

  /** B3 as a set operation: left-semi join (EXISTS) — no row
    * multiplication, the orders side only ships its join key.
    */
  val q06_semi_join: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_active_customers"),
        (sum(dec(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_acctbal"))
  }

  val q06_sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_active_customers,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_acctbal
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment""".stripMargin

  /** B4's core mechanism: left-anti join (NOT EXISTS) — the same plan
    * shape the idempotent append uses against the target's PK set.
    */
  val q07_anti_join: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  val q07_sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** B1: the engine-internal watermark form — MAX per key for ALL keys in
    * one hash aggregate (vs the reference's per-symbol SELECT round-trips).
    */
  val q08_hwm_watermarks: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(
        max(col("l_shipdate")).as("hwm"),
        count(lit(1)).as("n_rows"))
  }

  val q08_sql: String =
    """SELECT l_suppkey, MAX(l_shipdate) AS hwm, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_suppkey""".stripMargin

  /** B6: distinct (dedup) — partial dedup map-side before the shuffle. */
  val q09_distinct: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"), col("l_suppkey"))
      .distinct()
  }

  val q09_sql: String =
    "SELECT DISTINCT l_returnflag, l_linestatus, l_suppkey FROM lineitem"

  /** Set ops: UNION (distinct) of two differently-filtered projections. */
  val q10_union: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val a = o.where(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"))
    val b = o.where(col("o_totalprice") > 450000)
      .select(col("o_orderkey"), col("o_custkey"))
    a.unionByName(b).distinct()
  }

  val q10_sql: String =
    """SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'F'
      |UNION
      |SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 450000""".stripMargin

  /** B10 on the corpus: 10-period SMA over per-(supplier, day) revenue,
    * full windows only — the reference's SMA semantics computed natively.
    * Pre-aggregation makes the window ordering key unique, so results
    * are deterministic across engines.
    *
    * Partitioning reuse: one explicit hash exchange on `l_suppkey`
    * satisfies BOTH the (suppkey, day) aggregation's clustering (subset
    * rule) and the window's partitioning — the plan has a single
    * shuffle where the naive form pays two.
    */
  val q11_window_sma: Q = (s, dir) => {
    val daily = t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_shipdate"), dec(col("l_extendedprice")).as("__p"))
      .repartition(col("l_suppkey"))
      .groupBy(col("l_suppkey"), col("l_shipdate"))
      .agg(sum(col("__p")).as("day_price"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      .rowsBetween(-9, 0)
    daily
      .withColumn("sma_price",
        (sum(col("day_price")).over(w).cast("double") / lit(10)))
      .withColumn("__n", count(lit(1)).over(w))
      .where(col("__n") === 10)
      .select(col("l_suppkey"), col("l_shipdate"), col("sma_price"))
  }

  val q11_sql: String =
    """WITH daily AS (
      |  SELECT l_suppkey, l_shipdate,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS day_price
      |  FROM lineitem GROUP BY l_suppkey, l_shipdate)
      |SELECT l_suppkey, l_shipdate,
      |       CAST(SUM(day_price) OVER w AS DOUBLE) / 10 AS sma_price
      |FROM daily
      |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate
      |             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
      |QUALIFY COUNT(*) OVER w = 10""".stripMargin

  /** Ranking window: top-3 orders per customer (row_number with a unique
    * tiebreak), plus lag for order-over-order delta.
    */
  val q12_window_rank: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_price",
        lag(col("o_totalprice"), 1).over(w))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn"), col("prev_price"))
  }

  val q12_sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn, prev_price FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
      |    LAG(o_totalprice, 1) OVER w AS prev_price
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
      |) WHERE rn <= 3""".stripMargin

  /** Scalar date/string/math function surface (§2.C) — one pass over
    * orders exercising extraction, truncation, formatting, string ops.
    */
  val q13_scalar_funcs: Q = (s, dir) => {
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        upper(col("o_orderpriority")).as("prio_upper"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        length(col("o_orderstatus")).as("status_len"),
        concat_ws("#", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
        abs(dec(col("o_totalprice")) - 250000).cast("double").as("dist_from_250k"),
        round(col("o_totalprice") / 1000, 0).cast("double").as("price_k"))
  }

  val q13_sql: String =
    """SELECT o_orderkey,
      | CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
      | CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mo,
      | CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS dom,
      | strftime(o_orderdate, '%Y-%m') AS ym,
      | CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      | UPPER(o_orderpriority) AS prio_upper,
      | SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
      | CAST(LENGTH(o_orderstatus) AS INTEGER) AS status_len,
      | CONCAT_WS('#', o_orderstatus, o_orderpriority) AS tag,
      | CAST(ABS(CAST(o_totalprice AS DECIMAL(18,2)) - 250000) AS DOUBLE) AS dist_from_250k,
      | CAST(ROUND(o_totalprice / 1000, 0) AS DOUBLE) AS price_k
      |FROM orders""".stripMargin

  /** Conditional aggregation (manual pivot): status mix per order-year. */
  val q14_conditional_agg: Q = (s, dir) => {
    t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_p"),
        sum(when(col("o_orderstatus") === "F", dec(col("o_totalprice")))
          .otherwise(lit(0).cast(D))).cast("double").as("f_totalprice"),
        count(lit(1)).as("n_orders"))
  }

  val q14_sql: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
      | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      | CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      | CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
      | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS f_totalprice,
      | COUNT(*) AS n_orders
      |FROM orders GROUP BY EXTRACT(year FROM o_orderdate)""".stripMargin

  /** ROLLUP over the region→nation hierarchy (multi-level aggregates in
    * one shuffle via grouping sets).
    */
  val q15_rollup: Q = (s, dir) => {
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(dec(col("c_acctbal"))).cast("double").as("total_acctbal"))
  }

  val q15_sql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  /** Event-time bucketing: tumbling 1-hour windows over the event stream
    * (batch form; the streaming variant shares this plan).
    */
  val q16_event_buckets: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec(col("value"))).cast("double").as("total_value"))
  }

  val q16_sql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
      | COUNT(*) AS n_events,
      | COUNT(DISTINCT user_id) AS n_users,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** A2/§2.C JSON: extract a field from the embedded JSON props column
    * and aggregate on it.
    */
  val q17_json_extract: Q = (s, dir) => {
    t(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total_value"))
  }

  val q17_sql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1""".stripMargin

  /** Five-table join (TPC-H Q5 shape): two broadcast dims + two shuffle
    * fact joins, revenue per nation within one region.
    */
  val q18_multi_join: Q = (s, dir) => {
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q18_sql: String =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_lines
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name""".stripMargin

  /** Shared series for the indicator queries (here and in
    * [[Advanced]]): per-(supplier, day) revenue as DECIMAL(18,2),
    * pre-partitioned by supplier so the agg and every downstream window
    * share one exchange.
    */
  private[queries] def supplierDaily(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_shipdate"), dec(col("l_extendedprice")).as("__p"))
      .repartition(col("l_suppkey"))
      .groupBy(col("l_suppkey"), col("l_shipdate"))
      // re-narrow the sum to DECIMAL(18,2): downstream decimal PRODUCTS
      // (q47's Σxy/Σx²) stay inside both engines' 38-digit budget —
      // (18,2)×(18,2) is exact everywhere, sum-widened operands are not
      .agg(sum(col("__p")).cast(D).as("day_price"))

  private[queries] val supplierDailySql: String =
    """SELECT l_suppkey, l_shipdate,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS day_price
      |FROM lineitem GROUP BY l_suppkey, l_shipdate""".stripMargin

  /** Bollinger bands over supplier daily revenue (20-bar, k=2) — the
    * variance from exact decimal window sums, so both engines produce
    * identical doubles.
    */
  val q19_bollinger: Q = (s, dir) =>
    graft.analytics.Indicators.bollinger(
      supplierDaily(s, dir), "l_suppkey", Seq("l_shipdate"), "day_price",
      n = 20, k = 2.0)
      .select(col("l_suppkey"), col("l_shipdate"),
        col("bb_mid"), col("bb_upper"), col("bb_lower"))

  val q19_sql: String =
    s"""WITH daily AS ($supplierDailySql),
       |w AS (SELECT l_suppkey, l_shipdate,
       |  CAST(SUM(day_price) OVER win AS DOUBLE) AS s1,
       |  CAST(SUM(day_price * day_price) OVER win AS DOUBLE) AS s2,
       |  COUNT(*) OVER win AS n
       | FROM daily
       | WINDOW win AS (PARTITION BY l_suppkey ORDER BY l_shipdate
       |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
       |b AS (SELECT l_suppkey, l_shipdate, n,
       |  s1 / 20 AS mid,
       |  sqrt(greatest((s2 - (s1 * s1) / 20) / 19, 0.0)) AS sd
       | FROM w)
       |SELECT l_suppkey, l_shipdate, mid AS bb_mid,
       |       mid + 2.0 * sd AS bb_upper, mid - 2.0 * sd AS bb_lower
       |FROM b WHERE n = 20""".stripMargin

  /** RSI-14 (simple averages) over supplier daily revenue. */
  val q20_rsi: Q = (s, dir) =>
    graft.analytics.Indicators.rsi(
      supplierDaily(s, dir), "l_suppkey", Seq("l_shipdate"), "day_price", n = 14)
      .select(col("l_suppkey"), col("l_shipdate"), col("rsi"))

  val q20_sql: String =
    s"""WITH daily AS ($supplierDailySql),
       |d AS (SELECT l_suppkey, l_shipdate,
       |  day_price - LAG(day_price, 1) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS diff
       | FROM daily),
       |w AS (SELECT l_suppkey, l_shipdate,
       |  CAST(SUM(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER win AS DOUBLE) AS gains,
       |  CAST(SUM(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER win AS DOUBLE) AS losses,
       |  COUNT(diff) OVER win AS nd
       | FROM d
       | WINDOW win AS (PARTITION BY l_suppkey ORDER BY l_shipdate
       |                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
       |SELECT l_suppkey, l_shipdate,
       |  CASE WHEN losses = 0 THEN 100.0
       |       ELSE 100.0 - 100.0 / (1.0 + gains / losses) END AS rsi
       |FROM w WHERE nd = 14""".stripMargin

  /** Set ops §2.C: INTERSECT/EXCEPT (distinct) between two filtered
    * projections — planned as left-semi/left-anti aggregates, no row
    * multiplication.
    */
  val q21_setops: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val highValue = o.where(col("o_totalprice") > 200000)
      .select(col("o_custkey"))
    val urgent = o.where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    highValue.intersect(urgent)
      .withColumn("relation", lit("both"))
      .unionByName(
        highValue.except(urgent).withColumn("relation", lit("high_value_only")))
  }

  val q21_sql: String =
    """SELECT o_custkey, 'both' AS relation FROM (
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |UNION ALL
      |SELECT o_custkey, 'high_value_only' AS relation FROM (
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000
      |  EXCEPT
      |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin

  /** EMA (n=10) over per-supplier daily revenue — exercises the
    * codegen'd literal-weight EMA in [[Indicators.ema]]. Compared RAW
    * (no rounding): the weight constants are interpolated into the
    * oracle verbatim and both engines fold strictly left-to-right, so
    * the doubles are bit-identical. (round(x, 6) is NOT cross-engine
    * stable — DuckDB rounds via x·10⁶ whose double rounding can flip a
    * boundary value the exact-value rounding of Spark keeps down; one
    * row in 52k at sf0.01 hit exactly that.)
    */
  val q22_ema: Q = (s, dir) => {
    val daily = t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_shipdate"), dec(col("l_extendedprice")).as("__p"))
      .repartition(col("l_suppkey"))
      .groupBy(col("l_suppkey"), col("l_shipdate"))
      .agg(sum(col("__p")).as("day_price"))
    graft.analytics.Indicators.ema(
      daily, "l_suppkey", Seq("l_shipdate"), "day_price", n = 10)
      .select(col("l_suppkey"), col("l_shipdate"),
        col("ema_value").as("ema10"))
  }

  val q22_sql: String = {
    val (bodyW, tailW) = graft.analytics.Indicators.emaWeights(10)
    val bw = bodyW.map(sqlDouble).mkString("[", ",", "]")
    val tw = tailW.map(sqlDouble).mkString("[", ",", "]")
    s"""WITH daily AS (
       |  SELECT l_suppkey, l_shipdate,
       |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS day_price
       |  FROM lineitem GROUP BY l_suppkey, l_shipdate),
       |lists AS (
       |  SELECT l_suppkey, l_shipdate,
       |    list_reverse(list(CAST(day_price AS DOUBLE))
       |      OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
       |            ROWS BETWEEN 63 PRECEDING AND CURRENT ROW)) AS vals
       |  FROM daily)
       |SELECT l_suppkey, l_shipdate,
       |  -- strict left-to-right fold matching graft_dot's accumulation
       |  -- order; list_zip pads the short list with NULL and coalesce
       |  -- maps those products to +0.0, an exact no-op — the raw doubles
       |  -- are then bit-identical to Spark's, no rounding needed
       |  list_reduce(list_transform(
       |    list_zip(vals, CAST($bw AS DOUBLE[])), z -> coalesce(z[1] * z[2], 0.0)),
       |    (acc, x) -> acc + x)
       |  + (CAST($tw AS DOUBLE[]))[len(vals)] * vals[len(vals)] AS ema10
       |FROM lists""".stripMargin
  }

  /** Bucketed copies of orders/lineitem (8 buckets on the order key,
    * sorted within buckets), written once per corpus directory into the
    * session warehouse. The one-time write is the amortized cost that
    * buys every subsequent fact-fact join on the key a zero-exchange
    * sort-merge plan — the storage co-location a 100 TB deployment
    * maintains for its recurring join spine.
    */
  private def bucketedFacts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val (ot, lt) = (s"graft_bkt_orders_$h", s"graft_bkt_lineitem_$h")
    Relational.synchronized {
      if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(lt)) {
        // a previous JVM may have left the managed locations behind (the
        // in-memory catalog is per-session, the warehouse dir is not) —
        // remove them so saveAsTable can recreate
        Seq(ot, lt).foreach { tbl =>
          val p = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir") + s"/$tbl")
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
        // repartition to the bucket count on the bucket key first, so
        // each task owns exactly one bucket → one file per bucket and
        // the sortBy metadata lets SMJ skip its sorts
        graft.load.Scale.writeBucketed(
          t(s, dir, "orders").repartition(8, col("o_orderkey")),
          ot, "o_orderkey", 8)
        graft.load.Scale.writeBucketed(
          t(s, dir, "lineitem").repartition(8, col("l_orderkey")),
          lt, "l_orderkey", 8)
      }
    }
    (s.table(ot), s.table(lt))
  }

  /** Fact-fact join on pre-bucketed storage: both sides are bucketed on
    * the order key, so the sort-merge join (and the per-order aggregate,
    * by the subset rule) runs with ZERO exchanges — asserted by
    * `ScaleSpec`. The merge hint keeps the demo on the sort-merge path
    * even where the small-SF side would broadcast.
    */
  val q23_bucketed_join: Q = (s, dir) => {
    val (o, l) = bucketedFacts(s, dir)
    o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
  }

  val q23_sql: String =
    """SELECT o_orderkey, o_orderpriority, COUNT(*) AS n_lines,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey, o_orderpriority""".stripMargin

  val queries: Map[String, Q] = Map(
    "q01_pricing_summary" -> q01_pricing_summary,
    "q02_filter_pushdown" -> q02_filter_pushdown,
    "q03_broadcast_join"  -> q03_broadcast_join,
    "q04_join_agg"        -> q04_join_agg,
    "q05_topk"            -> q05_topk,
    "q06_semi_join"       -> q06_semi_join,
    "q07_anti_join"       -> q07_anti_join,
    "q08_hwm_watermarks"  -> q08_hwm_watermarks,
    "q09_distinct"        -> q09_distinct,
    "q10_union"           -> q10_union,
    "q11_window_sma"      -> q11_window_sma,
    "q12_window_rank"     -> q12_window_rank,
    "q13_scalar_funcs"    -> q13_scalar_funcs,
    "q14_conditional_agg" -> q14_conditional_agg,
    "q15_rollup"          -> q15_rollup,
    "q16_event_buckets"   -> q16_event_buckets,
    "q17_json_extract"    -> q17_json_extract,
    "q18_multi_join"      -> q18_multi_join,
    "q19_bollinger"       -> q19_bollinger,
    "q20_rsi"             -> q20_rsi,
    "q21_setops"          -> q21_setops,
    "q22_ema"             -> q22_ema,
    "q23_bucketed_join"   -> q23_bucketed_join)

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" -> q01_sql,
    "q02_filter_pushdown" -> q02_sql,
    "q03_broadcast_join"  -> q03_sql,
    "q04_join_agg"        -> q04_sql,
    "q05_topk"            -> q05_sql,
    "q06_semi_join"       -> q06_sql,
    "q07_anti_join"       -> q07_sql,
    "q08_hwm_watermarks"  -> q08_sql,
    "q09_distinct"        -> q09_sql,
    "q10_union"           -> q10_sql,
    "q11_window_sma"      -> q11_sql,
    "q12_window_rank"     -> q12_sql,
    "q13_scalar_funcs"    -> q13_sql,
    "q14_conditional_agg" -> q14_sql,
    "q15_rollup"          -> q15_sql,
    "q16_event_buckets"   -> q16_sql,
    "q17_json_extract"    -> q17_sql,
    "q18_multi_join"      -> q18_sql,
    "q19_bollinger"       -> q19_sql,
    "q20_rsi"             -> q20_sql,
    "q21_setops"          -> q21_sql,
    "q22_ema"             -> q22_sql,
    "q23_bucketed_join"   -> q23_sql)
}
