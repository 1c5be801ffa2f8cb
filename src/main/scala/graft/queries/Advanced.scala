package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.KmvSketch
import graft.operators.Joins

/** Round-3 query surface: temporal joins (as-of, band), sketch
  * aggregates, and exact percentiles — operators a production analytics
  * engine needs beyond the reference's own workload, each with a
  * bit-exact DuckDB oracle.
  */
object Advanced {

  // same money-parity discipline as Relational: exact decimal sums,
  // final cast back to double
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** As-of join: each purchase event picks up the latest prior (or
    * simultaneous) click by the same user — the point-in-time join of
    * trade-vs-quote shape. Spark side is [[Joins.asofJoin]] (union +
    * one keyed sort + running window, no range product); the oracle is
    * DuckDB's native ASOF LEFT JOIN, an independent implementation of
    * the same semantics.
    */
  val q24_asof_join: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("value").as("purchase_value"))
    // dedupe clicks on (user, ts) so the as-of pick is deterministic
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
      .select(col("user_id"), col("ts").as("click_ts"), col("click_value"))
    Joins.asofJoin(purchases, clicks, Seq("user_id"), "ts", "click_ts")
  }

  val q24_sql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value AS purchase_value
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, MAX(value) AS click_value
      |  FROM events WHERE event_type = 'click'
      |  GROUP BY user_id, CAST(ts AS TIMESTAMP))
      |SELECT p.event_id, p.user_id, p.ts, p.purchase_value, c.click_ts, c.click_value
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts""".stripMargin

  /** Band (range) join: view→purchase conversions by the same user
    * within 2 hours, exclusive of the view instant. Spark side is
    * [[Joins.rangeJoin]]'s bin-bucketed plan (each pair meets in
    * exactly one time bin — Σ|bin|² work, never |views|×|purchases|);
    * the oracle states the inequality join directly.
    */
  val q25_range_join: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    Joins.rangeJoin(views, purchases, Seq("user_id"), "view_ts", "purchase_ts",
        lowerMicros = 1L, upperMicros = 7200L * 1000 * 1000)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
          .as("micros_between"))
  }

  val q25_sql: String =
    """WITH v AS (
      |  SELECT event_id AS view_id, user_id, CAST(ts AS TIMESTAMP) AS view_ts
      |  FROM events WHERE event_type = 'view'),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT v.user_id, view_id, purchase_id,
      |       epoch_us(purchase_ts) - epoch_us(view_ts) AS micros_between
      |FROM v JOIN p ON v.user_id = p.user_id
      |WHERE epoch_us(purchase_ts) - epoch_us(view_ts) BETWEEN 1 AND 7200000000""".stripMargin

  /** KMV distinct-count sketch vs the exact count, per group: the
    * mergeable-sketch path a 100 TB engine takes when COUNT(DISTINCT)'s
    * full shuffle is too expensive. The custom TypedImperativeAggregate
    * keeps the 256 smallest md5-hashes per group; the oracle replays
    * the identical hash + k-smallest + closed-form estimate in SQL, so
    * even the *approximation* is bit-checked.
    */
  val q26_kmv_distinct: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_partkey"),
        KmvSketch.hash64(col("l_partkey")).as("__h"))
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_exact"),
        KmvSketch.kmv(col("__h"), k = 256).as("n_kmv"))

  val q26_sql: String =
    """WITH h AS (
      |  SELECT DISTINCT l_returnflag,
      |         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS hv
      |  FROM lineitem),
      |r AS (
      |  SELECT l_returnflag, hv,
      |         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn
      |  FROM h),
      |s AS (
      |  SELECT l_returnflag, COUNT(*) AS nk, MAX(hv) AS mx
      |  FROM r WHERE rn <= 256 GROUP BY l_returnflag),
      |x AS (
      |  SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT x.l_returnflag, x.n_exact,
      |  CASE WHEN s.nk < 256 THEN s.nk
      |       ELSE CAST(floor(((256 - 1) * 1152921504606846976.0) / s.mx) AS BIGINT)
      |  END AS n_kmv
      |FROM x JOIN s USING (l_returnflag)""".stripMargin

  /** Exact interpolated percentiles (quartiles of order value per
    * priority) — Spark's `percentile` vs DuckDB's `quantile_cont`, two
    * independent implementations of the same continuous-quantile
    * definition; rounded to 4 dp to absorb sub-ulp interpolation
    * differences.
    */
  val q27_percentiles: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(o_totalprice, 0.50)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"))

  val q27_sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      | round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
      | round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
      | round(quantile_cont(o_totalprice, 0.75), 4) AS p75
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** Gap-based sessionization (30-minute inactivity gap) rolled up to
    * one row per session — session numbering via [[graft.operators.Sessionize]]
    * (one shuffle, two windows over one sort), then a per-session
    * aggregate that reuses the same partitioning. The oracle replays
    * the identical lag → flag → running-sum formulation.
    */
  val q28_sessionize: Q = (s, dir) => {
    val gapMicros = 30L * 60 * 1000 * 1000
    graft.operators.Sessionize(
        t(s, dir, "events").select(col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", gapMicros)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("duration_micros"),
        sum(dec(col("value"))).cast("double").as("total_value"))
  }

  val q28_sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
      |         OR LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         THEN 1 ELSE 0 END AS is_start
      |  FROM e),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_micros,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM sess GROUP BY user_id, session_id""".stripMargin

  /** Emit-on-close sessionization — the batch-replayable twin of
    * [[graft.streaming.StreamingIngest.streamingSessions]]'s late-data
    * surface. The streaming operator emits a session only when a later
    * event closes it (each user's final session stays open in state);
    * replayed over a bounded table that is exactly "every session except
    * the per-user last one". StreamingSpec proves the streaming operator
    * produces these identical rows across arbitrary micro-batch
    * boundaries on the same events table; this entry gives those session
    * boundaries a DuckDB hash check. Plan: the session windows, the
    * per-session aggregate, and the open-session filter window all reuse
    * the single user_id exchange (subset rule) — one shuffle end-to-end.
    */
  val q37_closed_sessions: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val gapMicros = 30L * 60 * 1000 * 1000
    graft.operators.Sessionize(
        t(s, dir, "events").select(col("user_id"), col("ts")),
        Seq("user_id"), "ts", gapMicros)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .withColumn("__open",
        max(col("session_id")).over(Window.partitionBy(col("user_id"))))
      .where(col("session_id") < col("__open"))
      .drop("__open")
  }

  val q37_sql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
      |         OR LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         THEN 1 ELSE 0 END AS is_start
      |  FROM e),
      |sess AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged),
      |agg AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |    MIN(ts) AS session_start, MAX(ts) AS session_end
      |  FROM sess GROUP BY user_id, session_id)
      |SELECT user_id, session_id, n_events, session_start, session_end
      |FROM agg
      |QUALIFY session_id < MAX(session_id) OVER (PARTITION BY user_id)""".stripMargin

  /** CUBE over return flag × line status — all four grouping levels.
    * Not `.cube` (whose Expand duplicates every input row once per
    * grouping set BEFORE the partial aggregate — 4× the rows through
    * the hash agg): [[graft.operators.Rollups.cubeFromBase]] aggregates
    * the fact table once at the finest grain and re-aggregates the
    * 6-row base per level. Identical output (no NULL dimension values
    * exist in this data), proven by the oracle's native CUBE.
    */
  val q29_cube: Q = (s, dir) => {
    val base = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(dec(col("l_quantity"))).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).as("sum_price"))
    graft.operators.Rollups.cubeFromBase(base,
        Seq("l_returnflag", "l_linestatus"), Seq("n_lines", "sum_qty", "sum_price"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_lines"),
        col("sum_qty").cast("double").as("sum_qty"),
        col("sum_price").cast("double").as("sum_price"))
  }

  val q29_sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Fact-dim join routed through [[graft.load.Scale.saltedJoin]] (salt
    * 8): the explicit skew mitigation for a hot key AQE can't fix —
    * each big-side key scatters across 8 sub-keys, the dim replicates 8
    * ways. The oracle is the PLAIN join: salting must be semantically
    * invisible, and the hash gate proves it row-for-row.
    */
  val q30_skew_join: Q = (s, dir) => {
    val dim = t(s, dir, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    graft.load.Scale.saltedJoin(t(s, dir, "lineitem"), dim, "l_suppkey", salt = 8)
      .groupBy(col("s_name"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(dec(col("l_extendedprice"))).cast("double").as("total_price"))
  }

  val q30_sql: String =
    """SELECT s_name, COUNT(*) AS n_lines,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name""".stripMargin

  /** Time-RANGE window frame: 7-day rolling revenue per supplier —
    * unlike q11's ROWS frame this is gap-correct (a supplier with no
    * sales for a week contributes an honest window, not "the last 7
    * rows"). Spark plans RANGE frames in the same single window
    * exchange; ordering key is epoch seconds so the frame bound is a
    * plain long interval in both engines.
    */
  val q31_range_window: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_shipdate"), dec(col("l_extendedprice")).as("__p"))
      .repartition(col("l_suppkey"))
      .groupBy(col("l_suppkey"), col("l_shipdate"))
      .agg(sum(col("__p")).as("day_price"))
      // l_shipdate is TIMESTAMP_NTZ; session tz is UTC so the cast is a
      // pure reinterpretation (unix_micros only accepts TIMESTAMP)
      .withColumn("__epoch",
        expr("unix_micros(cast(l_shipdate as timestamp)) div 1000000"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("__epoch"))
      .rangeBetween(-6L * 86400, 0)
    daily.select(col("l_suppkey"), col("l_shipdate"),
      sum(col("day_price")).over(w).cast("double").as("rev_7d"),
      count(lit(1)).over(w).as("n_days_7d"))
  }

  val q31_sql: String =
    """WITH daily AS (
      |  SELECT l_suppkey, l_shipdate,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS day_price,
      |         epoch_us(l_shipdate) // 1000000 AS ep
      |  FROM lineitem GROUP BY l_suppkey, l_shipdate)
      |SELECT l_suppkey, l_shipdate,
      |  CAST(SUM(day_price) OVER win AS DOUBLE) AS rev_7d,
      |  COUNT(*) OVER win AS n_days_7d
      |FROM daily
      |WINDOW win AS (PARTITION BY l_suppkey ORDER BY ep
      |               RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Explicit GROUPING SETS with grouping_id — the third member of the
    * grouping family next to q15's ROLLUP and q29's CUBE: two chosen
    * levels only (priority totals and status totals), not the full
    * lattice, disambiguated by GROUPING().
    */
  val q32_grouping_sets: Q = (s, dir) => {
    // register only the view this query reads — full registerViews
    // re-opens all ten table footers per invocation
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
        |  CAST(grouping(o_orderstatus)  AS BIGINT) AS g_st,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))""".stripMargin)
  }

  val q32_sql: String =
    """SELECT o_orderpriority, o_orderstatus,
      | CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
      | CAST(GROUPING(o_orderstatus)  AS BIGINT) AS g_st,
      | COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))""".stripMargin

  /** Pivot: per-user event counts reshaped to one column per event
    * type (explicit value list — at scale you never let pivot infer
    * values with an extra pass). Plans as a single hash aggregate with
    * conditional counters, which is exactly what the oracle states.
    */
  val q33_pivot: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))

  val q33_sql: String =
    """SELECT user_id,
      | CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
      | CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view,
      | CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      | CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      | CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error
      |FROM events GROUP BY user_id""".stripMargin

  /** As-of join with a one-hour staleness bound: same shape as q24 but
    * a matched click older than an hour is discarded (null payload) —
    * the tolerance rule of pandas merge_asof / kdb wj. The oracle keeps
    * DuckDB's native ASOF LEFT JOIN and nulls stale matches in the
    * projection.
    */
  val q34_asof_tolerance: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("value").as("purchase_value"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
      .select(col("user_id"), col("ts").as("click_ts"), col("click_value"))
    Joins.asofJoin(purchases, clicks, Seq("user_id"), "ts", "click_ts",
      toleranceMicros = Some(3600L * 1000 * 1000))
  }

  val q34_sql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value AS purchase_value
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, MAX(value) AS click_value
      |  FROM events WHERE event_type = 'click'
      |  GROUP BY user_id, CAST(ts AS TIMESTAMP)),
      |j AS (
      |  SELECT p.event_id, p.user_id, p.ts, p.purchase_value, c.click_ts, c.click_value
      |  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts)
      |SELECT event_id, user_id, ts, purchase_value,
      |  CASE WHEN epoch_us(ts) - epoch_us(click_ts) <= 3600000000 THEN click_ts END AS click_ts,
      |  CASE WHEN epoch_us(ts) - epoch_us(click_ts) <= 3600000000 THEN click_value END AS click_value
      |FROM j""".stripMargin

  /** The remaining ranking-window family: quartile bucket, percent
    * rank, and cumulative distribution of customers by account balance
    * within each nation — deterministic (balance ties broken by key in
    * the ORDER BY) and exact (integer-ratio doubles are bit-identical
    * across engines).
    */
  val q35_window_funcs: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"),
        ntile(4).over(w).cast("long").as("balance_quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
  }

  val q35_sql: String =
    """SELECT c_nationkey, c_custkey,
      | CAST(NTILE(4) OVER win AS BIGINT) AS balance_quartile,
      | PERCENT_RANK() OVER win AS pct_rank,
      | CUME_DIST() OVER win AS cume
      |FROM customer
      |WINDOW win AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)""".stripMargin

  /** Forward as-of join: each click picks up the EARLIEST purchase by
    * the same user at or after it (the order→next-fill shape) — same
    * one-shuffle union+window plan as q24, scanning time descending.
    * DuckDB's ASOF JOIN with `<=` is the independent oracle.
    */
  val q36_asof_forward: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("value").as("click_value"))
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("purchase_value"))
      .select(col("user_id"), col("ts").as("purchase_ts"), col("purchase_value"))
    Joins.asofJoin(clicks, purchases, Seq("user_id"), "ts", "purchase_ts",
      direction = "forward")
  }

  val q36_sql: String =
    """WITH c AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value AS click_value
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts, MAX(value) AS purchase_value
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, CAST(ts AS TIMESTAMP))
      |SELECT c.event_id, c.user_id, c.ts, c.click_value, p.purchase_ts, p.purchase_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.purchase_ts""".stripMargin

  /** Event-time OHLC candles over hourly buckets — the batch twin of
    * the streaming [[graft.streaming.StreamingIngest.windowedOhlcv]]
    * aggregate, with deterministic first/last-in-group semantics: open
    * and close come from rank-1 rows under explicit (ts, value)
    * tie-break orders (min_by/max_by leave ties engine-defined, which
    * an exact differential can't tolerate). Both rank windows and the
    * final aggregate share one (event_type, bucket) exchange.
    */
  val q38_ohlc_candles: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
      .select(col("event_type"), col("ts"), col("value"))
      .withColumn("bucket", date_trunc("hour", col("ts")))
    val asc = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("ts").asc, col("value").asc)
    val desc = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("ts").desc, col("value").desc)
    ev.withColumn("__ra", row_number().over(asc))
      .withColumn("__rd", row_number().over(desc))
      .groupBy(col("event_type"), col("bucket"))
      .agg(
        max(when(col("__ra") === 1, col("value"))).as("open_value"),
        max(col("value")).as("high_value"),
        min(col("value")).as("low_value"),
        max(when(col("__rd") === 1, col("value"))).as("close_value"),
        sum(dec(col("value"))).cast("double").as("total_value"),
        count(lit(1)).as("n_events"))
  }

  val q38_sql: String =
    """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |b AS (SELECT event_type, date_trunc('hour', ts) AS bucket, ts, value FROM e),
      |r AS (SELECT *,
      |  ROW_NUMBER() OVER (PARTITION BY event_type, bucket
      |                     ORDER BY ts ASC, value ASC) AS ra,
      |  ROW_NUMBER() OVER (PARTITION BY event_type, bucket
      |                     ORDER BY ts DESC, value DESC) AS rd
      | FROM b)
      |SELECT event_type, bucket,
      |  MAX(CASE WHEN ra = 1 THEN value END) AS open_value,
      |  MAX(value) AS high_value,
      |  MIN(value) AS low_value,
      |  MAX(CASE WHEN rd = 1 THEN value END) AS close_value,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  COUNT(*) AS n_events
      |FROM r GROUP BY event_type, bucket""".stripMargin

  /** HyperLogLog distinct-count per group, built from composable
    * aggregates only (no custom aggregate needed — preference (a) of
    * the operator ladder; [[KmvSketch]] already demonstrates the custom
    * TypedImperativeAggregate route): md5-derived 60-bit hash → 8-bit
    * bucket + 52-bit remainder → per-bucket max leading-zero rank
    * (map-side combinable) → the HLL estimator. The indicator sum is
    * computed in INTEGER space (Σ 2^(53-ρ) fits a BIGINT exactly), so
    * the only floating-point steps are one BIGINT→DOUBLE cast and one
    * division — deterministic in any engine, unlike a float Σ2^-ρ whose
    * value depends on aggregation order. No small-range correction by
    * definition (the estimator contract is the raw HLL formula; the KMV
    * sketch covers the small-cardinality regime).
    */
  val q39_hll_distinct: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_partkey"))
    val perBucket = li
      .withColumn("__h", KmvSketch.hash64(col("l_partkey")))
      .select(col("l_returnflag"),
        (col("__h") % 256).cast("int").as("__bucket"),
        expr("__h div 256").as("__rest"))
      .withColumn("__rho",
        when(col("__rest") === 0, lit(53))
          .otherwise(lit(53) - length(bin(col("__rest")))))
      .groupBy(col("l_returnflag"), col("__bucket"))
      .agg(max(col("__rho")).as("m_b"))
    val hll = perBucket.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_buckets_used"),
        sum(expr("shiftleft(cast(1 as bigint), 53 - m_b)")).as("__z"))
      .select(col("l_returnflag"), col("n_buckets_used"),
        (lit(Hll.alphaM2S) /
          (col("__z") + (lit(256L) - col("n_buckets_used")) * lit(Hll.scale))
            .cast("double")).as("hll_estimate"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(count_distinct(col("l_partkey")).as("exact_distinct"))
    hll.join(exact, Seq("l_returnflag"))
  }

  private object Hll {
    val scale: Long = 1L << 53
    // alpha_256 * m^2 * 2^53 — the whole numerator folded into one
    // double literal so each engine performs exactly one division
    val alphaM2S: Double = 0.7213 / (1 + 1.079 / 256) * 256.0 * 256.0 * (1L << 53).toDouble
  }

  val q39_sql: String =
    s"""WITH h AS (SELECT l_returnflag,
       |  ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
       | FROM lineitem),
       |r AS (SELECT l_returnflag, h % 256 AS bucket, h // 256 AS rest FROM h),
       |rho AS (SELECT l_returnflag, bucket,
       |  CASE WHEN rest = 0 THEN 53 ELSE 53 - length(bin(rest)) END AS rho
       | FROM r),
       |mb AS (SELECT l_returnflag, bucket, MAX(rho) AS m_b FROM rho GROUP BY 1, 2),
       |z AS (SELECT l_returnflag, COUNT(*) AS n_buckets_used,
       |  CAST(SUM(1::BIGINT << (53 - m_b)) AS BIGINT) AS zsum
       | FROM mb GROUP BY 1),
       |x AS (SELECT l_returnflag,
       |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
       | FROM lineitem GROUP BY 1)
       |SELECT z.l_returnflag, n_buckets_used,
       |  ${Relational.sqlDouble(Hll.alphaM2S)} /
       |    CAST(zsum + (256 - n_buckets_used) * ${Hll.scale} AS DOUBLE) AS hll_estimate,
       |  exact_distinct
       |FROM z JOIN x ON z.l_returnflag = x.l_returnflag""".stripMargin

  /** Correlated EXISTS (TPC-H Q4 shape, adapted to this schema's
    * columns): orders in a date window having at least one line item
    * shipped more than 60 days after the order date. Exercises
    * Catalyst's subquery decorrelation — the EXISTS rewrites to a
    * left-semi hash join on l_orderkey, not a per-row subquery — while
    * DuckDB plans its own decorrelation independently.
    */
  val q41_exists_subquery: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin)
  }

  val q41_sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  /** Correlated scalar subquery (TPC-H Q17 shape): line items whose
    * quantity is below 20% of their part's mean quantity. The mean is
    * an exact-decimal sum with ONE double division (`avg()` would be
    * engine-implementation-dependent at the ulp level, and this
    * threshold feeds a comparison); Catalyst decorrelates the scalar
    * subquery into an aggregate + join.
    */
  val q42_scalar_subquery: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM lineitem l
        |WHERE l_quantity <
        |  (SELECT 0.2e0 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |                   / COUNT(*))
        |   FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
  }

  val q42_sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM lineitem l
      |WHERE l_quantity <
      |  (SELECT 0.2e0 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |                   / COUNT(*))
      |   FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin

  /** Interval join (batch twin of the stream-stream
    * [[graft.streaming.StreamingIngest.intervalJoin]]): each purchase
    * picks up every click by the same user in the 30 minutes before it.
    * Plans as an equi-join on user_id with the time range as a join
    * filter — per-user histories are the join buckets, so cost is
    * Σ|user|² within the window, never a time-range cross product.
    */
  val q46_attribution: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("__c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    purchases.join(clicks,
      col("__c_user") === col("user_id")
        && col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 minutes")
        && col("click_ts") <= col("purchase_ts"))
      .select(col("user_id"), col("purchase_ts"), col("purchase_value"),
        col("click_ts"), col("click_value"))
  }

  val q46_sql: String =
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts, value AS purchase_value
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, value AS click_value
      |  FROM events WHERE event_type = 'click')
      |SELECT p.user_id, p.purchase_ts, p.purchase_value, c.click_ts, c.click_value
      |FROM p JOIN c ON p.user_id = c.user_id
      | AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE
      | AND c.click_ts <= p.purchase_ts""".stripMargin

  // The literal-weight EMA fold (q22's proven recipe) as a reusable
  // oracle fragment: strict left-to-right double fold over the
  // newest-first value list with Indicators.emaWeights(n) interpolated
  // verbatim — bit-identical to the codegen'd graft_dot on the Spark
  // side, so MACD chains compare RAW with no rounding.
  private def emaFoldSql(vals: String, n: Int): String = {
    val (bodyW, tailW) = graft.analytics.Indicators.emaWeights(n)
    val bw = bodyW.map(Relational.sqlDouble).mkString("[", ",", "]")
    val tw = tailW.map(Relational.sqlDouble).mkString("[", ",", "]")
    s"""list_reduce(list_transform(
       |    list_zip($vals, CAST($bw AS DOUBLE[])), z -> coalesce(z[1] * z[2], 0.0)),
       |    (acc, x) -> acc + x)
       |  + (CAST($tw AS DOUBLE[]))[len($vals)] * $vals[len($vals)]""".stripMargin
  }

  /** MACD (12/26/9) over supplier daily revenue: a three-stage EMA
    * composition — macd = EMA12 − EMA26, signal = EMA9 *of the macd
    * series*, histogram = macd − signal. All four windows share one
    * (supplier, date) partitioning+sort, so the whole indicator stack
    * costs a single exchange; the signal stage demonstrates windowing
    * over a derived (not stored) column.
    */
  val q43_macd: Q = (s, dir) => {
    import graft.analytics.Indicators
    val daily = Relational.supplierDaily(s, dir)
    val emas = Indicators.ema(
      Indicators.ema(daily, "l_suppkey", Seq("l_shipdate"), "day_price",
        n = 12, out = "__e12"),
      "l_suppkey", Seq("l_shipdate"), "day_price", n = 26, out = "__e26")
      .withColumn("macd", col("__e12") - col("__e26"))
    Indicators.ema(emas, "l_suppkey", Seq("l_shipdate"), "macd",
      n = 9, out = "signal")
      .select(col("l_suppkey"), col("l_shipdate"), col("macd"),
        col("signal"), (col("macd") - col("signal")).as("histogram"))
  }

  val q43_sql: String =
    s"""WITH daily AS (${Relational.supplierDailySql}),
       |lists AS (
       |  SELECT l_suppkey, l_shipdate,
       |    list_reverse(list(CAST(day_price AS DOUBLE))
       |      OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
       |            ROWS BETWEEN 63 PRECEDING AND CURRENT ROW)) AS vals
       |  FROM daily),
       |m AS (
       |  SELECT l_suppkey, l_shipdate,
       |    (${emaFoldSql("vals", 12)})
       |    - (${emaFoldSql("vals", 26)}) AS macd
       |  FROM lists),
       |ml AS (
       |  SELECT l_suppkey, l_shipdate, macd,
       |    list_reverse(list(macd)
       |      OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
       |            ROWS BETWEEN 63 PRECEDING AND CURRENT ROW)) AS mvals
       |  FROM m),
       |sig AS (
       |  SELECT l_suppkey, l_shipdate, macd,
       |    (${emaFoldSql("mvals", 9)}) AS signal
       |  FROM ml)
       |SELECT l_suppkey, l_shipdate, macd, signal,
       |       macd - signal AS histogram
       |FROM sig""".stripMargin

  /** Cumulative VWAP per supplier: running Σ(notional)/Σ(quantity) over
    * the date-ordered history — the intraday running-VWAP shape. Both
    * running sums are exact decimals sharing one window frame; the only
    * floating-point step is the final cast+divide (cross-engine exact,
    * the q19 discipline).
    */
  val q44_vwap: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_shipdate"),
        dec(col("l_extendedprice")).as("__n"), dec(col("l_quantity")).as("__q"))
      .repartition(col("l_suppkey"))
      .groupBy(col("l_suppkey"), col("l_shipdate"))
      .agg(sum(col("__n")).as("__dn"), sum(col("__q")).as("__dq"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.select(col("l_suppkey"), col("l_shipdate"),
      (sum(col("__dn")).over(w).cast("double")
        / sum(col("__dq")).over(w).cast("double")).as("cum_vwap"))
  }

  val q44_sql: String =
    """WITH daily AS (
      |  SELECT l_suppkey, l_shipdate,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS dn,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS dq
      |  FROM lineitem GROUP BY l_suppkey, l_shipdate)
      |SELECT l_suppkey, l_shipdate,
      |  CAST(SUM(dn) OVER win AS DOUBLE) / CAST(SUM(dq) OVER win AS DOUBLE)
      |    AS cum_vwap
      |FROM daily
      |WINDOW win AS (PARTITION BY l_suppkey ORDER BY l_shipdate
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Maximum drawdown per supplier: running peak of the daily-revenue
    * series (unbounded-preceding MAX — an O(1)-per-row running
    * aggregate, not a re-scan), drawdown = price/peak − 1, then one
    * per-supplier MIN. Two window passes and the final aggregate all
    * share the supplier partitioning — one exchange total.
    */
  val q45_drawdown: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val running = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Relational.supplierDaily(s, dir)
      .withColumn("__peak", max(col("day_price")).over(running))
      .withColumn("__dd",
        col("day_price").cast("double") / col("__peak").cast("double") - 1)
      .groupBy(col("l_suppkey"))
      .agg(min(col("__dd")).as("max_drawdown"),
        max(col("day_price")).cast("double").as("peak_revenue"))
  }

  val q45_sql: String =
    s"""WITH daily AS (${Relational.supplierDailySql}),
       |dd AS (
       |  SELECT l_suppkey,
       |    CAST(day_price AS DOUBLE)
       |      / CAST(MAX(day_price) OVER win AS DOUBLE) - 1 AS dd,
       |    day_price
       |  FROM daily
       |  WINDOW win AS (PARTITION BY l_suppkey ORDER BY l_shipdate
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT l_suppkey, MIN(dd) AS max_drawdown,
       |       CAST(MAX(day_price) AS DOUBLE) AS peak_revenue
       |FROM dd GROUP BY l_suppkey""".stripMargin

  /** Per-supplier correlation and beta of daily revenue against the
    * market (all-supplier daily total) — the cross-series analytic of
    * the pairs-trading / factor-model family. Built from exact decimal
    * sums (Σx, Σy, Σxy, Σx², Σy², n) so the Pearson formula is pure
    * double arithmetic on identical inputs in both engines — `corr()`
    * itself is a streaming estimator whose result depends on
    * accumulation order, which a distributed engine can't replay
    * bit-exactly. The market series is one tiny aggregate broadcast
    * back to the supplier series; the stats are one shuffle on
    * supplier.
    */
  val q47_beta: Q = (s, dir) => {
    val daily = Relational.supplierDaily(s, dir)
    val market = daily.groupBy(col("l_shipdate"))
      .agg(sum(col("day_price")).cast(DecimalType(18, 2)).as("mkt_price"))
    val joined = daily.join(broadcast(market), Seq("l_shipdate"))
    // the moment sums exceed 2^53 in scaled-integer terms: asDouble
    val stats = joined.groupBy(col("l_suppkey")).agg(
      count(lit(1)).cast("double").as("__n"),
      asDouble(sum(col("day_price"))).as("__sx"),
      asDouble(sum(col("mkt_price"))).as("__sy"),
      asDouble(sum(col("day_price") * col("mkt_price"))).as("__sxy"),
      asDouble(sum(col("day_price") * col("day_price"))).as("__sxx"),
      asDouble(sum(col("mkt_price") * col("mkt_price"))).as("__syy"))
    val cov = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val varX = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val varY = col("__n") * col("__syy") - col("__sy") * col("__sy")
    stats.select(col("l_suppkey"),
      when(varX <= 0 || varY <= 0, lit(null).cast("double"))
        .otherwise(cov / sqrt(varX * varY)).as("mkt_corr"),
      when(varY <= 0, lit(null).cast("double"))
        .otherwise(cov / varY).as("beta"))
  }

  val q47_sql: String =
    s"""WITH daily AS (${Relational.supplierDailySql}),
       |mkt AS (SELECT l_shipdate, CAST(SUM(day_price) AS DECIMAL(18,2)) AS mkt_price
       |        FROM daily GROUP BY l_shipdate),
       |st AS (
       |  SELECT l_suppkey,
       |    CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(CAST(SUM(day_price) AS VARCHAR) AS DOUBLE) AS sx,
       |    CAST(CAST(SUM(mkt_price) AS VARCHAR) AS DOUBLE) AS sy,
       |    CAST(CAST(SUM(day_price * mkt_price) AS VARCHAR) AS DOUBLE) AS sxy,
       |    CAST(CAST(SUM(day_price * day_price) AS VARCHAR) AS DOUBLE) AS sxx,
       |    CAST(CAST(SUM(mkt_price * mkt_price) AS VARCHAR) AS DOUBLE) AS syy
       |  FROM daily JOIN mkt USING (l_shipdate)
       |  GROUP BY l_suppkey)
       |SELECT l_suppkey,
       |  CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL
       |       ELSE (n * sxy - sx * sy)
       |            / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS mkt_corr,
       |  CASE WHEN n * syy - sy * sy <= 0 THEN NULL
       |       ELSE (n * sxy - sx * sy) / (n * syy - sy * sy) END AS beta
       |FROM st""".stripMargin

  /** Bloom-filtered fact aggregation: revenue per supplier for ONE
    * nation's suppliers, with [[graft.load.Scale.bloomPreFilter]]
    * dropping ~96% of lineitem rows before the semi-join shuffle. The
    * oracle is the plain semi-join aggregate — the Bloom stage must be
    * semantically invisible (false positives are re-checked by the real
    * join), which is exactly what the hash check proves.
    */
  val q48_bloom_join: Q = (s, dir) => {
    val sup = t(s, dir, "supplier")
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .where(col("n_name") === "NATION_7")
      .select(col("s_suppkey"))
    val pre = graft.load.Scale.bloomPreFilter(
      t(s, dir, "lineitem"), col("l_suppkey"), sup, "s_suppkey",
      expectedItems = 10000L)
    pre.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
  }

  val q48_sql: String =
    """SELECT l_suppkey, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_suppkey IN (
      |  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_7')
      |GROUP BY l_suppkey""".stripMargin

  /** Incremental aggregate maintenance: a standing monthly materialized
    * view (orders before 1997) merged with a late batch's partial
    * aggregates via [[graft.load.Incremental.mergeAggregates]] — no
    * rescan of history. The oracle recomputes the aggregate from ALL
    * raw orders; the hash match proves merge-of-states ≡ recompute.
    */
  val q49_incremental_agg: Q = (s, dir) => {
    val o = t(s, dir, "orders").select(col("o_orderpriority"),
      date_trunc("month", col("o_orderdate")).as("month"),
      dec(col("o_totalprice")).as("__p"))
    def state(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority"), col("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("__p")).cast(DecimalType(18, 2)).as("__sum"))
    val stored = state(o.where(col("month") < "1997-01-01"))
    val late = state(o.where(col("month") >= "1997-01-01"))
    graft.load.Incremental.mergeAggregates(
      Seq(stored, late), Seq("o_orderpriority", "month"),
      Seq("n_orders", "__sum"))
      .select(col("o_orderpriority"), col("month"), col("n_orders"),
        col("__sum").cast("string").cast("double").as("total_price"))
  }

  val q49_sql: String =
    """SELECT o_orderpriority,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
      |  COUNT(*) AS n_orders,
      |  CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
      |       AS VARCHAR) AS DOUBLE) AS total_price
      |FROM orders GROUP BY o_orderpriority, date_trunc('month', o_orderdate)""".stripMargin

  /** Per-key top-k through the custom whole-operator path (logical
    * node + strategy + physical exec, [[graft.plans.TopKPerKey]]):
    * map-side bounded heaps forward at most k rows per key per input
    * partition, so the exchange carries candidates, not the table —
    * the shape the rank-window formulation can't plan. The oracle is
    * that rank-window formulation in DuckDB.
    */
  val q50_topk_custom: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_suppkey"), col("l_orderkey"),
      col("l_linenumber"), col("l_extendedprice"))
    graft.plans.TopKPerKey(li, Seq("l_suppkey"),
      Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc), k = 2)
  }

  val q50_sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY l_suppkey
      |  ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) <= 2""".stripMargin

  /** Sessionization through Spark's BUILT-IN `session_window` aggregate
    * — the engine-native twin of the compositional `q28`. Boundary
    * semantics differ by one epsilon (session_window merges events
    * strictly closer than the gap; the lag-flag operator merges at
    * exactly the gap too), so the oracle replays the strict rule.
    * window.end is last-event + gap by definition.
    */
  val q51_session_window: Q = (s, dir) =>
    t(s, dir, "events").select(col("user_id"), col("ts"), col("value"))
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("total_value"))

  val q51_sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
      |         OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM sess GROUP BY user_id, sid""".stripMargin

  /** Forward-fill gap filling (`last` with ignoreNulls over a running
    * frame): every event carries the most recent purchase value its
    * user has produced — the time-series imputation primitive. One
    * window on the user exchange; the (ts, event_id) order is total so
    * the fill is deterministic.
    */
  val q52_gap_fill: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "purchase", col("value")).as("__pv"))
      .withColumn("last_purchase_value",
        last(col("__pv"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("last_purchase_value"))
  }

  val q52_sql: String =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |  LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS last_purchase_value
      |FROM events""".stripMargin

  /** Multiset (ALL) set operations — the multiplicity-preserving
    * complements of q21's DISTINCT set ops: EXCEPT ALL subtracts
    * per-row counts, INTERSECT ALL keeps the minimum count. Planned as
    * count-compare aggregates (no row explosion beyond the surviving
    * multiplicity).
    */
  val q53_multiset_ops: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    // two overlapping multisets of ship modes per order-priority bucket
    val a = li.where(col("l_quantity") <= 25).select(col("l_returnflag"))
    val b = li.where(col("l_quantity") >= 20).select(col("l_returnflag"))
    a.exceptAll(b).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      .unionByName(
        a.intersectAll(b).groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all")))
  }

  val q53_sql: String =
    """WITH a AS (SELECT l_returnflag FROM lineitem WHERE l_quantity <= 25),
      |b AS (SELECT l_returnflag FROM lineitem WHERE l_quantity >= 20)
      |SELECT l_returnflag, COUNT(*) AS n, 'except_all' AS op
      |FROM (SELECT l_returnflag FROM a EXCEPT ALL SELECT l_returnflag FROM b)
      |GROUP BY l_returnflag
      |UNION ALL
      |SELECT l_returnflag, COUNT(*) AS n, 'intersect_all' AS op
      |FROM (SELECT l_returnflag FROM a INTERSECT ALL SELECT l_returnflag FROM b)
      |GROUP BY l_returnflag""".stripMargin

  /** One-pass column profiling — the data-quality sweep a pipeline runs
    * before training: null count and exact distinct count per column,
    * computed in ONE scan via per-column aggregates and unpivoted to
    * (column, n_nulls, n_distinct) rows.
    */
  val q54_profile: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"))
    }
    val one = o.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      one.select(lit(c).as("column_name"),
        col(s"__nn_$c").as("n_nulls"), col(s"__nd_$c").as("n_distinct"))
    }
    stacked.reduce(_.unionByName(_))
  }

  val q54_sql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    cols.map { c =>
      s"""SELECT '$c' AS column_name,
         |  CAST(COALESCE(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct FROM orders""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** Rolling 60-day beta: q47's exact-moment recipe over a sliding
    * window — supplier daily revenue regressed on the market within
    * each trailing 60-row window. The sliding sums are computed as
    * CUMULATIVE sums minus their 60-lagged values (exact in decimal):
    * a plain `ROWS BETWEEN 59 PRECEDING` decimal SUM re-aggregates the
    * whole frame per row (O(frame) each — measured 3.2s at sf0.1),
    * while the running total is O(1) incremental and the difference
    * reproduces the frame sum bit-exactly — 5 sliding sums for two
    * Window passes over ONE exchange. The >2⁵³ sums cross to double
    * via the string cast.
    */
  val q55_rolling_beta: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = Relational.supplierDaily(s, dir)
    val market = daily.groupBy(col("l_shipdate"))
      .agg(sum(col("day_price")).cast(DecimalType(18, 2)).as("mkt_price"))
    val joined = daily.join(broadcast(market), Seq("l_shipdate"))
    val cum = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ord = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
    val cums = joined.select(col("l_suppkey"), col("l_shipdate"),
      row_number().over(ord).as("__rn"),
      sum(col("day_price")).over(cum).as("__cx"),
      sum(col("mkt_price")).over(cum).as("__cy"),
      sum(col("day_price") * col("mkt_price")).over(cum).as("__cxy"),
      sum(col("mkt_price") * col("mkt_price")).over(cum).as("__cyy"))
    // frame sum over rows (t-59 .. t) = C_t − C_(t-60); at rn = 60
    // exactly, there is no lagged row and the frame sum IS C_t
    def slide(c: String): Column =
      coalesce(col(c) - lag(col(c), 60).over(ord), col(c))
        .cast("string").cast("double")
    val staged = cums.select(col("l_suppkey"), col("l_shipdate"), col("__rn"),
      slide("__cx").as("__sx"), slide("__cy").as("__sy"),
      slide("__cxy").as("__sxy"), slide("__cyy").as("__syy"))
    val n = lit(60.0)
    val cov = n * col("__sxy") - col("__sx") * col("__sy")
    val varY = n * col("__syy") - col("__sy") * col("__sy")
    staged
      .where(col("__rn") >= 60)
      .select(col("l_suppkey"), col("l_shipdate"),
        when(varY <= 0, lit(null).cast("double"))
          .otherwise(cov / varY).as("beta60"))
  }

  val q55_sql: String =
    s"""WITH daily AS (${Relational.supplierDailySql}),
       |mkt AS (SELECT l_shipdate, CAST(SUM(day_price) AS DECIMAL(18,2)) AS mkt_price
       |        FROM daily GROUP BY l_shipdate),
       |j AS (SELECT * FROM daily JOIN mkt USING (l_shipdate)),
       |cums AS (
       |  SELECT l_suppkey, l_shipdate,
       |    ROW_NUMBER() OVER ord AS rn,
       |    SUM(day_price) OVER cum AS cx,
       |    SUM(mkt_price) OVER cum AS cy,
       |    SUM(day_price * mkt_price) OVER cum AS cxy,
       |    SUM(mkt_price * mkt_price) OVER cum AS cyy
       |  FROM j
       |  WINDOW ord AS (PARTITION BY l_suppkey ORDER BY l_shipdate),
       |         cum AS (PARTITION BY l_suppkey ORDER BY l_shipdate
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |st AS (
       |  SELECT l_suppkey, l_shipdate, rn,
       |    CAST(CAST(coalesce(cx - LAG(cx, 60) OVER ord, cx) AS VARCHAR) AS DOUBLE) AS sx,
       |    CAST(CAST(coalesce(cy - LAG(cy, 60) OVER ord, cy) AS VARCHAR) AS DOUBLE) AS sy,
       |    CAST(CAST(coalesce(cxy - LAG(cxy, 60) OVER ord, cxy) AS VARCHAR) AS DOUBLE) AS sxy,
       |    CAST(CAST(coalesce(cyy - LAG(cyy, 60) OVER ord, cyy) AS VARCHAR) AS DOUBLE) AS syy
       |  FROM cums
       |  WINDOW ord AS (PARTITION BY l_suppkey ORDER BY l_shipdate))
       |SELECT l_suppkey, l_shipdate,
       |  CASE WHEN 60 * syy - sy * sy <= 0 THEN NULL
       |       ELSE (60 * sxy - sx * sy) / (60 * syy - sy * sy) END AS beta60
       |FROM st WHERE rn >= 60""".stripMargin

  /** Native UNPIVOT (melt): four measure columns become (metric, value)
    * rows via one Expand over a SINGLE scan — the oracle's UNION-ALL
    * formulation reads the table four times, which is exactly the plan
    * difference that matters at 100 TB. Decimal values keep the sums
    * exact; one double cast at the boundary.
    */
  val q56_unpivot: Q = (s, dir) => {
    val src = t(s, dir, "lineitem").select(col("l_orderkey"),
      dec(col("l_quantity")).as("quantity"),
      dec(col("l_extendedprice")).as("extendedprice"),
      dec(col("l_discount")).as("discount"),
      dec(col("l_tax")).as("tax"))
    src.unpivot(
        Array(col("l_orderkey")),
        Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
        "metric", "value")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"), sum(col("value")).cast("double").as("total"))
  }

  val q56_sql: String =
    """SELECT metric, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS total FROM (
      |  SELECT 'quantity' AS metric, CAST(l_quantity AS DECIMAL(18,2)) AS v FROM lineitem
      |  UNION ALL SELECT 'extendedprice', CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
      |  UNION ALL SELECT 'discount', CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
      |  UNION ALL SELECT 'tax', CAST(l_tax AS DECIMAL(18,2)) FROM lineitem)
      |GROUP BY metric""".stripMargin

  /** Conversion funnel over the event stream: per user, the first view,
    * the first click strictly after that view, and the first purchase
    * strictly after that click — the ordered-sequence match every
    * product-analytics engine ships. Expressed as three keyed
    * aggregates chained by keyed joins: no per-user sort, no window —
    * each stage is one map-side-combined MIN aggregate plus an
    * equi-join on user_id, so the shape survives any user cardinality
    * (the rank-window formulation would sort every user's full event
    * history instead).
    */
  val q57_funnel: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val views = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val clicks = ev.where(col("event_type") === "click")
      .join(views, Seq("user_id"))
      .where(col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .join(clicks, Seq("user_id"))
      .where(col("ts") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    views
      .join(clicks, Seq("user_id"), "left")
      .join(purchases, Seq("user_id"), "left")
      .agg(count(col("v_ts")).as("n_viewed"),
        count(col("c_ts")).as("n_clicked_after_view"),
        count(col("p_ts")).as("n_purchased_after_click"))
  }

  val q57_sql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |v AS (SELECT user_id, MIN(ts) AS v_ts FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(e.ts) AS c_ts FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id)
      |SELECT COUNT(v.v_ts) AS n_viewed, COUNT(c.c_ts) AS n_clicked_after_view,
      |       COUNT(p.p_ts) AS n_purchased_after_click
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin

  /** Retention cohorts: users grouped by signup week, counted in every
    * later activity week by offset — the other canonical
    * product-analytics shape next to q57's funnel. Two keyed aggregates
    * and one user_id join; week truncation is Monday-based in both
    * engines, and the offset is exact integer day arithmetic (trunc
    * deltas are multiples of 7, so the division is exact).
    */
  val q58_retention: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
    val cohorts = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    ev.join(cohorts, Seq("user_id"))
      .withColumn("week_offset",
        (datediff(date_trunc("week", col("ts")), col("cohort_week")) / lit(7))
          .cast("long"))
      .where(col("week_offset") >= 0)
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  val q58_sql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |c AS (SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
      |      FROM e WHERE event_type = 'signup' GROUP BY user_id),
      |a AS (SELECT e.user_id, c.cohort_week,
      |  date_diff('day', CAST(c.cohort_week AS DATE),
      |            CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS week_offset
      | FROM e JOIN c ON e.user_id = c.user_id)
      |SELECT cohort_week, week_offset, COUNT(DISTINCT user_id) AS n_users
      |FROM a WHERE week_offset >= 0 GROUP BY cohort_week, week_offset""".stripMargin

  /** KMV set algebra: pairwise distinct-user overlap across event
    * types, estimated from the k-min hash SKETCHES alone — union by
    * sort-distinct-take-k on two 256-element arrays, intersection by
    * inclusion–exclusion, never touching the raw sets again. This is
    * the sketch workflow a 100 TB engine runs for audience overlap:
    * one pass builds a few-KB sketch per segment, every pairwise
    * estimate after that is array arithmetic on the driver-sized
    * sketch table. The 3-row sketch join is the deliberate tiny
    * nested-loop the plan lint allow-lists. md5-derived hashes make
    * every stage — the k-min arrays AND the closed-form estimators —
    * bit-replayable by the DuckDB oracle from the raw table.
    */
  val q65_kmv_setops: Q = (s, dir) => {
    val k = 256
    val sketches = t(s, dir, "events")
      .select(col("event_type"), KmvSketch.hash64(col("user_id")).as("__h"))
      .groupBy(col("event_type"))
      .agg(KmvSketch.kmvHashes(col("__h"), k).as("__hs"))
    def est(c: Column): Column =
      when(size(c) < k, size(c).cast("long"))
        .otherwise(floor(
          lit((k - 1).toDouble * KmvSketch.TwoPow60) /
            element_at(c, k).cast("double")).cast("long"))
    val a = sketches.select(col("event_type").as("type_a"), col("__hs").as("__ha"))
    val b = sketches.select(col("event_type").as("type_b"), col("__hs").as("__hb"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .withColumn("__hu",
        slice(array_sort(array_distinct(concat(col("__ha"), col("__hb")))), 1, k))
      .select(
        col("type_a"), col("type_b"),
        est(col("__ha")).as("est_a"),
        est(col("__hb")).as("est_b"),
        est(col("__hu")).as("est_union"),
        greatest(lit(0L),
          est(col("__ha")) + est(col("__hb")) - est(col("__hu")))
          .as("est_intersection"))
  }

  val q65_sql: String =
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM events),
      |s AS (
      |  SELECT event_type, list_slice(list_sort(list(h)), 1, 256) AS hs
      |  FROM h GROUP BY event_type),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |         a.hs AS ha, b.hs AS hb,
      |         list_slice(list_sort(list_distinct(list_concat(a.hs, b.hs))), 1, 256) AS hu
      |  FROM s a JOIN s b ON a.event_type < b.event_type),
      |e AS (
      |  SELECT type_a, type_b,
      |    CASE WHEN len(ha) < 256 THEN len(ha)
      |         ELSE CAST(FLOOR(255.0 * 1152921504606846976.0 / ha[256]) AS BIGINT) END AS est_a,
      |    CASE WHEN len(hb) < 256 THEN len(hb)
      |         ELSE CAST(FLOOR(255.0 * 1152921504606846976.0 / hb[256]) AS BIGINT) END AS est_b,
      |    CASE WHEN len(hu) < 256 THEN len(hu)
      |         ELSE CAST(FLOOR(255.0 * 1152921504606846976.0 / hu[256]) AS BIGINT) END AS est_union
      |  FROM p)
      |SELECT type_a, type_b, est_a, est_b, est_union,
      |  GREATEST(0, est_a + est_b - est_union) AS est_intersection
      |FROM e""".stripMargin

  /** Sliding-window distinct users from MERGED daily KMV sketches —
    * the pre-aggregated sketch-store pattern: one pass builds a few-KB
    * sketch per day; any trailing-range distinct estimate after that
    * merges sketches (flatten → distinct → sort → take-k), never
    * re-touching raw events. An exact trailing COUNT(DISTINCT) over
    * 100 TB re-scans the window per day; the sketch store answers from
    * |days| × k longs. The merge window runs over the DAILY table —
    * thousands of rows at any corpus scale — so it gets the deliberate
    * single tiny partition (the t16 recipe, non-foldable pmod so the
    * optimizer can't erase it); the RANGE frame on an integer day
    * number handles calendar gaps. md5-derived hashes make daily
    * sketches AND merged estimates bit-replayable by the oracle.
    */
  val q72_sliding_distinct: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val k = 256
    val daily = t(s, dir, "events")
      .select(date_trunc("day", col("ts")).as("day"),
        KmvSketch.hash64(col("user_id")).as("__h"))
      .groupBy(col("day"))
      .agg(KmvSketch.kmvHashes(col("__h"), k).as("__hs"))
      .withColumn("__dn",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    def est(c: Column): Column =
      when(size(c) < k, size(c).cast("long"))
        .otherwise(floor(
          lit((k - 1).toDouble * KmvSketch.TwoPow60) /
            element_at(c, k).cast("double")).cast("long"))
    val w = Window.partitionBy(pmod(col("__dn"), lit(1)))
      .orderBy(col("__dn")).rangeBetween(-6, 0)
    daily
      .withColumn("__merged", slice(array_sort(array_distinct(
        flatten(collect_list(col("__hs")).over(w)))), 1, k))
      .select(col("day"),
        est(col("__hs")).as("est_users_1d"),
        est(col("__merged")).as("est_users_7d"))
  }

  val q72_sql: String =
    """WITH h AS (
      |  SELECT DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM events),
      |d AS (
      |  SELECT day,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) AS BIGINT) AS dn,
      |    list_slice(list_sort(list(h)), 1, 256) AS hs
      |  FROM h GROUP BY day),
      |m AS (
      |  SELECT day, hs,
      |    list_slice(list_sort(list_distinct(flatten(
      |      list(hs) OVER (ORDER BY dn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |    ))), 1, 256) AS hu
      |  FROM d)
      |SELECT day,
      |  CASE WHEN len(hs) < 256 THEN len(hs)
      |       ELSE CAST(FLOOR(255.0 * 1152921504606846976.0 / hs[256]) AS BIGINT) END AS est_users_1d,
      |  CASE WHEN len(hu) < 256 THEN len(hu)
      |       ELSE CAST(FLOOR(255.0 * 1152921504606846976.0 / hu[256]) AS BIGINT) END AS est_users_7d
      |FROM m""".stripMargin

  /** Approximate quantiles from a DETERMINISTIC bottom-k-by-hash
    * sample — the mergeable-quantile-summary workflow without a custom
    * sketch: ranking each group's rows by a stable md5-derived hash
    * and keeping the k smallest is a uniform sample that (a) merges
    * exactly like KMV (min-k of a union = min-k of the min-k's), so
    * per-partition / per-day summaries combine losslessly, and (b) is
    * a pure function of the data — no RNG — so the estimate is
    * bit-replayable by the oracle. Exact interpolated percentiles over
    * the k-row sample approximate the true quantiles with standard
    * order-statistic error; the accuracy spec pins the observed error
    * against the exact q27-style truth. The rank shuffle carries
    * (group, hash, value) triples; everything after runs on k rows per
    * group.
    */
  val q73_sampled_quantiles: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val k = 256
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("__h").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        KmvSketch.hash64(col("o_orderkey")).as("__h"))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= k)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_sample"),
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50_est"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_est"))
  }

  val q73_sql: String =
    """WITH h AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM orders),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |    ORDER BY h, o_orderkey) AS rn FROM h)
      |SELECT o_orderpriority, COUNT(*) AS n_sample,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50_est,
      |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90_est
      |FROM r WHERE rn <= 256 GROUP BY o_orderpriority""".stripMargin

  /** Incremental distinct-count maintenance — the SKETCH leg of the
    * continuous-corpus loop (stats t33, ANN index s13, dedup d09): the
    * KMV summary is MERGEABLE — the k smallest hashes of a union are
    * the k smallest of the two k-smallest sets — so per-batch sketches
    * fold into the standing corpus sketch in closed form without
    * touching history, the q49 partial-state discipline applied to an
    * approximate summary. Two batches (lineitem split by `l_orderkey`
    * parity) aggregate independently to k-hash ARRAYS ([[KmvSketch]]'s
    * `kmvHashes`); the fold is take-k ∘ sort ∘ distinct ∘ concat on
    * those arrays; the estimate from the FOLDED sketch hash-matches
    * the full-corpus KMV replay — merge ≡ full, the property that lets
    * a 100 TB engine keep per-partition/per-day sketches and answer
    * any cross-slice distinct count by folding summaries instead of
    * rescanning data.
    */
  val q86_incremental_kmv: Q = (s, dir) => {
    val k = 256
    val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_orderkey"),
      KmvSketch.hash64(col("l_partkey")).as("__h"))
    def batchSketch(p: Int): DataFrame =
      li.where(pmod(col("l_orderkey"), lit(2)) === p)
        .groupBy(col("l_returnflag"))
        .agg(KmvSketch.kmvHashes(col("__h"), k).as(s"__hs$p"))
    val noHashes = array().cast("array<bigint>")
    val merged = batchSketch(0)
      .join(batchSketch(1), Seq("l_returnflag"), "full_outer")
      .select(col("l_returnflag"),
        slice(array_sort(array_distinct(concat(
          coalesce(col("__hs0"), noHashes),
          coalesce(col("__hs1"), noHashes)))), 1, k).as("__hs"))
    merged.select(col("l_returnflag"),
      when(size(col("__hs")) < k, size(col("__hs")).cast("long"))
        .otherwise(floor(lit((k - 1).toDouble) * lit(KmvSketch.TwoPow60)
          / element_at(col("__hs"), k).cast("double")).cast("long"))
        .as("n_kmv"))
  }

  /** Full-corpus KMV replay (the q26 recipe, estimate only): the Spark
    * side never scans the whole table in one pass — it folds two batch
    * sketches — so the hash match IS the merge ≡ full proof.
    */
  val q86_sql: String =
    """WITH h AS (
      |  SELECT DISTINCT l_returnflag,
      |         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS hv
      |  FROM lineitem),
      |r AS (
      |  SELECT l_returnflag, hv,
      |         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn
      |  FROM h),
      |s AS (
      |  SELECT l_returnflag, COUNT(*) AS nk, MAX(hv) AS mx
      |  FROM r WHERE rn <= 256 GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  CASE WHEN nk < 256 THEN nk
      |       ELSE CAST(floor((255 * 1152921504606846976.0) / mx) AS BIGINT)
      |  END AS n_kmv
      |FROM s""".stripMargin

  /** Incremental QUANTILE maintenance — q86's mergeable-sketch
    * identity applied to the q73 estimator, completing the sketch leg
    * of the continuous-corpus loop for order statistics: a min-k-hash
    * VALUE sample is a set function of the input (the k smallest
    * (hash, key) pairs, values riding along), so the union's sample is
    * take-k of the two batch samples' merge — exact, in closed form,
    * no history rescan. Two batches (orderkey parity) each keep their
    * per-group k-smallest rows; the fold is take-k ∘ sort ∘ distinct ∘
    * concat over (hash, key, value) structs; the quantile estimates
    * from the FOLDED sample hash-match the full-corpus q73 replay —
    * merge ≡ full, which is what lets per-day sample sketches answer
    * any cross-slice percentile by folding summaries.
    */
  val q96_incremental_quantiles: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val k = 256
    val base = t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        KmvSketch.hash64(col("o_orderkey")).as("__h"))
    def batchSample(p: Int): DataFrame = {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("__h").asc, col("o_orderkey").asc)
      base.where(pmod(col("o_orderkey"), lit(2)) === p)
        .withColumn("__r", row_number().over(w))
        .where(col("__r") <= k)
        .groupBy(col("o_orderpriority"))
        .agg(sort_array(collect_list(
          struct(col("__h"), col("o_orderkey"), col("o_totalprice"))))
          .as(s"__s$p"))
    }
    val empty = array().cast(
      "array<struct<__h:bigint,o_orderkey:bigint,o_totalprice:double>>")
    val merged = batchSample(0)
      .join(batchSample(1), Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        slice(array_sort(array_distinct(concat(
          coalesce(col("__s0"), empty), coalesce(col("__s1"), empty)))),
          1, k).as("__sample"))
    merged.select(col("o_orderpriority"), explode(col("__sample")).as("x"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_sample"),
        round(expr("percentile(x.o_totalprice, 0.5)"), 4).as("p50_est"),
        round(expr("percentile(x.o_totalprice, 0.9)"), 4).as("p90_est"))
  }

  // the full-corpus q73 recipe: the hash match IS the merge ≡ full proof
  val q96_sql: String =
    """WITH h AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM orders),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |    ORDER BY h, o_orderkey) AS rn FROM h)
      |SELECT o_orderpriority, COUNT(*) AS n_sample,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50_est,
      |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90_est
      |FROM r WHERE rn <= 256 GROUP BY o_orderpriority""".stripMargin

  val queries: Map[String, Q] = Map(
    "q96_incremental_quantiles" -> q96_incremental_quantiles,
    "q86_incremental_kmv" -> q86_incremental_kmv,
    "q65_kmv_setops"    -> q65_kmv_setops,
    "q72_sliding_distinct" -> q72_sliding_distinct,
    "q73_sampled_quantiles" -> q73_sampled_quantiles,
    "q58_retention"     -> q58_retention,
    "q57_funnel"        -> q57_funnel,
    "q36_asof_forward"  -> q36_asof_forward,
    "q35_window_funcs"  -> q35_window_funcs,
    "q34_asof_tolerance" -> q34_asof_tolerance,
    "q33_pivot"         -> q33_pivot,
    "q31_range_window"  -> q31_range_window,
    "q32_grouping_sets" -> q32_grouping_sets,
    "q30_skew_join"     -> q30_skew_join,
    "q24_asof_join"     -> q24_asof_join,
    "q25_range_join"    -> q25_range_join,
    "q26_kmv_distinct"  -> q26_kmv_distinct,
    "q27_percentiles"   -> q27_percentiles,
    "q28_sessionize"    -> q28_sessionize,
    "q29_cube"          -> q29_cube,
    "q37_closed_sessions" -> q37_closed_sessions,
    "q38_ohlc_candles"  -> q38_ohlc_candles,
    "q39_hll_distinct"  -> q39_hll_distinct,
    "q41_exists_subquery" -> q41_exists_subquery,
    "q42_scalar_subquery" -> q42_scalar_subquery,
    "q43_macd"          -> q43_macd,
    "q44_vwap"          -> q44_vwap,
    "q45_drawdown"      -> q45_drawdown,
    "q46_attribution"   -> q46_attribution,
    "q47_beta"          -> q47_beta,
    "q48_bloom_join"    -> q48_bloom_join,
    "q49_incremental_agg" -> q49_incremental_agg,
    "q50_topk_custom"   -> q50_topk_custom,
    "q51_session_window" -> q51_session_window,
    "q52_gap_fill"      -> q52_gap_fill,
    "q53_multiset_ops"  -> q53_multiset_ops,
    "q54_profile"       -> q54_profile,
    "q55_rolling_beta"  -> q55_rolling_beta,
    "q56_unpivot"       -> q56_unpivot)

  val oracles: Map[String, String] = Map(
    "q86_incremental_kmv" -> q86_sql,
    "q96_incremental_quantiles" -> q96_sql,
    "q65_kmv_setops"    -> q65_sql,
    "q72_sliding_distinct" -> q72_sql,
    "q73_sampled_quantiles" -> q73_sql,
    "q58_retention"     -> q58_sql,
    "q57_funnel"        -> q57_sql,
    "q36_asof_forward"  -> q36_sql,
    "q35_window_funcs"  -> q35_sql,
    "q34_asof_tolerance" -> q34_sql,
    "q33_pivot"         -> q33_sql,
    "q31_range_window"  -> q31_sql,
    "q32_grouping_sets" -> q32_sql,
    "q30_skew_join"     -> q30_sql,
    "q24_asof_join"     -> q24_sql,
    "q25_range_join"    -> q25_sql,
    "q26_kmv_distinct"  -> q26_sql,
    "q27_percentiles"   -> q27_sql,
    "q28_sessionize"    -> q28_sql,
    "q29_cube"          -> q29_sql,
    "q37_closed_sessions" -> q37_sql,
    "q38_ohlc_candles"  -> q38_sql,
    "q39_hll_distinct"  -> q39_sql,
    "q41_exists_subquery" -> q41_sql,
    "q42_scalar_subquery" -> q42_sql,
    "q43_macd"          -> q43_sql,
    "q44_vwap"          -> q44_sql,
    "q45_drawdown"      -> q45_sql,
    "q46_attribution"   -> q46_sql,
    "q47_beta"          -> q47_sql,
    "q48_bloom_join"    -> q48_sql,
    "q49_incremental_agg" -> q49_sql,
    "q50_topk_custom"   -> q50_sql,
    "q51_session_window" -> q51_sql,
    "q52_gap_fill"      -> q52_sql,
    "q53_multiset_ops"  -> q53_sql,
    "q54_profile"       -> q54_sql,
    "q55_rolling_beta"  -> q55_sql,
    "q56_unpivot"       -> q56_sql)
}
