package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Materialize
import graft.operators.Joins

/** Round-9 (continued) training-pipeline surface: point-in-time
  * feature assembly, privacy profiling, and closed-form model fitting
  * — the operations that sit between a curated corpus and a training
  * job. Each query carries a bit-exact DuckDB oracle reached by an
  * independent mechanism (DuckDB's native ASOF JOIN vs our windowed
  * union-scan as-of; its GROUPING SETS vs ours; its decimal engine vs
  * ours).
  *
  * Cross-engine float discipline (see README "determinism"): every
  * order-dependent sum is quantized to DECIMAL before aggregation;
  * final scalar math (regression solves, ratios) runs on doubles
  * derived from exact decimal sums with an identical written
  * operation order in both engines, so each IEEE step is correctly
  * rounded from identical inputs.
  */
object Features {

  private val dec2 = DecimalType(18, 2)

  /** The drift family's fixed ref/cur split instant — ONE definition
    * for the PSI histogram, the KS/rank-sum counts, and the per-slice
    * dashboard, Scala AND SQL (four Scala literals plus four SQL
    * literals previously restated it; updating some-but-not-all would
    * make sibling monitors classify the same event into different
    * sides with no local test failing). Declared in the object header
    * because `val` oracles (q122_sql) interpolate it at init time.
    */
  private[graft] val DriftSplitSql = "2024-01-16 00:00:00"
  private[graft] def driftSplit: Column =
    lit(DriftSplitSql).cast("timestamp")

  // ---------------------------------------------------- feature store

  /** q118: point-in-time training-set assembly (the feature-store
    * join). Spine = orders of the event-covered customers, label =
    * `o_totalprice`; features = each customer's cumulative activity
    * snapshot (event count, decimal-exact lifetime value, purchase
    * count, last-seen timestamp) as of STRICTLY before the order
    * timestamp — the leakage-safe contract: a feature row stamped at
    * the label's own instant is invisible to it
    * ([[Joins.asofJoin]] `strict = true`).
    *
    * Plan shape: one keyed aggregate on (user, ts) collapses the raw
    * event stream (map-side combined), one window pass builds the
    * running snapshot on the collapsed frame, and the as-of join is
    * the single-shuffle union-scan — three exchanges total on the
    * same `user_id` key family, no row explosion anywhere. At 100 TB
    * the snapshot frame is |distinct (user, ts)| ≪ |events| and the
    * spine join never materializes candidate pairs, so cost is one
    * sort per key partition — the same shape pandas `merge_asof` /
    * kdb `aj` users expect, but distributed.
    *
    * The oracle reaches the identical result through DuckDB's native
    * `ASOF LEFT JOIN` with a strict `>` comparator — an entirely
    * different mechanism (binary-search probe vs our windowed scan),
    * so a hash match is strong evidence both engines implement the
    * same point-in-time semantics. Lifetime value is integer CENTS:
    * ⌊value·100 + ½⌋ is one correctly-rounded multiply/add plus an
    * exact floor, so every cent amount is bit-identical across
    * engines for ANY double input (round-9 lesson: `round(value, 2)`
    * is engine-divergent on non-2-decimal-representable doubles, and
    * ~11% of the fixture's values are exactly that).
    */
  val q118_feature_store: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .groupBy(col("user_id"), col("ts"))
      .agg(
        count(lit(1)).as("__n"),
        sum(floor(col("value") * lit(100.0) + lit(0.5))).as("__vc"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("__p"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val snap = ev
      .withColumn("n_events", sum(col("__n")).over(w))
      .withColumn("lifetime_value_c", sum(col("__vc")).over(w))
      .withColumn("n_purchases", sum(col("__p")).over(w))
      .select(col("user_id"), col("ts").as("last_seen_ts"),
        col("n_events"), col("lifetime_value_c"), col("n_purchases"))
    val spine = t(s, dir, "orders").where(col("o_custkey") < 150)
      .select(col("o_orderkey"), col("o_custkey").as("user_id"),
        col("o_orderdate"), col("o_totalprice").as("label"))
    Joins.asofJoin(spine, snap, Seq("user_id"),
        leftTs = "o_orderdate", rightTs = "last_seen_ts", strict = true)
      .select(
        col("o_orderkey"), col("user_id"), col("o_orderdate"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("lifetime_value_c"), lit(0L)).as("lifetime_value_c"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        col("last_seen_ts"),
        col("label"))
  }

  val q118_sql: String =
    """WITH ev AS (
      |  SELECT user_id, ts, COUNT(*) AS n,
      |    CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS vc,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      |  FROM events GROUP BY user_id, ts),
      |snap AS (
      |  SELECT user_id, ts AS last_seen_ts,
      |    CAST(SUM(n) OVER w AS BIGINT) AS n_events,
      |    CAST(SUM(vc) OVER w AS BIGINT) AS lifetime_value_c,
      |    CAST(SUM(p) OVER w AS BIGINT) AS n_purchases
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT o.o_orderkey, o.o_custkey AS user_id, o.o_orderdate,
      |  COALESCE(f.n_events, 0) AS n_events,
      |  COALESCE(f.lifetime_value_c, 0) AS lifetime_value_c,
      |  COALESCE(f.n_purchases, 0) AS n_purchases,
      |  f.last_seen_ts,
      |  o.o_totalprice AS label
      |FROM orders o ASOF LEFT JOIN snap f
      |  ON o.o_custkey = f.user_id AND o.o_orderdate > f.last_seen_ts
      |WHERE o.o_custkey < 150""".stripMargin

  // ------------------------------------------------- privacy profile

  /** q119: k-anonymity profile under a generalization ladder — the
    * release-gate a dataset publisher runs before shipping a corpus
    * with quasi-identifiers. Level 0 groups customers by the full
    * quasi-identifier triple (segment, nation, 1000-unit balance
    * bucket); each higher level generalizes one attribute away
    * (drop the balance bucket, then the nation). Per level: group
    * count, the dataset's k (the smallest group), how many ROWS sit
    * in groups below k=5 (the re-identifiable population), and that
    * population as a percentage.
    *
    * One GROUPING SETS pass computes all ladder rungs in a single
    * shuffle (Spark expands to one Expand + one keyed aggregate —
    * same plan family as q32, here doing privacy work); the rung
    * roll-up is a second 3-row aggregate. `grouping()` bits identify
    * the rung without null-sentinel ambiguity, exactly as DuckDB's
    * GROUPING() does in the oracle. The risk percentage divides two
    * exact integers as doubles in identical written order — bit-equal
    * across engines.
    */
  val q119_k_anonymity: Q = (s, dir) => {
    val base = t(s, dir, "customer").select(
      col("c_mktsegment").as("segment"),
      col("c_nationkey").cast("long").as("nation"),
      floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
    val g = base.groupingSets(
        Seq(
          Seq(col("segment"), col("nation"), col("bal_bucket")),
          Seq(col("segment"), col("nation")),
          Seq(col("segment"))),
        col("segment"), col("nation"), col("bal_bucket"))
      .agg(
        count(lit(1)).as("grp_n"),
        grouping(col("nation")).cast("long").as("gn"),
        grouping(col("bal_bucket")).cast("long").as("gb"))
    g.groupBy((col("gb") + col("gn")).as("level"))
      .agg(
        count(lit(1)).as("n_groups"),
        min(col("grp_n")).as("min_k"),
        sum(when(col("grp_n") < 5, col("grp_n")).otherwise(0L))
          .as("rows_below_k5"),
        sum(col("grp_n")).as("__n_rows"))
      .select(
        col("level"), col("n_groups"), col("min_k"), col("rows_below_k5"),
        (col("rows_below_k5").cast("double") * 100.0 /
          col("__n_rows").cast("double")).as("risk_pct"))
  }

  val q119_sql: String =
    """WITH base AS (SELECT c_mktsegment AS segment,
      |    CAST(c_nationkey AS BIGINT) AS nation,
      |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
      |  FROM customer),
      |g AS (SELECT segment, nation, bal_bucket, COUNT(*) AS grp_n,
      |    CAST(GROUPING(nation) AS BIGINT) AS gn,
      |    CAST(GROUPING(bal_bucket) AS BIGINT) AS gb
      |  FROM base
      |  GROUP BY GROUPING SETS ((segment, nation, bal_bucket),
      |                          (segment, nation), (segment)))
      |SELECT gb + gn AS level, COUNT(*) AS n_groups, MIN(grp_n) AS min_k,
      |  CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
      |    AS rows_below_k5,
      |  CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS DOUBLE)
      |    * 100.0 / CAST(SUM(grp_n) AS DOUBLE) AS risk_pct
      |FROM g GROUP BY 1""".stripMargin

  // --------------------------------------------- closed-form fitting

  /** q120: per-group two-predictor ordinary least squares via the
    * normal equations — `extendedprice ~ quantity + discount` per
    * return flag, the distributed closed-form fit (the shape a
    * feature-importance sanity check or a per-segment price model
    * takes before anyone reaches for an iterative trainer). ONE
    * keyed aggregate computes the nine sufficient statistics
    * (n, Σx₁, Σx₂, Σy, Σx₁², Σx₁x₂, Σx₂², Σx₁y, Σx₂y, Σy²) with
    * map-side combine; the 2×2 solve is a constant-cost projection.
    * This is the textbook "sufficient statistics, not data movement"
    * pattern: at 100 TB the shuffle carries 3 rows × 10 decimals.
    *
    * Determinism: every sufficient statistic is a sum of EXACT
    * decimal products (the 2-decimal doubles quantize losslessly to
    * DECIMAL(18,2); products widen the scale, never round), so the
    * shuffled sums are order-independent-exact. The decimal→double
    * step goes THROUGH A STRING (the q141 `dd` bridge): a scaled sum
    * past 2⁵³ (Σy² clears it even at sf0.001) is not exactly
    * representable, and DuckDB's native decimal cast rounds the
    * unscaled integer and divides — two roundings — where Spark's
    * BigDecimal conversion rounds once, a 1-ulp divergence the
    * decimal-string parse (correctly rounded in both engines) closes.
    * The solve then runs in doubles with the identical written
    * operation order in both engines — each IEEE step is correctly
    * rounded from identical inputs, so β, intercept and R² match
    * bit-for-bit with no output rounding at all.
    */
  val q120_ols_multi: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(
      col("l_returnflag").as("grp"),
      col("l_quantity").cast(dec2).as("x1"),
      col("l_discount").cast(dec2).as("x2"),
      col("l_extendedprice").cast(dec2).as("y"))
    val stats = li.groupBy(col("grp")).agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
      sum(col("y")).as("sy"),
      sum(col("x1") * col("x1")).as("sx11"),
      sum(col("x1") * col("x2")).as("sx12"),
      sum(col("x2") * col("x2")).as("sx22"),
      sum(col("x1") * col("y")).as("sx1y"),
      sum(col("x2") * col("y")).as("sx2y"),
      sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    def d(c: String): Column = col(c).cast("string").cast("double")
    val c11 = d("sx11") - d("sx1") * d("sx1") / nD
    val c12 = d("sx12") - d("sx1") * d("sx2") / nD
    val c22 = d("sx22") - d("sx2") * d("sx2") / nD
    val c1y = d("sx1y") - d("sx1") * d("sy") / nD
    val c2y = d("sx2y") - d("sx2") * d("sy") / nD
    val cyy = d("syy") - d("sy") * d("sy") / nD
    val det = c11 * c22 - c12 * c12
    val b1 = (c22 * c1y - c12 * c2y) / det
    val b2 = (c11 * c2y - c12 * c1y) / det
    val b0 = d("sy") / nD - b1 * (d("sx1") / nD) - b2 * (d("sx2") / nD)
    val r2 = (b1 * c1y + b2 * c2y) / cyy
    stats.select(col("grp"), col("n"),
      b0.as("intercept"), b1.as("beta_quantity"), b2.as("beta_discount"),
      r2.as("r_squared"))
  }

  val q120_sql: String =
    """WITH li AS (SELECT l_returnflag AS grp,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS x1,
      |    CAST(l_discount AS DECIMAL(18,2)) AS x2,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
      |  FROM lineitem),
      |st AS (SELECT grp, COUNT(*) AS n,
      |    SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
      |    SUM(x1 * x1) AS sx11, SUM(x1 * x2) AS sx12,
      |    SUM(x2 * x2) AS sx22, SUM(x1 * y) AS sx1y,
      |    SUM(x2 * y) AS sx2y, SUM(y * y) AS syy
      |  FROM li GROUP BY grp),
      |mo AS (SELECT grp, n,
      |    CAST(CAST(sx1 AS VARCHAR) AS DOUBLE) AS sx1d,
      |    CAST(CAST(sx2 AS VARCHAR) AS DOUBLE) AS sx2d,
      |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
      |    CAST(n AS DOUBLE) AS nd,
      |    CAST(CAST(sx11 AS VARCHAR) AS DOUBLE)
      |      - CAST(CAST(sx1 AS VARCHAR) AS DOUBLE)
      |      * CAST(CAST(sx1 AS VARCHAR) AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS c11,
      |    CAST(CAST(sx12 AS VARCHAR) AS DOUBLE)
      |      - CAST(CAST(sx1 AS VARCHAR) AS DOUBLE)
      |      * CAST(CAST(sx2 AS VARCHAR) AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS c12,
      |    CAST(CAST(sx22 AS VARCHAR) AS DOUBLE)
      |      - CAST(CAST(sx2 AS VARCHAR) AS DOUBLE)
      |      * CAST(CAST(sx2 AS VARCHAR) AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS c22,
      |    CAST(CAST(sx1y AS VARCHAR) AS DOUBLE)
      |      - CAST(CAST(sx1 AS VARCHAR) AS DOUBLE)
      |      * CAST(CAST(sy AS VARCHAR) AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS c1y,
      |    CAST(CAST(sx2y AS VARCHAR) AS DOUBLE)
      |      - CAST(CAST(sx2 AS VARCHAR) AS DOUBLE)
      |      * CAST(CAST(sy AS VARCHAR) AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS c2y,
      |    CAST(CAST(syy AS VARCHAR) AS DOUBLE)
      |      - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
      |      * CAST(CAST(sy AS VARCHAR) AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS cyy
      |  FROM st)
      |SELECT grp, n,
      |  syd / nd - ((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12))
      |    * (sx1d / nd)
      |    - ((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12))
      |    * (sx2d / nd) AS intercept,
      |  (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS beta_quantity,
      |  (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS beta_discount,
      |  (((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12)) * c1y
      |   + ((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12)) * c2y) / cyy
      |    AS r_squared
      |FROM mo""".stripMargin

  /** q129: l-diversity profile — k-anonymity's second rung (Machanava-
    * jjhala et al.): group SIZE (q119) does not protect when every
    * record in a group shares the SENSITIVE value, so the release gate
    * also needs, per quasi-identifier group, how many DISTINCT
    * sensitive values appear. Quasi-identifier = (segment, nation);
    * sensitive attribute = the 1000-unit balance bucket. One pass:
    * distinct sensitive values per group come from a (QI, sensitive)
    * pre-aggregate (never count-distinct over raw rows — the same
    * two-level shape as q09/q62), the profile rolls up to one row:
    * group count, the dataset's l (min distinct sensitive), rows in
    * groups below l=3, and that population as a percentage (two exact
    * integers divided as doubles, bit-equal across engines).
    */
  val q129_l_diversity: Q = (s, dir) => {
    val base = t(s, dir, "customer").select(
      col("c_mktsegment").as("segment"),
      col("c_nationkey").cast("long").as("nation"),
      floor(col("c_acctbal") / 1000.0).cast("long").as("sensitive"))
    val perSens = base.groupBy(col("segment"), col("nation"), col("sensitive"))
      .agg(count(lit(1)).as("__n"))
    val perGroup = perSens.groupBy(col("segment"), col("nation"))
      .agg(count(lit(1)).as("__l"), sum(col("__n")).as("__rows"))
    perGroup.agg(
        count(lit(1)).as("n_groups"),
        min(col("__l")).as("min_l"),
        sum(when(col("__l") < 3, col("__rows")).otherwise(0L))
          .as("rows_below_l3"),
        sum(col("__rows")).as("__total"))
      .select(col("n_groups"), col("min_l"), col("rows_below_l3"),
        (col("rows_below_l3").cast("double") * 100.0 /
          col("__total").cast("double")).as("risk_pct"))
  }

  val q129_sql: String =
    """WITH base AS (SELECT c_mktsegment AS segment,
      |    CAST(c_nationkey AS BIGINT) AS nation,
      |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS sensitive
      |  FROM customer),
      |ps AS (SELECT segment, nation, sensitive, COUNT(*) AS n
      |       FROM base GROUP BY 1, 2, 3),
      |pg AS (SELECT segment, nation, COUNT(*) AS l,
      |         CAST(SUM(n) AS BIGINT) AS rows_g
      |       FROM ps GROUP BY 1, 2)
      |SELECT COUNT(*) AS n_groups, MIN(l) AS min_l,
      |  CAST(SUM(CASE WHEN l < 3 THEN rows_g ELSE 0 END) AS BIGINT)
      |    AS rows_below_l3,
      |  CAST(SUM(CASE WHEN l < 3 THEN rows_g ELSE 0 END) AS DOUBLE)
      |    * 100.0 / CAST(SUM(rows_g) AS DOUBLE) AS risk_pct
      |FROM pg""".stripMargin

  /** q151: t-closeness profile — the privacy ladder's third rung
    * (Li–Li–Venkatasubramanian): q119 checks group SIZE, q129 checks
    * sensitive-value VARIETY, but a group can pass both while its
    * sensitive DISTRIBUTION still leaks (a quasi-identifier group
    * whose balances skew far from the table-wide distribution tells
    * an attacker plenty even at k ≥ 5, l ≥ 3). Per (segment, nation)
    * group: the Earth-Mover's Distance between the group's
    * bal-bucket distribution and the global one, for the ORDERED
    * sensitive attribute the closed form EMD(P,Q) =
    * Σᵢ|cumP(i) − cumQ(i)| / (m−1). Computed EXACTLY over integers:
    * the common-denominator rewrite |cumP·N − cumQ·n_g| makes every
    * per-bucket term an exact BIGINT→DECIMAL(38,0) value, the
    * per-group sum an exact decimal fold, and t ONE IEEE division of
    * two exact integers through the q120 string bridge — so the
    * breach verdict (t > 0.2, the textbook threshold) can never flip
    * cross-engine. A single-bucket corpus (m = 1) yields NULL, the
    * ksTail rule. Missing (group, bucket) cells contribute their
    * step-function gap exactly because the sum runs over the FULL
    * group×bucket grid.
    *
    * Scale shape: one keyed aggregate collapses the corpus to the
    * (group × bucket)-bounded cell frame; the global cumulative runs
    * through the shared two-level prefix (constant-key window over
    * the ≤ range/1000-row bucket frame only); the grid is
    * catalog × bucket-domain bounded (the q138 grid argument), its
    * per-group cumulative windows are group-keyed, and the EMD fold
    * is one map-side-combined aggregate over the grid.
    */
  val q151_t_closeness: Q = (s, dir) => {
    val dec38 = DecimalType(38, 0)
    val base = t(s, dir, "customer").select(
      col("c_mktsegment").as("segment"),
      col("c_nationkey").cast("long").as("nation"),
      floor(col("c_acctbal") / 1000.0).cast("long").as("sensitive"))
    val cell = Materialize(base
      .groupBy(col("segment"), col("nation"), col("sensitive"))
      .agg(count(lit(1)).as("__n"))).df // global hist, grid join, group totals
    val gq = cell.groupBy(col("sensitive")).agg(sum(col("__n")).as("__nq"))
    val gqc = exclusivePrefix(gq, "sensitive", "sensitive",
        Seq("__exc" -> "__nq"))
      .select(col("sensitive"), (col("__exc") + col("__nq")).as("__cumq"))
    val tot = gq.agg(sum(col("__nq")).as("__nn"),
      count(lit(1)).as("__m"))
    val grp = cell.select(col("segment"), col("nation")).distinct()
    val grid = grp.crossJoin(broadcast(gqc))
    val wg = Window.partitionBy(col("segment"), col("nation"))
      .orderBy(col("sensitive"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pc = grid
      .join(cell, Seq("segment", "nation", "sensitive"), "left")
      .withColumn("__cump", sum(coalesce(col("__n"), lit(0L))).over(wg))
    val ng = cell.groupBy(col("segment"), col("nation"))
      .agg(sum(col("__n")).as("n_rows"))
    val emd = pc
      .join(ng, Seq("segment", "nation"))
      .crossJoin(broadcast(tot))
      .withColumn("__term",
        abs(col("__cump").cast(dec38) * col("__nn") -
          col("__cumq").cast(dec38) * col("n_rows")))
      .groupBy(col("segment"), col("nation"))
      .agg(sum(col("__term")).as("__num"))
    val tVal = asDouble(col("__num")) /
      asDouble(col("n_rows").cast(dec38) * col("__nn") * (col("__m") - lit(1L)))
    val nullD = lit(null).cast("double")
    emd.join(ng, Seq("segment", "nation"))
      .crossJoin(broadcast(tot))
      .select(col("segment"), col("nation"), col("n_rows"),
        when(col("__m") > 1L, tVal).otherwise(nullD).as("t_closeness"),
        when(col("__m") > 1L, tVal > lit(0.2))
          .otherwise(lit(null).cast("boolean")).as("breach"))
  }

  val q151_sql: String =
    """WITH base AS (SELECT c_mktsegment AS segment,
      |    CAST(c_nationkey AS BIGINT) AS nation,
      |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS sensitive
      |  FROM customer),
      |cell AS (SELECT segment, nation, sensitive,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM base GROUP BY 1, 2, 3),
      |gq AS (SELECT sensitive, CAST(SUM(n) AS BIGINT) AS nq
      |  FROM cell GROUP BY 1),
      |gqc AS (SELECT sensitive,
      |    CAST(SUM(nq) OVER (ORDER BY sensitive
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cumq
      |  FROM gq),
      |tot AS (SELECT CAST(SUM(nq) AS BIGINT) AS nn,
      |    CAST(COUNT(*) AS BIGINT) AS m FROM gq),
      |grp AS (SELECT DISTINCT segment, nation FROM base),
      |grid AS (SELECT g.segment, g.nation, q.sensitive, q.cumq
      |  FROM grp g CROSS JOIN gqc q),
      |pc AS (SELECT gr.segment, gr.nation, gr.sensitive, gr.cumq,
      |    CAST(SUM(COALESCE(c.n, 0)) OVER (
      |      PARTITION BY gr.segment, gr.nation ORDER BY gr.sensitive
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cump
      |  FROM grid gr LEFT JOIN cell c USING (segment, nation, sensitive)),
      |ng AS (SELECT segment, nation, CAST(SUM(n) AS BIGINT) AS n_rows
      |  FROM cell GROUP BY 1, 2),
      |emd AS (SELECT p.segment, p.nation,
      |    SUM(ABS(CAST(p.cump AS DECIMAL(38,0)) * t.nn
      |          - CAST(p.cumq AS DECIMAL(38,0)) * g.n_rows)) AS num
      |  FROM pc p CROSS JOIN tot t JOIN ng g USING (segment, nation)
      |  GROUP BY 1, 2)
      |SELECT e.segment, e.nation, g.n_rows,
      |  CASE WHEN t.m > 1 THEN CAST(CAST(e.num AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(CAST(g.n_rows AS DECIMAL(38,0)) * t.nn * (t.m - 1)
      |        AS VARCHAR) AS DOUBLE)
      |  ELSE NULL END AS t_closeness,
      |  CASE WHEN t.m > 1 THEN (CAST(CAST(e.num AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(CAST(g.n_rows AS DECIMAL(38,0)) * t.nn * (t.m - 1)
      |        AS VARCHAR) AS DOUBLE)) > 0.2
      |  ELSE NULL END AS breach
      |FROM emd e JOIN ng g USING (segment, nation) CROSS JOIN tot t""".stripMargin

  // ----------------------------------------------------- drift profile

  /** q122: population-stability-index drift report between a reference
    * window and the current window of the event stream — THE
    * train/serve skew check a feature platform runs per feature per
    * release (PSI < 0.1 stable, > 0.25 drifted). Values bin into fixed
    * 25-unit buckets (fixed-width, not quantile, so the report is
    * reproducible without a quantile fit and the bin key is a pure
    * projection); each side's histogram is ONE keyed aggregate over
    * the scan (map-side combined, the two sides split by a predicate
    * on the same pass — never two scans); the per-bin PSI term
    * (p−q)·ln(p/q) uses +1 Laplace smoothing so fresh/vanished bins
    * stay finite. Exact-integer counts make p and q bit-identical
    * across engines; the ln itself goes through
    * [[graft.functions.PortableMath]] — ln(p/q) = ln a − ln b over
    * the exact integers a = (n_ref+1)(C+B), b = (n_cur+1)(R+B), each
    * ln stated ONCE and emitted to both engines as the same
    * correctly-rounded-op series (round 9 proved `round(ln(…), 9)`
    * is engine-divergent; the shared-bindings form cannot diverge).
    * Output: the per-bin drift table (the artifact a reviewer reads)
    * in exact e-9 integer units with the PSI total on every row.
    */
  /** The two-sided fixed-width histogram q122 derives from — ADDITIVE
    * per bin, so the streaming twin folds per-batch partials of this
    * exact shape ([[graft.streaming.StreamingIngest.psiDriftStream]]).
    */
  def psiHistogram(events: DataFrame): DataFrame = {
    val split = driftSplit
    events
      .select((col("ts") < split).as("__ref"),
        floor(col("value") / lit(25.0)).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(sum(when(col("__ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__ref"), 0L).otherwise(1L)).as("n_cur"))
  }

  /** The PSI per-bin formula, stated ONCE for both engines: the
    * smoothed shares p, q are IEEE divisions of exact integers, and
    * ln(p/q) = ln a − ln b over the exact integer cross-products
    * a = (n_ref+1)(C+B), b = (n_cur+1)(R+B) (each < 10¹⁵ within the
    * documented per-window count bound), through the portable series.
    * `psi_term_e9` is the term in exact 10⁻⁹ units.
    */
  private def psiBindings: graft.functions.PortableMath.Bindings = {
    import graft.functions.PortableMath._
    val one = Dual.litL(1L)
    val refP = Dual.col("n_ref") + one
    val curP = Dual.col("n_cur") + one
    val refTot = Dual.col("__R") + Dual.col("__B")
    val curTot = Dual.col("__C") + Dual.col("__B")
    val pd = refP.toDouble / refTot.toDouble
    val qd = curP.toDouble / curTot.toDouble
    // names must be case-insensitively disjoint from the frame's
    // __R/__C/__B: BOTH engines resolve identifiers case-insensitively
    // (Spark withColumn replaces, DuckDB auto-renames) — "__b" here
    // silently shadowed "__B" on each side differently
    Seq("__aa" -> (refP * curTot), "__bb" -> (curP * refTot)) ++
      lnPosBigint("__aa", "__lna") ++ lnPosBigint("__bb", "__lnb") :+
      ("psi_term_e9" -> roundedUnits(
        (pd - qd) * (Dual.col("__lna") - Dual.col("__lnb")), 9))
  }

  /** The PSI report derived from a (bin, n_ref, n_cur) histogram —
    * shared verbatim by the batch query and the streaming monitor's
    * read side, so the streamed statistic EQUALS the batch one on the
    * union of batches (spec-asserted).
    */
  def psiFromBins(bins: DataFrame): DataFrame = {
    // each total is counted in the job that materializes its frame
    val Materialize.Measured(g, b, Seq(r, c)) = Materialize(bins,
      "__R" -> sum(col("n_ref")), "__C" -> sum(col("n_cur")))
    val Materialize.Measured(perBin, _, Seq(psi)) = Materialize(
      graft.functions.PortableMath
        .withBindings(g.select(col("*"), lit(r).as("__R"), lit(c).as("__C"),
          lit(b).as("__B")), psiBindings)
        .select(col("bin"), col("n_ref"), col("n_cur"), col("psi_term_e9")),
      "psi_e9" -> sum(col("psi_term_e9")))
    perBin.select(col("*"), lit(psi).as("psi_e9"))
  }

  val q122_psi_drift: Q = (s, dir) =>
    psiFromBins(psiHistogram(t(s, dir, "events")))

  val q122_sql: String = {
    val crossed = "SELECT g.bin, g.n_ref, g.n_cur, " +
      "CAST(tot.r AS BIGINT) AS __R, CAST(tot.c AS BIGINT) AS __C, " +
      "tot.b AS __B FROM g CROSS JOIN tot"
    val pb = graft.functions.PortableMath.sqlWithBindings(crossed, psiBindings)
    s"""WITH e AS (SELECT (ts < TIMESTAMP '$DriftSplitSql') AS ref,
       |    CAST(FLOOR(value / 25.0) AS BIGINT) AS bin
       |  FROM events),
       |g AS (SELECT bin,
       |    CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
       |    CAST(SUM(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
       |  FROM e GROUP BY bin),
       |tot AS (SELECT SUM(n_ref) AS r, SUM(n_cur) AS c, COUNT(*) AS b
       |        FROM g),
       |pb AS ($pb)
       |SELECT bin, n_ref, n_cur, psi_term_e9,
       |  (SELECT CAST(SUM(psi_term_e9) AS BIGINT) FROM pb) AS psi_e9
       |FROM pb""".stripMargin
  }

  // ------------------------------------------------- target encoding

  /** q123: leakage-safe (out-of-fold) target encoding — the standard
    * way to turn a high-cardinality categorical into a numeric
    * feature without leaking each row's own label: row r in fold f
    * receives the target mean of its category computed over the OTHER
    * folds, smoothed toward the global mean with pseudo-count m=20.
    * Folds are a deterministic key-mod (never a random split — the
    * t05/t25 reproducibility rule). The whole encoding derives from
    * ONE keyed (category, fold) aggregate over the fact scan —
    * per-fold exclusion is sum subtraction, not a per-fold re-scan —
    * and the output is the catalog-small (category × fold) encoding
    * map a trainer broadcast-joins back onto rows. Sums stay DECIMAL
    * through the subtraction (exact in both engines); the final
    * smoothing arithmetic runs in doubles with one written order.
    */
  val q123_target_encoding: Q = (s, dir) => {
    val m = 20.0 // smoothing pseudo-count
    val byCatFold = Materialize(t(s, dir, "orders") // rollup AND final join
      .select(col("o_orderpriority").as("category"),
        pmod(col("o_orderkey"), lit(5L)).as("fold"),
        col("o_totalprice").cast(dec2).as("__y"))
      .groupBy(col("category"), col("fold"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__y")).as("__s"))).df
    val byCat = byCatFold.groupBy(col("category"))
      .agg(sum(col("n_rows")).as("__nc"), sum(col("__s")).as("__sc"))
    val glob = byCat.agg(sum(col("__nc")).as("__ng"),
      sum(col("__sc")).as("__sg"))
    val gmean = col("__sg").cast("double") / col("__ng").cast("double")
    val enc = ((col("__sc") - col("__s")).cast("double") +
      lit(m) * gmean) /
      ((col("__nc") - col("n_rows")).cast("double") + lit(m))
    byCatFold.join(byCat, Seq("category")).crossJoin(broadcast(glob))
      .select(col("category"), col("fold"), col("n_rows"),
        (col("__nc") - col("n_rows")).as("n_out_of_fold"),
        enc.as("encoding"))
  }

  val q123_sql: String =
    """WITH o AS (SELECT o_orderpriority AS category,
      |    o_orderkey % 5 AS fold,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS y
      |  FROM orders),
      |cf AS (SELECT category, fold, COUNT(*) AS n_rows, SUM(y) AS s
      |       FROM o GROUP BY category, fold),
      |c AS (SELECT category, SUM(n_rows) AS nc, SUM(s) AS sc
      |      FROM cf GROUP BY category),
      |g AS (SELECT SUM(nc) AS ng, SUM(sc) AS sg FROM c)
      |SELECT cf.category, cf.fold, CAST(cf.n_rows AS BIGINT) AS n_rows,
      |  CAST(c.nc - cf.n_rows AS BIGINT) AS n_out_of_fold,
      |  (CAST(c.sc - cf.s AS DOUBLE)
      |     + 20.0 * (CAST(g.sg AS DOUBLE) / CAST(g.ng AS DOUBLE)))
      |    / (CAST(c.nc - cf.n_rows AS DOUBLE) + 20.0) AS encoding
      |FROM cf JOIN c USING (category) CROSS JOIN g""".stripMargin

  // ------------------------------------------------ survival analysis

  /** q130: Kaplan–Meier time-to-conversion curve — survival analysis
    * applied to the funnel (S(t) = P[no purchase within t days of
    * first contact]; q58's retention cohorts read activity, this
    * estimates the conversion-time DISTRIBUTION with censoring done
    * right: a user the observation window cuts off before converting
    * contributes to the at-risk denominator up to their horizon and
    * never to the numerator — dropping them, the naive mistake,
    * biases conversion fast). Per user one aggregate yields first
    * contact and first purchase; durations roll up to the
    * calendar-bounded event-time frame, at-risk counts come from one
    * exclusive prefix, and the product Π(1 − dₖ/nₖ) runs as
    * exp∘Σ∘ln where EVERY transcendental goes through
    * [[graft.functions.PortableMath]]: each step's ln(1 − d/n) =
    * ln(n−d) − ln(n) over exact integers, quantized to e-12 BIGINT
    * units per term, summed exactly by the window, exponentiated by
    * the portable series, and reported as survival in e-6 units —
    * bit-identical across engines by construction. The dₖ = nₖ step
    * (everyone remaining converts — S hits exactly 0) is guarded on
    * BOTH sides: the ln input clamps to 1 (its value never shows —
    * the cumulative-min flag pins survival to 0 from that step on,
    * an exact integer comparison).
    */
  private def kmLnBindings: graft.functions.PortableMath.Bindings = {
    import graft.functions.PortableMath._
    val surClamped = Dual.cases(
      Seq((Dual.col("__sur0") < Dual.litL(1L)) -> Dual.litL(1L)),
      Dual.col("__sur0"))
    Seq("__sur" -> surClamped) ++
      lnPosBigint("__sur", "__lns") ++ lnPosBigint("n_at_risk", "__lnr") :+
      ("__qln_e12" -> roundedUnits(
        Dual.col("__lns") - Dual.col("__lnr"), 12))
  }

  private def kmSurvivalBindings: graft.functions.PortableMath.Bindings = {
    import graft.functions.PortableMath._
    Seq("__z" -> (Dual.col("__se12").toDouble / Dual.lit(1e12))) ++
      expBindings("__z", "__es") :+
      ("survival_e6" -> Dual.cases(
        Seq(DualCond(col("__pin"), "__pin") -> Dual.litL(0L)),
        roundedUnits(Dual.col("__es"), 6)))
  }

  val q130_kaplan_meier: Q = (s, dir) => {
    import graft.functions.PortableMath
    val ev = t(s, dir, "events")
    val u = ev.groupBy(col("user_id")).agg(
      min(to_date(col("ts"))).as("__first"),
      min(when(col("event_type") === "purchase", to_date(col("ts"))))
        .as("__purch"))
    val end = ev.agg(max(to_date(col("ts"))).as("__end"))
    val dur = u.crossJoin(broadcast(end)).select(
      when(col("__purch").isNotNull,
        datediff(col("__purch"), col("__first")))
        .otherwise(datediff(col("__end"), col("__first")))
        .cast("long").as("t"),
      when(col("__purch").isNotNull, 1L).otherwise(0L).as("__e"))
    // N, the users at risk at t = 0, is counted in g's job
    val Materialize.Measured(g, _, Seq(nAll)) = Materialize(
      dur.groupBy(col("t")).agg(
        sum(col("__e")).as("n_events"),
        sum(lit(1L) - col("__e")).as("n_censored")),
      "__N" -> sum(col("n_events") + col("n_censored")))
    val wEx = Window.partitionBy(pmod(col("t"), lit(1))).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(pmod(col("t"), lit(1))).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = g.select(
      col("t"), col("n_events"), col("n_censored"),
      (lit(nAll) - coalesce(
        sum(col("n_events") + col("n_censored")).over(wEx), lit(0L)))
        .as("n_at_risk"))
      .withColumn("__sur0", col("n_at_risk") - col("n_events"))
    val summed = PortableMath.withBindings(risk, kmLnBindings)
      .select(col("t"), col("n_at_risk"), col("n_events"), col("n_censored"),
        (min(col("__sur0")).over(wCum) <= 0L).as("__pin"),
        sum(col("__qln_e12")).over(wCum).as("__se12"))
    PortableMath.withBindings(summed, kmSurvivalBindings)
      .select(col("t"), col("n_at_risk"), col("n_events"),
        col("n_censored"), col("survival_e6"))
  }

  val q130_sql: String = {
    import graft.functions.PortableMath
    val lnChain = PortableMath.sqlWithBindings(
      "SELECT * FROM r", kmLnBindings)
    val expChain = PortableMath.sqlWithBindings(
      "SELECT * FROM s2", kmSurvivalBindings)
    s"""WITH u AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day,
       |    CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS DATE)
       |      AS purch_day
       |  FROM events GROUP BY user_id),
       |mx AS (SELECT CAST(MAX(ts) AS DATE) AS end_day FROM events),
       |d AS (SELECT
       |    CAST(CASE WHEN purch_day IS NOT NULL THEN purch_day - first_day
       |              ELSE end_day - first_day END AS BIGINT) AS t,
       |    CASE WHEN purch_day IS NOT NULL THEN 1 ELSE 0 END AS e
       |  FROM u CROSS JOIN mx),
       |g AS (SELECT t, CAST(SUM(e) AS BIGINT) AS n_events,
       |    CAST(SUM(1 - e) AS BIGINT) AS n_censored
       |  FROM d GROUP BY t),
       |tot AS (SELECT CAST(SUM(n_events + n_censored) AS BIGINT) AS n
       |        FROM g),
       |r AS (SELECT t, n_events, n_censored,
       |    CAST(tot.n - COALESCE(SUM(n_events + n_censored) OVER
       |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS BIGINT) AS n_at_risk,
       |    CAST(tot.n - COALESCE(SUM(n_events + n_censored) OVER
       |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS BIGINT) - n_events AS __sur0
       |  FROM g CROSS JOIN tot),
       |s1 AS ($lnChain),
       |s2 AS (SELECT t, n_at_risk, n_events, n_censored,
       |    (MIN(__sur0) OVER w <= 0) AS __pin,
       |    CAST(SUM(__qln_e12) OVER w AS BIGINT) AS __se12
       |  FROM s1
       |  WINDOW w AS (ORDER BY t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |fin AS ($expChain)
       |SELECT t, n_at_risk, n_events, n_censored, survival_e6
       |FROM fin""".stripMargin
  }

  // -------------------------------------------------- experimentation

  /** q127: A/B experiment readout — Welch's two-sample t statistic
    * computed entirely from sufficient statistics, the
    * experimentation-platform shape (q120's discipline applied to
    * hypothesis testing: at 100 TB the shuffle carries 2 rows × 3
    * decimals, never observations). Variant assignment is the
    * standard deterministic key split (user_id parity — never a
    * random draw, the t05/t25 reproducibility rule); the metric is
    * purchase value in integer cents. Per variant ONE keyed aggregate
    * collects (n, Σc, Σc²) over the exact cent integers, so the
    * folded sums are order-independent-exact; mean, Welch t and the
    * Welch–Satterthwaite df then evaluate in doubles from exact
    * inputs with one written operation order — +, ×, / and sqrt are
    * all correctly rounded under IEEE-754, so the statistics match
    * bit-for-bit across engines with no output rounding.
    */
  /** Variant-keyed sufficient statistics (n, Σcents, Σcents²) —
    * ADDITIVE, so the streaming monitor folds per-batch partials of
    * this exact shape
    * ([[graft.streaming.StreamingIngest.abTestStream]]). The metric
    * is integer CENTS (⌊value·100 + ½⌋ — the q118 engine-portable
    * quantization; `round(value, 2)` is the round-9 divergence
    * class), so both sums are exact integers: Σc as BIGINT, Σc² as
    * DECIMAL(38,0) (a cents square is ≤ 10¹⁰; BIGINT would overflow
    * the sum past ~10⁹ rows).
    */
  def abSufficientStats(events: DataFrame): DataFrame = {
    val dec38 = DecimalType(38, 0)
    events
      .where(col("event_type") === "purchase")
      .select((pmod(col("user_id"), lit(2L)) === 0).as("variant_a"),
        floor(col("value") * lit(100.0) + lit(0.5)).as("__c"))
      .groupBy(col("variant_a"))
      .agg(count(lit(1)).as("n"), sum(col("__c")).as("s"),
        sum((col("__c") * col("__c")).cast(dec38)).as("s2"))
  }

  /** The Welch readout derived from a (variant_a, n, s, s2) stats frame
    * — shared verbatim by the batch query and the streaming monitor's
    * read side, so the streamed statistic EQUALS the batch one on the
    * union of batches (spec-asserted).
    */
  def welchFromStats(g: DataFrame): DataFrame = {
    val a = g.where(col("variant_a")).select(col("n").as("n_a"),
      col("s").as("__sa"), col("s2").as("__s2a"))
    val b = g.where(!col("variant_a")).select(col("n").as("n_b"),
      col("s").as("__sb"), col("s2").as("__s2b"))
    // cents sums → currency-unit doubles: the integer sums are exact
    // in both engines (< 2⁵³ within the documented window bound), and
    // the /100, /10000 descaling is one correctly-rounded division
    // stated identically in the oracle
    def d(c: Column): Column = c.cast("double")
    def sD(c: Column): Column = c.cast("double") / lit(100.0)
    def s2D(c: Column): Column = c.cast("double") / lit(10000.0)
    val crossed = a.crossJoin(b)
    val (na, nb) = (d(col("n_a")), d(col("n_b")))
    val meanA = sD(col("__sa")) / na
    val meanB = sD(col("__sb")) / nb
    val varA = (s2D(col("__s2a")) - sD(col("__sa")) * sD(col("__sa")) / na) /
      (na - lit(1.0))
    val varB = (s2D(col("__s2b")) - sD(col("__sb")) * sD(col("__sb")) / nb) /
      (nb - lit(1.0))
    val seA = varA / na
    val seB = varB / nb
    val tStat = (meanA - meanB) / sqrt(seA + seB)
    val df = (seA + seB) * (seA + seB) /
      (seA * seA / (na - lit(1.0)) + seB * seB / (nb - lit(1.0)))
    crossed.select(col("n_a"), col("n_b"),
      meanA.as("mean_a"), meanB.as("mean_b"),
      (meanA - meanB).as("lift"),
      tStat.as("t_stat"), df.as("welch_df"))
  }

  val q127_ab_test: Q = (s, dir) =>
    welchFromStats(abSufficientStats(t(s, dir, "events")))

  val q127_sql: String =
    """WITH e AS (SELECT (user_id % 2 = 0) AS a,
      |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS c
      |  FROM events WHERE event_type = 'purchase'),
      |g AS (SELECT a, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS s,
      |    CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
      |  FROM e GROUP BY a),
      |m AS (SELECT
      |    (SELECT CAST(n AS BIGINT) FROM g WHERE a) AS n_a,
      |    (SELECT CAST(n AS BIGINT) FROM g WHERE NOT a) AS n_b,
      |    (SELECT CAST(s AS DOUBLE) / 100.0 FROM g WHERE a) AS sa,
      |    (SELECT CAST(s AS DOUBLE) / 100.0 FROM g WHERE NOT a) AS sb,
      |    (SELECT CAST(s2 AS DOUBLE) / 10000.0 FROM g WHERE a) AS s2a,
      |    (SELECT CAST(s2 AS DOUBLE) / 10000.0 FROM g WHERE NOT a) AS s2b),
      |w AS (SELECT n_a, n_b,
      |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
      |    sa / CAST(n_a AS DOUBLE) AS mean_a,
      |    sb / CAST(n_b AS DOUBLE) AS mean_b,
      |    ((s2a - sa * sa / CAST(n_a AS DOUBLE))
      |       / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE) AS sea,
      |    ((s2b - sb * sb / CAST(n_b AS DOUBLE))
      |       / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE) AS seb
      |  FROM m)
      |SELECT n_a, n_b, mean_a, mean_b,
      |  mean_a - mean_b AS lift,
      |  (mean_a - mean_b) / sqrt(sea + seb) AS t_stat,
      |  (sea + seb) * (sea + seb)
      |    / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)) AS welch_df
      |FROM w""".stripMargin

  /** q149: minimum detectable effect — the experiment-DESIGN readout
    * that closes the A/B ladder (q127 tests, q148 tightens, q149 says
    * what the current sample can even see): MDE = (z_{α/2} + z_β) ·
    * √(se²_A + se²_B) at α = 0.05 two-sided and 80% power, the number
    * a platform shows next to every running experiment so a "no
    * significant lift" readout is never mistaken for "no lift" when
    * the experiment was only powered for a 10% one. Derived from the
    * SAME (variant_a, n, s, s2) sufficient statistics as q127
    * ([[abSufficientStats]] — the streaming fold that maintains the
    * Welch monitor serves this for free via the shared stats store);
    * the two z constants are source literals (1.959964, 0.841621 —
    * the q143 no-erf discipline), and every step is the q127
    * fixed-order IEEE on exact integer sums.
    */
  def mdeFromStats(g: DataFrame): DataFrame = {
    val a = g.where(col("variant_a")).select(col("n").as("n_a"),
      col("s").as("__sa"), col("s2").as("__s2a"))
    val b = g.where(!col("variant_a")).select(col("n").as("n_b"),
      col("s").as("__sb"), col("s2").as("__s2b"))
    def d(c: Column): Column = c.cast("double")
    def sD(c: Column): Column = c.cast("double") / lit(100.0)
    def s2D(c: Column): Column = c.cast("double") / lit(10000.0)
    val crossed = a.crossJoin(b)
    val (na, nb) = (d(col("n_a")), d(col("n_b")))
    val meanB = sD(col("__sb")) / nb
    val seA = ((s2D(col("__s2a")) -
      sD(col("__sa")) * sD(col("__sa")) / na) / (na - lit(1.0))) / na
    val seB = ((s2D(col("__s2b")) -
      sD(col("__sb")) * sD(col("__sb")) / nb) / (nb - lit(1.0))) / nb
    val mde = lit(2.801585) * sqrt(seA + seB) // 1.959964 + 0.841621
    crossed.select(col("n_a"), col("n_b"), meanB.as("mean_control"),
      mde.as("mde_abs"), (mde / meanB).as("mde_rel"))
  }

  val q149_mde: Q = (s, dir) =>
    mdeFromStats(abSufficientStats(t(s, dir, "events")))

  val q149_sql: String =
    """WITH e AS (SELECT (user_id % 2 = 0) AS a,
      |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS c
      |  FROM events WHERE event_type = 'purchase'),
      |g AS (SELECT a, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS s,
      |    CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
      |  FROM e GROUP BY a),
      |m AS (SELECT
      |    (SELECT CAST(n AS BIGINT) FROM g WHERE a) AS n_a,
      |    (SELECT CAST(n AS BIGINT) FROM g WHERE NOT a) AS n_b,
      |    (SELECT CAST(s AS DOUBLE) / 100.0 FROM g WHERE a) AS sa,
      |    (SELECT CAST(s AS DOUBLE) / 100.0 FROM g WHERE NOT a) AS sb,
      |    (SELECT CAST(s2 AS DOUBLE) / 10000.0 FROM g WHERE a) AS s2a,
      |    (SELECT CAST(s2 AS DOUBLE) / 10000.0 FROM g WHERE NOT a) AS s2b),
      |w AS (SELECT n_a, n_b,
      |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
      |    sb / CAST(n_b AS DOUBLE) AS mean_control,
      |    ((s2a - sa * sa / CAST(n_a AS DOUBLE))
      |       / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE) AS sea,
      |    ((s2b - sb * sb / CAST(n_b AS DOUBLE))
      |       / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE) AS seb
      |  FROM m)
      |SELECT n_a, n_b, mean_control,
      |  2.801585E0 * sqrt(sea + seb) AS mde_abs,
      |  2.801585E0 * sqrt(sea + seb) / mean_control AS mde_rel
      |FROM w""".stripMargin

  /** q148: CUPED variance reduction — the experiment readout every
    * mature platform runs on top of q127's Welch test: adjusting each
    * user's in-experiment metric by their PRE-period covariate
    * (y′ = y − θ(x − x̄), θ = cov(x,y)/var(x)) shrinks the variance by
    * the squared correlation ρ², which is the difference between a
    * two-week and a two-day experiment at the same power. Per user:
    * x = pre-split purchase cents, y = post-split purchase cents (the
    * q127 quantization, the q122 split instant — one scan, one keyed
    * aggregate); all moment sums are exact DECIMAL products
    * string-crossed (the q47 recipe), so θ, both lifts, the adjusted
    * Welch t and ρ² are fixed-order IEEE on identical inputs —
    * bit-identical cross-engine. The covariate is PRE-period by
    * construction, so the adjustment is unbiased (the CUPED
    * requirement: the covariate must be unaffected by treatment).
    * Zero covariate variance or a ≤1-user arm yields NULL adjusted
    * columns while the raw lift still reports, the ksTail rule.
    */
  /** The CUPED readout from a per-user (__x pre-cents, __y
    * post-cents, __a arm) frame — split out so the scalacheck
    * property pins θ, both lifts and ρ² against the literal per-user
    * adjusted-metric computation.
    */
  def cupedFromPerUser(perUser: DataFrame): DataFrame = {
    val d19 = DecimalType(19, 0)
    def pr(p: Column, c: Column): Column = sum(when(p, c).otherwise(lit(0L)))
    val xd = col("__x").cast(d19); val yd = col("__y").cast(d19)
    val m = perUser.agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
      asDouble(pr(col("__a"), col("__x"))).as("__sxa"),
      asDouble(pr(!col("__a"), col("__x"))).as("__sxb"),
      asDouble(pr(col("__a"), col("__y"))).as("__sya"),
      asDouble(pr(!col("__a"), col("__y"))).as("__syb"),
      asDouble(sum(when(col("__a"), xd * yd).otherwise(lit(0L).cast(d19))))
        .as("__sxya"),
      asDouble(sum(when(!col("__a"), xd * yd).otherwise(lit(0L).cast(d19))))
        .as("__sxyb"),
      asDouble(sum(when(col("__a"), xd * xd).otherwise(lit(0L).cast(d19))))
        .as("__sxxa"),
      asDouble(sum(when(!col("__a"), xd * xd).otherwise(lit(0L).cast(d19))))
        .as("__sxxb"),
      asDouble(sum(when(col("__a"), yd * yd).otherwise(lit(0L).cast(d19))))
        .as("__syya"),
      asDouble(sum(when(!col("__a"), yd * yd).otherwise(lit(0L).cast(d19))))
        .as("__syyb"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val n = na + nb
    val sx = col("__sxa") + col("__sxb")
    val sy = col("__sya") + col("__syb")
    val sxy = col("__sxya") + col("__sxyb")
    val sxx = col("__sxxa") + col("__sxxb")
    val syy = col("__syya") + col("__syyb")
    val covP = n * sxy - sx * sy
    val varXP = n * sxx - sx * sx
    val varYP = n * syy - sy * sy
    val theta = covP / varXP
    val xbar = sx / n
    def adjMean(syg: Column, sxg: Column, ng: Column): Column =
      (syg - theta * (sxg - ng * xbar)) / ng
    def adjVar(syyg: Column, syg: Column, sxyg: Column, sxg: Column,
        sxxg: Column, ng: Column): Column =
      ((syyg - syg * syg / ng) -
        lit(2.0) * theta * (sxyg - sxg * syg / ng) +
        theta * theta * (sxxg - sxg * sxg / ng)) / (ng - lit(1.0))
    val ma = adjMean(col("__sya"), col("__sxa"), na)
    val mb = adjMean(col("__syb"), col("__sxb"), nb)
    val va = adjVar(col("__syya"), col("__sya"), col("__sxya"),
      col("__sxa"), col("__sxxa"), na)
    val vb = adjVar(col("__syyb"), col("__syb"), col("__sxyb"),
      col("__sxb"), col("__sxxb"), nb)
    val se = sqrt(va / na + vb / nb)
    val degen = !(varXP > lit(0.0)) || !(na > lit(1.0)) ||
      !(nb > lit(1.0)) || !(se > lit(0.0))
    val nullD = lit(null).cast("double")
    m.select(col("n_a"), col("n_b"),
      ((col("__sya") / na - col("__syb") / nb) / lit(100.0)).as("lift_raw"),
      when(degen, nullD).otherwise(theta).as("theta"),
      when(degen, nullD).otherwise((ma - mb) / lit(100.0)).as("lift_cuped"),
      when(degen, nullD).otherwise((ma - mb) / se).as("t_cuped"),
      when(degen || !(varYP > lit(0.0)), nullD)
        .otherwise(covP * covP / (varXP * varYP)).as("rho_sq"))
  }

  val q148_cuped: Q = (s, dir) => {
    val split = driftSplit
    cupedFromPerUser(t(s, dir, "events")
      .where(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"), (col("ts") < split).as("__pre"),
        floor(col("value") * lit(100.0) + lit(0.5)).as("__c"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("__pre"), col("__c")).otherwise(0L)).as("__x"),
        sum(when(col("__pre"), 0L).otherwise(col("__c"))).as("__y"))
      .withColumn("__a", col("user_id") % 2 === 0))
  }

  def q148_sql: String = {
    val d19 = "DECIMAL(19,0)"
    def cond(p: String, e: String) =
      s"SUM(CASE WHEN $p THEN $e ELSE 0 END)"
    def condD(p: String, e: String) =
      s"SUM(CASE WHEN $p THEN $e ELSE CAST(0 AS $d19) END)"
    val xd = s"CAST(x AS $d19)"; val yd = s"CAST(y AS $d19)"
    val adjA = "((sya - theta * (sxa - CAST(n_a AS DOUBLE) * xbar)) " +
      "/ CAST(n_a AS DOUBLE))"
    val adjB = "((syb - theta * (sxb - CAST(n_b AS DOUBLE) * xbar)) " +
      "/ CAST(n_b AS DOUBLE))"
    def adjVar(g: String, ng: String) =
      s"(((syy$g - sy$g * sy$g / $ng) - 2.0 * theta * (sxy$g - sx$g * sy$g / $ng)" +
        s" + theta * theta * (sxx$g - sx$g * sx$g / $ng)) / ($ng - 1.0))"
    val se = s"sqrt(${adjVar("a", "CAST(n_a AS DOUBLE)")} / CAST(n_a AS DOUBLE)" +
      s" + ${adjVar("b", "CAST(n_b AS DOUBLE)")} / CAST(n_b AS DOUBLE))"
    val degen = "(NOT (varxp > 0.0) OR NOT (CAST(n_a AS DOUBLE) > 1.0) " +
      s"OR NOT (CAST(n_b AS DOUBLE) > 1.0) OR NOT ($se > 0.0))"
    s"""WITH e AS (SELECT user_id, (ts < TIMESTAMP '$DriftSplitSql') AS pre,
       |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS c
       |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
       |u AS (SELECT user_id, (user_id % 2 = 0) AS a,
       |    CAST(${cond("pre", "c")} AS BIGINT) AS x,
       |    CAST(${cond("NOT pre", "c")} AS BIGINT) AS y
       |  FROM e GROUP BY user_id),
       |m AS (SELECT
       |    CAST(${cond("a", "1")} AS BIGINT) AS n_a,
       |    CAST(${cond("NOT a", "1")} AS BIGINT) AS n_b,
       |    ${asDoubleSql(cond("a", "x"))} AS sxa, ${asDoubleSql(cond("NOT a", "x"))} AS sxb,
       |    ${asDoubleSql(cond("a", "y"))} AS sya, ${asDoubleSql(cond("NOT a", "y"))} AS syb,
       |    ${asDoubleSql(condD("a", s"$xd * $yd"))} AS sxya,
       |    ${asDoubleSql(condD("NOT a", s"$xd * $yd"))} AS sxyb,
       |    ${asDoubleSql(condD("a", s"$xd * $xd"))} AS sxxa,
       |    ${asDoubleSql(condD("NOT a", s"$xd * $xd"))} AS sxxb,
       |    ${asDoubleSql(condD("a", s"$yd * $yd"))} AS syya,
       |    ${asDoubleSql(condD("NOT a", s"$yd * $yd"))} AS syyb
       |  FROM u),
       |w AS (SELECT *,
       |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS n,
       |    sxa + sxb AS sx, sya + syb AS sy, sxya + sxyb AS sxy,
       |    sxxa + sxxb AS sxx, syya + syyb AS syy
       |  FROM m),
       |w2 AS (SELECT *,
       |    n * sxy - sx * sy AS covp,
       |    n * sxx - sx * sx AS varxp,
       |    n * syy - sy * sy AS varyp,
       |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
       |    sx / n AS xbar
       |  FROM w)
       |SELECT n_a, n_b,
       |  (sya / CAST(n_a AS DOUBLE) - syb / CAST(n_b AS DOUBLE)) / 100.0
       |    AS lift_raw,
       |  CASE WHEN $degen THEN NULL ELSE theta END AS theta,
       |  CASE WHEN $degen THEN NULL
       |       ELSE ($adjA - $adjB) / 100.0 END AS lift_cuped,
       |  CASE WHEN $degen THEN NULL
       |       ELSE ($adjA - $adjB) / $se END AS t_cuped,
       |  CASE WHEN $degen OR NOT (varyp > 0.0) THEN NULL
       |       ELSE covp * covp / (varxp * varyp) END AS rho_sq
       |FROM w2""".stripMargin
  }

  /** q141: one-way fixed-effects ANOVA — q127's MULTI-variant
    * generalization (five event types, one metric): the experiment
    * readout when a launch has more than two arms, where running
    * pairwise Welch tests inflates the false-positive rate. Groups
    * are the DOMAIN-BOUNDED event-type set, so the per-group exact
    * sufficient statistics (n, Σcents, Σcents² — the q127 decimal
    * quantization) pivot into ONE row and the F statistic is a
    * fixed-order written formula over ten exact integers and five
    * counts: SSB = Σ_g s_g²/n_g − G²/N, SSW = Σ_g (s2_g − s_g²/n_g),
    * F = (SSB/(k−1)) / (SSW/(N−k)), with every Σ_g expanded
    * left-associatively in BOTH engines (never a float SUM() whose
    * order the engine picks) — bit-identical cross-engine, so the
    * α=0.05 verdict against the asymptotic F(4,∞) critical value
    * 2.3719 can never disagree. A missing group propagates NULL, the
    * q135 degenerate rule. One map-side-combined aggregate over the
    * events scan; the pivot is k rows → 1 at any corpus size.
    */
  private[graft] val AnovaTypes =
    Seq("click", "error", "purchase", "signup", "view")

  /** Domain-cardinality guard for the pivoting tests (q141/q145):
    * their F/χ² folds enumerate [[AnovaTypes]] explicitly, so a 6th
    * event type would be SILENTLY excluded from the statistic in both
    * engines — the q143 shared-constant blind-spot class. Applied as
    * a filter over the per-type stats frame (≤ |domain|+ε rows, never
    * the corpus scan): an in-domain row passes, an out-of-domain row
    * raises — a filter, not a projection, so column pruning cannot
    * drop the assertion. [[anovaDomainGuardSql]] is the same guard in
    * the oracle dialect, kept adjacent so they cannot drift.
    */
  private def anovaDomainGuard(stats: DataFrame, tag: String,
      colName: String = "event_type"): DataFrame =
    stats.where(
      when(col(colName).isin(AnovaTypes.map(x => x: Any): _*), lit(true))
        .otherwise(raise_error(concat(
          lit(s"$tag: event_type outside the AnovaTypes domain: "),
          col(colName))).cast("boolean")))

  private def anovaDomainGuardSql(tag: String,
      colName: String = "event_type"): String = {
    val dom = AnovaTypes.map(t => s"'$t'").mkString(", ")
    s"CASE WHEN $colName IN ($dom) THEN TRUE ELSE " +
      s"CAST(error('$tag: event_type outside the AnovaTypes domain: '" +
      s" || $colName) AS BOOLEAN) END"
  }

  /** q141's additive per-group sufficient statistics — the
    * [[abSufficientStats]] shape over ALL event types, so the same
    * per-batch fold that maintains the A/B monitor generalizes
    * ([[graft.streaming.StreamingIngest.anovaStream]]).
    */
  def anovaSufficientStats(events: DataFrame): DataFrame = {
    val dec38 = DecimalType(38, 0)
    events
      .where(col("value").isNotNull)
      .select(col("event_type"),
        floor(col("value") * lit(100.0) + lit(0.5)).as("__c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("__c")).as("s"),
        sum((col("__c") * col("__c")).cast(dec38)).as("s2"))
  }

  /** The F readout derived from an (event_type, n, s, s2) stats frame
    * — shared verbatim by the batch query and the streaming monitor's
    * read side.
    */
  def anovaFromStats(g0: DataFrame): DataFrame = {
    val g = anovaDomainGuard(g0, "q141")
    val one = g.groupBy().pivot("event_type", AnovaTypes)
      .agg(first(col("n")).as("n"), first(col("s")).as("s"),
        first(col("s2")).as("s2"))
    def nT(t: String): Column = col(s"${t}_n").cast("double")
    def sT(t: String): Column = asDouble(col(s"${t}_s")) / lit(100.0)
    def s2T(t: String): Column = asDouble(col(s"${t}_s2")) / lit(10000.0)
    val k = lit(AnovaTypes.size.toDouble)
    val nTot = AnovaTypes.map(nT).reduce(_ + _)
    val grand = AnovaTypes.map(sT).reduce(_ + _)
    val ssb = AnovaTypes.map(t => sT(t) * sT(t) / nT(t)).reduce(_ + _) -
      grand * grand / nTot
    val ssw = AnovaTypes.map(t => s2T(t) - sT(t) * sT(t) / nT(t))
      .reduce(_ + _)
    // a zero within-group variance (or an empty arm) must yield NULL,
    // not IEEE debris: Spark's x/0.0 is ±Inf/NaN while DuckDB's is
    // NULL — the ksTail degenerate rule again
    val degen = !(ssw > lit(0.0)) || !(nTot > k)
    val f = when(degen, lit(null).cast("double"))
      .otherwise((ssb / (k - lit(1.0))) / (ssw / (nTot - k)))
    one.select(
      AnovaTypes.map(t => col(s"${t}_n")).reduce(_ + _).as("n_total"),
      ssb.as("ss_between"), ssw.as("ss_within"),
      f.as("f_stat"),
      when(degen, lit(null).cast("double"))
        .otherwise(ssb / (ssb + ssw)).as("eta_sq"),
      (f > lit(2.3719)).as("significant"))
  }

  val q141_anova: Q = (s, dir) =>
    anovaFromStats(anovaSufficientStats(t(s, dir, "events")))

  def q141_sql: String = {
    val subs = AnovaTypes.map { t =>
      s"""    (SELECT CAST(n AS BIGINT) FROM g WHERE event_type = '$t')
         |      AS n_$t,
         |    (SELECT CAST(s AS BIGINT) FROM g WHERE event_type = '$t')
         |      AS s_$t,
         |    (SELECT s2 FROM g WHERE event_type = '$t') AS s2_$t""".stripMargin
    }.mkString(",\n")
    val nT = AnovaTypes.map(t => s"CAST(n_$t AS DOUBLE)")
    val sT = AnovaTypes.map(t => s"(${asDoubleSql(s"s_$t")} / 100.0)")
    val s2T = AnovaTypes.map(t => s"(${asDoubleSql(s"s2_$t")} / 10000.0)")
    val nTot = nT.mkString(" + ")
    val grand = sT.mkString(" + ")
    val ssbTerms = AnovaTypes.indices
      .map(i => s"${sT(i)} * ${sT(i)} / ${nT(i)}").mkString(" + ")
    // each difference parenthesized: "a - b + c - d" would regroup the
    // IEEE sum as (((a-b)+c)-d) while Spark's reduce over whole terms
    // computes ((a-b)+(c-d)) — mathematically equal, bit-different
    val sswTerms = AnovaTypes.indices
      .map(i => s"(${s2T(i)} - ${sT(i)} * ${sT(i)} / ${nT(i)})")
      .mkString(" + ")
    val nTotL = AnovaTypes.map(t => s"n_$t").mkString(" + ")
    s"""WITH e AS (SELECT event_type,
       |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS c
       |  FROM events WHERE value IS NOT NULL),
       |g AS (SELECT event_type, COUNT(*) AS n,
       |    CAST(SUM(c) AS BIGINT) AS s,
       |    CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
       |  FROM e GROUP BY 1
       |  HAVING ${anovaDomainGuardSql("q141")}),
       |m AS (SELECT
       |$subs),
       |w AS (SELECT CAST($nTotL AS BIGINT) AS n_total,
       |    ($nTot) AS ntd,
       |    ($grand) AS grand,
       |    ($ssbTerms) AS ssb0,
       |    ($sswTerms) AS ss_within
       |  FROM m),
       |w2 AS (SELECT n_total, ss_within,
       |    ssb0 - grand * grand / ntd AS ss_between,
       |    ntd FROM w),
       |w3 AS (SELECT n_total, ss_between, ss_within,
       |    CASE WHEN NOT (ss_within > 0.0) OR NOT (ntd > 5.0) THEN NULL
       |         ELSE (ss_between / 4.0) / (ss_within / (ntd - 5.0))
       |    END AS f_stat,
       |    CASE WHEN NOT (ss_within > 0.0) OR NOT (ntd > 5.0) THEN NULL
       |         ELSE ss_between / (ss_between + ss_within)
       |    END AS eta_sq
       |  FROM w2)
       |SELECT n_total, ss_between, ss_within, f_stat, eta_sq,
       |  f_stat > 2.3719E0 AS significant
       |FROM w3""".stripMargin
  }

  /** q142: Kruskal–Wallis H — q141's NONPARAMETRIC sibling, and
    * q137's k-sample generalization: the multi-arm readout when the
    * metric is skewed or heavy-tailed enough that the ANOVA
    * normality story is a lie (corpus metrics usually are). Groups
    * are the domain-bounded event-type set; ranks are exact
    * tie-averaged DOUBLED ranks over the COMBINED sample from the
    * same two-level bucket prefix as q131/q137 (never a global
    * window), derived from an additive (event_type, value, count)
    * frame ([[kwCounts]] — so a streaming fold maintains this
    * monitor exactly like the KS/ANOVA ones). The per-group doubled
    * rank-sums and the tie correction Σ(t³−t) are exact DECIMAL
    * integers crossed to double through the q47 string cast; H =
    * 12/(N(N+1))·Σ R_g²/n_g − 3(N+1) and the tie divisor
    * 1 − Σ(t³−t)/(N³−N) are then fixed-order IEEE with every Σ_g
    * expanded left-associatively in BOTH engines (the q141 rule) and
    * N³−N computed exactly in DECIMAL first (N³ leaves the 2⁵³ range
    * at N ≈ 2·10⁵, well inside corpus scale) — bit-identical
    * cross-engine, so the χ²(4, 0.05) = 9.4877 verdict can never
    * disagree. A missing arm propagates NULL; an all-tied corpus
    * (divisor ≤ 0) yields NULL, the ksTail degenerate rule. One scan,
    * one keyed aggregate, one distinct-value-bounded rank frame, a
    * k-row pivot.
    */
  /** q142's additive per-(group, value) counts — summable across
    * micro-batches ([[graft.streaming.StreamingIngest.kruskalStream]]
    * folds partials of this exact shape).
    */
  def kwCounts(events: DataFrame): DataFrame =
    events
      .where(col("value").isNotNull) // NULLs never reach the rank windows
      .select(col("event_type"), col("value").as("v"))
      .groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("c"))

  /** The H readout derived from an (event_type, v, c) count frame —
    * shared verbatim by the batch query and the streaming monitor's
    * read side (scalacheck pins it against brute-force global ranks).
    */
  /** The shared rank-stats stage of the k-sample rank family — ONE
    * definition for q142's omnibus H and q146's pairwise follow-ups:
    * per-group exact (n, doubled rank-sum) stats plus the 1-row
    * (tie-correction, N) totals, from the combined-sample two-level
    * prefix. A tie-rule fix applied to one consumer but not the other
    * would be a silent q142-vs-q146 disagreement.
    */
  private[graft] def kwRankStats(counts: DataFrame): (DataFrame, DataFrame) = {
    val d19 = DecimalType(19, 0)
    val d12 = DecimalType(12, 0)
    // bucket prefix AND the tie-correction agg
    val vc = Materialize(counts.groupBy(col("v")).agg(sum(col("c")).as("__c"))
      .withColumn("__bucket", floor(col("v") / lit(25.0)).cast("long"))).df
    val r2 = exclusivePrefix(vc, "v", "__bucket", Seq("__exc" -> "__c"))
      .select(col("v"),
        (lit(2L) * col("__exc") + col("__c") + lit(1L)).as("__r2"))
    val tot = vc.agg(
      asDouble(sum(col("__c").cast(d12) * col("__c").cast(d12)
        * col("__c").cast(d12) - col("__c").cast(d12))).as("__tc"),
      sum(col("__c")).as("__n"))
    val perGrp = counts.join(r2, "v")
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast(d19) * col("__r2").cast(d19)).as("s2"))
    (perGrp, tot)
  }

  def kruskalWallisFromCounts(counts: DataFrame): DataFrame = {
    val d12 = DecimalType(12, 0)
    val (perGrp0, tot0) = kwRankStats(counts)
    // q141's pivot guard: a 6th type's values WOULD enter the combined
    // ranking but its group would silently vanish from the H fold
    val perGrp = anovaDomainGuard(perGrp0, "q142")
    val tot = tot0.select(col("__tc")) // N re-derives from the pivot
    val one = perGrp.groupBy().pivot("event_type", AnovaTypes)
      .agg(first(col("n")).as("n"), first(col("s2")).as("s2"))
      .crossJoin(broadcast(tot))
    def nT(t: String): Column = col(s"${t}_n").cast("double")
    // R_g = the doubled rank-sum halved LAST: s2 is integer-valued and
    // < 2⁵² as a double, so the halving is exact
    def rT(t: String): Column = asDouble(col(s"${t}_s2")) / lit(2.0)
    val k = lit(AnovaTypes.size.toDouble)
    val nTot = AnovaTypes.map(nT).reduce(_ + _)
    val sumTerm = AnovaTypes.map(t => rT(t) * rT(t) / nT(t)).reduce(_ + _)
    val h = lit(12.0) / (nTot * (nTot + lit(1.0))) * sumTerm -
      lit(3.0) * (nTot + lit(1.0))
    val nTotL = AnovaTypes.map(t => col(s"${t}_n")).reduce(_ + _)
    val n3 = asDouble(nTotL.cast(d12) * nTotL.cast(d12) * nTotL.cast(d12) -
      nTotL.cast(d12))
    val denom = lit(1.0) - col("__tc") / n3
    val degen = !(denom > lit(0.0)) || !(nTot > k)
    val nullD = lit(null).cast("double")
    one.select(nTotL.as("n_total"),
      when(degen, nullD).otherwise(h).as("h_stat"),
      when(degen, nullD).otherwise(h / denom).as("h_corrected"),
      when(degen, nullD)
        .otherwise((h / denom - k + lit(1.0)) / (nTot - k)).as("epsilon_sq"),
      when(degen, lit(null).cast("boolean"))
        .otherwise(h / denom > lit(9.4877)).as("significant"))
  }

  val q142_kruskal_wallis: Q = (s, dir) =>
    kruskalWallisFromCounts(kwCounts(t(s, dir, "events")))

  def q142_sql: String = {
    val subs = AnovaTypes.map { t =>
      s"""    (SELECT CAST(n AS BIGINT) FROM s WHERE grp = '$t')
         |      AS n_$t,
         |    (SELECT ${asDoubleSql("s2")} FROM s WHERE grp = '$t') AS s2_$t""".stripMargin
    }.mkString(",\n")
    val nT = AnovaTypes.map(t => s"CAST(n_$t AS DOUBLE)")
    val rT = AnovaTypes.map(t => s"(s2_$t / 2.0)")
    val nTotD = nT.mkString(" + ")
    val sumTerm = AnovaTypes.indices
      .map(i => s"${rT(i)} * ${rT(i)} / ${nT(i)}").mkString(" + ")
    val nTotL = AnovaTypes.map(t => s"n_$t").mkString(" + ")
    val c3 = "CAST(cv AS DECIMAL(12,0))"
    val m3 = "CAST(n_total AS DECIMAL(12,0))"
    s"""WITH e AS (SELECT event_type AS grp, value AS v
       |  FROM events WHERE value IS NOT NULL),
       |g AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM e GROUP BY 1, 2),
       |vc AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM g GROUP BY v),
       |r AS (SELECT v, CAST(2 * COALESCE(SUM(cv) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    + cv + 1 AS BIGINT) AS r2 FROM vc),
       |s AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
       |    SUM(CAST(c AS DECIMAL(19,0)) * CAST(r2 AS DECIMAL(19,0))) AS s2
       |  FROM g JOIN r USING (v) GROUP BY grp
       |  HAVING ${anovaDomainGuardSql("q142", "grp")}),
       |tcv AS (SELECT ${asDoubleSql(s"SUM($c3 * $c3 * $c3 - $c3)")} AS tc FROM vc),
       |m AS (SELECT
       |$subs,
       |    (SELECT tc FROM tcv) AS tc),
       |w AS (SELECT CAST($nTotL AS BIGINT) AS n_total,
       |    ($nTotD) AS ntd,
       |    ($sumTerm) AS sumterm,
       |    tc FROM m),
       |w2 AS (SELECT n_total, ntd, tc,
       |    12.0 / (ntd * (ntd + 1.0)) * sumterm - 3.0 * (ntd + 1.0) AS h,
       |    ${asDoubleSql(s"$m3 * $m3 * $m3 - $m3")} AS n3
       |  FROM w),
       |w3 AS (SELECT n_total, ntd, h, 1.0 - tc / n3 AS denom FROM w2)
       |SELECT n_total,
       |  CASE WHEN NOT (denom > 0.0) OR NOT (ntd > 5.0) THEN NULL
       |       ELSE h END AS h_stat,
       |  CASE WHEN NOT (denom > 0.0) OR NOT (ntd > 5.0) THEN NULL
       |       ELSE h / denom END AS h_corrected,
       |  CASE WHEN NOT (denom > 0.0) OR NOT (ntd > 5.0) THEN NULL
       |       ELSE (h / denom - 5.0 + 1.0) / (ntd - 5.0) END AS epsilon_sq,
       |  CASE WHEN NOT (denom > 0.0) OR NOT (ntd > 5.0) THEN NULL
       |       ELSE (h / denom) > 9.4877E0 END AS significant
       |FROM w3""".stripMargin
  }

  /** q146: Dunn's post-hoc test — the pairwise follow-up a
    * significant q142 omnibus REQUIRES before anyone acts on it (H
    * says "some arm differs", never which; re-running q137 on each
    * pair uses the wrong variance and no correction). For each of the
    * C(5,2) = 10 event-type pairs: z = (R̄ᵢ − R̄ⱼ) /
    * √(σ²(1/nᵢ + 1/nⱼ)) with the POOLED tie-corrected variance σ² =
    * N(N+1)/12 − Σ(t³−t)/(12(N−1)) over the COMBINED ranks — the same
    * exact per-group doubled rank-sums and tie total as q142
    * ([[kwRankStats]], one definition, two consumers). The Bonferroni
    * gate is Dunn's original: |z| ≥ Φ⁻¹(1 − α/(2m)) = 2.807034 at
    * α = 0.05, m = 10 — a domain constant, no erf (the q143
    * z-scale trick). All inputs exact integers string-crossed; z is
    * fixed-order IEEE — bit-identical cross-engine, verdict included.
    * The pair join is a ≤5-row theta self-join (the q138 grid bound);
    * an all-tied corpus (σ² ≤ 0) or N ≤ 1 yields NULLs.
    */
  /** The pairwise report derived from an (event_type, v, c) count
    * frame — [[kwCounts]]'s shape, so the same streamed fold that
    * maintains q142 serves the post-hoc at read time (scalacheck pins
    * the z against brute-force pooled-variance ranks).
    */
  def dunnFromCounts(counts: DataFrame): DataFrame = {
    val (perGrp, tot) = kwRankStats(counts)
    val a = perGrp.select(col("event_type").as("grp_a"),
      col("n").as("n_a"), col("s2").as("__s2a"))
    val b = perGrp.select(col("event_type").as("grp_b"),
      col("n").as("n_b"), col("s2").as("__s2b"))
    val pairs = a.join(b, col("grp_a") < col("grp_b"))
      .crossJoin(broadcast(tot))
    val nd = col("__n").cast("double")
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val rbarA = asDouble(col("__s2a")) / lit(2.0) / na
    val rbarB = asDouble(col("__s2b")) / lit(2.0) / nb
    val sig2 = nd * (nd + lit(1.0)) / lit(12.0) -
      col("__tc") / (lit(12.0) * (nd - lit(1.0)))
    val z = (rbarA - rbarB) / sqrt(sig2 * (lit(1.0) / na + lit(1.0) / nb))
    val degen = !(sig2 > lit(0.0)) || !(nd > lit(1.0))
    pairs.select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
      when(degen, lit(null).cast("double")).otherwise(z).as("z_dunn"),
      when(degen, lit(null).cast("boolean"))
        .otherwise(abs(z) > lit(2.807034)).as("significant"))
  }

  val q146_dunn_posthoc: Q = (s, dir) =>
    dunnFromCounts(kwCounts(t(s, dir, "events")))

  def q146_sql: String = {
    val c3 = "CAST(cv AS DECIMAL(12,0))"
    val sig2 = "(nd * (nd + 1.0) / 12.0 - tc / (12.0 * (nd - 1.0)))"
    val z = "((rbar_a - rbar_b) / sqrt" +
      s"($sig2 * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))))"
    val degen = s"(NOT ($sig2 > 0.0) OR NOT (nd > 1.0))"
    s"""WITH e AS (SELECT event_type AS grp, value AS v
       |  FROM events WHERE value IS NOT NULL),
       |g AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM e GROUP BY 1, 2),
       |vc AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM g GROUP BY v),
       |r AS (SELECT v, CAST(2 * COALESCE(SUM(cv) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    + cv + 1 AS BIGINT) AS r2 FROM vc),
       |s AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
       |    SUM(CAST(c AS DECIMAL(19,0)) * CAST(r2 AS DECIMAL(19,0))) AS s2
       |  FROM g JOIN r USING (v) GROUP BY grp),
       |tot AS (SELECT ${asDoubleSql(s"SUM($c3 * $c3 * $c3 - $c3)")} AS tc,
       |    CAST(SUM(cv) AS BIGINT) AS n_total FROM vc),
       |p AS (SELECT a.grp AS grp_a, b.grp AS grp_b,
       |    a.n AS n_a, b.n AS n_b,
       |    ${asDoubleSql("a.s2")} / 2.0 / CAST(a.n AS DOUBLE) AS rbar_a,
       |    ${asDoubleSql("b.s2")} / 2.0 / CAST(b.n AS DOUBLE) AS rbar_b
       |  FROM s a JOIN s b ON a.grp < b.grp),
       |w AS (SELECT grp_a, grp_b, n_a, n_b, rbar_a, rbar_b,
       |    CAST(n_total AS DOUBLE) AS nd, tc
       |  FROM p CROSS JOIN tot)
       |SELECT grp_a, grp_b, n_a, n_b,
       |  CASE WHEN $degen THEN NULL ELSE $z END AS z_dunn,
       |  CASE WHEN $degen THEN NULL
       |       ELSE abs($z) > 2.807034E0 END AS significant
       |FROM w""".stripMargin
  }

  // -------------------------------------------- rank correlation

  /** The two-level exclusive prefix itself, stated ONCE (t16's
    * offsets, q121/q128's AUCs, q131's ranks, q132's Lorenz
    * cumulatives, q135's CDFs and the drift dashboard all derive from
    * it): for each row of `g`, each measure's sum over all rows
    * strictly earlier in `order` — per-bucket subtotals, an exclusive
    * prefix over the bucket frame, and a within-bucket exclusive
    * running sum, joined back broadcast. `bucket` must be monotone in
    * `order`. Callers materialize `g` if they consume it again.
    * Scalacheck-pinned through [[rank2Frame]] and directly per group.
    *
    * With `by` keys the prefix restarts per group: the bucket prefix is
    * partitioned by `by`, and the within-bucket sum and the join back
    * are keyed on `by :+ bucket`. Without them the bucket prefix is the
    * only constant-key window, bounded by the bucket domain at any
    * corpus size; its key is constant-valued but non-foldable
    * (pmod(bucket, 1) = 0), because a literal would be folded away and
    * leave a genuinely unpartitioned window — this keeps the intent
    * visible to WindowExec and to PlanLintSpec's scale lint.
    */
  private[graft] def exclusivePrefix(
      g: DataFrame, order: String, bucket: String,
      measures: Seq[(String, String)], by: Seq[String] = Nil): DataFrame = {
    val keys = (by :+ bucket).map(col)
    val wB = (if (by.isEmpty) Window.partitionBy(pmod(col(bucket), lit(1)))
        else Window.partitionBy(by.map(col): _*))
      .orderBy(col(bucket))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bAgg = g.groupBy(keys: _*).agg(
      sum(col(measures.head._2)).as(s"__b${measures.head._1}"),
      measures.tail.map { case (o, i) => sum(col(i)).as(s"__b$o") }: _*)
    val pref = bAgg.select(
      keys ++ measures.map { case (o, _) =>
        coalesce(sum(col(s"__b$o")).over(wB), lit(0L)).as(s"__s$o")
      }: _*)
    val wIn = Window.partitionBy(keys: _*).orderBy(col(order))
      .rowsBetween(Window.unboundedPreceding, -1)
    measures.foldLeft(g.join(broadcast(pref), by :+ bucket)) {
      case (df, (o, i)) =>
        df.withColumn(o,
          col(s"__s$o") + coalesce(sum(col(i)).over(wIn), lit(0L)))
    }.drop(measures.map(m => s"__s${m._1}"): _*)
  }

  /** Exact average ranks (doubled, so ties' half-ranks stay BIGINT)
    * for one numeric column, scale-safely: collapse to the
    * distinct-value frame (one keyed aggregate, map-side combined),
    * then [[exclusivePrefix]] over it — the constant-key bucket window
    * touches only ~range/step rows at ANY corpus size — plus the
    * value's own count. 2·avgrank(v) = 2·N₍₌₎(v) is exact integer
    * arithmetic end to end.
    */
  private[graft] def rank2Frame(
      pairs: DataFrame, v: String, bucketStep: Double): DataFrame = {
    // NULLs must never reach the window ordering: Spark's groupBy keeps
    // a NULL group and its ASC windows sort NULLs FIRST (the null
    // group's count would shift every non-null exclusive prefix), while
    // the DuckDB oracles sort NULLs LAST. The equi-join back to the
    // pair frame drops NULL keys anyway, so filtering here changes no
    // joined result — it only removes the cross-engine rank hazard.
    val g = Materialize(pairs.where(col(v).isNotNull) // prefix AND the join
      .groupBy(col(v)).agg(count(lit(1)).as("__c"))
      .withColumn("__bucket",
        floor(col(v).cast("double") / lit(bucketStep)))).df
    exclusivePrefix(g, v, "__bucket", Seq("__exc" -> "__c"))
      .select(col(v),
        (lit(2L) * col("__exc") + col("__c") + lit(1L)).as("__r2"))
  }

  /** q131: Spearman rank correlation — the feature-screening step of
    * a training pipeline (does this candidate feature move
    * MONOTONICALLY with the label?), which Pearson misses whenever
    * the relation is nonlinear and a global sort makes naive at
    * corpus scale. Ranks are exact average ranks with tie
    * correction, computed WITHOUT a global sort (the q121 two-level
    * prefix over the distinct-value frame); doubled ranks keep the
    * tie half-steps in BIGINT. ρ is then Pearson over the integer
    * rank pairs: DECIMAL(19,0)×DECIMAL(19,0) products sum exactly as
    * DECIMAL(38,0) in both engines (the q121 numerator rule, exact
    * to ~2.9e12 rows), sums cross to double through a STRING cast
    * (the q47 rule — single correctly-rounded conversion in both
    * engines), and the final formula is fixed-order IEEE arithmetic
    * ending in a correctly-rounded sqrt — bit-identical across
    * engines. Output boundary: STRING + BIGINT + DOUBLE only (the
    * round-11 driver-hash policy). The oracle replays the identical
    * rank definition through DuckDB's naive global window — same
    * exact integers, independent plan.
    */
  val q131_spearman: Q = (s, dir) => {
    val d19 = DecimalType(19, 0)
    val li = t(s, dir, "lineitem")
    val features = Seq( // (report name, column, rank bucket step)
      ("l_quantity", 8.0), ("l_discount", 0.01))
    // the label's rank frame is feature-independent: build it ONCE
    val ry = rank2Frame(
      li.select(col("l_extendedprice").as("__y")), "__y",
      bucketStep = 1024.0).withColumnRenamed("__r2", "__b")
    // ONE ranked corpus pass for ALL features (r17 verdict: the former
    // per-feature branches each re-ran the corpus-sized y-rank join
    // and re-scanned lineitem — a corpus-key shuffle and a scan per
    // feature). The label rank attaches once; each feature's rank
    // frame LEFT-attaches (a NULL feature value matches no rank row —
    // exactly the rows the former per-branch inner join dropped, so
    // the per-feature row set is unchanged); both features' sums fold
    // into one conditional aggregate. The sums are exact DECIMAL —
    // order-independent — so every output is bit-identical to the
    // per-branch formulation, and the oracle still replays the
    // per-branch SQL.
    val base = li.select(
      col("l_extendedprice").as("__y") +:
        features.zipWithIndex.map { case ((x, _), i) =>
          col(x).as(s"__x$i") }: _*)
    val joined = features.zipWithIndex.foldLeft(base.join(ry, "__y")) {
      case (acc, ((x, step), i)) =>
        acc.join(
          rank2Frame(li.select(col(x).as(s"__x$i")), s"__x$i", step)
            .withColumnRenamed("__r2", s"__a$i"),
          Seq(s"__x$i"), "left")
    }
    val aggs = features.indices.flatMap { i =>
      val a = col(s"__a$i").cast(d19)
      val b = col("__b").cast(d19)
      Seq(count(col(s"__a$i")).as(s"__n$i"),
        asDouble(sum(a)).as(s"__sa$i"),
        asDouble(sum(when(col(s"__a$i").isNotNull, b))).as(s"__sb$i"),
        asDouble(sum(a * b)).as(s"__sab$i"),
        asDouble(sum(a * a)).as(s"__saa$i"),
        asDouble(sum(when(col(s"__a$i").isNotNull, b * b))).as(s"__sbb$i"))
    }
    val m = joined.agg(aggs.head, aggs.tail: _*)
    val rows = features.zipWithIndex.map { case ((x, _), i) =>
      val n = col(s"__n$i").cast("double")
      val cov = n * col(s"__sab$i") - col(s"__sa$i") * col(s"__sb$i")
      val vx = n * col(s"__saa$i") - col(s"__sa$i") * col(s"__sa$i")
      val vy = n * col(s"__sbb$i") - col(s"__sb$i") * col(s"__sb$i")
      struct(lit(x).as("feature"), col(s"__n$i").as("n_pairs"),
        when(vx <= 0 || vy <= 0, lit(null).cast("double"))
          .otherwise(cov / sqrt(vx * vy)).as("rho"))
    }
    m.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.feature"), col("__r.n_pairs"), col("__r.rho"))
  }

  private def q131BranchSql(x: String): String =
    s"""SELECT '$x' AS feature, CAST(n AS BIGINT) AS n_pairs,
       |  CASE WHEN CAST(n AS DOUBLE) * saa - sa * sa <= 0
       |         OR CAST(n AS DOUBLE) * sbb - sb * sb <= 0 THEN NULL
       |       ELSE (CAST(n AS DOUBLE) * sab - sa * sb)
       |         / sqrt((CAST(n AS DOUBLE) * saa - sa * sa)
       |              * (CAST(n AS DOUBLE) * sbb - sb * sb)) END AS rho
       |FROM (
       |  WITH p AS (SELECT $x AS x, l_extendedprice AS y FROM lineitem),
       |  gx AS (SELECT x, COUNT(*) AS c FROM p
       |         WHERE x IS NOT NULL GROUP BY x),
       |  rx AS (SELECT x, CAST(2 * COALESCE(SUM(c) OVER
       |      (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) + c + 1 AS BIGINT) AS a FROM gx),
       |  gy AS (SELECT y, COUNT(*) AS c FROM p
       |         WHERE y IS NOT NULL GROUP BY y),
       |  ry AS (SELECT y, CAST(2 * COALESCE(SUM(c) OVER
       |      (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) + c + 1 AS BIGINT) AS b FROM gy),
       |  j AS (SELECT a, b FROM p JOIN rx USING (x) JOIN ry USING (y))
       |  SELECT COUNT(*) AS n,
       |    CAST(CAST(SUM(CAST(a AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
       |      AS sa,
       |    CAST(CAST(SUM(CAST(b AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
       |      AS sb,
       |    CAST(CAST(SUM(CAST(a AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0)))
       |      AS VARCHAR) AS DOUBLE) AS sab,
       |    CAST(CAST(SUM(CAST(a AS DECIMAL(19,0)) * CAST(a AS DECIMAL(19,0)))
       |      AS VARCHAR) AS DOUBLE) AS saa,
       |    CAST(CAST(SUM(CAST(b AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0)))
       |      AS VARCHAR) AS DOUBLE) AS sbb
       |  FROM j)""".stripMargin

  def q131_sql: String =
    Seq("l_quantity", "l_discount").map(q131BranchSql)
      .mkString("", "\nUNION ALL\n", "")

  // --------------------------------------- corpus concentration

  /** q132: Lorenz curve + Gini of the per-document token distribution
    * — the corpus-concentration QA every mixture decision consults
    * (is the token mass dominated by a few giant documents, or spread
    * evenly? a high Gini means dedup/quota decisions act on a heavy
    * tail). One row per DISTINCT token count — the report is bounded
    * by the doc-length domain, never the corpus size — carrying the
    * cumulative document count, the cumulative token share (the
    * Lorenz curve at value granularity), and the corpus Gini repeated
    * per row (the q122 total-on-every-row shape).
    *
    * Exactness: with tied values average-ranked, 2·Σᵢ i·xᵢ =
    * Σ_v v·c·(2·N₍₌₎ + c + 1), all integers; the per-value products
    * stay in BIGINT while v·c < 2⁶³ (v ≤ 10⁶ tokens/doc, c ≤ 10¹²
    * docs — documented bound), and the corpus sum runs as
    * DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0) (the q121 rule).
    * G = num/(n·S) − (n+1)/n and the shares are then fixed-order IEEE
    * divisions of exact integers (decimals cross to double via the
    * q47 string cast) — bit-identical across engines. Prefixes run as
    * the two-level bucket prefix over the distinct-count frame, so
    * the only constant-key window touches ~max_doclen/64 rows at any
    * corpus size.
    */
  val q132_token_gini: Q = (s, dir) => {
    val d19 = DecimalType(19, 0)
    val g = Materialize(t(s, dir, "documents") // bucket prefix AND the join
      .select(size(graft.text.TextAnalysis.tokens(col("text")))
        .cast("long").as("n_tokens"))
      .groupBy(col("n_tokens")).agg(count(lit(1)).as("n_docs"))
      .withColumn("__w", col("n_tokens") * col("n_docs"))
      .withColumn("__bucket",
        floor(col("n_tokens").cast("double") / lit(64.0)))).df
    // consumed by the totals AND the output
    val p = Materialize(exclusivePrefix(g, "n_tokens", "__bucket",
        Seq("__exc" -> "n_docs", "__exw" -> "__w"))
      .select(col("n_tokens"), col("n_docs"), col("__exc"), col("__exw"))).df
    val tot = p.agg(
      sum(col("n_docs")).as("__n"),
      sum(col("n_tokens") * col("n_docs")).as("__s"),
      asDouble(sum((col("n_tokens") * col("n_docs")).cast(d19) *
        (lit(2L) * col("__exc") + col("n_docs") + lit(1L)).cast(d19)))
        .as("__num"))
    val nD = col("__n").cast("double")
    val sD = col("__s").cast("double")
    p.crossJoin(broadcast(tot))
      .select(col("n_tokens"), col("n_docs"),
        (col("__exc") + col("n_docs")).as("cum_docs"),
        ((col("__exw") + col("n_tokens") * col("n_docs")).cast("double")
          / sD).as("cum_token_share"),
        (col("__num") / (nD * sD) - (nD + lit(1.0)) / nD).as("gini"))
  }

  def q132_sql: String = {
    val toksSql = graft.queries.Corpus.toksSqlPublic
    s"""WITH t AS (SELECT CAST(len($toksSql) AS BIGINT) AS n_tokens
       |           FROM documents),
       |g AS (SELECT n_tokens, COUNT(*) AS n_docs FROM t GROUP BY n_tokens),
       |p AS (SELECT n_tokens, CAST(n_docs AS BIGINT) AS n_docs,
       |    CAST(COALESCE(SUM(n_docs) OVER w, 0) AS BIGINT) AS exc,
       |    CAST(COALESCE(SUM(n_tokens * n_docs) OVER w, 0) AS BIGINT) AS exw
       |  FROM g WINDOW w AS (ORDER BY n_tokens
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
       |    CAST(SUM(n_tokens * n_docs) AS BIGINT) AS s,
       |    CAST(CAST(SUM(CAST(n_tokens * n_docs AS DECIMAL(19,0))
       |      * CAST(2 * exc + n_docs + 1 AS DECIMAL(19,0)))
       |      AS VARCHAR) AS DOUBLE) AS num
       |  FROM p)
       |SELECT n_tokens, n_docs,
       |  CAST(exc + n_docs AS BIGINT) AS cum_docs,
       |  CAST(exw + n_tokens * n_docs AS DOUBLE) / CAST(s AS DOUBLE)
       |    AS cum_token_share,
       |  num / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
       |    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
       |FROM p CROSS JOIN tot""".stripMargin
  }

  // ----------------------------------------------- bootstrap CI

  /** Cumulative Poisson(1) thresholds scaled to the 60-bit hash
    * domain: doc i's multiplicity in replicate b is the k with
    * F(k−1) ≤ h/2⁶⁰ < F(k), realized as exact integer compares
    * against these GENERATION-TIME literals (the PortableMath
    * s·ln10 precedent) — no runtime transcendental on either engine.
    * The k>8 tail (mass < 1e-6) collapses into k=8 deterministically.
    */
  private val poissonThresholds60: Seq[Long] = {
    val e1 = math.exp(-1.0)
    val fact = Seq(1.0, 1.0, 2.0, 6.0, 24.0, 120.0, 720.0, 5040.0)
    fact.scanLeft(0.0)((cum, f) => cum + e1 / f).tail // F(0)..F(7)
      .map(f => math.floor(f * math.pow(2.0, 60)).toLong)
  }

  /** q133: deterministic Poisson-bootstrap confidence interval for a
    * corpus statistic (mean tokens per document) — the error bar a
    * release report puts next to every headline number. Classic
    * with-replacement resampling needs a global multinomial draw; the
    * Poisson bootstrap (each doc enters replicate b with multiplicity
    * ~ Poisson(1)) is its scale-form — embarrassingly parallel, one
    * map-side-combined aggregate per replicate — and made
    * REPRODUCIBLE here by deriving the multiplicity from
    * hash64(doc_id:b) (the t28 md5-prefix parity, identical in both
    * engines) compared against precomputed integer thresholds.
    * Output: one row per replicate (B = 64) with its effective count
    * and mean, plus the point estimate and the nearest-rank
    * 2.5%/97.5% percentile CI repeated per row (the q122
    * total-on-every-row shape). Replicate means are IEEE divisions of
    * exact integer sums (string-crossed), so the cross-engine rank
    * order — and therefore the CI — is bit-stable; the only windows
    * run over the B-row replicate frame (constant-key, 64 rows by
    * construction at any corpus size). Exactness bound: Σ m·x per
    * replicate stays in DECIMAL(29,0) via DECIMAL(19,0) casts.
    */
  val q133_bootstrap_ci: Q = (s, dir) => {
    val d19 = DecimalType(19, 0)
    val reps = 64
    val mult = {
      val h = graft.functions.KmvSketch.hash64(
        concat_ws(":", col("doc_id"), col("b")))
      poissonThresholds60.zipWithIndex.reverse
        .foldLeft(lit(8L)) { case (els, (thr, k)) =>
          when(h < lit(thr), lit(k.toLong)).otherwise(els)
        }
    }
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        size(graft.text.TextAnalysis.tokens(col("text")))
          .cast("long").as("__x"))
    val base = docs.agg(count(lit(1)).as("n_docs"),
      (asDouble(sum(col("__x").cast(d19))) / count(lit(1)).cast("double"))
        .as("mean"))
    val repMeans = Materialize(docs // consumed by the rank frame AND the output
      .select(col("doc_id"), col("__x"),
        explode(sequence(lit(0L), lit(reps - 1L))).as("b"))
      .withColumn("__m", mult)
      .groupBy(col("b"))
      .agg(sum(col("__m")).as("n_eff"),
        (asDouble(sum((col("__m") * col("__x")).cast(d19)))
          / sum(col("__m")).cast("double")).as("mean_b"))).df
    val wR = Window.partitionBy(pmod(col("b"), lit(1))) // deliberate: 64 rows
      // NULLS LAST explicitly: a replicate whose Poisson multiplicities
      // are all zero (P = e^-n per replicate — degenerate corpora only)
      // has n_eff=0 and a NULL mean_b; Spark's ASC default is NULLS
      // FIRST while DuckDB's is NULLS LAST, so without this the
      // rank-2/rank-63 CI picks diverge cross-engine exactly when the
      // degenerate case fires.
      .orderBy(col("mean_b").asc_nulls_last, col("b").asc)
    val ci = repMeans
      .withColumn("__r", row_number().over(wR))
      .agg( // nearest-rank percentiles: ceil(0.025·64)=2, ceil(0.975·64)=63
        max(when(col("__r") === 2, col("mean_b"))).as("ci_lo"),
        max(when(col("__r") === 63, col("mean_b"))).as("ci_hi"))
    repMeans.crossJoin(broadcast(base)).crossJoin(broadcast(ci))
      .select(col("b"), col("n_eff"), col("mean_b"),
        col("n_docs"), col("mean"), col("ci_lo"), col("ci_hi"))
  }

  def q133_sql: String = {
    val toksSql = graft.queries.Corpus.toksSqlPublic
    val caseSql = poissonThresholds60.zipWithIndex
      .map { case (thr, k) => s"WHEN h < $thr THEN $k" }
      .mkString("CASE ", " ", " ELSE 8 END")
    s"""WITH docs AS (SELECT doc_id,
       |    CAST(len($toksSql) AS BIGINT) AS x FROM documents),
       |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(CAST(SUM(CAST(x AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS mean
       |  FROM docs),
       |e AS (SELECT doc_id, x, unnest(generate_series(0, 63)) AS b
       |      FROM docs),
       |h AS (SELECT b, x,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || b::VARCHAR), 1, 15))
       |      ::BIGINT AS h
       |  FROM e),
       |m AS (SELECT b, x, $caseSql AS m FROM h),
       |r AS (SELECT CAST(b AS BIGINT) AS b, CAST(SUM(m) AS BIGINT) AS n_eff,
       |    CAST(CAST(SUM(CAST(m * x AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
       |      / CAST(SUM(m) AS DOUBLE) AS mean_b
       |  FROM m GROUP BY b),
       |rk AS (SELECT *, ROW_NUMBER() OVER
       |         (ORDER BY mean_b ASC NULLS LAST, b ASC) AS rn FROM r),
       |ci AS (SELECT MAX(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
       |    MAX(CASE WHEN rn = 63 THEN mean_b END) AS ci_hi FROM rk)
       |SELECT b, n_eff, mean_b, n_docs, mean, ci_lo, ci_hi
       |FROM r CROSS JOIN base CROSS JOIN ci""".stripMargin
  }

  // ------------------------------------- vocabulary projection

  /** q134: vocabulary-richness projection — Chao1 (V + F₁²/(2F₂), the
    * abundance-based lower bound on the unseen-inclusive vocabulary)
    * and the Good–Turing unseen-mass estimate (F₁/N, the probability
    * the NEXT token is a new type) from the corpus frequency-of-
    * frequencies. Together they answer the scaling question every
    * tokenizer/vocab decision needs: how much vocabulary is this
    * corpus still hiding? t41's Heaps fit extrapolates the growth
    * CURVE; this is the closed-form abundance estimate from one
    * snapshot. Two keyed aggregates (token counts → count-of-counts),
    * both map-side combined; every statistic is an exact integer
    * until the two final fixed-order IEEE divisions, so the report is
    * bit-identical across engines with no quantization needed. The
    * F₂=0 degenerate case uses the standard (F₁(F₁−1))/2 fallback,
    * guarded identically on both sides by exact integer compares.
    */
  val q134_vocab_richness: Q = (s, dir) => {
    val counts = t(s, dir, "documents")
      .select(explode(graft.text.TextAnalysis.tokens(col("text")))
        .as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("__c"))
    val m = counts.agg(
      count(lit(1)).as("n_types"),
      sum(col("__c")).as("n_tokens"),
      sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("f1"),
      sum(when(col("__c") === 2L, 1L).otherwise(0L)).as("f2"))
    val f1 = col("f1").cast("double")
    val f2 = col("f2").cast("double")
    m.select(col("n_types"), col("n_tokens"), col("f1"), col("f2"),
      (col("n_types").cast("double") +
        when(col("f2") > 0L, f1 * f1 / (lit(2.0) * f2))
          .otherwise(f1 * (f1 - lit(1.0)) / lit(2.0))).as("chao1"),
      (f1 / asDouble(col("n_tokens"))).as("gt_unseen_mass"))
  }

  def q134_sql: String = {
    val toksSql = graft.queries.Corpus.toksSqlPublic
    s"""WITH t AS (SELECT unnest($toksSql) AS token FROM documents),
       |g AS (SELECT token, COUNT(*) AS c FROM t GROUP BY token),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
       |    CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
       |  FROM g)
       |SELECT n_types, n_tokens, f1, f2,
       |  CAST(n_types AS DOUBLE) + CASE WHEN f2 > 0
       |    THEN CAST(f1 AS DOUBLE) * CAST(f1 AS DOUBLE)
       |         / (2.0 * CAST(f2 AS DOUBLE))
       |    ELSE CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0) / 2.0 END
       |    AS chao1,
       |  CAST(f1 AS DOUBLE) / CAST(CAST(n_tokens AS VARCHAR) AS DOUBLE)
       |    AS gt_unseen_mass
       |FROM m""".stripMargin
  }

  // ------------------------------------------------- KS drift test

  /** q135: two-sample Kolmogorov–Smirnov drift test — q122's PSI
    * companion on the SAME reference/current split: PSI reports a
    * binned divergence magnitude, KS tests the raw (unbinned)
    * distributions with a significance threshold, catching shifts
    * that fall between PSI's bin edges. The statistic is exact by
    * construction: D = max over distinct values of
    * |cumRef·N_cur − cumCur·N_ref| / (N_ref·N_cur), with the
    * numerator kept as DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0)
    * integers (the q121 rule) so the max — the order statistic the
    * test hinges on — is computed over exact values, never floats;
    * only the final ratio and the asymptotic critical value
    * c(0.05)·√((n+m)/(nm)) are fixed-order IEEE (sqrt is a correctly
    * rounded op). Cumulatives run as the two-level bucket prefix
    * over the distinct-value frame (the q122 bin geometry bounds the
    * constant-key window at any corpus size); one scan, two keyed
    * aggregates, one max.
    */
  /** The additive per-value (ref, cur) counts q135 derives from —
    * one row per distinct value, summable across micro-batches, so
    * the streaming twin folds per-batch partials of this exact shape
    * ([[graft.streaming.StreamingIngest.ksDriftStream]]).
    */
  /** Shared KS tail over an aggregated frame carrying n_ref, n_cur,
    * and a string-crossed `__maxdiff` — (d_stat, critical, flag), ONE
    * definition for q135 and q139. One-sided data (n_ref or n_cur =
    * 0) must yield NULL, not IEEE debris: Spark would compute d_stat
    * = 0/0 = NaN and crit = ∞ with `NaN > ∞` = TRUE (NaN sorts last),
    * while DuckDB's 0.0/0.0 is NULL — a silent cross-engine flip plus
    * a spurious "drift detected" on exactly the slice a dashboard
    * must not mis-report.
    */
  private def ksTail: (Column, Column, Column) = {
    val nr = col("n_ref").cast("double")
    val nc = col("n_cur").cast("double")
    val degen = col("n_ref") === 0 || col("n_cur") === 0
    val dStat = col("__maxdiff") / (nr * nc)
    val crit = lit(1.3581) * sqrt((nr + nc) / (nr * nc)) // c(α=0.05)
    (when(degen, lit(null).cast("double")).otherwise(dStat),
      when(degen, lit(null).cast("double")).otherwise(crit),
      when(degen, lit(null).cast("boolean")).otherwise(dStat > crit))
  }

  /** The same three KS outputs as SQL snippets (the dialect half of
    * [[ksTail]]); `maxdiff` is the caller's already-crossed DOUBLE
    * expression.
    */
  private def ksSqlSnippets(maxdiff: String): (String, String, String) = {
    val nr = "CAST(n_ref AS DOUBLE)"
    val nc = "CAST(n_cur AS DOUBLE)"
    val dStat = s"($maxdiff / ($nr * $nc))"
    val crit = s"(1.3581E0 * sqrt(($nr + $nc) / ($nr * $nc)))"
    val degen = "(n_ref = 0 OR n_cur = 0)"
    (s"CASE WHEN $degen THEN NULL ELSE $dStat END",
      s"CASE WHEN $degen THEN NULL ELSE $crit END",
      s"CASE WHEN $degen THEN NULL ELSE $dStat > $crit END")
  }

  /** Shared Mann–Whitney tail over an aggregated frame carrying
    * n_ref, n_cur, `__r1x2` (doubled ref rank-sum, string-crossed)
    * and `__tc` (Σ t³−t, string-crossed) — (u_stat, z_score, flag),
    * ONE definition for q137 and q139: a fix to the tie correction or
    * the threshold applied to one copy but not the other would be a
    * silent q137-vs-q139 disagreement.
    */
  private def mwTail: (Column, Column, Column) = {
    val nr = col("n_ref").cast("double")
    val nc = col("n_cur").cast("double")
    val n = nr + nc
    // __r1x2 is the DOUBLED ref rank-sum, so 2·R1 − n1(n1+1) = 2·U1:
    // halving last keeps every prior step exact-integer-valued
    val u = (col("__r1x2") - nr * (nr + lit(1.0))) / lit(2.0)
    val varU = nr * nc / lit(12.0) *
      ((n + lit(1.0)) - col("__tc") / (n * (n - lit(1.0))))
    val z = (u - nr * nc / lit(2.0)) / sqrt(varU)
    val degen =
      col("n_ref") === 0 || col("n_cur") === 0 || varU <= lit(0.0)
    (u, when(degen, lit(null).cast("double")).otherwise(z),
      when(degen, lit(null).cast("boolean"))
        .otherwise(abs(z) > lit(1.959964)))
  }

  /** The same three rank-sum outputs as SQL snippets over columns
    * named r1x2 / tc / n_ref / n_cur (the dialect half of [[mwTail]]).
    */
  private def mwSqlSnippets: (String, String, String) = {
    val nr = "CAST(n_ref AS DOUBLE)"
    val nc = "CAST(n_cur AS DOUBLE)"
    val n = s"($nr + $nc)"
    val u = s"((r1x2 - $nr * ($nr + 1.0)) / 2.0)"
    val varU = s"($nr * $nc / 12.0 * (($n + 1.0) - tc / ($n * ($n - 1.0))))"
    val z = s"(($u - $nr * $nc / 2.0) / sqrt($varU))"
    val degen = s"(n_ref = 0 OR n_cur = 0 OR $varU <= 0.0)"
    (u, s"CASE WHEN $degen THEN NULL ELSE $z END",
      s"CASE WHEN $degen THEN NULL ELSE abs($z) > 1.959964E0 END")
  }

  def ksValueCounts(events: DataFrame): DataFrame = {
    val split = driftSplit
    events
      // a NULL value has no place in a CDF; see rank2Frame on why NULL
      // keys must not reach the prefix windows (Spark NULLS FIRST vs
      // DuckDB NULLS LAST would shift every cumulative count)
      .where(col("value").isNotNull)
      .select((col("ts") < split).as("__ref"), col("value").as("v"))
      .groupBy(col("v"))
      .agg(sum(when(col("__ref"), 1L).otherwise(0L)).as("__cr"),
        sum(when(col("__ref"), 0L).otherwise(1L)).as("__cc"))
  }

  /** The KS report derived from a (v, __cr, __cc) count frame —
    * shared verbatim by the batch query and the streaming monitor's
    * read side, so the streamed statistic EQUALS the batch one on the
    * union of batches (spec-asserted).
    */
  def ksFromCounts(counts: DataFrame): DataFrame = {
    val d19 = DecimalType(19, 0)
    val g = Materialize(counts // prefix, totals, and the max fold
      .withColumn("__bucket", floor(col("v") / lit(25.0)).cast("long"))).df
    // inclusive CDF = the shared exclusive prefix + the value's own count
    val cum = exclusivePrefix(g, "v", "__bucket",
        Seq("__exr" -> "__cr", "__exc2" -> "__cc"))
      .select(
        (col("__exr") + col("__cr")).as("__cumr"),
        (col("__exc2") + col("__cc")).as("__cumc"))
    val tot = g.agg(sum(col("__cr")).as("n_ref"),
      sum(col("__cc")).as("n_cur"))
    val num = cum.crossJoin(broadcast(tot))
      .select(abs(col("__cumr").cast(d19) * col("n_cur").cast(d19) -
        col("__cumc").cast(d19) * col("n_ref").cast(d19)).as("__diff"))
      .agg(asDouble(max(col("__diff"))).as("__maxdiff"))
    val (dStat, crit, flag) = ksTail
    tot.crossJoin(broadcast(num))
      .select(col("n_ref"), col("n_cur"),
        dStat.as("d_stat"), crit.as("critical_05"),
        flag.as("drift_detected"))
  }

  val q135_ks_drift: Q = (s, dir) =>
    ksFromCounts(ksValueCounts(t(s, dir, "events")))

  def q135_sql: String = {
    val (dStat, crit, flag) =
      ksSqlSnippets("CAST(CAST(maxdiff AS VARCHAR) AS DOUBLE)")
    s"""WITH e AS (SELECT (ts < TIMESTAMP '$DriftSplitSql') AS ref,
      |    value AS v FROM events),
      |g AS (SELECT v,
      |    CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
      |    CAST(SUM(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cc
      |  FROM e WHERE v IS NOT NULL GROUP BY v),
      |c AS (SELECT
      |    CAST(SUM(cr) OVER w AS BIGINT) AS cumr,
      |    CAST(SUM(cc) OVER w AS BIGINT) AS cumc
      |  FROM g WINDOW w AS (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS n_ref,
      |    CAST(SUM(cc) AS BIGINT) AS n_cur FROM g),
      |num AS (SELECT MAX(ABS(CAST(cumr AS DECIMAL(19,0))
      |      * CAST(n_cur AS DECIMAL(19,0))
      |      - CAST(cumc AS DECIMAL(19,0)) * CAST(n_ref AS DECIMAL(19,0))))
      |    AS maxdiff
      |  FROM c CROSS JOIN tot)
      |SELECT n_ref, n_cur,
      |  $dStat AS d_stat,
      |  $crit AS critical_05,
      |  $flag AS drift_detected
      |FROM tot CROSS JOIN num""".stripMargin
  }

  // ------------------------------------------------- rater agreement

  /** q136: Cohen's kappa — chance-corrected agreement between two
    * labelers, the QA gate every labeled/weak-supervision dataset
    * passes before its labels are trusted (raw percent agreement
    * overstates quality whenever the label marginals are skewed,
    * which corpus labels always are). The two deterministic labelers
    * here are the stopword-density rule (t38's reference label) and a
    * length rule — exactly the weak-supervision shape (two noisy
    * heuristics whose agreement structure decides whether to ensemble
    * them). One scan, one 4-cell exact contingency aggregate;
    * po = (a+d)/n and pe = (rowA·colA + rowB·colB)/n² are fixed-order
    * IEEE on exact integers (the n² cross products stay in
    * DECIMAL(19,0)×(19,0) → string-crossed doubles, the q121/q47
    * rules), so κ is bit-identical across engines at any corpus size.
    */
  val q136_cohens_kappa: Q = (s, dir) => {
    val d19 = DecimalType(19, 0)
    val toks = graft.text.TextAnalysis.tokens(col("text"))
    val labeled = t(s, dir, "documents")
      .select(
        graft.queries.Corpus.stopRuleLabel(toks).as("__la"),
        (size(toks) >= lit(50)).as("__lb"))
    val m = labeled.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("__la") && col("__lb"), 1L).otherwise(0L)).as("n_pp"),
      sum(when(col("__la") && !col("__lb"), 1L).otherwise(0L)).as("n_pn"),
      sum(when(!col("__la") && col("__lb"), 1L).otherwise(0L)).as("n_np"),
      sum(when(!col("__la") && !col("__lb"), 1L).otherwise(0L)).as("n_nn"))
    val n = col("n_docs").cast("double")
    val po = (col("n_pp") + col("n_nn")).cast("double") / n
    val pe = (asDouble((col("n_pp") + col("n_pn")).cast(d19) *
        (col("n_pp") + col("n_np")).cast(d19)) +
      asDouble((col("n_np") + col("n_nn")).cast(d19) *
        (col("n_pn") + col("n_nn")).cast(d19))) / (n * n)
    m.select(col("n_docs"), col("n_pp"), col("n_pn"), col("n_np"),
      col("n_nn"), po.as("po"), pe.as("pe"),
      when(pe === 1.0, lit(null).cast("double"))
        .otherwise((po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  def q136_sql: String = {
    val toksSql = graft.queries.Corpus.toksSqlPublic
    s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
       |l AS (SELECT
       |    (CAST(len(list_filter(toks, x -> x IN (${graft.queries.Corpus.stopRuleInSql})))
       |       AS BIGINT) * 100 > CAST(len(toks) AS BIGINT) * 6) AS la,
       |    (len(toks) >= 50) AS lb
       |  FROM t),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN la AND lb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_pp,
       |    CAST(SUM(CASE WHEN la AND NOT lb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_pn,
       |    CAST(SUM(CASE WHEN NOT la AND lb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_np,
       |    CAST(SUM(CASE WHEN NOT la AND NOT lb THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_nn
       |  FROM l)
       |SELECT n_docs, n_pp, n_pn, n_np, n_nn,
       |  CAST(n_pp + n_nn AS DOUBLE) / CAST(n_docs AS DOUBLE) AS po,
       |  (CAST(CAST(CAST(n_pp + n_pn AS DECIMAL(19,0))
       |      * CAST(n_pp + n_np AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE)
       |   + CAST(CAST(CAST(n_np + n_nn AS DECIMAL(19,0))
       |      * CAST(n_pn + n_nn AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE))
       |    / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) AS pe,
       |  CASE WHEN (CAST(CAST(CAST(n_pp + n_pn AS DECIMAL(19,0))
       |      * CAST(n_pp + n_np AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE)
       |   + CAST(CAST(CAST(n_np + n_nn AS DECIMAL(19,0))
       |      * CAST(n_pn + n_nn AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE))
       |    / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) = 1.0
       |    THEN NULL
       |    ELSE (CAST(n_pp + n_nn AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |      - (CAST(CAST(CAST(n_pp + n_pn AS DECIMAL(19,0))
       |          * CAST(n_pp + n_np AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE)
       |       + CAST(CAST(CAST(n_np + n_nn AS DECIMAL(19,0))
       |          * CAST(n_pn + n_nn AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE))
       |        / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
       |      / (1.0 - (CAST(CAST(CAST(n_pp + n_pn AS DECIMAL(19,0))
       |          * CAST(n_pp + n_np AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE)
       |       + CAST(CAST(CAST(n_np + n_nn AS DECIMAL(19,0))
       |          * CAST(n_pn + n_nn AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE))
       |        / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))) END
       |    AS kappa
       |FROM m""".stripMargin
  }

  /** q144: Fleiss' kappa — q136's MULTI-rater generalization, the
    * agreement gate when a labeling job has more than two annotators
    * (the standard crowd/ensemble shape: Cohen's κ only compares a
    * PAIR, and averaging pairwise κs both understates disagreement
    * and lacks a chance model for the panel). Three deterministic
    * raters over the document corpus — q136's stopword-density and
    * length rules plus a type-token-ratio rule (each a different
    * weak-supervision heuristic, so their panel agreement decides
    * whether to ensemble them). Binary category, n = 3 raters per
    * item: the whole statistic folds from THREE exact integers in ONE
    * scan — N (items), S = Σᵢ[n⁺ᵢ(n⁺ᵢ−1) + n⁻ᵢ(n⁻ᵢ−1)] (the
    * per-item agreement numerator; n⁺ᵢ ∈ {0..3} is how many raters
    * said positive), and S⁺ = Σᵢ n⁺ᵢ (the positive marginal; S⁻ =
    * 3N − S⁺). P̄ = S/(6N), P̄ₑ = (S⁺² + S⁻²)/(9N²) with the squares
    * computed exactly in DECIMAL and string-crossed (the q136
    * marginal-product rule — S⁺² leaves 2⁵³ around N ≈ 3·10⁷), and κ
    * = (P̄−P̄ₑ)/(1−P̄ₑ) is fixed-order IEEE — bit-identical
    * cross-engine. Unanimous-marginal degeneracy (P̄ₑ = 1) yields
    * NULL, the q136 rule. One map-side-combined aggregate; nothing
    * scales beyond one row.
    */
  /** The κ readout from a (__la, __lb, __lc) boolean label frame —
    * split out so the scalacheck property pins it against the
    * textbook per-item formula on arbitrary panels.
    */
  /** q144's additive sufficient statistics from a (__la, __lb, __lc)
    * boolean label frame — three integers, summable across
    * micro-batches (the anovaStream protocol,
    * [[graft.streaming.StreamingIngest.fleissStream]]); an empty
    * batch contributes the (0, 0, 0) identity.
    */
  def fleissPartial(labeled: DataFrame): DataFrame = {
    val nPos = Seq("__la", "__lb", "__lc")
      .map(c => when(col(c), 1L).otherwise(0L)).reduce(_ + _)
    labeled.select(nPos.as("__np"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__np") * (col("__np") - lit(1L)) +
          (lit(3L) - col("__np")) * (lit(2L) - col("__np"))), lit(0L))
          .as("s_agree"),
        coalesce(sum(col("__np")), lit(0L)).as("s_pos"))
  }

  /** The κ readout from a folded (n_docs, s_agree, s_pos) stats row —
    * shared verbatim by the batch query and the streaming monitor's
    * read side.
    */
  def fleissFromStats(m: DataFrame): DataFrame = {
    val d19 = DecimalType(19, 0)
    val n = col("n_docs").cast("double")
    val sNeg = lit(3L) * col("n_docs") - col("s_pos")
    val po = col("s_agree").cast("double") / (lit(6.0) * n)
    val pe = (asDouble(col("s_pos").cast(d19) * col("s_pos").cast(d19)) +
      asDouble(sNeg.cast(d19) * sNeg.cast(d19))) / (n * n * lit(9.0))
    m.select(col("n_docs"), col("s_pos"), sNeg.as("s_neg"),
      po.as("p_bar"), pe.as("p_bar_e"),
      when(pe === 1.0, lit(null).cast("double"))
        .otherwise((po - pe) / (lit(1.0) - pe)).as("fleiss_kappa"))
  }

  /** The three deterministic raters over a documents frame — ONE
    * definition for the batch query and the streaming partials.
    */
  def fleissLabels(docs: DataFrame): DataFrame = {
    val toks = graft.text.TextAnalysis.tokens(col("text"))
    docs.select(
      graft.queries.Corpus.stopRuleLabel(toks).as("__la"),
      (size(toks) >= lit(50)).as("__lb"),
      (size(array_distinct(toks)) * lit(2L) >= size(toks)).as("__lc"))
  }

  def fleissFromLabels(labeled: DataFrame): DataFrame =
    fleissFromStats(fleissPartial(labeled))

  val q144_fleiss_kappa: Q = (s, dir) =>
    fleissFromLabels(fleissLabels(t(s, dir, "documents")))

  def q144_sql: String = {
    val toksSql = graft.queries.Corpus.toksSqlPublic
    val sq = "CAST(s_pos AS DECIMAL(19,0)) * CAST(s_pos AS DECIMAL(19,0))"
    val sqn = "CAST(s_neg AS DECIMAL(19,0)) * CAST(s_neg AS DECIMAL(19,0))"
    s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
       |l AS (SELECT
       |    (CASE WHEN (CAST(len(list_filter(toks, x -> x IN (${graft.queries.Corpus.stopRuleInSql})))
       |       AS BIGINT) * 100 > CAST(len(toks) AS BIGINT) * 6)
       |      THEN 1 ELSE 0 END)
       |    + (CASE WHEN len(toks) >= 50 THEN 1 ELSE 0 END)
       |    + (CASE WHEN CAST(len(list_distinct(toks)) AS BIGINT) * 2
       |        >= CAST(len(toks) AS BIGINT) THEN 1 ELSE 0 END) AS np
       |  FROM t),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(np * (np - 1) + (3 - np) * (2 - np)) AS BIGINT) AS s,
       |    CAST(SUM(np) AS BIGINT) AS s_pos
       |  FROM l),
       |w AS (SELECT n_docs, s, s_pos,
       |    CAST(3 * n_docs - s_pos AS BIGINT) AS s_neg,
       |    CAST(n_docs AS DOUBLE) AS nd FROM m),
       |w2 AS (SELECT n_docs, s_pos, s_neg,
       |    CAST(s AS DOUBLE) / (6.0 * nd) AS p_bar,
       |    (${asDoubleSql(sq)} + ${asDoubleSql(sqn)}) / (nd * nd * 9.0) AS p_bar_e
       |  FROM w)
       |SELECT n_docs, s_pos, s_neg, p_bar, p_bar_e,
       |  CASE WHEN p_bar_e = 1.0 THEN NULL
       |       ELSE (p_bar - p_bar_e) / (1.0 - p_bar_e) END AS fleiss_kappa
       |FROM w2""".stripMargin
  }

  // --------------------------------------------- rank-sum drift

  /** q137: Mann–Whitney U (Wilcoxon rank-sum) — q135's
    * LOCATION-sensitive companion: KS asks "did the distribution
    * change anywhere?", the rank-sum test asks the release question
    * "did the typical value SHIFT?" (robust to outliers where a
    * t-test is not). Derived from the SAME additive (value, ref
    * count, cur count) frame as q135 ([[ksValueCounts]] — so the
    * streaming fold that maintains KS maintains this test for free),
    * with exact tie-corrected average ranks from the two-level bucket
    * prefix (doubled ranks keep the tie half-steps integer; the q131
    * machinery over the COMBINED sample). The doubled rank-sum and
    * the tie correction Σ(t³−t) are exact integers summed as
    * decimals (t ≤ 10¹² documented via the DECIMAL(12,0) cast — the
    * q132-style domain bound), crossed to double through the q47
    * string cast; U, the tie-corrected variance, and z are then
    * fixed-order IEEE ending in a correctly-rounded sqrt —
    * bit-identical across engines, so even the 1.96 threshold verdict
    * can never disagree. The oracle replays the identical definition
    * through DuckDB's naive global window — same exact integers,
    * independent plan.
    */
  /** The rank-sum report derived from a (v, __cr, __cc) count frame —
    * [[ksValueCounts]]'s shape, so the SAME additive per-batch fold
    * that maintains the KS monitor maintains this test (scalacheck
    * pins the statistic against the classic brute-force ranks).
    */
  def mannWhitneyFromCounts(counts: DataFrame): DataFrame = {
    val d19 = DecimalType(19, 0)
    val d12 = DecimalType(12, 0)
    val g = Materialize(counts // bucket prefix AND the per-value join
      .withColumn("__c", col("__cr") + col("__cc"))
      .withColumn("__bucket", floor(col("v") / lit(25.0)).cast("long"))).df
    val pref = exclusivePrefix(g, "v", "__bucket", Seq("__exc" -> "__c"))
      .withColumn("__r2", lit(2L) * col("__exc") + col("__c") + lit(1L))
    val m = pref.agg(
      sum(col("__cr")).as("n_ref"),
      sum(col("__cc")).as("n_cur"),
      asDouble(sum(col("__cr").cast(d19) * col("__r2").cast(d19))).as("__r1x2"),
      asDouble(sum(col("__c").cast(d12) * col("__c").cast(d12)
          * col("__c").cast(d12) - col("__c").cast(d12))).as("__tc"))
    val (u, z, flag) = mwTail
    m.select(col("n_ref"), col("n_cur"), u.as("u_stat"),
      z.as("z_score"), flag.as("drift_detected"))
  }

  val q137_mannwhitney: Q = (s, dir) =>
    mannWhitneyFromCounts(ksValueCounts(t(s, dir, "events")))

  def q137_sql: String = {
    val (u, z, flag) = mwSqlSnippets
    s"""WITH e AS (SELECT (ts < TIMESTAMP '$DriftSplitSql') AS ref,
       |    value AS v FROM events),
       |g AS (SELECT v,
       |    CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
       |    CAST(SUM(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cc
       |  FROM e WHERE v IS NOT NULL GROUP BY v),
       |r AS (SELECT cr, cc, cr + cc AS c,
       |    CAST(2 * COALESCE(SUM(cr + cc) OVER (ORDER BY v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + (cr + cc) + 1 AS BIGINT) AS r2
       |  FROM g),
       |m AS (SELECT CAST(SUM(cr) AS BIGINT) AS n_ref,
       |    CAST(SUM(cc) AS BIGINT) AS n_cur,
       |    CAST(CAST(SUM(CAST(cr AS DECIMAL(19,0))
       |        * CAST(r2 AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
       |      AS r1x2,
       |    CAST(CAST(SUM(CAST(c AS DECIMAL(12,0)) * CAST(c AS DECIMAL(12,0))
       |        * CAST(c AS DECIMAL(12,0)) - CAST(c AS DECIMAL(12,0)))
       |      AS VARCHAR) AS DOUBLE) AS tc
       |  FROM r)
       |SELECT n_ref, n_cur, $u AS u_stat,
       |  $z AS z_score,
       |  $flag AS drift_detected
       |FROM m""".stripMargin
  }

  // --------------------------------------------- effect size

  /** q140: Cliff's delta — the EFFECT-SIZE companion to q137: a
    * rank-sum test on a large corpus flags shifts that are
    * statistically certain but practically meaningless (z grows with
    * √n at a FIXED shift), so a release gate needs the
    * sample-size-free magnitude δ = P(ref > cur) − P(cur > ref) next
    * to the significance verdict. Derived from the SAME additive
    * (value, ref count, cur count) frame as q135/q137
    * ([[ksValueCounts]] — the streaming fold that maintains those
    * monitors maintains this one for free), via the rank identity
    * 2·U₁ = 2·R₁ − n₁(n₁+1) and δ = (2·U₁ − n₁n₂) / (n₁n₂): with
    * doubled tie-averaged ranks both numerator and denominator are
    * EXACT integers (DECIMAL sums all the way), crossed to double
    * through the q47 string cast for the single final division —
    * bit-identical across engines, so the Romano magnitude label
    * (0.147 / 0.33 / 0.474 thresholds on |δ|) can never disagree
    * either. One-sided data (n_ref or n_cur = 0) yields NULLs, the
    * q135 degenerate rule.
    */
  /** δ from a (v, __cr, __cc) count frame — [[ksValueCounts]]'s shape,
    * so the per-batch fold that maintains the KS/rank-sum monitors
    * maintains the effect size too (scalacheck pins it against the
    * brute-force pair count).
    */
  def cliffsDeltaFromCounts(counts: DataFrame): DataFrame = {
    val d19 = DecimalType(19, 0)
    val g = Materialize(counts // bucket prefix AND the per-value join
      .withColumn("__c", col("__cr") + col("__cc"))
      .withColumn("__bucket", floor(col("v") / lit(25.0)).cast("long"))).df
    val pref = exclusivePrefix(g, "v", "__bucket", Seq("__exc" -> "__c"))
      .withColumn("__r2", lit(2L) * col("__exc") + col("__c") + lit(1L))
    val m = pref.agg(
      sum(col("__cr")).as("n_ref"),
      sum(col("__cc")).as("n_cur"),
      sum(col("__cr").cast(d19) * col("__r2").cast(d19)).as("__r1x2d"))
    val nr = col("n_ref").cast(d19)
    val nc = col("n_cur").cast(d19)
    // 2·U₁ − n₁n₂ = (doubled ref rank-sum) − n₁(n₁+1) − n₁n₂ — exact
    // DECIMAL integers end to end; only the final ratio is IEEE
    val num = asDouble(col("__r1x2d") - nr * (nr + lit(1L).cast(d19))
      - nr * nc)
    val den = asDouble(nr * nc)
    val degen = col("n_ref") === 0 || col("n_cur") === 0
    val delta = when(degen, lit(null).cast("double")).otherwise(num / den)
    val mag = when(degen, lit(null).cast("string"))
      .when(abs(delta) < lit(0.147), lit("negligible"))
      .when(abs(delta) < lit(0.33), lit("small"))
      .when(abs(delta) < lit(0.474), lit("medium"))
      .otherwise(lit("large"))
    m.select(col("n_ref"), col("n_cur"), delta.as("cliffs_delta"),
      mag.as("magnitude"))
  }

  val q140_cliffs_delta: Q = (s, dir) =>
    cliffsDeltaFromCounts(ksValueCounts(t(s, dir, "events")))

  def q140_sql: String = {
    val num = "CAST(CAST(r1x2d - nr * (nr + 1) - nr * nc AS VARCHAR) AS DOUBLE)"
    val den = "CAST(CAST(nr * nc AS VARCHAR) AS DOUBLE)"
    val degen = "(n_ref = 0 OR n_cur = 0)"
    val delta = s"CASE WHEN $degen THEN NULL ELSE $num / $den END"
    s"""WITH e AS (SELECT (ts < TIMESTAMP '$DriftSplitSql') AS ref,
       |    value AS v FROM events),
       |g AS (SELECT v,
       |    CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
       |    CAST(SUM(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cc
       |  FROM e WHERE v IS NOT NULL GROUP BY v),
       |r AS (SELECT cr, cc, cr + cc AS c,
       |    CAST(2 * COALESCE(SUM(cr + cc) OVER (ORDER BY v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + (cr + cc) + 1 AS BIGINT) AS r2
       |  FROM g),
       |m AS (SELECT CAST(SUM(cr) AS BIGINT) AS n_ref,
       |    CAST(SUM(cc) AS BIGINT) AS n_cur,
       |    CAST(SUM(cr) AS DECIMAL(19,0)) AS nr,
       |    CAST(SUM(cc) AS DECIMAL(19,0)) AS nc,
       |    SUM(CAST(cr AS DECIMAL(19,0)) * CAST(r2 AS DECIMAL(19,0)))
       |      AS r1x2d
       |  FROM r),
       |x AS (SELECT n_ref, n_cur, $delta AS cliffs_delta FROM m)
       |SELECT n_ref, n_cur, cliffs_delta,
       |  CASE WHEN cliffs_delta IS NULL THEN NULL
       |       WHEN abs(cliffs_delta) < 0.147E0 THEN 'negligible'
       |       WHEN abs(cliffs_delta) < 0.33E0 THEN 'small'
       |       WHEN abs(cliffs_delta) < 0.474E0 THEN 'medium'
       |       ELSE 'large' END AS magnitude
       |FROM x""".stripMargin
  }

  // ------------------------------------------- rank correlation II

  /** q138: Kendall τ-b — q131's PAIRWISE sibling: Spearman correlates
    * the rank VALUES, Kendall counts concordant vs discordant PAIRS
    * (more robust to a few wild ranks, the standard second opinion in
    * feature screening). Exact Kendall on a continuous column is an
    * inversion count (a merge-sort, not expressible as bounded
    * dataflow); on DISCRETIZED features — the case that matters for
    * screening binned/categorical features — the corpus collapses
    * into one (x, y) cell-count aggregate and every pair statistic is
    * a fold over the |X|·|Y| grid (50·11 here; domain-bounded at any
    * corpus size — the q132 argument). The cell-pair theta join is
    * |grid|², CONSTANT in corpus size, never row×row. Concordant /
    * discordant mass and all three tie terms are exact
    * DECIMAL(19,0)×DECIMAL(19,0) integer sums crossed to double via
    * the q47 string cast; τ-b's final arithmetic is fixed-order IEEE
    * ending in a correctly-rounded sqrt. The oracle replays the same
    * grid reduction in DuckDB (the grid IS the statistic's canonical
    * scale form; cross-engine independence lives in the two engines'
    * full plans plus the exact integer arithmetic).
    */
  /** τ-b from raw (x, y) pairs — factored so scalacheck can drive it
    * with arbitrary samples against the brute-force pair count.
    */
  def kendallFromPairs(xy: DataFrame): DataFrame = {
    val d19 = DecimalType(19, 0)
    val d38 = DecimalType(38, 0)
    val cells = Materialize(xy // pair join (twice-read) + marginals + total
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("nc"))).df
    val pairs = cells.as("a").join(broadcast(cells.as("b")),
        col("a.x") < col("b.x"))
      .select((col("a.nc").cast(d19) * col("b.nc").cast(d19)).as("__p"),
        col("a.y").as("__ya"), col("b.y").as("__yb"))
    // COALESCE 0: a corpus whose x never varies has an EMPTY pair set,
    // and zero concordant pairs is a count, not an unknown
    val cd = pairs.agg(
      coalesce(asDouble(sum(when(col("__ya") < col("__yb"), col("__p"))
        .otherwise(lit(0).cast(d38)))), lit(0.0)).as("__c"),
      coalesce(asDouble(sum(when(col("__ya") > col("__yb"), col("__p"))
        .otherwise(lit(0).cast(d38)))), lit(0.0)).as("__d"))
    val tx = cells.groupBy(col("x")).agg(sum(col("nc")).as("__m"))
      .agg(asDouble(sum(col("__m").cast(d19) * (col("__m") - lit(1L)).cast(d19)))
        .as("__tx2"))
    val ty = cells.groupBy(col("y")).agg(sum(col("nc")).as("__m"))
      .agg(asDouble(sum(col("__m").cast(d19) * (col("__m") - lit(1L)).cast(d19)))
        .as("__ty2"))
    val tot = cells.agg(sum(col("nc")).as("n_rows"),
      count(lit(1)).as("n_cells"),
      asDouble(sum(col("nc")).cast(d19) * (sum(col("nc")) - lit(1L)).cast(d19))
        .as("__n02"))
    // doubled tie/pair counts halve LAST (2·n0 = n(n−1) etc.), so the
    // subtraction n0 − t happens on exact integer-valued doubles
    val dx = (col("__n02") - col("__tx2")) / lit(2.0)
    val dy = (col("__n02") - col("__ty2")) / lit(2.0)
    val tau = (col("__c") - col("__d")) / sqrt(dx * dy)
    tot.crossJoin(broadcast(cd)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .select(col("n_rows"), col("n_cells"),
        col("__c").as("concordant"), col("__d").as("discordant"),
        when(dx <= lit(0.0) || dy <= lit(0.0), lit(null).cast("double"))
          .otherwise(tau).as("tau_b"))
  }

  val q138_kendall_tau: Q = (s, dir) =>
    kendallFromPairs(t(s, dir, "lineitem")
      .select(col("l_quantity").as("x"), col("l_discount").as("y")))

  def q138_sql: String = {
    val dx = "((n02 - tx2) / 2.0)"
    val dy = "((n02 - ty2) / 2.0)"
    val tau = s"((c - d) / sqrt($dx * $dy))"
    s"""WITH cells AS (SELECT l_quantity AS x, l_discount AS y,
       |    CAST(COUNT(*) AS BIGINT) AS nc
       |  FROM lineitem GROUP BY 1, 2),
       |cd AS (SELECT
       |    COALESCE(CAST(CAST(SUM(CASE WHEN a.y < b.y
       |        THEN CAST(a.nc AS DECIMAL(19,0)) * CAST(b.nc AS DECIMAL(19,0))
       |        ELSE CAST(0 AS DECIMAL(38,0)) END) AS VARCHAR) AS DOUBLE),
       |      0.0) AS c,
       |    COALESCE(CAST(CAST(SUM(CASE WHEN a.y > b.y
       |        THEN CAST(a.nc AS DECIMAL(19,0)) * CAST(b.nc AS DECIMAL(19,0))
       |        ELSE CAST(0 AS DECIMAL(38,0)) END) AS VARCHAR) AS DOUBLE),
       |      0.0) AS d
       |  FROM cells a JOIN cells b ON a.x < b.x),
       |tx AS (SELECT CAST(CAST(SUM(CAST(m AS DECIMAL(19,0))
       |      * CAST(m - 1 AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS tx2
       |  FROM (SELECT CAST(SUM(nc) AS BIGINT) AS m FROM cells GROUP BY x)),
       |ty AS (SELECT CAST(CAST(SUM(CAST(m AS DECIMAL(19,0))
       |      * CAST(m - 1 AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS ty2
       |  FROM (SELECT CAST(SUM(nc) AS BIGINT) AS m FROM cells GROUP BY y)),
       |tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS n_rows,
       |    CAST(COUNT(*) AS BIGINT) AS n_cells,
       |    CAST(CAST(CAST(SUM(nc) AS DECIMAL(19,0))
       |      * CAST(SUM(nc) - 1 AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE)
       |      AS n02
       |  FROM cells)
       |SELECT n_rows, n_cells, c AS concordant, d AS discordant,
       |  CASE WHEN $dx <= 0.0 OR $dy <= 0.0 THEN NULL
       |       ELSE $tau END AS tau_b
       |FROM tot CROSS JOIN cd CROSS JOIN tx CROSS JOIN ty""".stripMargin
  }

  // ------------------------------------------- drift dashboard

  /** q139: the drift DASHBOARD — q135's KS and q137's rank-sum test
    * per segment (event_type), one row per slice. Global monitors
    * routinely stay green while one segment drifts (mix shifts cancel
    * in aggregate), so the production shape is always per-slice; this
    * is the grouped form of both tests over ONE shared scan. The
    * grouped two-level prefix keys every window by the slice: the
    * bucket-prefix window holds buckets-per-slice rows (the q135 bin
    * geometry — value-range/25, never corpus-size) and the
    * within-bucket window is (slice, bucket)-keyed, so no window ever
    * funnels a slice's whole row count. Both statistics fold from the
    * same (slice, value, ref, cur) count frame in ONE keyed aggregate:
    * the KS cross-multiplied max and the doubled rank-sum + tie
    * correction are exact integers (DECIMAL sums, q47 string-crossed),
    * and the final D/crit/U/z arithmetic is the q135/q137 fixed-order
    * IEEE — bit-identical across engines, thresholds included. The
    * oracle replays per-slice naive global windows — same integers,
    * independent plan.
    */
  /** The additive per-(slice, value) (ref, cur) counts q139 derives
    * from — [[ksValueCounts]]'s grouped sibling, summable across
    * micro-batches, so the streaming twin folds per-batch partials of
    * this exact shape
    * ([[graft.streaming.StreamingIngest.driftBySliceStream]]).
    */
  def sliceValueCounts(events: DataFrame): DataFrame = {
    val split = driftSplit
    events
      .where(col("value").isNotNull) // NULLs never reach the windows
      .select(col("event_type").as("slice"),
        (col("ts") < split).as("__ref"), col("value").as("v"))
      .groupBy(col("slice"), col("v"))
      .agg(sum(when(col("__ref"), 1L).otherwise(0L)).as("__cr"),
        sum(when(col("__ref"), 0L).otherwise(1L)).as("__cc"))
  }

  /** The per-slice drift dashboard derived from a (slice, v, __cr,
    * __cc) count frame — shared verbatim by the batch query and the
    * streaming monitor's read side (spec-asserted streamed ≡ batch).
    */
  def driftFromSliceCounts(counts: DataFrame): DataFrame = {
    val d19 = DecimalType(19, 0)
    val d12 = DecimalType(12, 0)
    val g = Materialize(counts // bucket prefix AND the per-value join
      .withColumn("__c", col("__cr") + col("__cc"))
      .withColumn("__bucket", floor(col("v") / lit(25.0)).cast("long"))).df
    val rows = exclusivePrefix(g, "v", "__bucket",
        Seq("__excC" -> "__c", "__excR" -> "__cr", "__excU" -> "__cc"),
        by = Seq("slice"))
      .withColumn("__r2", lit(2L) * col("__excC") + col("__c") + lit(1L))
      .withColumn("__cumr", col("__excR") + col("__cr"))
      .withColumn("__cumc", col("__excU") + col("__cc"))
    val tot = g.groupBy(col("slice"))
      .agg(sum(col("__cr")).as("n_ref"), sum(col("__cc")).as("n_cur"))
    val m = rows.join(broadcast(tot), Seq("slice"))
      .groupBy(col("slice"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        asDouble(max(abs(col("__cumr").cast(d19) * col("n_cur").cast(d19)
          - col("__cumc").cast(d19) * col("n_ref").cast(d19))))
          .as("__maxdiff"),
        asDouble(sum(col("__cr").cast(d19) * col("__r2").cast(d19))).as("__r1x2"),
        asDouble(sum(col("__c").cast(d12) * col("__c").cast(d12)
            * col("__c").cast(d12) - col("__c").cast(d12))).as("__tc"))
    // shared tails: the same guarded statistics q135/q137 emit — a
    // one-sided slice (every event on one side of the split) yields
    // NULL across the board, never NaN/∞ IEEE debris (see [[ksTail]])
    val (dStat, ksCrit, ksFlag) = ksTail
    val (u, z, mwFlag) = mwTail
    m.select(col("slice"), col("n_ref"), col("n_cur"),
      dStat.as("d_stat"), ksCrit.as("ks_critical_05"),
      ksFlag.as("ks_drift"),
      u.as("u_stat"), z.as("z_score"), mwFlag.as("mw_drift"))
  }

  val q139_drift_by_slice: Q = (s, dir) =>
    driftFromSliceCounts(sliceValueCounts(t(s, dir, "events")))

  def q139_sql: String = {
    val (dStat, ksCrit, ksFlag) = ksSqlSnippets("maxdiff")
    val (u, z, mwFlag) = mwSqlSnippets
    s"""WITH e AS (SELECT event_type AS slice,
       |    (ts < TIMESTAMP '$DriftSplitSql') AS ref, value AS v
       |  FROM events),
       |g AS (SELECT slice, v,
       |    CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
       |    CAST(SUM(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cc
       |  FROM e WHERE v IS NOT NULL GROUP BY slice, v),
       |r AS (SELECT slice, cr, cc, cr + cc AS c,
       |    CAST(2 * COALESCE(SUM(cr + cc) OVER wx, 0) + (cr + cc) + 1
       |      AS BIGINT) AS r2,
       |    CAST(SUM(cr) OVER wi AS BIGINT) AS cumr,
       |    CAST(SUM(cc) OVER wi AS BIGINT) AS cumc
       |  FROM g WINDOW wx AS (PARTITION BY slice ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |  wi AS (PARTITION BY slice ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |tot AS (SELECT slice, CAST(SUM(cr) AS BIGINT) AS n_ref,
       |    CAST(SUM(cc) AS BIGINT) AS n_cur FROM g GROUP BY slice),
       |m AS (SELECT r.slice, MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur,
       |    CAST(CAST(MAX(ABS(CAST(cumr AS DECIMAL(19,0))
       |        * CAST(n_cur AS DECIMAL(19,0))
       |        - CAST(cumc AS DECIMAL(19,0)) * CAST(n_ref AS DECIMAL(19,0))))
       |      AS VARCHAR) AS DOUBLE) AS maxdiff,
       |    CAST(CAST(SUM(CAST(cr AS DECIMAL(19,0))
       |        * CAST(r2 AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS r1x2,
       |    CAST(CAST(SUM(CAST(c AS DECIMAL(12,0)) * CAST(c AS DECIMAL(12,0))
       |        * CAST(c AS DECIMAL(12,0)) - CAST(c AS DECIMAL(12,0)))
       |      AS VARCHAR) AS DOUBLE) AS tc
       |  FROM r JOIN tot ON tot.slice = r.slice GROUP BY r.slice)
       |SELECT slice, n_ref, n_cur,
       |  $dStat AS d_stat, $ksCrit AS ks_critical_05,
       |  $ksFlag AS ks_drift,
       |  $u AS u_stat,
       |  $z AS z_score,
       |  $mwFlag AS mw_drift
       |FROM m""".stripMargin
  }

  /** q145: chi-square test of homogeneity over the event-type MIX —
    * the CATEGORICAL face of the drift family: KS (q135) and the
    * rank-sum test (q137) watch a numeric metric's distribution, but
    * a pipeline's first drift is usually compositional (the traffic
    * mix shifts toward one event type), which the numeric monitors
    * can't see at all. One 5×2 contingency (event type × ref/cur
    * split) from an additive (event_type, n_ref, n_cur) count frame
    * ([[catDriftCounts]] — the anovaStream protocol, state = one row
    * per type); the observed counts and all marginals are exact
    * BIGINTs, the expected counts E = row·col/N and the χ² fold are
    * fixed-order IEEE over those integers with every cell expanded in
    * ONE written order in both engines (the q141 rule) — bit-identical
    * cross-engine, χ²(4, 0.05) = 9.4877 verdict included. Cramér's V
    * (= √(χ²/N) at 2 columns) gives the sample-size-free magnitude,
    * the q140 effect-size discipline. A one-sided corpus (empty
    * ref/cur column) yields NULL, the ksTail rule; a missing type
    * propagates NULL through the pivot.
    */
  /** q145's additive per-type (ref, cur) counts — summable across
    * micro-batches
    * ([[graft.streaming.StreamingIngest.catDriftStream]]). Unlike the
    * numeric monitors there is no value filter: the mix test counts
    * EVERY event.
    */
  def catDriftCounts(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), (col("ts") < driftSplit).as("__ref"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("__ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__ref"), 0L).otherwise(1L)).as("n_cur"))

  /** The χ² readout from an (event_type, n_ref, n_cur) count frame —
    * shared verbatim by the batch query and the streaming monitor's
    * read side.
    */
  def chi2FromCatCounts(counts0: DataFrame): DataFrame = {
    val counts = anovaDomainGuard(counts0, "q145")
    val one = counts.groupBy().pivot("event_type", AnovaTypes)
      .agg(first(col("n_ref")).as("r"), first(col("n_cur")).as("c"))
    def rT(t: String): Column = col(s"${t}_r").cast("double")
    def cT(t: String): Column = col(s"${t}_c").cast("double")
    val colR = AnovaTypes.map(rT).reduce(_ + _)
    val colC = AnovaTypes.map(cT).reduce(_ + _)
    val n = colR + colC
    // cell order is ONE written sequence — per type: ref then cur —
    // so the IEEE fold is the same left-associated sum in both
    // engines. A zero ROW (a type absent from both sides of a
    // filtered stream) would make its cells 0/0 — Spark NaN, DuckDB
    // NULL, the ksTail divergence class — so an empty row contributes
    // 0, the textbook dropped-cell convention (df stays the domain's
    // fixed 4; the verdict is conservative on the degenerate mix).
    val chi2 = AnovaTypes.map { t =>
      val row = rT(t) + cT(t)
      def cell(o: Column, e: Column): Column = (o - e) * (o - e) / e
      when(row > lit(0.0),
        cell(rT(t), row * colR / n) + cell(cT(t), row * colC / n))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    // an entirely missing type must yield NULL, not a silent zero
    // contribution: the NULL column total is the tell
    val degen = colR.isNull ||
      !(colR > lit(0.0)) || !(colC > lit(0.0))
    val nullD = lit(null).cast("double")
    val nTotL = AnovaTypes
      .map(t => col(s"${t}_r") + col(s"${t}_c")).reduce(_ + _)
    one.select(nTotL.as("n_total"),
      when(degen, nullD).otherwise(chi2).as("chi2"),
      when(degen, nullD).otherwise(sqrt(chi2 / n)).as("cramers_v"),
      when(degen, lit(null).cast("boolean"))
        .otherwise(chi2 > lit(9.4877)).as("significant"))
  }

  val q145_categorical_drift: Q = (s, dir) =>
    chi2FromCatCounts(catDriftCounts(t(s, dir, "events")))

  def q145_sql: String = {
    val subs = AnovaTypes.map { t =>
      s"""    (SELECT CAST(n_ref AS BIGINT) FROM g WHERE event_type = '$t')
         |      AS r_$t,
         |    (SELECT CAST(n_cur AS BIGINT) FROM g WHERE event_type = '$t')
         |      AS c_$t""".stripMargin
    }.mkString(",\n")
    def rT(t: String) = s"CAST(r_$t AS DOUBLE)"
    def cT(t: String) = s"CAST(c_$t AS DOUBLE)"
    val colR = AnovaTypes.map(rT).mkString(" + ")
    val colC = AnovaTypes.map(cT).mkString(" + ")
    val chi2 = AnovaTypes.map { t =>
      val row = s"(${rT(t)} + ${cT(t)})"
      def cell(o: String, e: String) = s"($o - $e) * ($o - $e) / ($e)"
      val terms = cell(rT(t), s"$row * colr / nd") + " + " +
        cell(cT(t), s"$row * colc / nd")
      s"CASE WHEN $row > 0.0 THEN $terms ELSE 0.0 END"
    }.mkString(" + ")
    val nTotL = AnovaTypes.map(t => s"r_$t + c_$t").mkString(" + ")
    s"""WITH e AS (SELECT event_type,
       |    (ts < TIMESTAMP '$DriftSplitSql') AS ref FROM events),
       |g AS (SELECT event_type,
       |    CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
       |    CAST(SUM(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
       |  FROM e GROUP BY 1
       |  HAVING ${anovaDomainGuardSql("q145")}),
       |m AS (SELECT
       |$subs),
       |w AS (SELECT *, ($colR) AS colr, ($colC) AS colc FROM m),
       |w2 AS (SELECT *, colr + colc AS nd FROM w),
       |w3 AS (SELECT CAST($nTotL AS BIGINT) AS n_total,
       |    ($chi2) AS chi2, nd, colr, colc FROM w2)
       |SELECT n_total,
       |  CASE WHEN colr IS NULL OR NOT (colr > 0.0) OR NOT (colc > 0.0)
       |       THEN NULL ELSE chi2 END AS chi2,
       |  CASE WHEN colr IS NULL OR NOT (colr > 0.0) OR NOT (colc > 0.0)
       |       THEN NULL ELSE sqrt(chi2 / nd) END AS cramers_v,
       |  CASE WHEN colr IS NULL OR NOT (colr > 0.0) OR NOT (colc > 0.0)
       |       THEN NULL ELSE chi2 > 9.4877E0 END AS significant
       |FROM w3""".stripMargin
  }

  /** q147: Mann–Kendall trend test — the SIGNIFICANCE companion q90's
    * Theil–Sen slope lacks: Sen gives the robust trend magnitude,
    * Mann–Kendall decides whether a monotone trend exists at all (the
    * standard pairing in monitoring literature; a slope without a
    * test over-reads noise, a test without a slope under-informs).
    * Per event type over the daily-count series: S = Σᵢ<ⱼ
    * sign(nⱼ−nᵢ) with the tie-corrected variance Var(S) =
    * [N(N−1)(2N+5) − Σₜ t(t−1)(2t+5)]/18 and the continuity-corrected
    * z — S, N, the pair count and the tie term are exact BIGINTs (the
    * pairwise enumeration is legitimate exactly as q90's: the series
    * is CALENDAR-bounded, |days|²/2 pairs per type, a constant in
    * corpus size, while the daily bucketing carries all the data
    * growth); z is fixed-order IEEE, |z| > 1.959964 the verdict. An
    * all-tied or single-day series (Var ≤ 0) yields NULL, the ksTail
    * rule; a single-day series has no pairs, hence no test and no
    * row (the inner join drives the output). Scalacheck pins S, Var
    * and z against brute-force pair enumeration.
    */
  /** The test derived from a (event_type, day, n) daily frame —
    * split out for the scalacheck pin.
    */
  def mannKendallFromDaily(daily: DataFrame): DataFrame = {
    val a = daily.select(col("event_type"), col("day").as("__da"),
      col("n").as("__na"))
    val b = daily.select(col("event_type"), col("day").as("__db"),
      col("n").as("__nb"))
    val sAgg = a.hint("merge").join(b.hint("merge"), Seq("event_type"))
      .where(col("__db") > col("__da"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("__nb") > col("__na"), 1L)
        .when(col("__nb") < col("__na"), -1L).otherwise(0L)).as("s_stat"),
        count(lit(1)).as("n_pairs"))
    val days = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col("event_type"), col("n"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("event_type"))
      .agg(sum(col("__t") * (col("__t") - lit(1L)) *
        (lit(2L) * col("__t") + lit(5L))).as("__tt"))
    val ndd = col("n_days").cast("double")
    val varS = (ndd * (ndd - lit(1.0)) * (lit(2.0) * ndd + lit(5.0)) -
      col("__tt").cast("double")) / lit(18.0)
    val sD = col("s_stat").cast("double")
    val z = when(col("s_stat") > 0L, (sD - lit(1.0)) / sqrt(varS))
      .when(col("s_stat") < 0L, (sD + lit(1.0)) / sqrt(varS))
      .otherwise(lit(0.0))
    val degen = !(varS > lit(0.0))
    sAgg.join(days, Seq("event_type")).join(ties, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("s_stat"),
        when(degen, lit(null).cast("double")).otherwise(varS).as("var_s"),
        when(degen, lit(null).cast("double")).otherwise(z).as("z_mk"),
        when(degen, lit(null).cast("boolean"))
          .otherwise(abs(z) > lit(1.959964)).as("trending"))
  }

  val q147_mann_kendall: Q = (s, dir) =>
    mannKendallFromDaily(t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))

  def q147_sql: String = {
    val varS = "((ndd * (ndd - 1.0) * (2.0 * ndd + 5.0) " +
      "- CAST(tt AS DOUBLE)) / 18.0)"
    val z = s"""CASE WHEN s_stat > 0
       |      THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt($varS)
       |      WHEN s_stat < 0
       |      THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt($varS)
       |      ELSE 0.0 END""".stripMargin
    s"""WITH daily AS (
       |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |p AS (SELECT a.event_type,
       |    CAST(SUM(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1
       |      ELSE 0 END) AS BIGINT) AS s_stat,
       |    CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM daily a JOIN daily b
       |    ON a.event_type = b.event_type AND b.day > a.day
       |  GROUP BY 1),
       |dct AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
       |  FROM daily GROUP BY 1),
       |tie AS (SELECT event_type,
       |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt
       |  FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
       |        FROM daily GROUP BY event_type, n)
       |  GROUP BY 1),
       |w AS (SELECT p.event_type, n_days, n_pairs, s_stat, tt,
       |    CAST(n_days AS DOUBLE) AS ndd
       |  FROM p JOIN dct USING (event_type) JOIN tie USING (event_type))
       |SELECT event_type, n_days, n_pairs, s_stat,
       |  CASE WHEN NOT ($varS > 0.0) THEN NULL ELSE $varS END AS var_s,
       |  CASE WHEN NOT ($varS > 0.0) THEN NULL ELSE $z END AS z_mk,
       |  CASE WHEN NOT ($varS > 0.0) THEN NULL
       |       ELSE abs($z) > 1.959964E0 END AS trending
       |FROM w""".stripMargin
  }

  // ---------------------------------------- multiple-testing control

  /** q143: Benjamini–Hochberg step-up over the q139 dashboard — the
    * correction the per-slice monitor NEEDS in production: with one
    * rank-sum test per slice at α=0.05, a 20-slice dashboard fires a
    * false alarm almost every refresh, and the fleet answer (gate on
    * FDR, not per-test α) is the BH procedure. Computed on the
    * Z-SCALE: Φ is monotone, so p₍ᵢ₎ ≤ iα/m ⟺ |z|₍ᵢ₎ ≥
    * Φ⁻¹(1 − αi/(2m)) for the two-sided test — which removes the erf
    * evaluation (no cross-engine-bit-stable normal CDF exists) and
    * replaces it with a LITERAL lookup: every (i, m) critical value
    * up to m = [[BhMaxM]] is a source constant ([[BhCritZ]]),
    * GENERATED from one closed-form quantile into the Scala plan AND
    * the SQL oracle so they cannot drift — and a slice domain past
    * the bound FAILS LOUDLY in both engines (Spark `raise_error`,
    * DuckDB `error()`) instead of silently reporting zero rejections,
    * the r13 shared-constant blind spot (an agreed-upon wrong answer
    * is the one class the oracle compare cannot see). Degenerate
    * slices (NULL z — one-sided data) are not tests and drop from m,
    * the textbook convention. The rejection frontier (the largest
    * passing rank) is a 1-row broadcast fold; every comparison
    * touches bit-identical doubles (q139's z proof), so the reject
    * set is deterministic cross-engine. The frame is
    * slice-domain-bounded at ANY corpus size; the constant-key
    * windows touch ≤ [[BhMaxM]] rows and the lookup is a broadcast
    * join against the ≤ 300-row literal table.
    */
  private[graft] val BhMaxM = 24

  /** α = 0.05 two-sided BH critical z for rank i of m tests:
    * Φ⁻¹(1 − 0.025·i/m), via commons-math3's inverse normal CDF (on
    * Spark's classpath), rounded to 6 decimals THROUGH a decimal
    * string so the literal the Spark plan carries and the literal the
    * SQL oracle renders are the same number — one formula, zero
    * transcription, and growing [[BhMaxM]] regenerates both sides.
    */
  private[graft] val BhCritZ: Seq[((Int, Int), Double)] = {
    val stdNorm =
      new org.apache.commons.math3.distribution.NormalDistribution()
    for { m <- 1 to BhMaxM; i <- 1 to m } yield ((i, m),
      "%.6f".formatLocal(java.util.Locale.ROOT,
        stdNorm.inverseCumulativeProbability(1.0 - 0.025 * i / m)).toDouble)
  }

  /** The BH report derived from a q139-shaped dashboard frame —
    * shared by the batch query and the streaming monitor's read side
    * (the dashboard fold is already streaming; this is a pure
    * read-time projection over it).
    */
  def bhFromDashboard(dash: DataFrame): DataFrame = {
    // a NULL z (one-sided slice) is "no test ran": it joins neither
    // the ranking nor m. The constant-key windows are slice-domain-
    // bounded (≤ BhMaxM rows at any corpus size — the q138 grid
    // argument, with the bound now ENFORCED loudly below).
    val wOrd = Window.partitionBy(lit(0))
      .orderBy(col("__az").desc, col("slice").asc)
    val wAll = Window.partitionBy(lit(0))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = dash.where(col("z_score").isNotNull)
      .withColumn("__az", abs(col("z_score")))
      .withColumn("bh_rank", row_number().over(wOrd).cast("long"))
      .withColumn("m_tests", count(lit(1)).over(wAll))
    val sp = dash.sparkSession
    val critDf = sp.createDataFrame(
      BhCritZ.map { case ((i, m), v) => (i.toLong, m.toLong, v) })
      .toDF("__bi", "__bm", "__bcrit")
    // left join so m > BhMaxM reaches the raise_error branch (an
    // inner join would silently drop the row — the exact failure mode
    // this guard exists to kill); the message carries the offending m
    // so the branch can never constant-fold eagerly in either engine
    val crit = when(col("m_tests") > lit(BhMaxM.toLong),
      raise_error(concat(
        lit(s"q143: slice domain exceeds BhMaxM=$BhMaxM: m_tests="),
        col("m_tests").cast("string"))).cast("double"))
      .otherwise(col("__bcrit"))
    val flagged = ranked
      .join(broadcast(critDf),
        col("bh_rank") === col("__bi") && col("m_tests") === col("__bm"),
        "left")
      .withColumn("bh_critical_z", crit)
      .withColumn("__pass",
        when(col("__az") >= col("bh_critical_z"), col("bh_rank")))
    // the frontier fold is counted in the job that materializes it
    val Materialize.Measured(marked, _, Seq(mp)) = Materialize(flagged,
      "__mp" -> coalesce(max(col("__pass")), lit(0L)))
    marked
      .select(col("slice"), col("n_ref"), col("n_cur"), col("z_score"),
        col("bh_rank"), col("m_tests"), col("bh_critical_z"),
        col("mw_drift"), (col("bh_rank") <= lit(mp)).as("bh_reject"))
  }

  val q143_bh_fdr: Q = (s, dir) =>
    bhFromDashboard(driftFromSliceCounts(sliceValueCounts(t(s, dir, "events"))))

  def q143_sql: String = {
    val critVals = BhCritZ.map { case ((i, m), v) =>
      s"($i, $m, ${v}E0)"
    }.mkString(", ")
    s"""WITH dash AS (${q139_sql}),
       |bhz(bi, bm, crit) AS (VALUES $critVals),
       |t AS (SELECT slice, n_ref, n_cur, z_score, mw_drift,
       |    ABS(z_score) AS az
       |  FROM dash WHERE z_score IS NOT NULL),
       |r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY az DESC,
       |      slice ASC) AS BIGINT) AS bh_rank,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS m_tests FROM t),
       |c AS (SELECT r.*, CASE WHEN m_tests > $BhMaxM
       |      THEN CAST(error('q143: slice domain exceeds BhMaxM=$BhMaxM: m_tests=' || m_tests) AS DOUBLE)
       |      ELSE z.crit END AS bh_critical_z
       |  FROM r LEFT JOIN bhz z ON z.bi = r.bh_rank AND z.bm = r.m_tests),
       |p AS (SELECT *, CASE WHEN az >= bh_critical_z THEN bh_rank
       |    ELSE NULL END AS pass_rk FROM c),
       |mx AS (SELECT COALESCE(MAX(pass_rk), 0) AS mp FROM p)
       |SELECT slice, n_ref, n_cur, z_score, bh_rank, m_tests,
       |  bh_critical_z, mw_drift, bh_rank <= mp AS bh_reject
       |FROM p CROSS JOIN mx""".stripMargin
  }

  // ------------------------------------------------------------ maps

  val queries: Map[String, Q] = Map(
    "q136_cohens_kappa"   -> q136_cohens_kappa,
    "q137_mannwhitney"    -> q137_mannwhitney,
    "q138_kendall_tau"    -> q138_kendall_tau,
    "q140_cliffs_delta"   -> q140_cliffs_delta,
    "q141_anova"          -> q141_anova,
    "q142_kruskal_wallis" -> q142_kruskal_wallis,
    "q143_bh_fdr"         -> q143_bh_fdr,
    "q144_fleiss_kappa"   -> q144_fleiss_kappa,
    "q145_categorical_drift" -> q145_categorical_drift,
    "q146_dunn_posthoc"   -> q146_dunn_posthoc,
    "q147_mann_kendall"   -> q147_mann_kendall,
    "q148_cuped"          -> q148_cuped,
    "q149_mde"            -> q149_mde,
    "q151_t_closeness"    -> q151_t_closeness,
    "q139_drift_by_slice" -> q139_drift_by_slice,
    "q131_spearman"       -> q131_spearman,
    "q132_token_gini"     -> q132_token_gini,
    "q133_bootstrap_ci"   -> q133_bootstrap_ci,
    "q134_vocab_richness" -> q134_vocab_richness,
    "q135_ks_drift"       -> q135_ks_drift,
    "q118_feature_store"  -> q118_feature_store,
    "q119_k_anonymity"    -> q119_k_anonymity,
    "q120_ols_multi"      -> q120_ols_multi,
    "q122_psi_drift"      -> q122_psi_drift,
    "q129_l_diversity"    -> q129_l_diversity,
    "q130_kaplan_meier"   -> q130_kaplan_meier,
    "q123_target_encoding" -> q123_target_encoding,
    "q127_ab_test"        -> q127_ab_test)

  val oracles: Map[String, String] = Map(
    "q131_spearman"       -> q131_sql,
    "q132_token_gini"     -> q132_sql,
    "q133_bootstrap_ci"   -> q133_sql,
    "q134_vocab_richness" -> q134_sql,
    "q135_ks_drift"       -> q135_sql,
    "q136_cohens_kappa"   -> q136_sql,
    "q137_mannwhitney"    -> q137_sql,
    "q138_kendall_tau"    -> q138_sql,
    "q140_cliffs_delta"   -> q140_sql,
    "q141_anova"          -> q141_sql,
    "q142_kruskal_wallis" -> q142_sql,
    "q143_bh_fdr"         -> q143_sql,
    "q144_fleiss_kappa"   -> q144_sql,
    "q145_categorical_drift" -> q145_sql,
    "q146_dunn_posthoc"   -> q146_sql,
    "q147_mann_kendall"   -> q147_sql,
    "q148_cuped"          -> q148_sql,
    "q149_mde"            -> q149_sql,
    "q151_t_closeness"    -> q151_sql,
    "q139_drift_by_slice" -> q139_sql,
    "q118_feature_store"  -> q118_sql,
    "q119_k_anonymity"    -> q119_sql,
    "q120_ols_multi"      -> q120_sql,
    "q122_psi_drift"      -> q122_sql,
    "q129_l_diversity"    -> q129_sql,
    "q130_kaplan_meier"   -> q130_sql,
    "q123_target_encoding" -> q123_sql,
    "q127_ab_test"        -> q127_sql)
}
