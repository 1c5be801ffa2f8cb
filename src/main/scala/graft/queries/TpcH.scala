package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The remaining TPC-H-expressible queries, completing a 22/22 coverage
  * map over the fixture star schema (see README §TPC-H). The fixtures
  * lack `partsupp`, `l_commitdate`/`l_receiptdate`/`l_shipmode`,
  * `p_container`/`p_mfgr` and `c_phone`, so Q2/Q9/Q11/Q12/Q16/Q20/Q21/Q22
  * are implemented as SHAPE-PRESERVING adaptations: the documented plan
  * shape (correlated scalar MIN, multi-EXISTS, global-scalar HAVING,
  * nested INs, …) is kept exactly; only the predicate columns move to
  * ones that exist. Each Scaladoc states the substitution.
  *
  * Shared discipline (the q01/q92 rules): money math in DECIMAL(18,2)
  * so every sum is order-independent-exact, DOUBLE only at the output
  * boundary; thresholds compared either in exact DECIMAL or between
  * identically-derived DOUBLEs (never engine-side rounded); dimension
  * broadcasts explicit; every date predicate reaches the parquet scan;
  * every top-k fully tiebroken.
  *
  * Reference trace: the reference's DBMS surface is what its README
  * exercises ad hoc (README_duckdb.md:78-84 top-N, create_tables_
  * duckdb.sql DDL); this family is the standard warehouse yardstick
  * those capabilities imply.
  */
object TpcH {

  private val dec2 = DecimalType(18, 2)
  private def d2(c: Column): Column = c.cast(dec2)
  /** Discounted revenue in exact decimal: price * (1 - discount). */
  private def rev: Column = d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount")))

  // ---------------------------------------------------------------- Q6

  /** TPC-H Q6 (forecasting revenue change): one tight scan-aggregate
    * whose entire WHERE clause must reach the parquet reader — the
    * canonical pushdown probe. No join, no shuffle beyond the final
    * 1-row partial-agg merge; at 100 TB this is min/max-pruned row
    * groups + a map-side sum.
    */
  val q101_tpch_q6: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .where(expr("l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'") &&
        expr("l_shipdate < TIMESTAMP '1998-01-01 00:00:00'") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        sum(d2(col("l_extendedprice")) * d2(col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q101_sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------- Q4

  /** TPC-H Q4 (order priority checking): priority histogram of one
    * quarter's orders having at least one problem line — the correlated
    * EXISTS Catalyst must decorrelate to a LEFT SEMI join (never a
    * per-row re-scan). Stated via `spark.sql` so the decorrelator is
    * the thing under test, like q100. Adaptation: the fixture has no
    * l_commitdate/l_receiptdate, so "problem line" is l_returnflag='R'
    * (a returned line) instead of commit<receipt.
    */
  val q102_tpch_q4: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("g_q102_orders")
    t(s, dir, "lineitem").createOrReplaceTempView("g_q102_lineitem")
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM g_q102_orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM g_q102_lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val q102_sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- Q7

  /** TPC-H Q7 (volume shipping): revenue shipped between two nations,
    * by supplier-nation × customer-nation × year. The scale move:
    * customer and supplier are pre-filtered to the TWO nations before
    * any fact join (cuts both build sides ~12×), and only the
    * cross-pair disjunction — which needs both sides — remains as a
    * post-join filter. Nation is the only broadcast.
    */
  val q103_tpch_q7: Q = (s, dir) => {
    val nat = t(s, dir, "nation")
      .where(col("n_name").isin("NATION_3", "NATION_7"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = t(s, dir, "customer")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val supp = t(s, dir, "supplier")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val ord = t(s, dir, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    t(s, dir, "lineitem")
      .where(expr("l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'") &&
        expr("l_shipdate < TIMESTAMP '1998-01-01 00:00:00'"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .where((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q103_sql: String =
    """SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS INT) AS l_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem, orders, customer, supplier, nation n1, nation n2
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND l_suppkey = s_suppkey
      |  AND c_nationkey = n1.n_nationkey AND s_nationkey = n2.n_nationkey
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND ((n2.n_name = 'NATION_3' AND n1.n_name = 'NATION_7')
      |    OR (n2.n_name = 'NATION_7' AND n1.n_name = 'NATION_3'))
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- Q8

  /** TPC-H Q8 (national market share): NATION_3's share of ECONOMY-part
    * revenue sold to ASIA customers, per order year. Both the share's
    * numerator and denominator are exact-decimal sums cast to double
    * only for the final ratio, so the percentage is bit-identical
    * across engines and summation orders. part is filtered before the
    * join (it is fact-sized at real scale — keyed join, not broadcast);
    * nation⋈region collapses to one broadcast dimension.
    */
  val q104_tpch_q8: Q = (s, dir) => {
    val asiaCust = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").where(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = t(s, dir, "orders")
      .where(expr("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'") &&
        expr("o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    val econPart = t(s, dir, "part")
      .where(col("p_type") === "ECONOMY").select(col("p_partkey"))
    val suppNat = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    t(s, dir, "lineitem")
      .join(econPart, col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(suppNat, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("n_name") === "NATION_3", rev).otherwise(lit(0)))
          .cast("double").as("nation_volume"),
        sum(rev).cast("double").as("total_volume"))
      .select(col("o_year"),
        round(col("nation_volume") / col("total_volume"), 6).as("mkt_share"),
        col("nation_volume"), col("total_volume"))
      .orderBy(col("o_year"))
  }

  val q104_sql: String =
    """WITH vol AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
      |    n2.n_name AS supp_nation
      |  FROM lineitem, orders, customer, supplier, part, nation n1, nation n2,
      |    region
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND l_suppkey = s_suppkey AND l_partkey = p_partkey
      |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |    AND s_nationkey = n2.n_nationkey
      |    AND r_name = 'ASIA' AND p_type = 'ECONOMY'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |SELECT o_year,
      |  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
      |                      ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share,
      |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
      |    AS DOUBLE) AS nation_volume,
      |  CAST(SUM(volume) AS DOUBLE) AS total_volume
      |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin

  // ---------------------------------------------------------------- Q15

  /** TPC-H Q15 (top supplier): supplier(s) whose one-quarter revenue
    * equals the maximum. The per-supplier aggregate computes ONCE; the
    * max is a 1-row broadcast joined back on exact-DECIMAL equality
    * (doubles here could miss the max under reordered summation —
    * decimal can't). AQE reuses the aggregate exchange for both
    * branches.
    */
  val q105_tpch_q15: Q = (s, dir) => {
    val revenue = t(s, dir, "lineitem")
      .where(expr("l_shipdate >= TIMESTAMP '1997-10-01 00:00:00'") &&
        expr("l_shipdate < TIMESTAMP '1998-01-01 00:00:00'"))
      .groupBy(col("l_suppkey"))
      .agg(sum(rev).as("__rev"))
    val top = revenue.agg(max(col("__rev")).as("__max"))
    revenue.join(broadcast(top), col("__rev") === col("__max"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("__rev").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q105_sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-10-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
      |FROM revenue, supplier
      |WHERE l_suppkey = s_suppkey
      |  AND rev = (SELECT MAX(rev) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- Q19

  /** TPC-H Q19 (discounted revenue): the disjunctive-predicate join —
    * three OR'd brand/size/quantity conjunctions. The part side carries
    * an explicit superset prefilter (brand IN, size range) so the scan
    * prunes even though the OR itself can only apply post-join; the
    * join stays a plain equi-join on partkey with the disjunction as
    * its residual condition, never a nested loop.
    */
  val q106_tpch_q19: Q = (s, dir) => {
    val p = t(s, dir, "part")
      .where(col("p_brand").isin("Brand#12", "Brand#3", "Brand#14") &&
        col("p_size").between(1, 15))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    t(s, dir, "lineitem")
      .join(p, col("l_partkey") === col("p_partkey") && (
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#14" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_rows"))
  }

  val q106_sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |        AND l_quantity BETWEEN 1 AND 11)
      |    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 10
      |        AND l_quantity BETWEEN 10 AND 20)
      |    OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
      |        AND l_quantity BETWEEN 20 AND 30))""".stripMargin

  // ---------------------------------------------------------------- Q22

  /** TPC-H Q22 (global sales opportunity): well-funded customers of a
    * nation set who never placed an urgent order — uncorrelated scalar AVG threshold
    * + anti-join (NOT EXISTS). Adaptation: the fixture has no c_phone,
    * so the "country code" is c_nationkey itself. The threshold is
    * derived as exact-decimal sum / count, cast to double in BOTH
    * engines before one IEEE division — bit-identical, so no customer
    * can flip across the boundary between engines.
    */
  val q107_tpch_q22: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("g_q107_customer")
    t(s, dir, "orders").createOrReplaceTempView("g_q107_orders")
    s.sql(
      """WITH thr AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |           / COUNT(*) AS avg_bal
        |  FROM g_q107_customer
        |  WHERE c_acctbal > 0.00
        |    AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
        |SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM g_q107_customer
        |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
        |  AND c_acctbal > (SELECT avg_bal FROM thr)
        |  AND NOT EXISTS (SELECT 1 FROM g_q107_orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin)
  }

  val q107_sql: String =
    """WITH thr AS (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |           / COUNT(*) AS avg_bal
      |  FROM customer
      |  WHERE c_acctbal > 0.00
      |    AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      |SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      |  AND c_acctbal > (SELECT avg_bal FROM thr)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- Q16

  /** TPC-H Q16 (parts/supplier relationship): distinct-supplier counts
    * per part attribute triple, excluding a brand/type slice and a
    * supplier blacklist via NOT IN. Adaptation: no partsupp table —
    * lineitem is the part↔supplier association (same join shape, fact
    *-sized instead of catalog-sized, which only strengthens the scale
    * test). The blacklist subquery is uncorrelated over a non-null key,
    * so Catalyst plans a null-safe anti-join without the NOT IN
    * null-trap. Top-20 fully tiebroken.
    */
  val q108_tpch_q16: Q = (s, dir) => {
    t(s, dir, "part").createOrReplaceTempView("g_q108_part")
    t(s, dir, "lineitem").createOrReplaceTempView("g_q108_lineitem")
    t(s, dir, "supplier").createOrReplaceTempView("g_q108_supplier")
    s.sql(
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM g_q108_part, g_q108_lineitem
        |WHERE p_partkey = l_partkey
        |  AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM g_q108_supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 20""".stripMargin)
  }

  val q108_sql: String =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part, lineitem
      |WHERE p_partkey = l_partkey
      |  AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- Q21

  /** TPC-H Q21 (suppliers who kept orders waiting): the double
    * correlated quantifier — suppliers solely responsible for a failed
    * order's problem line: EXISTS another supplier's line on the same
    * order, NOT EXISTS another supplier's PROBLEM line. Catalyst must
    * decorrelate both into semi/anti joins on l_orderkey. Adaptation:
    * no l_commitdate/l_receiptdate, so "problem line" is
    * l_returnflag='R' (as in q102).
    */
  val q109_tpch_q21: Q = (s, dir) => {
    t(s, dir, "supplier").createOrReplaceTempView("g_q109_supplier")
    t(s, dir, "lineitem").createOrReplaceTempView("g_q109_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("g_q109_orders")
    s.sql(
      """SELECT s_name, COUNT(*) AS numwait
        |FROM g_q109_supplier, g_q109_lineitem l1, g_q109_orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM g_q109_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM g_q109_lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin)
  }

  val q109_sql: String =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- Q20

  /** TPC-H Q20 (potential part promotion): suppliers of a nation pair
    * who shipped a large volume of 'small…' parts in one year — the
    * nested-IN shape: an IN whose subquery is itself an aggregate with
    * a HAVING over a join, plus a second IN over the nation dimension.
    * Adaptation: no partsupp/ps_availqty, so the "excess stock"
    * predicate becomes shipped-quantity > 300 (exact-decimal HAVING,
    * same aggregate-subquery decorrelation).
    */
  val q110_tpch_q20: Q = (s, dir) => {
    t(s, dir, "supplier").createOrReplaceTempView("g_q110_supplier")
    t(s, dir, "nation").createOrReplaceTempView("g_q110_nation")
    t(s, dir, "lineitem").createOrReplaceTempView("g_q110_lineitem")
    t(s, dir, "part").createOrReplaceTempView("g_q110_part")
    s.sql(
      """SELECT s_suppkey, s_name
        |FROM g_q110_supplier
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey FROM g_q110_lineitem, g_q110_part
        |    WHERE l_partkey = p_partkey AND p_name LIKE 'small%'
        |      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |    GROUP BY l_suppkey
        |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        |  AND s_nationkey IN (SELECT n_nationkey FROM g_q110_nation
        |                      WHERE n_name IN ('NATION_3', 'NATION_7'))
        |ORDER BY s_suppkey""".stripMargin)
  }

  val q110_sql: String =
    """SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem, part
      |    WHERE l_partkey = p_partkey AND p_name LIKE 'small%'
      |      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |    GROUP BY l_suppkey
      |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
      |  AND s_nationkey IN (SELECT n_nationkey FROM nation
      |                      WHERE n_name IN ('NATION_3', 'NATION_7'))
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- Q9

  /** TPC-H Q9 (product type profit): profit by supplier nation × order
    * year over parts matching a name pattern — the widest join tree in
    * the suite (lineitem⋈part⋈supplier⋈orders⋈nation). Adaptation: no
    * partsupp.ps_supplycost, so cost is quantity × p_retailprice (the
    * fixture's own part price), keeping every term exact DECIMAL; the
    * join tree, name-LIKE prefilter, and nation×year rollup are the
    * original shape. part is filtered before joining (fact-sized at
    * real scale); nation broadcasts.
    */
  val q111_tpch_q9: Q = (s, dir) => {
    val redParts = t(s, dir, "part")
      .where(col("p_name").like("%red%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val suppNat = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    t(s, dir, "lineitem")
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .join(suppNat, col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(rev - d2(col("l_quantity")) * d2(col("p_retailprice")))
        .cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q111_sql: String =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2)))
      |    - CAST(l_quantity AS DECIMAL(18,2))
      |      * CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
      |FROM lineitem, part, supplier, orders, nation
      |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
      |  AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
      |  AND p_name LIKE '%red%'
      |GROUP BY 1, 2
      |ORDER BY nation, o_year DESC""".stripMargin

  // ---------------------------------------------------------------- Q11

  /** TPC-H Q11 (important stock): values that individually exceed a
    * fraction of the GLOBAL total — the HAVING-against-global-scalar
    * shape. Adaptation: no partsupp, so "value" is per-part revenue
    * from lineitem. The per-part aggregate computes once; the global
    * total is a second aggregation over it (1-row broadcast), and the
    * threshold compares between identically-derived DOUBLEs — the
    * decimal×fraction product would overflow DECIMAL(38) precision and
    * round differently per engine, the double compare cannot.
    */
  val q112_tpch_q11: Q = (s, dir) => {
    val perPart = t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(rev).as("__val"))
    val total = perPart.agg(sum(col("__val")).as("__total"))
    perPart.join(broadcast(total),
        col("__val").cast("double") > col("__total").cast("double") * 0.0008)
      .select(col("l_partkey").as("p_key"),
        col("__val").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("p_key"))
  }

  val q112_sql: String =
    """WITH pr AS (
      |  SELECT l_partkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS val
      |  FROM lineitem GROUP BY l_partkey),
      |tot AS (SELECT SUM(val) AS total FROM pr)
      |SELECT l_partkey AS p_key, CAST(val AS DOUBLE) AS part_value
      |FROM pr, tot
      |WHERE CAST(val AS DOUBLE) > CAST(total AS DOUBLE) * 0.0008
      |ORDER BY part_value DESC, p_key""".stripMargin

  // ---------------------------------------------------------------- Q12

  /** TPC-H Q12 (shipping modes and order priority): two-bucket
    * conditional counts of late lines per group — priority split as a
    * conditional aggregate over the orders⋈lineitem join. Adaptation:
    * no l_shipmode/l_commitdate/l_receiptdate — the group is
    * l_linestatus and "late" is shipped ≥ 60 days after ordering
    * (exact timestamp interval arithmetic in both engines).
    */
  val q113_tpch_q12: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .where(expr("l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'") &&
        expr("l_shipdate < TIMESTAMP '1998-01-01 00:00:00'"))
      .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_linestatus").as("ship_group"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"))
      .orderBy(col("ship_group"))
  }

  val q113_sql: String =
    """SELECT l_linestatus AS ship_group,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
      |GROUP BY l_linestatus
      |ORDER BY ship_group""".stripMargin

  // ---------------------------------------------------------------- Q2

  /** TPC-H Q2 (minimum cost supplier): for each qualifying part, the
    * supplier(s) achieving the correlated MINIMUM — the correlated
    * scalar-MIN subquery Catalyst decorrelates into an aggregate +
    * join on the correlation key. Adaptation: no partsupp.ps_supplycost
    * — the association is lineitem (DISTINCT pairs) and the minimized
    * measure is s_acctbal ("cheapest-capitalized supplier who actually
    * shipped the part"). MIN over stored doubles involves no
    * arithmetic, so the equality join is exact. Stated via `spark.sql`
    * to exercise the decorrelator.
    */
  val q114_tpch_q2: Q = (s, dir) => {
    t(s, dir, "part").createOrReplaceTempView("g_q114_part")
    t(s, dir, "supplier").createOrReplaceTempView("g_q114_supplier")
    t(s, dir, "lineitem").createOrReplaceTempView("g_q114_lineitem")
    t(s, dir, "nation").createOrReplaceTempView("g_q114_nation")
    s.sql(
      """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM g_q114_part, g_q114_supplier, g_q114_lineitem, g_q114_nation
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND s_nationkey = n_nationkey
        |  AND p_size = 15 AND p_type = 'STANDARD'
        |  AND s_acctbal = (SELECT MIN(s2.s_acctbal)
        |                   FROM g_q114_supplier s2, g_q114_lineitem l2
        |                   WHERE l2.l_partkey = p_partkey
        |                     AND s2.s_suppkey = l2.l_suppkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)
  }

  val q114_sql: String =
    """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
      |FROM part, supplier, lineitem, nation
      |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |  AND s_nationkey = n_nationkey
      |  AND p_size = 15 AND p_type = 'STANDARD'
      |  AND s_acctbal = (SELECT MIN(s2.s_acctbal)
      |                   FROM supplier s2, lineitem l2
      |                   WHERE l2.l_partkey = p_partkey
      |                     AND s2.s_suppkey = l2.l_suppkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  val queries: Map[String, Q] = Map(
    "q101_tpch_q6"  -> q101_tpch_q6,
    "q102_tpch_q4"  -> q102_tpch_q4,
    "q103_tpch_q7"  -> q103_tpch_q7,
    "q104_tpch_q8"  -> q104_tpch_q8,
    "q105_tpch_q15" -> q105_tpch_q15,
    "q106_tpch_q19" -> q106_tpch_q19,
    "q107_tpch_q22" -> q107_tpch_q22,
    "q108_tpch_q16" -> q108_tpch_q16,
    "q109_tpch_q21" -> q109_tpch_q21,
    "q110_tpch_q20" -> q110_tpch_q20,
    "q111_tpch_q9"  -> q111_tpch_q9,
    "q112_tpch_q11" -> q112_tpch_q11,
    "q113_tpch_q12" -> q113_tpch_q12,
    "q114_tpch_q2"  -> q114_tpch_q2)

  val oracles: Map[String, String] = Map(
    "q101_tpch_q6"  -> q101_sql,
    "q102_tpch_q4"  -> q102_sql,
    "q103_tpch_q7"  -> q103_sql,
    "q104_tpch_q8"  -> q104_sql,
    "q105_tpch_q15" -> q105_sql,
    "q106_tpch_q19" -> q106_sql,
    "q107_tpch_q22" -> q107_sql,
    "q108_tpch_q16" -> q108_sql,
    "q109_tpch_q21" -> q109_sql,
    "q110_tpch_q20" -> q110_sql,
    "q111_tpch_q9"  -> q111_sql,
    "q112_tpch_q11" -> q112_sql,
    "q113_tpch_q12" -> q113_sql,
    "q114_tpch_q2"  -> q114_sql)
}
