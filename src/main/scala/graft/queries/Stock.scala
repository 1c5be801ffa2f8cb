package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.StockPipeline
import graft.analytics.Indicators
import graft.ingest.{Fixtures, FixtureTables, Normalize}

/** The stock-pipeline surface (SURVEY.md §2.A) demonstrated on the
  * embedded Alpha-Vantage-shaped fixtures.
  *
  * Each query first dumps the raw (pre-cast, string-valued) exploded
  * bars via [[FixtureTables.ensure]], and its oracle SQL replays the
  * normalize / dedup / window semantics from those dumps — so the
  * reference's core parse-and-load behavior gets the same hash-level
  * DuckDB proof as the rest of the query surface.
  */
object Stock {

  /** Query-output boundary: DECIMAL(15,4) stays the internal/storage
    * money type (reference schema fidelity, exact row-drop semantics),
    * but emitted price columns leave as DOUBLE. Spark's decimal→double
    * is one correctly-rounded division of the exact unscaled value, so
    * it equals DuckDB's (correctly-rounded) string→double parse of the
    * same 4-dp source literal bit-for-bit — whereas DuckDB's own
    * decimal→double conversion is NOT correctly rounded, which is what
    * made DECIMAL output columns hash-divergent under the driver's
    * canonicalization.
    */
  private def pricesAsDouble(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, d.col(c).cast("double")))

  private val ohlc = Seq("open_price", "high_price", "low_price", "close_price")

  /** A2-A6: payload JSON → normalized daily rows (edge rows dropped). */
  val stock_daily_normalize: Q = (s, _) => {
    FixtureTables.ensure(s)
    pricesAsDouble(Normalize.daily(Fixtures.dailyPayloads(s)), ohlc: _*)
  }

  /** A5 strict single-format timestamps on the 5-min series. */
  val stock_intraday_normalize: Q = (s, _) => {
    FixtureTables.ensure(s)
    pricesAsDouble(Normalize.intraday(Fixtures.intradayPayloads(s)), ohlc: _*)
  }

  /** A5 dual-format keys: date-only → midnight; `HH:mm` keys dropped. */
  val stock_sma_normalize: Q = (s, _) => {
    FixtureTables.ensure(s)
    pricesAsDouble(Normalize.sma(Fixtures.smaPayloads(s)), "sma_value")
  }

  /** A7/B1/B4/B6/A13/B9: full idempotent two-run load; returns the loaded
    * daily table (second run inserted only genuinely-new bars).
    */
  val stock_incremental_load: Q = (s, _) => {
    FixtureTables.ensure(s)
    pricesAsDouble(StockPipeline.demo(s), ohlc: _*)
  }

  /** B10 computed natively: 3-bar SMA over the fixture intraday closes,
    * full windows only. Uses the cross-engine-exact formulation (decimal
    * window SUM → one double cast → divide; same recipe as q11) so the
    * oracle reproduces it bit-for-bit.
    */
  val stock_sma_native: Q = (s, _) => {
    FixtureTables.ensure(s)
    val w = Window.partitionBy(col("company_symbol")).orderBy(col("date_time"))
      .rowsBetween(-2, 0)
    Normalize.intraday(Fixtures.intradayPayloads(s))
      .withColumn("sma_value",
        sum(col("close_price")).over(w).cast("double") / lit(3))
      .withColumn("__n", count(lit(1)).over(w))
      .where(col("__n") === 3)
      .select(col("company_symbol"), col("date_time"), col("sma_value"))
  }

  /** B8: the reference's exemplar user query (`README_duckdb.md:78-84`)
    * over the fixture-loaded table.
    */
  val stock_latest_bars: Q = (s, _) => {
    FixtureTables.ensure(s)
    Indicators.latestN(
      Normalize.daily(Fixtures.dailyPayloads(s)),
      keyCol = "company_symbol", key = "AAPL",
      orderCol = "date", n = 10)
      .select(col("company_symbol"), col("date"),
        col("close_price").cast("double").as("close_price"))
  }

  /** CDC between the two ingest runs' normalized daily snapshots —
    * which (symbol, date) bars the second fetch added, dropped, or
    * changed ([[graft.load.SnapshotDiff]]: one full-outer PK join).
    */
  val stock_snapshot_diff: Q = (s, _) => {
    FixtureTables.ensure(s)
    graft.load.SnapshotDiff(
      Normalize.daily(Fixtures.dailyPayloads(s)),
      Normalize.daily(Fixtures.dailyPayloadsNextRun(s)),
      pk = Seq("company_symbol", "date"))
  }

  val queries: Map[String, Q] = Map(
    "stock_daily_normalize"    -> stock_daily_normalize,
    "stock_intraday_normalize" -> stock_intraday_normalize,
    "stock_sma_normalize"      -> stock_sma_normalize,
    "stock_incremental_load"   -> stock_incremental_load,
    "stock_sma_native"         -> stock_sma_native,
    "stock_latest_bars"        -> stock_latest_bars,
    "stock_snapshot_diff"      -> stock_snapshot_diff)

  // ------------------------------------------------------------- oracles

  private def r = FixtureTables.root

  /** Normalize CTE over a raw daily dump — DuckDB replay of
    * `Normalize.daily`: strict `yyyy-MM-dd` keys, BIGINT volume, any-NULL
    * row drop. Row validation stays on the DECIMAL(15,4) parse (the
    * reference's money type decides what is a droppable bad value), but
    * the emitted price columns are parsed string→DOUBLE directly —
    * DuckDB's decimal→double conversion is not correctly rounded, its
    * string→double parse is, and the Spark side's decimal→double cast
    * is too, so this is the bit-stable output boundary.
    */
  private def dailyNormSql(src: String): String =
    s"""SELECT company_symbol, date, open_price, high_price, low_price,
       |       close_price, volume FROM (
       |  SELECT company_symbol,
       |         CAST(try_strptime(k, '%Y-%m-%d') AS DATE) AS date,
       |         try_cast(open_s  AS DOUBLE) AS open_price,
       |         try_cast(high_s  AS DOUBLE) AS high_price,
       |         try_cast(low_s   AS DOUBLE) AS low_price,
       |         try_cast(close_s AS DOUBLE) AS close_price,
       |         try_cast(open_s  AS DECIMAL(15,4)) AS open_v,
       |         try_cast(high_s  AS DECIMAL(15,4)) AS high_v,
       |         try_cast(low_s   AS DECIMAL(15,4)) AS low_v,
       |         try_cast(close_s AS DECIMAL(15,4)) AS close_v,
       |         try_cast(volume_s AS BIGINT) AS volume
       |  FROM $src)
       |WHERE company_symbol IS NOT NULL AND date IS NOT NULL
       |  AND open_v IS NOT NULL AND high_v IS NOT NULL
       |  AND low_v IS NOT NULL AND close_v IS NOT NULL
       |  AND volume IS NOT NULL""".stripMargin

  /** Intraday normalize replay; `money` picks the emitted price type —
    * DOUBLE at the query-output boundary, DECIMAL(15,4) when feeding the
    * exact window arithmetic in [[stock_sma_native_sql]].
    */
  private def intradayNormSql(money: String = "DOUBLE"): String =
    s"""SELECT company_symbol, date_time, open_price, high_price,
       |       low_price, close_price, volume FROM (
       |  SELECT company_symbol,
       |         try_strptime(k, '%Y-%m-%d %H:%M:%S') AS date_time,
       |         try_cast(open_s  AS $money) AS open_price,
       |         try_cast(high_s  AS $money) AS high_price,
       |         try_cast(low_s   AS $money) AS low_price,
       |         try_cast(close_s AS $money) AS close_price,
       |         try_cast(open_s  AS DECIMAL(15,4)) AS open_v,
       |         try_cast(high_s  AS DECIMAL(15,4)) AS high_v,
       |         try_cast(low_s   AS DECIMAL(15,4)) AS low_v,
       |         try_cast(close_s AS DECIMAL(15,4)) AS close_v,
       |         try_cast(volume_s AS BIGINT) AS volume
       |  FROM read_parquet('$r/intraday_raw.parquet/*.parquet'))
       |WHERE company_symbol IS NOT NULL AND date_time IS NOT NULL
       |  AND open_v IS NOT NULL AND high_v IS NOT NULL
       |  AND low_v IS NOT NULL AND close_v IS NOT NULL
       |  AND volume IS NOT NULL""".stripMargin

  def stock_daily_normalize_sql: String =
    dailyNormSql(s"read_parquet('$r/daily_raw.parquet/*.parquet')")

  def stock_intraday_normalize_sql: String = intradayNormSql()

  /** Dual-format SMA keys: full timestamp, else date-only → midnight,
    * else dropped (the reference's 402 skipped `HH:mm` rows).
    */
  def stock_sma_normalize_sql: String =
    s"""SELECT company_symbol, date_time, sma_value FROM (
       |  SELECT company_symbol,
       |         COALESCE(try_strptime(k, '%Y-%m-%d %H:%M:%S'),
       |                  try_strptime(k, '%Y-%m-%d')) AS date_time,
       |         try_cast(sma_s AS DOUBLE) AS sma_value,
       |         try_cast(sma_s AS DECIMAL(15,4)) AS sma_v
       |  FROM read_parquet('$r/sma_raw.parquet/*.parquet'))
       |WHERE company_symbol IS NOT NULL AND date_time IS NOT NULL
       |  AND sma_v IS NOT NULL""".stripMargin

  /** Two-run idempotent load: normalize both runs' raw bars, then PK
    * dedup — duplicate (symbol, date) bars carry identical values, so
    * DISTINCT reproduces the anti-join append exactly.
    */
  def stock_incremental_load_sql: String =
    s"""WITH raw AS (
       |  SELECT * FROM read_parquet('$r/daily_raw.parquet/*.parquet')
       |  UNION ALL
       |  SELECT * FROM read_parquet('$r/daily_raw2.parquet/*.parquet'))
       |SELECT DISTINCT * FROM (${dailyNormSql("raw")})""".stripMargin

  def stock_sma_native_sql: String =
    s"""WITH bars AS (${intradayNormSql(money = "DECIMAL(15,4)")})
       |SELECT company_symbol, date_time,
       |       CAST(SUM(close_price) OVER w AS DOUBLE) / 3 AS sma_value
       |FROM bars
       |WINDOW w AS (PARTITION BY company_symbol ORDER BY date_time
       |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |QUALIFY COUNT(*) OVER w = 3""".stripMargin

  def stock_latest_bars_sql: String =
    s"""WITH c AS (${dailyNormSql(s"read_parquet('$r/daily_raw.parquet/*.parquet')")})
       |SELECT company_symbol, date, close_price FROM c
       |WHERE company_symbol = 'AAPL'
       |ORDER BY date DESC LIMIT 10""".stripMargin

  def stock_snapshot_diff_sql: String =
    s"""WITH o AS (${dailyNormSql(s"read_parquet('$r/daily_raw.parquet/*.parquet')")}),
       |n AS (${dailyNormSql(s"read_parquet('$r/daily_raw2.parquet/*.parquet')")}),
       |j AS (
       |  SELECT COALESCE(o.company_symbol, n.company_symbol) AS company_symbol,
       |         COALESCE(o.date, n.date) AS date,
       |         CASE WHEN o.company_symbol IS NULL THEN 'insert'
       |              WHEN n.company_symbol IS NULL THEN 'delete'
       |              WHEN (o.open_price  IS DISTINCT FROM n.open_price)
       |                OR (o.high_price  IS DISTINCT FROM n.high_price)
       |                OR (o.low_price   IS DISTINCT FROM n.low_price)
       |                OR (o.close_price IS DISTINCT FROM n.close_price)
       |                OR (o.volume      IS DISTINCT FROM n.volume)
       |                THEN 'update'
       |              ELSE 'unchanged' END AS change_type
       |  FROM o FULL OUTER JOIN n
       |    ON o.company_symbol = n.company_symbol AND o.date = n.date)
       |SELECT company_symbol, date, change_type
       |FROM j WHERE change_type <> 'unchanged'""".stripMargin

  def oracles: Map[String, String] = Map(
    "stock_daily_normalize"    -> stock_daily_normalize_sql,
    "stock_intraday_normalize" -> stock_intraday_normalize_sql,
    "stock_sma_normalize"      -> stock_sma_normalize_sql,
    "stock_incremental_load"   -> stock_incremental_load_sql,
    "stock_sma_native"         -> stock_sma_native_sql,
    "stock_latest_bars"        -> stock_latest_bars_sql,
    "stock_snapshot_diff"      -> stock_snapshot_diff_sql)
}
