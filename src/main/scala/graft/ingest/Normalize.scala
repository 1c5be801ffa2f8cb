package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Payload struct → normalized relational rows (reference's parse loops,
  * `main_parallel.py:254-362`, re-expressed declaratively).
  *
  * Semantics (SURVEY.md §7.1):
  *   - explode the date-keyed map (A3) — one row per bar;
  *   - strict per-endpoint key formats (A5): daily `yyyy-MM-dd`;
  *     intraday `yyyy-MM-dd HH:mm:ss`; SMA accepts both, normalizing
  *     date-only keys to midnight. Keys in other formats (e.g.
  *     `2025-12-01 08:00`) become NULL and are dropped, matching the
  *     reference's 402 skipped rows (BASELINE.md);
  *   - permissive row drop (A6): any unparseable numeric field drops the
  *     whole row (`try_cast` → NULL → filtered), mirroring the reference's
  *     per-row `except (KeyError, ValueError)`;
  *   - prices cast straight from the JSON string to DECIMAL(15,4), volume
  *     to BIGINT (§1.3).
  *
  * Everything is built-in Catalyst expressions — whole-stage codegen'd,
  * no UDFs — so it scales linearly with input splits.
  */
object Normalize {

  private[ingest] def bars(payloads: DataFrame, seriesKey: String): DataFrame =
    PayloadReader.valid(payloads)
      .select(
        PayloadReader.symbol.as("company_symbol"),
        explode(col(seriesKey)).as(Seq("k", "bar")))

  private def ohlcv: Seq[Column] = Seq(
    expr("try_cast(bar['1. open']  AS DECIMAL(15,4))").as("open_price"),
    expr("try_cast(bar['2. high']  AS DECIMAL(15,4))").as("high_price"),
    expr("try_cast(bar['3. low']   AS DECIMAL(15,4))").as("low_price"),
    expr("try_cast(bar['4. close'] AS DECIMAL(15,4))").as("close_price"),
    expr("try_cast(bar['5. volume'] AS BIGINT)").as("volume"))

  private def dropMalformed(df: DataFrame): DataFrame =
    df.na.drop("any")

  /** `"Time Series (Daily)"` → daily_stock_prices rows. */
  def daily(payloads: DataFrame): DataFrame =
    dropMalformed(
      bars(payloads, "Time Series (Daily)")
        .select(
          Seq(col("company_symbol"),
            expr("try_to_date(k, 'yyyy-MM-dd')").as("date")) ++ ohlcv: _*))

  /** `"Time Series (5min)"` → intraday_stock_prices rows. */
  def intraday(payloads: DataFrame): DataFrame =
    dropMalformed(
      bars(payloads, "Time Series (5min)")
        .select(
          Seq(col("company_symbol"),
            try_to_timestamp(col("k"), lit("yyyy-MM-dd HH:mm:ss"))
              .as("date_time")) ++ ohlcv: _*))

  /** `"Technical Analysis: SMA"` → sma_indicators rows. Timestamp or
    * date-only keys accepted (A5, `main_parallel.py:338-342`); date-only
    * normalizes to midnight (`main_parallel_duckdb.py:292`).
    */
  def sma(payloads: DataFrame): DataFrame =
    dropMalformed(
      bars(payloads, "Technical Analysis: SMA")
        .select(
          col("company_symbol"),
          coalesce(
            try_to_timestamp(col("k"), lit("yyyy-MM-dd HH:mm:ss")),
            try_to_timestamp(expr("try_to_date(k, 'yyyy-MM-dd')")))
            .as("date_time"),
          expr("try_cast(bar['SMA'] AS DECIMAL(15,4))").as("sma_value")))

  /** Rows the normalizer would drop (bad key format or bad numerics) —
    * the reference logs one WARNING per such row; we surface them as a
    * frame so callers can count/inspect instead of grepping logs.
    */
  def rejects(payloads: DataFrame, endpoint: String): DataFrame = {
    val (seriesKey, parsed) = endpoint match {
      case "daily" =>
        ("Time Series (Daily)", daily(payloads))
      case "intraday" =>
        ("Time Series (5min)", intraday(payloads))
      case "sma" =>
        ("Technical Analysis: SMA", sma(payloads))
      case other => throw new IllegalArgumentException(s"endpoint: $other")
    }
    val allKeys = bars(payloads, seriesKey)
      .select(col("company_symbol"), col("k"))
    allKeys
      .groupBy("company_symbol")
      .agg(count(lit(1)).as("input_rows"))
      .join(
        parsed.groupBy("company_symbol").agg(count(lit(1)).as("kept_rows")),
        Seq("company_symbol"), "left")
      .na.fill(0L, Seq("kept_rows"))
      .withColumn("rejected_rows", col("input_rows") - col("kept_rows"))
  }
}
