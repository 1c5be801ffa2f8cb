package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Fixtures, Normalize}
import graft.load.{Catalog, Incremental}
import graft.schema.StockSchemas

/** The reference's end-to-end ETL (`main_parallel.py:460-497`)
  * re-expressed as one declarative Spark job:
  *
  *   payloads → envelope filter (A14) → explode/normalize (A3-A6)
  *   → ensure companies (A13) → idempotent PK append (A7/B4/B6)
  *   → per-table run summary (A12/A15's success accounting).
  *
  * The reference's thread-pool fan-out over symbol×endpoint becomes
  * Spark task parallelism: all symbols' payloads are one DataFrame, and
  * every stage (parse, explode, cast, anti-join, write) distributes over
  * its partitions.
  */
object StockPipeline {

  /** Run one ingest batch from payload frames into the parquet tables at
    * `basePath`. Any of the three frames may be empty. Returns a summary
    * frame `(table, rows_inserted, rows_offered)` — the engine's version
    * of the reference's per-task success report
    * (`main_parallel.py:452-455`). `rows_offered` counts the normalized
    * rows (for `companies`, the distinct symbols) each load saw; it is
    * recorded by the same job that writes, with no extra scan.
    */
  def run(
      spark: SparkSession,
      basePath: String,
      daily: DataFrame,
      intraday: DataFrame,
      sma: DataFrame): DataFrame = {
    import spark.implicits._

    Catalog.createTablesIfNotExists(spark, basePath)

    val dailyRows = Normalize.daily(daily)
    val intradayRows = Normalize.intraday(intraday)
    val smaRows = Normalize.sma(sma)

    val symbols = dailyRows.select("company_symbol")
      .unionByName(intradayRows.select("company_symbol"))
      .unionByName(smaRows.select("company_symbol"))
      .distinct()
    val companies = Catalog.appendCompanies(spark, basePath, symbols)

    def load(table: String, rows: DataFrame): Incremental.Appended =
      Incremental.append(
        spark,
        Catalog.tablePath(basePath, table),
        rows,
        StockSchemas.primaryKeys(table),
        StockSchemas.tables(table),
        StockSchemas.partitioning(table))

    // The three fact loads are independent (distinct target paths) —
    // submit them as concurrent Spark jobs, the engine-side equivalent
    // of the reference's thread-pool fan-out (`main_parallel.py:460+`).
    // Each load is one write job whose stages are small, so running them
    // side by side lets one load's tasks fill the others' idle cores.
    val factLoads = Seq(
      "daily_stock_prices" -> dailyRows,
      "intraday_stock_prices" -> intradayRows,
      "sma_indicators" -> smaRows
    ).map { case (table, rows) => () => table -> load(table, rows) }
    val loaded = ("companies" -> companies) +:
      Jobs.concurrently(spark, "stock fact loads", factLoads: _*)

    loaded.map { case (table, a) => (table, a.inserted, a.offered) }
      .toDF("table", "rows_inserted", "rows_offered")
  }

  /** How many ingest runs [[demo]] performs. 2 (the default — what
    * Verify and the specs always use) proves idempotent re-run: the
    * second, overlapping batch inserts only genuinely-new bars. Bench
    * sets 1: it times the steady-state load, not the idempotency proof.
    */
  @volatile var demoRuns: Int = 2

  /** Flagship demo on the embedded fixtures: two ingest runs (the second
    * overlapping the first, proving idempotency), then returns the loaded
    * daily table. Used by `SparkEntry.entry`.
    *
    * The returned frame reads the store lazily, so the store lives
    * until the JVM exits and is deleted then.
    */
  def demo(spark: SparkSession): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stock_demo").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    val base = dir.getAbsolutePath
    run(spark, base,
      Fixtures.dailyPayloads(spark),
      Fixtures.intradayPayloads(spark),
      Fixtures.smaPayloads(spark))
      .collect() // materialize run 1
    if (demoRuns >= 2)
      run(spark, base,
        Fixtures.dailyPayloadsNextRun(spark),
        Fixtures.intradayPayloads(spark),
        Fixtures.smaPayloads(spark))
        .collect() // run 2: only the 2 genuinely-new AAPL bars insert
    spark.read
      .schema(StockSchemas.dailyStockPrices)
      .parquet(Catalog.tablePath(base, "daily_stock_prices"))
      .orderBy(col("company_symbol"), col("date"))
  }
}
