package graft

import org.apache.spark.sql.DataFrame

import graft.ingest.{Fixtures, Normalize}
import graft.load.Catalog
import graft.schema.StockSchemas

/** [[StockPipeline.run]] on the embedded fixtures: the run summary agrees
  * with the store it leaves, and a re-run of a batch is a no-op.
  */
class StockPipelineSpec extends SparkSpec {

  private def rowCounts(base: String): Map[String, Long] =
    StockSchemas.tables.map { case (t, schema) =>
      t -> Catalog.readOrEmpty(spark, Catalog.tablePath(base, t), schema).count()
    }

  /** table -> (rows_inserted, rows_offered) */
  private def run(base: String, daily: DataFrame): Map[String, (Long, Long)] = {
    val summary = StockPipeline.run(spark, base, daily,
      Fixtures.intradayPayloads(spark), Fixtures.smaPayloads(spark))
    assert(summary.columns.toSeq == Seq("table", "rows_inserted", "rows_offered"))
    summary.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("rows_inserted equals each table's row-count change; a re-run inserts 0 and adds no file") {
    val base = SparkSpec.tempDir("graft_pipeline_spec")
    val batches = Seq(Fixtures.dailyPayloads(spark), Fixtures.dailyPayloadsNextRun(spark))
    var before = rowCounts(base)
    batches.foreach { daily =>
      val summary = run(base, daily)
      val after = rowCounts(base)
      assert(summary.keySet == StockSchemas.tables.keySet)
      summary.foreach { case (t, (inserted, _)) =>
        assert(inserted == after(t) - before(t), s"$t: summary vs. store")
      }
      // offered = the normalized rows each load saw
      val offered = Map(
        "daily_stock_prices" -> Normalize.daily(daily).count(),
        "intraday_stock_prices" -> Normalize.intraday(Fixtures.intradayPayloads(spark)).count(),
        "sma_indicators" -> Normalize.sma(Fixtures.smaPayloads(spark)).count())
      offered.foreach { case (t, n) => assert(summary(t)._2 == n, s"$t offered") }
      assert(summary("companies")._2 == 2) // AAPL and MSFT
      before = after
    }

    val files = IncrementalSpec.dataFiles(base)
    val rerun = run(base, batches.last)
    assert(rerun.map { case (t, (inserted, _)) => t -> inserted } ==
      StockSchemas.tables.keys.map(_ -> 0L).toMap)
    assert(IncrementalSpec.dataFiles(base) == files)
    assert(rowCounts(base) == before)
  }
}
