package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class EtlWorkloadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the same seed gives byte-identical payloads; another seed does not") {
    val a = PayloadGen.generate(7L, EtlShape.full)
    val b = PayloadGen.generate(7L, EtlShape.full)
    val c = PayloadGen.generate(8L, EtlShape.full)
    assert(a.batches == b.batches)
    assert(a.expected == b.expected)
    assert(a.batches != c.batches)
  }

  test("the full shape injects every edge kind FIXTURES.md A.1 names") {
    val load = PayloadGen.generate(7L, EtlShape.full)
    val all = load.batches.flatMap(b => b.daily ++ b.intraday ++ b.sma)
    assert(all.exists(_.contains("\"Error Message\"")))
    assert(all.exists(_.contains("\"Note\"")))
    assert(all.exists(_.contains("\"5. volume\":\"N/A\"")))
    assert(all.exists(_.matches(".*\"1\\. open\":\"[0-9.]+\",\"3\\. low\".*")),
      "a bar without its high")
    assert(load.batches.flatMap(_.sma).exists(_.matches(".*\"\\d{4}-\\d\\d-\\d\\d 08:00\".*")))
    assert(all.exists(_.matches(".*\"5. volume\":\"3\\d{9}\".*")), "a volume past 2^31")
    PayloadGen.endpoints.foreach(ep => assert(load.expected.rejects(ep) > 0, ep))
    val payloads = EtlShape.full.symbols * (EtlShape.full.incrementals + 1)
    assert(load.expected.payloads.values.sum < 3 * payloads, "envelopes replace payloads")
  }

  test("per-batch inserts add up to each table; the no-op re-run adds nothing") {
    val e = PayloadGen.generate(7L, EtlShape.full).expected
    e.rows.foreach { case (t, n) => assert(e.inserted.map(_(t)).sum == n, t) }
    assert(e.inserted.last.values.forall(_ == 0L))
    // every incremental slides in bars no earlier batch carried
    val s = EtlShape.full
    e.inserted.slice(1, 1 + s.incrementals).foreach(ins =>
      assert(ins("sma_indicators") > 0 && ins("intraday_stock_prices") > 0))
  }

  for (traced <- Seq(false, true))
    test(s"a tiny run loads exactly the expected rows (traced = $traced)") {
      val dir = Files.createTempDirectory("perfbench-etl").toString
      val cfg = RunConfig("etl_incremental", seed = 3L, seconds = 0.0,
        trace = traced, dataDir = "", runDir = dir, launchedAt = 0.0, tiny = true)
      val tr = new Tracer(spark, traced, cfg.workload, cfg.seed)
      val out = new Outcome
      try EtlWorkload.run(spark, cfg, tr, out) finally tr.close()
      assert(out.checks.nonEmpty)
      assert(out.failedChecks == 0, out.checks.filterNot(_._2).mkString("\n"))
      // three warm-up batches, the bootstrap, the incrementals of each
      // timed pass, the no-op re-run
      assert(out.attempted ==
        3L + 1 + EtlWorkload.minPasses * EtlShape.tiny.incrementals + 1)
      val names = out.metrics.keySet
      assert(Set("setup_s", "pass_s", "op_p50_s", "bootstrap_s",
        "noop_rerun_s", "rows_per_s", "store_bytes_per_row").subsetOf(names))
      if (traced) {
        assert(out.metrics("ingest.rows_rejected")._1 > 0)
        assert(out.metrics("load.rows_inserted")._1 > 0)
        assert(tr.byPass().size == EtlWorkload.minPasses)
      }
    }
}
