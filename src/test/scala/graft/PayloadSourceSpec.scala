package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.ingest.{Fixtures, Normalize}

class PayloadSourceSpec extends SparkSpec {

  private def normalizedSet(df: org.apache.spark.sql.DataFrame) =
    Normalize.daily(df).collect().map(_.toSeq).toSet

  test("fixture-mode reads through the V2 source match the DataFrame-reader path") {
    val v2 = spark.read.format("graft-payloads").load()
    assert(v2.schema === graft.ingest.PayloadReader.payloadSchema)
    assert(normalizedSet(v2) === normalizedSet(Fixtures.dailyPayloads(spark)))
    val sma = spark.read.format("graft-payloads").option("endpoint", "sma").load()
    assert(Normalize.sma(sma).collect().map(_.toSeq).toSet ===
      Normalize.sma(Fixtures.smaPayloads(spark)).collect().map(_.toSeq).toSet)
  }

  test("path mode reads one JSON document per file, one partition per file") {
    val dir = java.nio.file.Paths.get(SparkSpec.tempDir("graft_payload_src"))
    Seq("aapl" -> Fixtures.dailyAapl, "msft" -> Fixtures.dailyMsft,
        "err" -> Fixtures.errorPayload, "note" -> Fixtures.ratelimitPayload)
      .foreach { case (n, doc) =>
        Files.write(dir.resolve(s"$n.json"), doc.getBytes(StandardCharsets.UTF_8))
      }
    val v2 = spark.read.format("graft-payloads").load(dir.toString)
    assert(v2.rdd.getNumPartitions === 4)
    assert(normalizedSet(v2) === normalizedSet(Fixtures.dailyPayloads(spark)))
  }

  test("fetch mode pulls one URL per symbol partition on the executor (file:// transport)") {
    val dir = java.nio.file.Paths.get(SparkSpec.tempDir("graft_payload_fetch"))
    Seq("AAPL" -> Fixtures.dailyAapl, "MSFT" -> Fixtures.dailyMsft)
      .foreach { case (sym, doc) =>
        Files.write(dir.resolve(s"$sym.json"), doc.getBytes(StandardCharsets.UTF_8))
      }
    // the live-mode surface with the sandbox transport: {symbol} in the
    // template expands per partition, the fetch runs executor-side
    val v2 = spark.read.format("graft-payloads")
      .option("urlTemplate", s"file://$dir/{symbol}.json")
      .option("symbols", "AAPL, MSFT")
      .load()
    assert(v2.rdd.getNumPartitions === 2)
    assert(normalizedSet(v2) === normalizedSet(
      Fixtures.dailyPayloads(spark).where(
        org.apache.spark.sql.functions.col("Error Message").isNull
          && org.apache.spark.sql.functions.col("Note").isNull)))
  }

  test("fetch mode onError=envelope degrades a failed fetch to the A14 error envelope") {
    val dir = java.nio.file.Paths.get(SparkSpec.tempDir("graft_payload_fetch_err"))
    Files.write(dir.resolve("AAPL.json"),
      Fixtures.dailyAapl.getBytes(StandardCharsets.UTF_8))
    val v2 = spark.read.format("graft-payloads")
      .option("urlTemplate", s"file://$dir/{symbol}.json")
      .option("symbols", "AAPL,MISSING")
      .option("onError", "envelope")
      .load()
    // good symbol parses; missing one contributes exactly one envelope
    // row that downstream dispatch (A14) routes like an API error —
    // and zero normalized bars (same rows as the path-mode read of the
    // same directory, which holds only AAPL)
    assert(v2.where(v2("Error Message").isNotNull).count() === 1)
    assert(normalizedSet(v2) === normalizedSet(
      spark.read.format("graft-payloads").load(dir.toString)))
    // default onError=fail: the task must raise instead
    val failing = spark.read.format("graft-payloads")
      .option("urlTemplate", s"file://$dir/{symbol}.json")
      .option("symbols", "MISSING")
      .load()
    intercept[org.apache.spark.SparkException] { failing.count() }
  }

  // ---- live HTTP transport (loopback server, fault injection) -------
  //
  // The reference's operational mode is requests.get over HTTP with a
  // 30s timeout (main_parallel.py:230-251); file:// exercises only the
  // happy path. A JDK loopback HttpServer drives the REAL HTTP stack —
  // status codes, slow bodies, timeouts — through the A14 envelope
  // path, zero-egress.

  private def withHttpServer(test: (String, java.util.concurrent.ConcurrentLinkedQueue[Long]) => Unit): Unit = {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.createContext("/q", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        hits.add(System.nanoTime())
        val sym = ex.getRequestURI.getQuery.stripPrefix("symbol=")
        def send(code: Int, body: String): Unit = {
          val b = body.getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(code, b.length)
          ex.getResponseBody.write(b)
          ex.close()
        }
        sym match {
          case "AAPL"  => send(200, Fixtures.dailyAapl)
          case "MSFT"  => send(200, Fixtures.dailyMsft)
          case "BOOM"  => send(500, "internal error")
          case "LIMIT" => send(429, "rate limited")
          case "SLOW" => // body slower than any sane read timeout
            ex.sendResponseHeaders(200, 100)
            Thread.sleep(5000)
            ex.close()
          case other => send(404, s"unknown $other")
        }
      }
    })
    server.start()
    try test(s"http://127.0.0.1:${server.getAddress.getPort}", hits)
    finally server.stop(0)
  }

  test("live HTTP transport: 200 bodies parse; 5xx/429/timeout degrade to A14 envelopes") {
    withHttpServer { (base, _) =>
      val v2 = spark.read.format("graft-payloads")
        .option("urlTemplate", s"$base/q?symbol={symbol}")
        .option("symbols", "AAPL,MSFT,BOOM,LIMIT,SLOW")
        .option("fetchTimeoutMs", "500") // SLOW's body outlasts this
        .option("onError", "envelope")
        .load()
      val rows = v2.select(v2("Error Message")).collect().map(_.getString(0))
      assert(rows.length === 5)
      val envelopes = rows.filter(_ != null)
      // BOOM (500), LIMIT (429), SLOW (read timeout) — each one envelope
      assert(envelopes.length === 3, envelopes.mkString("; "))
      assert(envelopes.exists(_.contains("500")), envelopes.mkString("; "))
      assert(envelopes.exists(_.contains("429")), envelopes.mkString("; "))
      assert(envelopes.exists(e => e.toLowerCase.contains("timed out")
        || e.contains("SocketTimeout")), envelopes.mkString("; "))
      // the two good symbols normalize exactly like the fixture path
      assert(normalizedSet(v2) === normalizedSet(
        Fixtures.dailyPayloads(spark).where(
          org.apache.spark.sql.functions.col("Error Message").isNull
            && org.apache.spark.sql.functions.col("Note").isNull)))
      // default onError=fail: the HTTP 500 must fail the task instead
      val failing = spark.read.format("graft-payloads")
        .option("urlTemplate", s"$base/q?symbol={symbol}")
        .option("symbols", "BOOM")
        .load()
      intercept[org.apache.spark.SparkException] { failing.count() }
    }
  }

  test("maxRequestsPerMinute paces fetch starts across a multi-symbol read") {
    withHttpServer { (base, hits) =>
      graft.sources.FetchRateLimiter.reset()
      // 240/min = one request start per 250ms: 3 symbols ≥ 500ms total
      val t0 = System.nanoTime()
      val v2 = spark.read.format("graft-payloads")
        .option("urlTemplate", s"$base/q?symbol={symbol}")
        .option("symbols", "AAPL,MSFT,AAPL")
        .option("maxRequestsPerMinute", "240")
        .load()
      assert(v2.where(v2("Error Message").isNull).count() === 3)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      assert(wallMs >= 500, s"3 fetches at 240/min finished in ${wallMs}ms")
      import scala.jdk.CollectionConverters._
      val starts = hits.asScala.toSeq.sorted
      assert(starts.length === 3)
      // server-observed spacing ≥ interval minus scheduling slop
      starts.sliding(2).foreach { w =>
        assert(w(1) - w(0) >= 200000000L,
          s"request spacing ${(w(1) - w(0)) / 1000000L}ms under the 250ms interval")
      }
    }
  }

  test("column pruning is pushed into the payload scan") {
    val pruned = spark.read.format("graft-payloads").load()
      .select("Error Message")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<Error Message:string>"),
      s"expected only the envelope column in the scan, got:\n$plan")
    assert(pruned.where(pruned("Error Message").isNotNull).count() === 1)
  }
}
