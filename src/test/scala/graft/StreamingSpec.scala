package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.ingest.{Fixtures, PayloadReader}
import graft.load.Catalog
import graft.schema.StockSchemas
import graft.streaming.StreamingIngest

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import StreamingSpec._

  /** Drains `in` through the payload ingest stream into the four-table
    * parquet store at `store`, one `StockPipeline.run` per micro-batch.
    */
  private def ingest(in: String, ckpt: String, store: String): Unit =
    StreamingIngest.ingestStream(spark, in, ckpt)(
      b => StockPipeline.run(spark, store, b, b, b)).awaitTermination()

  /** Every row of every stock table under `store`, as sorted strings. */
  private def tables(store: String): Map[String, Seq[String]] =
    StockSchemas.tables.map { case (t, schema) =>
      t -> spark.read.schema(schema).parquet(Catalog.tablePath(store, t))
        .collect().map(_.toString).toSeq.sorted
    }

  test("dailyIngestStream: AvailableNow drains files, dedups on PK, resumes incrementally") {
    val base = SparkSpec.tempDir("graft_stream_spec")
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()

    Files.writeString(java.nio.file.Paths.get(s"$in/p1.json"), Fixtures.dailyAapl)
    Files.writeString(java.nio.file.Paths.get(s"$in/p2.json"), Fixtures.dailyMsft)
    ingest(in, ckpt, out)
    val daily = Catalog.tablePath(out, "daily_stock_prices")
    val n1 = spark.read.parquet(daily).count()
    assert(n1 == 8)   // 5 AAPL + 3 MSFT good bars (2 edge rows dropped)

    // second batch overlaps the first on 2 AAPL bars; only new dates land
    Files.writeString(java.nio.file.Paths.get(s"$in/p3.json"), Fixtures.dailyAaplNextRun)
    ingest(in, ckpt, out)
    val rows = spark.read.parquet(daily)
      .select("company_symbol", "date").collect()
      .map(r => (r.getString(0), r.getDate(1).toString))
    assert(rows.length == 10)                     // +2 genuinely-new bars
    assert(rows.distinct.length == 10)            // and no PK duplicates
  }

  test("ingestStream equals two StockPipeline.run batches on all four tables, a late new symbol's old bars included") {
    val base = SparkSpec.tempDir("graft_ingest_vs_batch")
    val (in, ckpt, streamed, batched) =
      (s"$base/in", s"$base/ckpt", s"$base/streamed", s"$base/batched")
    writePayloads(in, "aapl" -> Fixtures.dailyAapl, "msft" -> Fixtures.dailyMsft,
      "intraday" -> Fixtures.intradayAapl, "sma" -> Fixtures.smaAapl,
      "error" -> Fixtures.errorPayload)
    ingest(in, ckpt, streamed)
    // run 2 adds a symbol whose 40 bars reach 39 days behind run 1's
    // newest bar: every one of them has a new PK, so all must land
    writePayloads(in, "aapl2" -> Fixtures.dailyAaplNextRun, "late" -> lateSymbolPayload)
    ingest(in, ckpt, streamed)

    def payloads(docs: String*) = PayloadReader.fromJsonStrings(spark, docs.toDS())
    StockPipeline.run(spark, batched,
      payloads(Fixtures.dailyAapl, Fixtures.dailyMsft, Fixtures.errorPayload),
      payloads(Fixtures.intradayAapl), payloads(Fixtures.smaAapl))
    StockPipeline.run(spark, batched,
      payloads(Fixtures.dailyAaplNextRun, lateSymbolPayload), payloads(), payloads())

    val (s, b) = (tables(streamed), tables(batched))
    StockSchemas.tables.keys.foreach(t => assert(s(t) == b(t), s"$t differs"))
    assert(s("daily_stock_prices").count(_.contains(lateSymbol)) == lateBars)
    assert(s.values.forall(_.nonEmpty))
  }

  test("ingestStream replay: a micro-batch re-run under its own id inserts 0 rows in every table and writes no file") {
    val base = SparkSpec.tempDir("graft_ingest_replay")
    val (in, cp, store) = (s"$base/in", s"$base/cp", s"$base/store")
    val inserted = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
    def start() = StreamingIngest.ingestStream(spark, in, cp) { b =>
      inserted += StockPipeline.run(spark, store, b, b, b).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    def dataFiles(): Set[String] =
      Using.resource(Files.walk(Paths.get(store)))(_.iterator.asScala
        .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet)
    writePayloads(in, "aapl" -> Fixtures.dailyAapl, "sma" -> Fixtures.smaAapl)
    start().awaitTermination()
    writePayloads(in, "aapl2" -> Fixtures.dailyAaplNextRun, "late" -> lateSymbolPayload)
    start().awaitTermination()
    assert(inserted.last("daily_stock_prices") == 2L + lateBars)
    assert(inserted.last("companies") == 1L)
    val files = dataFiles()

    // crash after the loads landed but before Spark logged batch 1 as
    // committed: the restart must replay batch 1 under the SAME id
    assert(new java.io.File(s"$cp/commits/1").delete())
    new java.io.File(s"$cp/commits/.1.crc").delete()
    val q = start(); q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).contains(1L), "batch 1 was not replayed")
    assert(new java.io.File(s"$cp/commits/1").exists)
    assert(inserted.length == 3)
    assert(inserted.last == StockSchemas.tables.keys.map(_ -> 0L).toMap)
    assert(dataFiles() == files, "the replay wrote data files")
  }

  test("windowedOhlcv aggregates tumbling event-time windows with watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, java.sql.Timestamp, Double, Double, Double, Double, Long)]
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2025-12-09 $h%02d:$m%02d:00")
    stream.addData(
      ("AAPL", ts(10, 55), 277.0, 277.2, 276.8, 277.1, 2000L),  // latest in window → close
      ("AAPL", ts(10, 5), 276.2, 276.5, 276.1, 276.4, 1000L),   // earliest → open
      ("AAPL", ts(11, 10), 277.6, 278.0, 277.5, 277.9, 1500L),
      ("MSFT", ts(10, 30), 447.5, 448.0, 447.0, 447.8, 900L))
    val bars = stream.toDS().toDF("company_symbol", "date_time",
      "open_price", "high_price", "low_price", "close_price", "volume")
    val q = StreamingIngest.windowedOhlcv(bars)
      .writeStream.format("memory").queryName("ohlcv_out")
      .outputMode("append").start()
    stream.addData(("AAPL", ts(14, 0), 278.6, 279.0, 278.5, 278.9, 100L)) // advances watermark past 10-11h
    q.processAllAvailable()
    q.stop()
    val out = spark.sql(
      """SELECT company_symbol, hour(window_start), open_price, high_price,
        |       low_price, close_price, volume, n_bars FROM ohlcv_out""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6), r.getLong(7))).toSet
    // candle: open from 10:05 bar, close from 10:55 bar, hi/lo across both
    assert(out.contains(("AAPL", 10, 276.2, 277.2, 276.1, 277.1, 3000L, 2L)))
    assert(out.contains(("MSFT", 10, 447.5, 448.0, 447.0, 447.8, 900L, 1L)))
  }

  test("streamingSma maintains count-based windows per key in arbitrary arrival order") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamingIngest.Bar]
    def ts(i: Int) = new java.sql.Timestamp(i * 60000L)
    stream.addData(
      StreamingIngest.Bar("A", ts(2), 2.0),
      StreamingIngest.Bar("A", ts(1), 1.0),   // out of order within the batch
      StreamingIngest.Bar("A", ts(3), 3.0),
      StreamingIngest.Bar("B", ts(1), 10.0))
    val q = StreamingIngest.streamingSma(stream.toDS(), n = 3)
      .writeStream.format("memory").queryName("sma_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT company_symbol, sma FROM sma_out")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(out == Seq(("A", 2.0)))   // only A reaches 3 bars: (1+2+3)/3
  }

  test("streamingSessions closes sessions across batch boundaries, matching the batch operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, count, lit, min, max}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = 30L * 60 * 1000 * 1000 // 30 min
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val evs = Seq(
      (1L, ts(0)), (1L, ts(10)),          // session 1 of user 1
      (1L, ts(60)), (1L, ts(70)),         // session 2
      (2L, ts(5)),                        // session 1 of user 2
      (1L, ts(180)), (2L, ts(180))        // flush events (close the above)
    )
    val stream = MemoryStream[StreamingIngest.SessEvent]
    val q = StreamingIngest.streamingSessions(stream.toDS(), gap)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // split across two micro-batches mid-session to prove boundary independence
    stream.addData(evs.take(3).map(e => StreamingIngest.SessEvent(e._1, e._2)): _*)
    q.processAllAvailable()
    stream.addData(evs.drop(3).map(e => StreamingIngest.SessEvent(e._1, e._2)): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT user_id, session_id, n_events, session_start, session_end FROM sess_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSet
    // batch reference on the same rows, keeping only sessions a later
    // event closed (the flush events open session 3 / 2, never closed)
    val batch = graft.operators.Sessionize(
        evs.toDF("user_id", "ts"), Seq("user_id"), "ts", gap)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4)))
      .filter { case (u, sid, _, _, _) =>
        !(u == 1L && sid == 3L) && !(u == 2L && sid == 2L) }
      .toSet
    assert(streamed === batch)
    assert(streamed.map(s => (s._1, s._2)) === Set((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("streamingSessions over the real events table matches oracle-checked q37") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val gap = 30L * 60 * 1000 * 1000
    // Global ts sort before chunking: per-user arrival stays monotonic
    // across micro-batches (the no-late-arrivals contract under which
    // streaming ≡ batch exactly); order within a batch is irrelevant —
    // the operator sorts each batch's group internally.
    val evs = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("ts")).orderBy(col("ts"))
      .collect()
      .map(r => StreamingIngest.SessEvent(r.getLong(0), r.getTimestamp(1)))
    val stream = MemoryStream[StreamingIngest.SessEvent]
    val q = StreamingIngest.streamingSessions(stream.toDS(), gap)
      .writeStream.format("memory").queryName("sess_real_out")
      .outputMode("append").start()
    evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.sql(
      "SELECT user_id, session_id, n_events, session_start, session_end FROM sess_real_out")
      .collect().map(_.toSeq).toSet
    // the DuckDB-hash-checked closed-session query on the same table
    val batch = graft.queries.Advanced.queries("q37_closed_sessions")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("intervalJoin: stream-stream matches the oracle-checked batch twin q46") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    // Feed both sides globally ts-sorted in lockstep chunks: each new
    // chunk's timestamps are ≥ the previous max, so the 1h watermark
    // never drops a row and streaming must equal batch exactly.
    val ev = graft.Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts"), col("value"))
      .orderBy(col("ts")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    val clickStream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val purchStream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = StreamingIngest.intervalJoin(
      clickStream.toDS().toDF("user_id", "click_ts", "click_value"),
      purchStream.toDS().toDF("user_id", "purchase_ts", "purchase_value"))
    val q = joined.writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    ev.grouped(math.max(ev.length / 3, 1)).foreach { chunk =>
      clickStream.addData(chunk.collect {
        case ("click", u, t, v) => (u, t, v) }.toSeq: _*)
      purchStream.addData(chunk.collect {
        case ("purchase", u, t, v) => (u, t, v) }.toSeq: _*)
      q.processAllAvailable()
    }
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT user_id, purchase_ts, purchase_value, click_ts, click_value FROM attr_out")
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.Advanced.queries("q46_attribution")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streamingFunnel over the real events table matches oracle-checked q57 stage counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    // global ts sort before chunking — the same per-user in-order
    // contract as the sessionization twin
    val evs = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts")).orderBy(col("ts"))
      .collect()
      .map(r => StreamingIngest.FunnelEvent(r.getLong(0), r.getString(1), r.getTimestamp(2)))
    val stream = MemoryStream[StreamingIngest.FunnelEvent]
    val q = StreamingIngest.streamingFunnel(stream.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val counts = spark.sql(
      "SELECT stage, COUNT(DISTINCT user_id) FROM funnel_out GROUP BY stage")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = graft.queries.Advanced.queries("q57_funnel")(spark, dir).collect()(0)
    assert(counts.getOrElse("view", 0L) === batch.getLong(0))
    assert(counts.getOrElse("click_after_view", 0L) === batch.getLong(1))
    assert(counts.getOrElse("purchase_after_click", 0L) === batch.getLong(2))
    assert(counts.values.sum > 0)
  }

  test("streamingSessionsWithTimeout flushes idle sessions once the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = 30L * 60 * 1000 * 1000 // 30 min
    // offset from epoch 0: the initial watermark is 0, and an event AT
    // the watermark is dropped as late by the stateful operator
    def ts(min: Int) = new java.sql.Timestamp((1000 + min) * 60000L)
    val stream = MemoryStream[StreamingIngest.SessEvent]
    // watermark BEFORE the stateful operator; zero delay so the
    // watermark tracks max event time directly
    val events = stream.toDS()
      .withWatermark("ts", "0 seconds").as[StreamingIngest.SessEvent]
    val q = StreamingIngest.streamingSessionsWithTimeout(events, gap)
      .writeStream.format("memory").queryName("sess_timeout_out")
      .outputMode("append").start()
    // user 1: two events, then silence — no closing event ever arrives
    stream.addData(StreamingIngest.SessEvent(1L, ts(0)),
      StreamingIngest.SessEvent(1L, ts(10)))
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM sess_timeout_out").count() === 0,
      "session must stay open while the watermark is within the gap")
    // another user's much later event advances the watermark past
    // user 1's last event + gap → the idle session times out and emits
    stream.addData(StreamingIngest.SessEvent(2L, ts(120)))
    q.processAllAvailable()
    q.processAllAvailable() // timeout fires on the cycle after the watermark moves
    q.stop()
    val out = spark.sql(
      "SELECT user_id, session_id, n_events, session_start, session_end FROM sess_timeout_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSet
    assert(out === Set((1L, 1L, 2L, ts(0), ts(10))),
      s"expected user 1's idle session flushed, got $out")
  }

  test("streamingSessionsWithTimeout keeps numbering monotonic when a user resumes after an idle flush") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = 30L * 60 * 1000 * 1000 // 30 min
    def ts(min: Int) = new java.sql.Timestamp((1000 + min) * 60000L)
    val stream = MemoryStream[StreamingIngest.SessEvent]
    val events = stream.toDS()
      .withWatermark("ts", "0 seconds").as[StreamingIngest.SessEvent]
    val q = StreamingIngest.streamingSessionsWithTimeout(events, gap)
      .writeStream.format("memory").queryName("sess_resume_out")
      .outputMode("append").start()
    // user 1 session 1, then silence
    stream.addData(StreamingIngest.SessEvent(1L, ts(0)),
      StreamingIngest.SessEvent(1L, ts(10)))
    q.processAllAvailable()
    // user 2 advances the watermark past ts(10)+gap → idle-flush of session 1
    stream.addData(StreamingIngest.SessEvent(2L, ts(120)))
    q.processAllAvailable()
    q.processAllAvailable() // timeout fires the cycle after the watermark moves
    // user 1 RESUMES after the flush — must continue as session 2, not restart at 1
    stream.addData(StreamingIngest.SessEvent(1L, ts(200)),
      StreamingIngest.SessEvent(1L, ts(205)))
    q.processAllAvailable()
    // user 2's far-future event closes its own session 1 in-band AND
    // advances the watermark past user 1's resumed session → timeout flush
    stream.addData(StreamingIngest.SessEvent(2L, ts(400)))
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()
    val out = spark.sql(
      "SELECT user_id, session_id, n_events, session_start, session_end FROM sess_resume_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSet
    assert(out === Set(
      (1L, 1L, 2L, ts(0), ts(10)),     // idle-flushed
      (1L, 2L, 2L, ts(200), ts(205)),  // resumed AFTER the flush: numbered 2
      (2L, 1L, 1L, ts(120), ts(120))), // closed in-band by ts(400)
      s"got $out")
    // the invariant the bug violated: (user_id, session_id) unique
    val keys = out.toSeq.map(s => (s._1, s._2))
    assert(keys.distinct.length === keys.length)
    // and numbering matches the no-timeout operator on the same events
    // (its trailing open sessions never emit; compare the closed ones)
    val stream2 = MemoryStream[StreamingIngest.SessEvent]
    val q2 = StreamingIngest.streamingSessions(stream2.toDS(), gap)
      .writeStream.format("memory").queryName("sess_resume_ref")
      .outputMode("append").start()
    stream2.addData(
      StreamingIngest.SessEvent(1L, ts(0)), StreamingIngest.SessEvent(1L, ts(10)),
      StreamingIngest.SessEvent(2L, ts(120)),
      StreamingIngest.SessEvent(1L, ts(200)), StreamingIngest.SessEvent(1L, ts(205)),
      StreamingIngest.SessEvent(2L, ts(400)),
      // closing events so the no-timeout variant emits everything above
      StreamingIngest.SessEvent(1L, ts(400)))
    q2.processAllAvailable()
    q2.stop()
    val ref = spark.sql(
      "SELECT user_id, session_id, n_events, session_start, session_end FROM sess_resume_ref")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSet
    assert(ref === out, s"timeout variant diverges from streamingSessions: $ref vs $out")
  }

  test("streamingSessionsWithTimeout sentinel TTL evicts idle numbering state; a late return restarts at 1") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = 30L * 60 * 1000 * 1000 // 30 min
    val ttl = 60L * 60 * 1000 * 1000 // 60 min sentinel TTL
    def ts(min: Int) = new java.sql.Timestamp((1000 + min) * 60000L)
    val stream = MemoryStream[StreamingIngest.SessEvent]
    val events = stream.toDS()
      .withWatermark("ts", "0 seconds").as[StreamingIngest.SessEvent]
    val q = StreamingIngest.streamingSessionsWithTimeout(events, gap, Some(ttl))
      .writeStream.format("memory").queryName("sess_ttl_out")
      .outputMode("append").start()
    stream.addData(StreamingIngest.SessEvent(1L, ts(0)), StreamingIngest.SessEvent(1L, ts(10)))
    q.processAllAvailable()
    // watermark to 120 → flush session 1 AND pass the sentinel's
    // TTL deadline (10 + 30 + 60 = 100) → sentinel evicted next cycle
    stream.addData(StreamingIngest.SessEvent(2L, ts(120)))
    q.processAllAvailable()
    q.processAllAvailable() // flush fires; sentinel deadline now behind wm
    // a later event advances the watermark past the sentinel's clamped
    // deadline — the TTL eviction needs a subsequent watermark move
    stream.addData(StreamingIngest.SessEvent(2L, ts(150)))
    q.processAllAvailable()
    q.processAllAvailable() // sentinel TTL fires → state evicted
    // user 1 returns AFTER eviction: numbering restarts at 1 — the
    // documented bounded-state tradeoff
    stream.addData(StreamingIngest.SessEvent(1L, ts(200)))
    q.processAllAvailable()
    stream.addData(StreamingIngest.SessEvent(2L, ts(400))) // wm past 200+gap
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()
    val u1 = spark.sql(
      "SELECT session_id, session_start FROM sess_ttl_out WHERE user_id = 1 ORDER BY session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
    assert(u1 === Seq((1L, ts(0)), (1L, ts(200))),
      s"expected numbering restart after TTL eviction, got $u1")
  }

  test("streamingExactDedup keeps first arrivals, drops in-horizon dups, re-admits after eviction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp((1000 + min) * 60000L)
    def ev(id: Long, h: String, min: Int) =
      StreamingIngest.DocArrival(id, h, ts(min))
    val stream = MemoryStream[StreamingIngest.DocArrival]
    val q = StreamingIngest.streamingExactDedup(stream.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    // first arrivals kept, an in-horizon duplicate hash dropped —
    // including a duplicate arriving in a LATER batch while state lives
    stream.addData(ev(1, "hA", 0), ev(2, "hB", 1), ev(3, "hA", 2))
    q.processAllAvailable()
    stream.addData(ev(4, "hA", 3))
    q.processAllAvailable()
    val kept1 = spark.sql("SELECT doc_id FROM dedup_out ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept1 === Seq(1L, 2L),
      s"expected first arrivals of hA/hB only, got $kept1")
    // advance the watermark far past hA's expiry (ts 2 + 10 min), then
    // re-send hA: state was evicted, so the re-arrival is re-admitted —
    // the documented horizon tradeoff
    stream.addData(ev(5, "hC", 60))
    q.processAllAvailable() // watermark → 50, hA/hB state evicted
    stream.addData(ev(6, "hA", 61))
    q.processAllAvailable()
    q.stop()
    val all = spark.sql("SELECT doc_id FROM dedup_out ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(all === Seq(1L, 2L, 5L, 6L),
      s"expected hA re-admitted after state eviction, got $all")
  }

  test("streamingSessions state survives a checkpointed stop/restart exactly once") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = SparkSpec.tempDir("graft_cp_")
    val (inDir, cpDir, outDir) = (s"$base/in", s"$base/cp", s"$base/out")
    val gap = 30L * 60 * 1000 * 1000 // 30 min
    def ts(min: Int) = new java.sql.Timestamp((1000 + min) * 60000L)
    def writeBatch(events: (Long, Int)*): Unit =
      events.map { case (u, m) => StreamingIngest.SessEvent(u, ts(m)) }
        .toDS().repartition(1).write.mode("append").parquet(inDir)
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType)))
    // durable parquet sink — the memory sink can't recover a checkpoint
    def start() = StreamingIngest.streamingSessions(
      spark.readStream.schema(schema).parquet(inDir)
        .withWatermark("ts", "0 seconds").as[StreamingIngest.SessEvent], gap)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", cpDir)
      .outputMode("append").start()
    // run 1: open a session (no close emitted yet), then STOP
    writeBatch((1L, 0), (1L, 10))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // run 2 from the SAME checkpoint: a post-gap event must close the
    // run-1 session with its original start and number — only possible
    // if the keyed state survived the restart; a second post-gap event
    // closes session 2, proving numbering continuity too
    writeBatch((1L, 100))
    val q2 = start(); q2.processAllAvailable()
    writeBatch((1L, 200))
    q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir)
      .selectExpr("session_id", "n_events", "session_start", "session_end")
      .orderBy("session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2), r.getTimestamp(3))).toSeq
    assert(out === Seq(
      (1L, 2L, ts(0), ts(10)),
      (2L, 1L, ts(100), ts(100))),
      s"state/offsets did not survive the restart exactly once: $out")
  }

  test("transitionMatrixStream state and generations survive a checkpointed stop/restart") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = SparkSpec.tempDir("graft_mk_cp_")
    val (inDir, cpDir, root) = (s"$base/in", s"$base/cp", s"$base/matrix")
    def ts(min: Int) = new java.sql.Timestamp((1000 + min) * 60000L)
    def writeBatch(events: (Long, String, Int, Long)*): Unit =
      events.map { case (u, et, m, id) =>
        StreamingIngest.TypedEvent(u, et, ts(m), id) }
        .toDS().repartition(1).write.mode("append").parquet(inDir)
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("ts", TimestampType), StructField("event_id", LongType)))
    def start() = StreamingIngest.transitionMatrixStream(
      spark.readStream.schema(schema).parquet(inDir)
        .as[StreamingIngest.TypedEvent], root, cpDir)
    // run 1: user 1 sees a->b (one transition), STOP with b as state
    writeBatch((1L, "a", 0, 1L), (1L, "b", 1, 2L))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // run 2 from the SAME checkpoint: c must pair with the run-1 b —
    // only possible if the per-user last-event state survived — and
    // the count fold must include the run-1 generation
    writeBatch((1L, "c", 2, 3L))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val got = StreamingIngest.currentTransitionMatrix(spark, root).get
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("a", "b") -> 1L, ("b", "c") -> 1L),
      s"state/generations did not survive the restart: $got")
  }

  test("streamingSessionsWithTimeout produces identical output under the RocksDB state store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = 30L * 60 * 1000 * 1000
    def ts(min: Int) = new java.sql.Timestamp((1000 + min) * 60000L)
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[StreamingIngest.SessEvent]
      val events = stream.toDS()
        .withWatermark("ts", "0 seconds").as[StreamingIngest.SessEvent]
      val q = StreamingIngest.streamingSessionsWithTimeout(events, gap)
        .writeStream.format("memory").queryName("rocksdb_out")
        .outputMode("append").start()
      stream.addData(StreamingIngest.SessEvent(1L, ts(0)),
        StreamingIngest.SessEvent(1L, ts(10)), StreamingIngest.SessEvent(2L, ts(5)))
      q.processAllAvailable()
      stream.addData(StreamingIngest.SessEvent(1L, ts(100)))
      q.processAllAvailable()
      q.processAllAvailable()
      // the provider must actually be RocksDB, not a silent fallback
      val metrics = q.recentProgress.flatMap(p =>
        Option(p.stateOperators).toSeq.flatten)
        .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
      q.stop()
      assert(metrics.exists(_.startsWith("rocksdb")),
        s"expected RocksDB state-store metrics, got ${metrics.distinct.mkString(",")}")
      val out = spark.sql(
        "SELECT user_id, session_id, n_events FROM rocksdb_out ORDER BY user_id, session_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // same rows the HDFS-backed default produces for this timeline
      assert(out === Seq((1L, 1L, 2L), (2L, 1L, 1L)))
    } finally {
      prior match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamingTransitions produces identical transitions under the RocksDB state store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp((1000 + min) * 60000L)
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[StreamingIngest.TypedEvent]
      val q = StreamingIngest.streamingTransitions(stream.toDS())
        .writeStream.format("memory").queryName("rocksdb_trans")
        .outputMode("append").start()
      stream.addData(
        StreamingIngest.TypedEvent(1L, "a", ts(0), 1L),
        StreamingIngest.TypedEvent(1L, "b", ts(1), 2L),
        StreamingIngest.TypedEvent(2L, "x", ts(0), 3L))
      q.processAllAvailable()
      // cross-batch: b->c for user 1, x->y for user 2 need RocksDB state
      stream.addData(
        StreamingIngest.TypedEvent(1L, "c", ts(2), 4L),
        StreamingIngest.TypedEvent(2L, "y", ts(3), 5L))
      q.processAllAvailable()
      val metrics = q.recentProgress.flatMap(p =>
        Option(p.stateOperators).toSeq.flatten)
        .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
      q.stop()
      assert(metrics.exists(_.startsWith("rocksdb")),
        s"expected RocksDB state-store metrics, got ${metrics.distinct.mkString(",")}")
      val out = spark.sql(
        "SELECT user_id, from_type, to_type FROM rocksdb_trans ORDER BY user_id, to_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(out === Seq((1L, "a", "b"), (1L, "b", "c"), (2L, "x", "y")))
    } finally {
      prior match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamingTopKPerKey: bounded keyed state converges to the batch top-k over all batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamingIngest.RankEvent]
    val q = StreamingIngest.streamingTopKPerKey(stream.toDS(), k = 3)
      .writeStream.format("memory").queryName("topk_out")
      .outputMode("update").start()
    // two batches; the second displaces batch-1 entries and adds a key
    val batch1 = Seq(
      StreamingIngest.RankEvent(1L, 10L, 5.0), StreamingIngest.RankEvent(1L, 11L, 3.0),
      StreamingIngest.RankEvent(1L, 12L, 4.0), StreamingIngest.RankEvent(1L, 13L, 1.0),
      StreamingIngest.RankEvent(2L, 20L, 2.0))
    val batch2 = Seq(
      StreamingIngest.RankEvent(1L, 14L, 9.0), StreamingIngest.RankEvent(1L, 15L, 3.0),
      StreamingIngest.RankEvent(2L, 21L, 2.0), // tie with 20 → item asc wins
      StreamingIngest.RankEvent(3L, 30L, 7.0))
    stream.addData(batch1: _*); q.processAllAvailable()
    stream.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    // update mode re-emits refreshed keys; the LAST row per key is the
    // converged state — it must equal the batch rank over ALL events
    val latest = spark.sql(
      """SELECT key, items, scores FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY mono DESC) AS rn
        |  FROM (SELECT *, monotonically_increasing_id() AS mono FROM topk_out))
        |WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getLong(0),
        (r.getSeq[Long](1).toList, r.getSeq[Double](2).toList))).toMap
    val all = (batch1 ++ batch2).toDS()
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ref = all
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("score").desc, col("item").asc)))
      .where(col("rn") <= 3).orderBy(col("key"), col("rn"))
      .collect().map(r => (r.getAs[Long]("key"),
        (r.getAs[Long]("item"), r.getAs[Double]("score"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
    assert(latest.keySet === ref.keySet)
    ref.foreach { case (key, expected) =>
      assert(latest(key)._1 === expected.map(_._1), s"items for key $key")
      assert(latest(key)._2 === expected.map(_._2), s"scores for key $key")
    }
  }

  test("intervalJoin leftOuter: unmatched purchases emit nulls only after the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val clickStream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val purchStream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = StreamingIngest.intervalJoin(
      clickStream.toDS().toDF("user_id", "click_ts", "click_value"),
      purchStream.toDS().toDF("user_id", "purchase_ts", "purchase_value"),
      lookback = "30 minutes", watermark = "10 minutes", joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("outer_attr")
      .outputMode("append").start()
    // user 1 purchase with a matching click; user 2 purchase with none
    clickStream.addData((1L, ts(55), 2.0))
    purchStream.addData((1L, ts(60), 10.0), (2L, ts(60), 20.0))
    q.processAllAvailable()
    val early = spark.sql("SELECT user_id FROM outer_attr WHERE click_ts IS NULL").count()
    assert(early === 0, "outer result must NOT emit while a match could still arrive")
    // advance both watermarks well past t=60, then run the extra cycle
    // that finalizes outer results
    clickStream.addData((9L, ts(120), 0.0))
    purchStream.addData((9L, ts(120), 0.0))
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()
    val out = spark.sql(
      "SELECT user_id, click_ts IS NULL FROM outer_attr WHERE purchase_ts = TIMESTAMP '1970-01-01 01:00:00'")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(out === Set((1L, false), (2L, true)),
      s"expected matched user 1 and null-emitted user 2, got $out")
  }

  test("stream-static join: a streaming bar feed enriches against the companies dim") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static dim (broadcast side — never shuffled per micro-batch)
    val dim = Seq(("IBM", "International Business Machines", "tech"),
      ("KO", "Coca-Cola", "consumer")).toDF("symbol", "name", "sector")
    val stream = MemoryStream[(String, Double)]
    val enriched = stream.toDS().toDF("symbol", "close")
      .join(dim, Seq("symbol"), "left")
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    stream.addData(("IBM", 120.0), ("XYZ", 1.0))
    q.processAllAvailable()
    stream.addData(("KO", 60.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT symbol, close, name, sector FROM enrich_out")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        Option(r.getString(2)), Option(r.getString(3)))).toSet
    assert(out === Set(
      ("IBM", 120.0, Some("International Business Machines"), Some("tech")),
      ("XYZ", 1.0, None, None),
      ("KO", 60.0, Some("Coca-Cola"), Some("consumer"))))
  }

  test("streamingSma drops late cross-batch bars instead of corrupting the window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamingIngest.Bar]
    def ts(i: Int) = new java.sql.Timestamp(i * 60000L)
    val q = StreamingIngest.streamingSma(stream.toDS(), n = 2)
      .writeStream.format("memory").queryName("sma_late_out")
      .outputMode("append").start()
    stream.addData(
      StreamingIngest.Bar("A", ts(3), 3.0),
      StreamingIngest.Bar("A", ts(4), 4.0))
    q.processAllAvailable()
    stream.addData(
      StreamingIngest.Bar("A", ts(2), 99.0),   // late: before the t=4 watermark
      StreamingIngest.Bar("A", ts(5), 5.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT sma FROM sma_late_out ORDER BY ts")
      .collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(3.5, 4.5))   // (3+4)/2 then (4+5)/2 — the 99.0 bar ignored
  }

  test("streamingSampledQuantiles: min-k hash state equals the batch bottom-k sample estimate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val k = 16
    // 2 groups × 120 deterministic values, streamed in 3 interleaved batches
    val events = (0 until 240).map { i =>
      StreamingIngest.QuantEvent(if (i % 2 == 0) "a" else "b", i.toLong,
        (i * 37 % 240) + 0.5)
    }
    val stream = MemoryStream[StreamingIngest.QuantEvent]
    val q = StreamingIngest.streamingSampledQuantiles(stream.toDS(), k)
      .writeStream.format("memory").queryName("squant_out")
      .outputMode("update").start()
    events.grouped(80).foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val latest = spark.sql(
      """SELECT `group`, nSample, p50, p90 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY `group` ORDER BY mono DESC) AS rn
        |  FROM (SELECT *, monotonically_increasing_id() AS mono FROM squant_out))
        |WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getString(0), (r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    // batch reference: the q73 pipeline (hash64 rank, bottom-k, percentile)
    val w = Window.partitionBy(col("group")).orderBy(col("__h").asc, col("id").asc)
    val ref = events.toDS().toDF()
      .withColumn("__h", graft.functions.KmvSketch.hash64(col("id")))
      .withColumn("__r", row_number().over(w)).where(col("__r") <= k)
      .groupBy(col("group"))
      .agg(count(lit(1)).cast("int").as("n"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"))
      .collect().map(r => (r.getString(0), (r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(latest === ref)   // same sample, same interpolation, to the bit
  }

  test("scdApplyStream: CDC batches fold into a dimension equal to sequential batch scdMerge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.load.Incremental
    implicit val sqlCtx = spark.sqlContext
    val base = SparkSpec.tempDir("graft_scd_stream")
    val root = s"$base/dim"; val ckpt = s"$base/ckpt"
    val stream = MemoryStream[(Long, String, Int)]
    val q = StreamingIngest.scdApplyStream(
      stream.toDF().toDF("k", "attr", "ts"), root, "k", "attr", "ts", ckpt)
    val batches = Seq(
      Seq((1L, "A", 10), (2L, "B", 10), (1L, "A0", 9)), // in-batch supersede: (1,A,10) wins
      Seq((1L, "A2", 20), (3L, "C", 20)),               // change + new key
      Seq((1L, "A2", 30), (2L, "B2", 30)))              // no-op re-assert + change
    batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()

    def collapse(rows: Seq[(Long, String, Int)]) = rows.toDF("k", "attr", "ts")
      .groupBy(col("k"))
      .agg(max_by(col("attr"), struct(col("ts"), col("attr"))).as("attr"),
        max(col("ts")).as("ts"))
    val empty = Seq.empty[(Long, String, Option[Int], Option[Int])]
      .toDF("k", "attr", "valid_from", "valid_to")
    val expected = batches.foldLeft(empty)((dim, b) =>
      Incremental.scdMerge(dim, collapse(b), "k", "attr", "ts"))
    val toSet = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    val got = StreamingIngest.currentScdDimension(spark, root).get
    assert(toSet(got) === toSet(expected))
    // sanity on the history itself: 1 closed at 20, exactly one current row per key
    assert(toSet(got).contains((1L, "A", Some(10), Some(20))))
    assert(got.where(col("valid_to").isNull).count() === 3L)
  }

  test("corpusStatsStream: folded generations equal batch recompute over all documents") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.text.{CorpusStats, TextAnalysis}
    implicit val sqlCtx = spark.sqlContext
    val base = SparkSpec.tempDir("graft_stats_stream")
    val root = s"$base/stats"; val ckpt = s"$base/ckpt"
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.corpusStatsStream(
      stream.toDF().toDF("doc_id", "text"), root, ckpt)
    val batches = Seq(
      Seq((1L, "spark shuffles data across executors"),
        (2L, "spark caches hot data")),
      Seq((3L, "window functions rank rows"), (4L, "")), // empty doc: counts, no tokens
      Seq((5L, "spark window rank")))
    batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val (dfS, totS) = StreamingIngest.currentCorpusStats(spark, root).get
    val all = batches.flatten.toDF("doc_id", "text")
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
    val (dfB, totB) = CorpusStats.merge(
      Seq(CorpusStats.dfPartial(all, col("__toks"))),
      Seq(CorpusStats.totalsPartial(all, col("__toks"))))
    def dfSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(dfSet(dfS) === dfSet(dfB))
    val s1 = totS.collect().head; val b1 = totB.collect().head
    assert((s1.getLong(0), s1.getLong(1)) === (b1.getLong(0), b1.getLong(1)))
    assert(s1.getLong(0) === 5L) // the empty doc still counts toward N
    assert(dfSet(dfS).contains(("spark", 3L))) // df is per-doc distinct
    // one generation per batch, append-only
    assert(new java.io.File(s"$root/gen-2/df").exists
      && new java.io.File(s"$root/gen-2/tot").exists)
  }

  test("termFreqStream: folded token counts derive exactly t47, known F1/F2 included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = SparkSpec.tempDir("graft_tf_stream")
    val root = s"$base/tf"; val ckpt = s"$base/ckpt"
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.termFreqStream(
      stream.toDF().toDF("doc_id", "text"), root, ckpt)
    // cross-batch fold matters: "spark" is a singleton in batch 1 and
    // again in batch 2 — only the FOLDED count (2) keeps it out of F1
    val batches = Seq(
      Seq((1L, "spark rank window rank")),
      Seq((2L, "spark beta gamma")))
    batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val got = StreamingIngest.currentChao1(spark, root).get.collect()(0)
    // counts: spark=2 rank=2 window=1 beta=1 gamma=1 → V=5 N=7 F1=3 F2=2
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3)) === (5L, 7L, 3L, 2L))
    assert(got.getDouble(4) === 5.0 + 3.0 * 2.0 / (2.0 * 3.0)) // chao1 = 6
    assert(got.getDouble(5) === 3.0 / 7.0)
    // streamed ≡ batch through the same report
    val batchR = graft.queries.Corpus.chao1FromCounts(
      graft.queries.Corpus.tfCounts(
        batches.flatten.toDF("doc_id", "text"))).collect()(0)
    assert(got.toSeq === batchR.toSeq)
  }

  test("truncationStream: folded per-length partials derive exactly t48 with hand-checked losses") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = SparkSpec.tempDir("graft_trunc_stream")
    val root = s"$base/trunc"; val ckpt = s"$base/ckpt"
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.truncationStream(
      stream.toDF().toDF("doc_id", "text"), root, ckpt)
    // doc 1: 300 tokens, doc 2: 600, doc 3: 10 — split across batches
    val batches = Seq(
      Seq((1L, Seq.fill(300)("w").mkString(" "))),
      Seq((2L, Seq.fill(600)("w").mkString(" ")),
        (3L, Seq.fill(10)("w").mkString(" "))))
    batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val got = StreamingIngest.currentTruncation(spark, root).get
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    // N = 910 tokens. L=256: lose (300-256)+(600-256)=388 from 2 docs;
    // L=512: lose 88 from 1; L=1024/2048: nothing
    assert(got(256L) === ((3L, 2L, 910L, 388L, 388.0 / 910.0)))
    assert(got(512L) === ((3L, 1L, 910L, 88L, 88.0 / 910.0)))
    assert(got(1024L) === ((3L, 0L, 910L, 0L, 0.0)))
    assert(got(2048L) === ((3L, 0L, 910L, 0L, 0.0)))
    // streamed ≡ batch through the same report
    val batchR = graft.queries.Corpus.truncationReport(
      graft.queries.Corpus.truncationPartial(
        batches.flatten.toDF("doc_id", "text")))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(got === batchR)
  }

  test("catDriftStream: folded per-type counts derive exactly q145, out-of-order batches included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val base = SparkSpec.tempDir("graft_cat_stream")
    val root = s"$base/cat"; val ckpt = s"$base/ckpt"
    val evs = graft.Tables(spark, dir, "events")
      .select(col("ts"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)))
    val shuffled = new scala.util.Random(29).shuffle(evs.toSeq)
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val q = StreamingIngest.catDriftStream(
      stream.toDF().toDF("ts", "event_type"), root, ckpt)
    shuffled.grouped(math.max(shuffled.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def asTuple(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect()(0)
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getBoolean(3))
    }
    val streamed = asTuple(StreamingIngest.currentCatDrift(spark, root).get)
    val batch = asTuple(
      graft.queries.Features.q145_categorical_drift(spark, dir))
    assert(streamed === batch)
  }

  test("fleissStream: folded sufficient statistics derive exactly q144, out-of-order batches included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val base = SparkSpec.tempDir("graft_fleiss_stream")
    val root = s"$base/fleiss"; val ckpt = s"$base/ckpt"
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val shuffled = new scala.util.Random(23).shuffle(docs.toSeq)
    val stream = MemoryStream[String]
    val q = StreamingIngest.fleissStream(
      stream.toDF().toDF("text"), root, ckpt)
    shuffled.grouped(math.max(shuffled.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def asTuple(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
    }
    val streamed = asTuple(StreamingIngest.currentFleiss(spark, root).get)
    val batch = asTuple(graft.queries.Features.q144_fleiss_kappa(spark, dir))
    assert(streamed === batch)
  }

  test("transitionMatrixStream: folded generations equal oracle-checked q88 on the real events table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val base = SparkSpec.tempDir("graft_markov_stream")
    val root = s"$base/matrix"; val ckpt = s"$base/ckpt"
    // global (ts, event_id) sort before chunking — the per-user
    // in-order delivery contract the stateful twins document
    val evs = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => StreamingIngest.TypedEvent(
        r.getLong(0), r.getString(1), r.getTimestamp(2), r.getLong(3)))
    val stream = MemoryStream[StreamingIngest.TypedEvent]
    val q = StreamingIngest.transitionMatrixStream(stream.toDS(), root, ckpt)
    // 3 chunks: cross-batch transitions exist and must not be dropped
    evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val streamed = asMap(StreamingIngest.currentTransitionMatrix(spark, root).get)
    val batch = asMap(graft.queries.Extensions.q88_markov_transitions(spark, dir))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // cross-batch coverage: total transitions = events - users (each
    // user's first event starts a chain), only true if boundaries held
    val users = evs.map(_.user_id).distinct.length
    assert(streamed.values.map(_._1).sum === (evs.length - users).toLong)
  }

  test("featureSnapshotStream: folded online snapshot equals batch recompute on the real events table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val base = SparkSpec.tempDir("graft_feat_stream")
    val root = s"$base/store"; val ckpt = s"$base/ckpt"
    val evFrame = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    val evs = evFrame.orderBy(col("ts"), col("user_id")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3)))
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val q = StreamingIngest.featureSnapshotStream(
      stream.toDF().toDF("user_id", "ts", "event_type", "value"), root, ckpt)
    // 3 arbitrary chunks: the fold is a commutative monoid, so the
    // split must not matter
    evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getTimestamp(4))).toMap
    val streamed = asMap(StreamingIngest.currentFeatures(spark, root).get
      .select("user_id", "n_events", "value_cents", "n_purchases", "last_seen_ts"))
    val batch = asMap(StreamingIngest.featurePartials(evFrame)
      .select("user_id", "n_events", "value_cents", "n_purchases", "last_seen_ts"))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // cents are exact integers: totals add up across users
    assert(streamed.values.map(_._1).sum === evs.length.toLong)
  }

  test("pruneGenerations keeps the newest snapshots and current reads are unaffected") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = SparkSpec.tempDir("graft_genprune")
    val root = s"$base/matrix"; val ckpt = s"$base/ckpt"
    def ev(u: Long, et: String, m: Int, id: Long) =
      StreamingIngest.TypedEvent(u, et, new java.sql.Timestamp((1000 + m) * 60000L), id)
    val stream = MemoryStream[StreamingIngest.TypedEvent]
    val q = StreamingIngest.transitionMatrixStream(stream.toDS(), root, ckpt)
    Seq(Seq(ev(1L, "a", 0, 1L), ev(1L, "b", 1, 2L)),
      Seq(ev(1L, "c", 2, 3L)), Seq(ev(1L, "a", 3, 4L)),
      Seq(ev(1L, "b", 4, 5L))).foreach { b =>
      stream.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val before = StreamingIngest.currentTransitionMatrix(spark, root).get
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def genCount() = new java.io.File(root).listFiles()
      .count(_.getName.startsWith("gen-"))
    assert(genCount() === 4)
    val pruned = StreamingIngest.pruneGenerations(spark, root, keep = 2)
    assert(pruned === 2 && genCount() === 2)
    // the newest snapshot is the complete fold: reads are identical
    val after = StreamingIngest.currentTransitionMatrix(spark, root).get
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(after === before)
    // pruning is idempotent and never deletes the last generation
    assert(StreamingIngest.pruneGenerations(spark, root, keep = 2) === 0)
    assert(StreamingIngest.pruneGenerations(spark, root, keep = 1) === 1)
    assert(genCount() === 1)
    assert(StreamingIngest.currentTransitionMatrix(spark, root).get
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap === before)
  }

  test("generation read-sides skip a marker-less (mid-write crash) generation and resolve the committed parent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = SparkSpec.tempDir("graft_gen_commit")

    // direct-parquet store (scd dimension): Spark's committer owns the marker
    val dimRoot = s"$base/dim"
    val s1 = MemoryStream[(Long, String, Int)]
    val q1 = StreamingIngest.scdApplyStream(
      s1.toDF().toDF("k", "attr", "ts"), dimRoot, "k", "attr", "ts", s"$base/ckpt1")
    Seq(Seq((1L, "A", 10)), Seq((1L, "B", 20))).foreach { b =>
      s1.addData(b: _*); q1.processAllAvailable()
    }
    q1.stop()
    assert(new java.io.File(s"$dimRoot/gen-0/_SUCCESS").exists)
    assert(new java.io.File(s"$dimRoot/gen-1/_SUCCESS").exists)
    val committed = StreamingIngest.currentScdDimension(spark, dimRoot).get
      .collect().map(_.toSeq).toSet
    // plant a NEWER generation crashed mid-write: parquet rows present,
    // _SUCCESS absent — the exact on-disk state between a crash and the
    // stream's replay. The read-side must resolve gen-1, never this.
    Seq((1L, "JUNK", 99, 99, 99)).toDF("k", "attr", "ts", "valid_from", "valid_to")
      .write.parquet(s"$dimRoot/gen-7")
    assert(new java.io.File(s"$dimRoot/gen-7/_SUCCESS").delete())
    assert(StreamingIngest.currentScdDimension(spark, dimRoot).get
      .collect().map(_.toSeq).toSet === committed)

    // sub-table store (corpus stats): commitGeneration owns the marker.
    // Crash window here is BETWEEN table writes: first table committed,
    // second never started, no generation-level marker.
    val statsRoot = s"$base/stats"
    val s2 = MemoryStream[(Long, String)]
    val q2 = StreamingIngest.corpusStatsStream(
      s2.toDF().toDF("doc_id", "text"), statsRoot, s"$base/ckpt2")
    Seq(Seq((1L, "a b"), (2L, "b c")), Seq((3L, "c d"))).foreach { b =>
      s2.addData(b: _*); q2.processAllAvailable()
    }
    q2.stop()
    assert(new java.io.File(s"$statsRoot/gen-0/_SUCCESS").exists)
    assert(new java.io.File(s"$statsRoot/gen-1/_SUCCESS").exists)
    val (dfC, totC) = StreamingIngest.currentCorpusStats(spark, statsRoot).get
    val dfBefore = dfC.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val totBefore = totC.collect().map(_.toSeq).toSet
    Seq(("junk", 9L)).toDF("term", "df").write.parquet(s"$statsRoot/gen-9/df")
    val (dfG, totG) = StreamingIngest.currentCorpusStats(spark, statsRoot).get
    assert(dfG.collect().map(r => (r.getString(0), r.getLong(1))).toSet === dfBefore)
    assert(totG.collect().map(_.toSeq).toSet === totBefore)
  }

  test("backfillGenerationMarkers adopts complete legacy sub-table generations, never crash remnants") {
    val base = SparkSpec.tempDir("graft_gen_backfill")
    val root = s"$base/stats"
    // legacy COMPLETE generation: df + tot each parquet-committed
    // (per-table _SUCCESS), no gen-level marker — the pre-r16 layout
    Seq(("a", 2L)).toDF("term", "df").write.parquet(s"$root/gen-0/df")
    Seq((2L, 4L)).toDF("n_docs", "sum_dl").write.parquet(s"$root/gen-0/tot")
    assert(!new java.io.File(s"$root/gen-0/_SUCCESS").exists)
    // crash remnant: ONE table committed, the other never started —
    // must NOT be adopted
    Seq(("junk", 9L)).toDF("term", "df").write.parquet(s"$root/gen-5/df")
    // strict read-side sees neither before the migration
    assert(StreamingIngest.currentCorpusStats(spark, root) === None)
    val adopted = StreamingIngest.backfillGenerationMarkers(
      spark, root, Seq("df", "tot"))
    assert(adopted === 1)
    assert(new java.io.File(s"$root/gen-0/_SUCCESS").exists)
    assert(!new java.io.File(s"$root/gen-5/_SUCCESS").exists)
    // idempotent
    assert(StreamingIngest.backfillGenerationMarkers(
      spark, root, Seq("df", "tot")) === 0)
    // the adopted generation now serves reads and counts for GC
    val (dfG, totG) = StreamingIngest.currentCorpusStats(spark, root).get
    assert(dfG.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      === Set(("a", 2L)))
    assert(totG.collect().map(_.toSeq).toSet === Set(Seq(2L, 4L)))
    assert(StreamingIngest.pruneGenerations(spark, root, keep = 1) === 0)
  }

  test("asOfGeneration: historical snapshots read identically after newer batches land; prune sets the horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = SparkSpec.tempDir("graft_gen_asof")
    val root = s"$base/matrix"; val ckpt = s"$base/ckpt"
    def ev(u: Long, et: String, m: Int, id: Long) =
      StreamingIngest.TypedEvent(u, et, new java.sql.Timestamp((1000 + m) * 60000L), id)
    val stream = MemoryStream[StreamingIngest.TypedEvent]
    val q = StreamingIngest.transitionMatrixStream(stream.toDS(), root, ckpt)
    def readAt(p: String) = spark.read.parquet(s"$p/matrix").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    Seq(Seq(ev(1L, "a", 0, 1L), ev(1L, "b", 1, 2L)), Seq(ev(1L, "c", 2, 3L)))
      .foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    // capture the gen-1 snapshot NOW, then land two more batches on top
    val p1 = StreamingIngest.asOfGeneration(spark, root, 1L).get
    assert(p1.endsWith("gen-1"))
    val snap1 = readAt(p1)
    Seq(Seq(ev(1L, "a", 3, 4L)), Seq(ev(1L, "b", 4, 5L)))
      .foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()
    // retained generations are immutable: the as-of read is unchanged
    assert(StreamingIngest.asOfGeneration(spark, root, 1L).get === p1)
    assert(readAt(p1) === snap1)
    // as-of resolves the newest committed generation AT OR BELOW the id
    assert(StreamingIngest.asOfGeneration(spark, root, 0L).get.endsWith("gen-0"))
    assert(StreamingIngest.asOfGeneration(spark, root, 10L).get.endsWith("gen-3"))
    assert(StreamingIngest.asOfGeneration(spark, root, Long.MaxValue).get
      .endsWith("gen-3"))
    // GC interaction: the prune keep-window IS the time-travel horizon
    assert(StreamingIngest.pruneGenerations(spark, root, keep = 2) === 2)
    assert(StreamingIngest.asOfGeneration(spark, root, 1L) === None)
    assert(StreamingIngest.asOfGeneration(spark, root, 2L).get.endsWith("gen-2"))
    assert(StreamingIngest.asOfGeneration(spark, root, 10L).get.endsWith("gen-3"))
    // prune vs crash remnants: a marker-less gen dir must neither
    // consume a keep slot (keep=1 would otherwise delete the only
    // committed generation in favor of the remnant) nor be deleted
    // out from under the replay that owns it
    val remnant = new java.io.File(s"$root/gen-9/matrix")
    assert(remnant.mkdirs())
    assert(StreamingIngest.pruneGenerations(spark, root, keep = 1) === 1)
    assert(StreamingIngest.asOfGeneration(spark, root, Long.MaxValue).get
      .endsWith("gen-3"), "the committed newest generation must survive")
    assert(readAt(StreamingIngest.asOfGeneration(spark, root, 10L).get)
      .nonEmpty)
    assert(remnant.exists, "the replaying stream owns the remnant")
  }

  test("cusumStream: folded daily generations derive exactly q89, out-of-order batches included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val base = SparkSpec.tempDir("graft_cusum_stream")
    val root = s"$base/cusum"; val ckpt = s"$base/ckpt"
    val evs = graft.Tables(spark, dir, "events")
      .select(col("event_type"), col("ts"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1)))
    // deliberately SHUFFLED batches: the additive daily fold must not
    // care about arrival order (the statistic derives at read time)
    val shuffled = new scala.util.Random(7).shuffle(evs.toSeq)
    val stream = MemoryStream[(String, java.sql.Timestamp)]
    val q = StreamingIngest.cusumStream(
      stream.toDF().toDF("event_type", "ts"), root, ckpt)
    shuffled.grouped(math.max(shuffled.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          Option(r.getAs[java.sql.Timestamp](5)))).toMap
    val streamed = asMap(StreamingIngest.currentCusum(spark, root).get)
    val batch = asMap(graft.queries.Extensions.q89_cusum_drift(spark, dir))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("foldStream replay: a batch re-run under its own id rewrites the same generation and creates no new one") {
    import org.apache.spark.sql.types._
    val base = SparkSpec.tempDir("graft_fold_replay")
    val (inDir, cp, root) = (s"$base/in", s"$base/cp", s"$base/cusum")
    def ts(d: Int, h: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse(f"2025-01-$d%02dT$h%02d:00:00Z"))
    def writeBatch(events: (String, java.sql.Timestamp)*): Unit =
      events.toDF("event_type", "ts").repartition(1)
        .write.mode("append").parquet(inDir)
    val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    def start() = StreamingIngest.cusumStream(
      spark.readStream.schema(schema).parquet(inDir), root, cp)
    def readGen(id: Int) = spark.read.parquet(s"$root/gen-$id/daily").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant.toString, r.getLong(2)))
      .toSet
    writeBatch(("view", ts(1, 1)), ("view", ts(1, 2)), ("click", ts(2, 3)))
    val q1 = start(); q1.processAllAvailable()
    // batch 1 overlaps batch 0's (type, day) keys, so folding it twice
    // would show up as doubled counts
    writeBatch(("view", ts(1, 5)), ("click", ts(2, 6)), ("buy", ts(3, 7)))
    q1.processAllAvailable(); q1.stop()
    val gen1 = readGen(1)
    assert(gen1 === Set(("view", "2025-01-01T00:00:00Z", 3L),
      ("click", "2025-01-02T00:00:00Z", 2L), ("buy", "2025-01-03T00:00:00Z", 1L)))
    // crash after the sink wrote gen-1 but before Spark logged batch 1
    // as committed: the restart must replay batch 1 under the SAME id
    assert(new java.io.File(s"$cp/commits/1").delete())
    new java.io.File(s"$cp/commits/.1.crc").delete()
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(q2.recentProgress.map(_.batchId).contains(1L),
      "batch 1 was not replayed")
    assert(new java.io.File(s"$cp/commits/1").exists)
    assert(!new java.io.File(s"$root/gen-2").exists,
      "the replay must rewrite gen-1, not commit a new generation")
    assert(new java.io.File(s"$root/gen-1/_SUCCESS").exists)
    assert(readGen(1) === gen1, "the replay folded its own generation in")
  }

  test("psiDriftStream: folded histogram generations derive exactly q122, out-of-order batches included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val base = SparkSpec.tempDir("graft_psi_stream")
    val root = s"$base/psi"; val ckpt = s"$base/ckpt"
    val evs = graft.Tables(spark, dir, "events")
      .select(col("ts"), col("value"))
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1)))
    // SHUFFLED batches: the additive per-bin fold must not care about
    // arrival order (the report derives at read time)
    val shuffled = new scala.util.Random(11).shuffle(evs.toSeq)
    val stream = MemoryStream[(java.sql.Timestamp, Double)]
    val q = StreamingIngest.psiDriftStream(
      stream.toDF().toDF("ts", "value"), root, ckpt)
    shuffled.grouped(math.max(shuffled.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val streamed = asMap(StreamingIngest.currentPsi(spark, root).get)
    val batch = asMap(graft.queries.Features.q122_psi_drift(spark, dir))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("ksDriftStream: folded value counts derive exactly q135, out-of-order batches included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val base = SparkSpec.tempDir("graft_ks_stream")
    val root = s"$base/ks"; val ckpt = s"$base/ckpt"
    val evs = graft.Tables(spark, dir, "events")
      .select(col("ts"), col("value"))
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1)))
    // SHUFFLED batches: the additive per-value fold must not care
    // about arrival order (the max-gap derives at read time)
    val shuffled = new scala.util.Random(17).shuffle(evs.toSeq)
    val stream = MemoryStream[(java.sql.Timestamp, Double)]
    val q = StreamingIngest.ksDriftStream(
      stream.toDF().toDF("ts", "value"), root, ckpt)
    shuffled.grouped(math.max(shuffled.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def asRow(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect()(0)
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4))
    }
    val streamed = asRow(StreamingIngest.currentKs(spark, root).get)
    val batch = asRow(graft.queries.Features.q135_ks_drift(spark, dir))
    assert(streamed === batch)
    assert(streamed._1 > 0 && streamed._2 > 0)
  }

  test("abTestStream: folded sufficient statistics derive exactly q127, out-of-order batches included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val base = SparkSpec.tempDir("graft_ab_stream")
    val root = s"$base/ab"; val ckpt = s"$base/ckpt"
    val evs = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // SHUFFLED batches: the additive fold must not care about order
    val shuffled = new scala.util.Random(13).shuffle(evs.toSeq)
    val stream = MemoryStream[(Long, String, Double)]
    val q = StreamingIngest.abTestStream(
      stream.toDF().toDF("user_id", "event_type", "value"), root, ckpt)
    shuffled.grouped(math.max(shuffled.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def asTuple(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect()(0)
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))
    }
    val streamed = asTuple(StreamingIngest.currentAbTest(spark, root).get)
    val batch = asTuple(graft.queries.Features.q127_ab_test(spark, dir))
    assert(streamed === batch)
    // q149 reads the same store: the streamed MDE must equal batch
    val mS = StreamingIngest.currentMde(spark, root).get.collect()(0).toSeq
    val mB = graft.queries.Features.q149_mde(spark, dir).collect()(0).toSeq
    assert(mS === mB)
  }

  test("anovaStream: folded per-group statistics derive exactly q141, out-of-order batches included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val base = SparkSpec.tempDir("graft_anova_stream")
    val root = s"$base/anova"; val ckpt = s"$base/ckpt"
    val evs = graft.Tables(spark, dir, "events")
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val shuffled = new scala.util.Random(17).shuffle(evs.toSeq)
    val stream = MemoryStream[(String, Double)]
    val q = StreamingIngest.anovaStream(
      stream.toDF().toDF("event_type", "value"), root, ckpt)
    shuffled.grouped(math.max(shuffled.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def asTuple(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect()(0)
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))
    }
    val streamed = asTuple(StreamingIngest.currentAnova(spark, root).get)
    val batch = asTuple(graft.queries.Features.q141_anova(spark, dir))
    assert(streamed === batch)
  }

  test("kruskalStream: folded per-group value counts derive exactly q142, out-of-order batches included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val base = SparkSpec.tempDir("graft_kw_stream")
    val root = s"$base/kw"; val ckpt = s"$base/ckpt"
    val evs = graft.Tables(spark, dir, "events")
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val shuffled = new scala.util.Random(19).shuffle(evs.toSeq)
    val stream = MemoryStream[(String, Double)]
    val q = StreamingIngest.kruskalStream(
      stream.toDF().toDF("event_type", "value"), root, ckpt)
    shuffled.grouped(math.max(shuffled.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def asTuple(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect()(0)
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4))
    }
    val streamed = asTuple(StreamingIngest.currentKruskal(spark, root).get)
    val batch = asTuple(graft.queries.Features.q142_kruskal_wallis(spark, dir))
    assert(streamed === batch)
    // q146 reads the same store: the streamed post-hoc must equal batch
    val dS = StreamingIngest.currentDunn(spark, root).get
      .orderBy("grp_a", "grp_b").collect().toSeq
    val dB = graft.queries.Features.q146_dunn_posthoc(spark, dir)
      .orderBy("grp_a", "grp_b").collect().toSeq
    assert(dS === dB)
  }

  test("mannKendallStream: folded daily counts derive exactly q147, late events on old days included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val base = SparkSpec.tempDir("graft_mk_stream")
    val root = s"$base/mk"; val ckpt = s"$base/ckpt"
    val evs = graft.Tables(spark, dir, "events")
      .select(col("ts"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)))
    // shuffled chunks: every batch carries events for ALREADY-SEEN
    // days, so the fold must update old day rows, not just append
    val shuffled = new scala.util.Random(31).shuffle(evs.toSeq)
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val q = StreamingIngest.mannKendallStream(
      stream.toDF().toDF("ts", "event_type"), root, ckpt)
    shuffled.grouped(math.max(shuffled.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type").collect().toSeq
    val streamed = rows(StreamingIngest.currentMannKendall(spark, root).get)
    val batch = rows(graft.queries.Features.q147_mann_kendall(spark, dir))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("driftBySliceStream: folded per-slice counts derive exactly q139, out-of-order batches included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val base = SparkSpec.tempDir("graft_slice_stream")
    val root = s"$base/slices"; val ckpt = s"$base/ckpt"
    val evs = graft.Tables(spark, dir, "events")
      .select(col("ts"), col("event_type"), col("value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
    val shuffled = new scala.util.Random(23).shuffle(evs.toSeq)
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = StreamingIngest.driftBySliceStream(
      stream.toDF().toDF("ts", "event_type", "value"), root, ckpt)
    shuffled.grouped(math.max(shuffled.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("slice").collect().toSeq
    val streamed = rows(StreamingIngest.currentDriftBySlice(spark, root).get)
    val batch = rows(graft.queries.Features.q139_drift_by_slice(spark, dir))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // q143 is a pure read-side projection over the same store: the
    // streamed FDR reject set must equal the batch one too
    val bhS = rows(StreamingIngest.currentBhFdr(spark, root).get)
    val bhB = rows(graft.queries.Features.q143_bh_fdr(spark, dir))
    assert(bhS === bhB)
  }

  test("releaseStream: folded survivor sets derive exactly the batch release, cross-batch duplicates included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = SparkSpec.tempDir("graft_release_stream")
    val root = s"$base/rel"; val ckpt = s"$base/ckpt"
    // synthetic corpus with PLANTED duplicate texts: ids 1..90, six
    // sources, every text shared by three ids — after shuffling into
    // three batches, duplicates straddle batch boundaries, which is
    // precisely what a per-batch-only dedup would get wrong
    val docs = (1L to 90L).map { id =>
      (id, s"src${id % 6}", s"some shared text number ${id % 30} padding tokens here")
    }
    val budget = 20L
    val shuffled = new scala.util.Random(29).shuffle(docs)
    val stream = MemoryStream[(Long, String, String)]
    val q = StreamingIngest.releaseStream(
      stream.toDF().toDF("doc_id", "source", "text"), root, ckpt)
    shuffled.grouped(30).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source").collect().toSeq
    val streamed = rows(
      StreamingIngest.currentRelease(spark, root, budget).get)
    val batch = rows(graft.queries.Corpus.releaseFromSurvivors(
      graft.queries.Corpus.c06SurvivorPartial(
        docs.toDF("doc_id", "source", "text")).drop("__htext"), budget))
    assert(streamed === batch)
    // the planted duplicates really collapsed: 30 distinct texts
    assert(streamed.map(_.getLong(1)).sum == 30L)
    // and the Hamilton budget identity survives the streamed state
    assert(streamed.map(_.getLong(2)).sum == budget)
  }

  test("qualityReleaseStream: read-time c09 equals batch, cross-batch duplicates straddling the quality boundary included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = SparkSpec.tempDir("graft_qrel_stream")
    val root = s"$base/qrel"; val ckpt = s"$base/ckpt"
    // 90 docs = 30 planted duplicate groups of 3. Groups 0..19 share a
    // COMMON vocabulary (low xent — survive the tertile gate); groups
    // 20..29 each use their own RARE tokens (high xent — the tail
    // tertile, exactly 30 of 90 docs). After the seeded shuffle the
    // copies of each group land in DIFFERENT batches, so the gate's
    // verdict on a group and the dedup's choice of its surviving copy
    // both depend on docs from other batches — the case an
    // incremental fold of gated survivors would get wrong.
    val docs = (1L to 90L).map { id =>
      val g = (id % 30).toInt
      val text =
        if (g < 20) s"the quick brown fox jumps over lazy dog variant $g"
        else s"zq${g}ax wq${g}bx vq${g}cx uq${g}dx tq${g}ex sq${g}fx"
      (id, s"src${id % 6}", text)
    }
    val budget = 12L
    val shuffled = new scala.util.Random(41).shuffle(docs)
    val stream = MemoryStream[(Long, String, String)]
    val q = StreamingIngest.qualityReleaseStream(
      stream.toDF().toDF("doc_id", "source", "text"), root, ckpt)
    shuffled.grouped(30).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source").collect().toSeq
    val streamed = rows(
      StreamingIngest.currentQualityRelease(spark, root, budget).get)
    val batch = rows(graft.queries.Corpus.qualityReleaseOf(
      docs.toDF("doc_id", "source", "text"), budget))
    assert(streamed === batch)
    // the gate really ran: only the 20 common-vocabulary groups
    // survive as candidates (30 distinct texts minus the 10 rare
    // tail groups), and dedup still collapsed the copies
    assert(streamed.map(_.getLong(1)).sum == 20L)
    // the Hamilton budget identity survives gate + streamed state
    assert(streamed.map(_.getLong(2)).sum == budget)
    // c10's domain-gate manifest reads off the SAME doc store with
    // zero new state — streamed ≡ batch, source-level re-aggregation
    // across batches included
    def mrows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source").collect().toSeq
    val gateStreamed = mrows(
      StreamingIngest.currentDomainGate(spark, root).get)
    val gateBatch = mrows(graft.queries.Corpus.c10ManifestOf(
      docs.toDF("doc_id", "source", "text")))
    assert(gateStreamed === gateBatch)
    assert(gateStreamed.map(_.getString(0)).toSet ==
      (0 until 6).map(i => s"src$i").toSet)
  }

  test("qualityReleaseStream: a document re-emitted in a LATER micro-batch never double-counts, and the prior generation's row wins") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = SparkSpec.tempDir("graft_qrel_reemit")
    val root = s"$base/qrel"; val ckpt = s"$base/ckpt"
    // checkpoint replay protection does NOT apply across distinct
    // micro-batches (the r14-advice hazard): an at-least-once source
    // re-emits doc 1 in batch 2 (same payload) and doc 2 in batch 3
    // (DIFFERENT payload — upstream rewrote history, which the store
    // must ignore: first write wins).
    val d = Seq(
      (1L, "a", "the quick brown fox jumps"),
      (2L, "a", "the lazy dog sleeps well"),
      (3L, "b", "the cat sat on the mat"))
    val stream = MemoryStream[(Long, String, String)]
    val q = StreamingIngest.qualityReleaseStream(
      stream.toDF().toDF("doc_id", "source", "text"), root, ckpt)
    stream.addData(d(0), d(1)); q.processAllAvailable()
    stream.addData(d(0), d(2)); q.processAllAvailable() // re-emit doc 1
    stream.addData((2L, "a", "rewritten text must not land"))
    q.processAllAvailable()
    q.stop()
    // the doc store holds each doc_id exactly once, original payloads
    val gens = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getName).sorted
    val store = spark.read.parquet(s"$root/${gens.last}/docs")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(store === d)
    // and every read side equals batch over the DEDUPED union
    val budget = 3L
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source").collect().toSeq
    assert(rows(StreamingIngest.currentQualityRelease(spark, root,
        budget).get) ===
      rows(graft.queries.Corpus.qualityReleaseOf(
        d.toDF("doc_id", "source", "text"), budget)))
  }

  test("currentBitextPairs: read-time s21 over the embedding store equals batch, a late vector flips a mutual-best verdict") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = SparkSpec.tempDir("graft_bitext_stream")
    val root = s"$base/emb"; val ckpt = s"$base/ckpt"
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // batch 1: 0↔1 and 2↔3 are mutual best pairs across the parity
    // split; batch 2's v5 sits CLOSER to v0 than v1 does, so v0's
    // best-margin target flips to 5 — the verdict no carried pair
    // state could update
    val b1 = Seq(
      (0L, v(1, 0, 0, 0)), (1L, v(0.9, 0.1, 0, 0)),
      (2L, v(0, 1, 0, 0)), (3L, v(0, 0.9, 0.1, 0)),
      (4L, v(0, 0, 1, 0)))
    val b2 = Seq(
      (5L, v(0.99, 0.01, 0, 0)), (6L, v(0, 0, 0.9, 0.1)),
      (1L, v(0.5, 0.5, 0, 0))) // re-emission of vec 1: first write wins
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingIngest.embeddingStream(
      stream.toDF().toDF("vec_id", "embedding"), root, ckpt)
    stream.addData(b1: _*); q.processAllAvailable()
    def mined() = StreamingIngest.currentBitextPairs(spark, root).get
      .orderBy("x_id", "y_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4))).toSeq
    val afterB1 = mined()
    stream.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val afterB2 = mined()
    // streamed ≡ batch on the union (original vec 1 payload — the
    // re-emitted rewrite must NOT land)
    val union = (b1 ++ b2.filterNot(_._1 == 1L))
      .toDF("vec_id", "embedding")
    val batch = graft.queries.Corpus.s21BruteMinedPairs(union)
      .orderBy("x_id", "y_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4))).toSeq
    assert(afterB2 === batch)
    assert(afterB2.nonEmpty)
    // the late vector really flipped the mined set
    assert(afterB1 !== afterB2)
    assert(afterB1.exists(p => p._1 == 0L && p._2 == 1L))
    assert(afterB2.exists(p => p._1 == 0L && p._2 == 5L))
    // second read side over the SAME store: PCA projection refit at
    // read time equals the batch fit+projection on the deduped union
    // (a late vector inside the smallest-id sample boundary changes
    // the MODEL, not just its own row)
    def prows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().map(_.toString).toSeq
    val pStream = prows(
      StreamingIngest.currentPcaWhitening(spark, root).get)
    val pBatch = prows(graft.queries.Corpus.pcaWhitenOf(union,
      graft.queries.Corpus.fitPca(union)))
    assert(pStream === pBatch)
    assert(pStream.size === 7)
  }

  test("currentBradleyTerry: read-time q150 over the c07 turn store equals batch, late cross-batch turns included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = SparkSpec.tempDir("graft_bt_stream")
    val root = s"$base/bt"; val ckpt = s"$base/ckpt"
    val types = Seq("view", "click", "purchase", "error", "signup")
    val t0 = 1704067200000000L // 2024-01-01T00:00Z in micros
    // 120 events over 6 users: enough assistant turns per (user, week)
    // prompt group that chosen/rejected ends exist, with the seeded
    // shuffle landing early turns in LATE batches — a late arrival can
    // change a group's reward-ranked ends and re-score its duels
    val events = (1L to 120L).map { id =>
      val ts = new java.sql.Timestamp((t0 + id * 5400L * 1000000L) / 1000L)
      (id % 6, ts, id, types((id % 5).toInt), s"""{"k": ${id % 9}}""")
    }
    val shuffled = new scala.util.Random(37).shuffle(events)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, String)]
    val q = StreamingIngest.sftAssemblyStream(
      stream.toDF().toDF("user_id", "ts", "event_id", "event_type", "props"),
      root, ckpt)
    shuffled.grouped(40).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("item").collect().toSeq
    val streamed = rows(
      StreamingIngest.currentBradleyTerry(spark, root).get)
    val batchDf = events
      .toDF("user_id", "ts", "event_id", "event_type", "props")
    val batch = rows(graft.analytics.Preference.bradleyTerryFromDuels(
      graft.queries.Corpus.btDuelsFromTurns(
        graft.queries.Corpus.c07TurnFrame(batchDf)),
      graft.queries.Corpus.BtIters))
    assert(streamed.nonEmpty, "fixture must produce duels")
    assert(streamed === batch)
  }

  test("sftAssemblyStream: read-time assembly equals batch c07, late cross-batch turns included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = SparkSpec.tempDir("graft_sft_stream")
    val root = s"$base/sft"; val ckpt = s"$base/ckpt"
    val types = Seq("view", "click", "purchase", "error", "signup")
    val t0 = 1704067200000000L // 2024-01-01T00:00Z in micros
    // 80 events, 5 users, ~2 weeks — every role in every conversation
    val events = (1L to 80L).map { id =>
      val ts = new java.sql.Timestamp((t0 + id * 7200L * 1000000L) / 1000L)
      (id % 5, ts, id, types((id % 5).toInt), s"""{"k": ${id % 7}}""")
    }
    // seeded shuffle into three batches: early-timestamp turns land in
    // LATER batches, so conversations re-assemble and every downstream
    // offset in the affected user streams must move — the case a
    // carried-offset state would get wrong
    val shuffled = new scala.util.Random(31).shuffle(events)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, String)]
    val q = StreamingIngest.sftAssemblyStream(
      stream.toDF().toDF("user_id", "ts", "event_id", "event_type", "props"),
      root, ckpt)
    shuffled.grouped(27).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "conv_week").collect().toSeq
    val streamed = rows(StreamingIngest.currentSftAssembly(spark, root).get)
    val batch = rows(graft.queries.Corpus.sftFromTurns(
      graft.queries.Corpus.c07TurnFrame(
        events.toDF("user_id", "ts", "event_id", "event_type", "props"))))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // the fixture really exercises the mask: some spans strings carry
    // multiple ranges and offsets reach past the first turn
    assert(streamed.exists(_.getString(8).contains(";")))
  }

  test("currentPreferencePairs: read-time pairing equals batch c08 on the same turn store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = SparkSpec.tempDir("graft_pref_stream")
    val root = s"$base/pref"; val ckpt = s"$base/ckpt"
    val types = Seq("view", "click", "purchase", "error", "signup")
    val t0 = 1704067200000000L // 2024-01-01T00:00Z in micros
    // 120 events, 4 users — denser per-(user, week) groups so prompt
    // groups carry ≥2 assistant candidates and the ranking matters
    val events = (1L to 120L).map { id =>
      val ts = new java.sql.Timestamp((t0 + id * 5400L * 1000000L) / 1000L)
      (id % 4, ts, id, types((id % 5).toInt), s"""{"k": ${id % 7}}""")
    }
    // late arrivals: a candidate landing batches later can FLIP a
    // prompt group's chosen/rejected verdict — the case carried-pair
    // state would get wrong and read-time assembly must get right
    val shuffled = new scala.util.Random(37).shuffle(events)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, String)]
    val q = StreamingIngest.sftAssemblyStream(
      stream.toDF().toDF("user_id", "ts", "event_id", "event_type", "props"),
      root, ckpt)
    shuffled.grouped(40).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "conv_week").collect().toSeq
    val streamed = rows(StreamingIngest.currentPreferencePairs(spark, root).get)
    val batch = rows(graft.queries.Corpus.prefPairsFromTurns(
      graft.queries.Corpus.c07TurnFrame(
        events.toDF("user_id", "ts", "event_id", "event_type", "props"))))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // the fixture really exercises ranking: some group has >2
    // candidates, so chosen/rejected is a real selection, not a swap
    assert(streamed.exists(_.getLong(2) > 2L))
  }

  test("epochShuffleStream: folded layout partials derive exactly t45 on the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = SparkSpec.tempDir("graft_epoch_stream")
    val root = s"$base/epoch"; val ckpt = s"$base/ckpt"
    val docs = (1L to 120L).map(id => (id, s"tok$id words number ${id % 9}"))
    val shuffled = new scala.util.Random(37).shuffle(docs)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.epochShuffleStream(
      stream.toDF().toDF("doc_id", "text"), root, ckpt)
    shuffled.grouped(40).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("epoch", "bucket").collect().toSeq
    val streamed = rows(StreamingIngest.currentEpochShuffle(spark, root).get)
    val batch = rows(graft.queries.Corpus.epochShufflePartial(
      docs.toDF("doc_id", "text")))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("tokenizerEvalStream: folded mass partials derive exactly t46 on the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = SparkSpec.tempDir("graft_tokeval_stream")
    val root = s"$base/tokeval"; val ckpt = s"$base/ckpt"
    val langs = Seq("en", "de", "fr")
    val docs = (1L to 90L).map { id =>
      (id, s"alpha beta${id % 7} gamma delta${id % 5} words here",
        langs((id % 3).toInt))
    }
    // pinned release tokenizers (a stream pins models, never refits):
    // fit both on the union corpus's word-frequency table
    val vocab = docs.flatMap(_._2.split("\\s+")).groupBy(identity)
      .map { case (w, ws) => (w, ws.size.toLong) }.toSeq
      .sortBy { case (w, f) => (-f, w) }
    val bm = graft.text.Bpe.train(vocab, nMerges = 16)
    val um = graft.text.Unigram.train(vocab,
      vocabSize = 128, maxPieceLen = 6, iters = 2)
    val wm = graft.text.WordPiece.train(vocab, nMerges = 16)
    val ym = graft.text.Bpe.trainBytes(vocab, nMerges = 16)
    val shuffled = new scala.util.Random(41).shuffle(docs)
    val stream = MemoryStream[(Long, String, String)]
    val q = StreamingIngest.tokenizerEvalStream(
      stream.toDF().toDF("doc_id", "text", "lang"), bm, um, wm, ym,
      root, ckpt)
    shuffled.grouped(30).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("lang").collect().toSeq
    val streamed = rows(StreamingIngest.currentTokenizerEval(spark, root).get)
    val batch = rows(graft.queries.Corpus.tokenizerEvalReport(
      graft.queries.Corpus.tokenizerEvalPartial(
        docs.toDF("doc_id", "text", "lang"), bm, um, wm, ym)))
    assert(streamed === batch)
    assert(streamed.map(_.getString(0)) == langs.sorted)
    // the scorecard is non-degenerate: real subword mass accumulated
    assert(streamed.forall(_.getLong(4) > 0L))
  }

  test("streamingNearDupAdmission: self-dedup + corpus filter; admitted generations append") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = SparkSpec.tempDir("graft_neardup_stream")
    val root = s"$base/corpus"; val ckpt = s"$base/ckpt"
    val seed1 = "the quick brown fox jumps over the lazy dog near the old river bank every single morning"
    val seed4 = "spark executes declarative plans with whole stage codegen and adaptive query execution enabled"
    val novel = "structured streaming maintains keyed state across micro batches with watermarks and timeouts"
    val pasta = "completely unrelated text about cooking pasta with tomatoes garlic basil and olive oil tonight"
    Seq((1L, seed1), (4L, seed4)).toDF("doc_id", "text")
      .write.parquet(s"$root/gen--1")                  // bootstrap corpus
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.streamingNearDupAdmission(
      stream.toDF().toDF("doc_id", "text"), root, ckpt,
      k = 3, numHashes = 16, bands = 8, threshold = 0.5)
    stream.addData(
      (10L, seed1.toUpperCase),                        // dup of corpus doc 1 → reject
      (11L, novel),                                    // new → admit
      (12L, pasta),                                    // new → admit
      (13L, pasta.replace("tonight", "today")))        // in-batch twin of 12 → reject
    q.processAllAvailable()
    stream.addData(
      (20L, novel + " enabled"),                       // dup of batch-0 ADMITTED doc 11 → reject
      (21L, "vector quantization compresses embeddings into eight bit codes with per vector scales"))
    q.processAllAvailable()
    q.stop()
    val ids = StreamingIngest.admittedCorpus(spark, root).get
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 4L, 11L, 12L, 21L))
    // append-only corpus: each batch committed exactly its own generation
    assert(new java.io.File(s"$root/gen-0").exists
      && new java.io.File(s"$root/gen-1").exists)
  }

  test("exactSubstrAdmissionStream: anchor share = 20-token span; admitted corpus stays span-clean; rejects leave no trace") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val base = SparkSpec.tempDir("graft_substr_stream")
    val root = s"$base/corpus"; val ckpt = s"$base/ckpt"
    def words(p: String, n: Int): Seq[String] = (1 to n).map(i => s"$p$i")
    val span = words("dup", 22)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.exactSubstrAdmissionStream(
      stream.toDF().toDF("doc_id", "text"), root, ckpt, L = 20)
    stream.addData(
      (1L, (words("a", 3) ++ span ++ words("z", 3)).mkString(" ")), // admit
      // shares the 22-token span with the smaller-id doc 1 → self-drop
      // (its OWN 25-token q-tail must leave no trace in the index)
      (2L, (words("b", 2) ++ span ++ words("q", 25)).mkString(" ")),
      (3L, words("n", 25).mkString(" ")))                           // admit
    q.processAllAvailable()
    stream.addData(
      // a 20-token PREFIX of the span — one shared anchor with the
      // standing corpus is enough → reject
      (10L, (words("x", 2) ++ span.take(20) ++ words("w", 3)).mkString(" ")),
      // doc 2's rejected tail verbatim: rejected docs contributed no
      // anchors, so this is novel to the index → admit
      (11L, words("q", 25).mkString(" ")),
      (12L, words("m", 30).mkString(" ")),                          // admit
      (13L, words("s", 10).mkString(" ")))  // under L: anchor-free → admit
    q.processAllAvailable()
    q.stop()
    val admitted = StreamingIngest.admittedCleanCorpus(spark, root).get
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L, 11L, 12L, 13L))
    // the invariant the stream maintains BY CONSTRUCTION: no two
    // admitted documents share >= 20 consecutive tokens
    assert(graft.dedup.Dedup.maximalMatches(
      admitted, "text", "doc_id", L = 20).count() === 0L)
    // two-table generations committed under the marker protocol
    assert(new java.io.File(s"$root/gen-0/_SUCCESS").exists
      && new java.io.File(s"$root/gen-1/_SUCCESS").exists
      && new java.io.File(s"$root/gen-1/anchors").exists)
    // the q-tail anchors arrived only with ADMITTED doc 11 (gen-1),
    // proving gen-0 recorded nothing for the rejected doc 2
    val g0 = spark.read.parquet(s"$root/gen-0/anchors").count()
    val a1 = spark.read.parquet(s"$root/gen-0/docs")
      .withColumn("__n", org.apache.spark.sql.functions.size(
        graft.dedup.Dedup.spanAnchors(
          graft.text.TextAnalysis.tokens(col("text")), 20)))
      .agg(org.apache.spark.sql.functions.sum(col("__n"))).head().getLong(0)
    assert(g0 === a1, "gen-0 anchor index must describe exactly its admitted docs")
  }

  test("exactSubstrAdmissionStream: pre-r18 hex-string anchor generations still gate admission (BINARY key migration)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, explode, hex, lower}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = SparkSpec.tempDir("graft_substr_migr")
    val root = s"$base/corpus"; val ckpt = s"$base/ckpt"
    def words(p: String, n: Int): Seq[String] = (1 to n).map(i => s"$p$i")
    val span = words("old", 22)
    val oldDoc = (1L, (words("a", 2) ++ span ++ words("z", 2)).mkString(" "))
    // hand-write a generation in the OLD on-disk format: anchors as
    // 32-char lowercase hex STRINGs (what pre-r18 builds persisted),
    // committed under the same gen-level marker protocol. Only id
    // ORDER matters to the probe (an upgraded store's generations sit
    // below the resumed stream's next batch id); MemoryStream restarts
    // batch ids at 0, so the pre-existing generation gets id -1.
    Seq(oldDoc).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$root/gen--1/docs")
    Seq(oldDoc).toDF("doc_id", "text")
      .select(explode(graft.dedup.Dedup.spanAnchors(
        graft.text.TextAnalysis.tokens(col("text")), 20)).as("hb"))
      .select(lower(hex(col("hb"))).as("h")).distinct()
      .write.mode("overwrite").parquet(s"$root/gen--1/anchors")
    new java.io.File(s"$root/gen--1/_SUCCESS").createNewFile()
    val dupOfOld = (10L, (words("x", 2) ++ span ++ words("y", 2)).mkString(" "))
    // unmigrated: the probe must fail the batch and name the migration,
    // never read the hex bytes as keys and admit the duplicate
    val unmigrated = MemoryStream[(Long, String)]
    val q0 = StreamingIngest.exactSubstrAdmissionStream(
      unmigrated.toDF().toDF("doc_id", "text"), root, s"$base/ckpt0", L = 20)
    unmigrated.addData(dupOfOld)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q0.processAllAvailable())
    q0.stop()
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(e => Option(e.getMessage).exists(
      _.contains("rewriteHexAnchors"))), err.toString)
    assert(!new java.io.File(s"$root/gen-0/_SUCCESS").exists)
    // the one-time migration rewrites the hex generation in place and
    // keeps it committed; a second run has nothing left to do
    assert(StreamingIngest.rewriteHexAnchors(spark, root) === 1)
    assert(StreamingIngest.rewriteHexAnchors(spark, root) === 0)
    assert(new java.io.File(s"$root/gen--1/_SUCCESS").exists)
    assert(spark.read.parquet(s"$root/gen--1/anchors").schema("h").dataType ===
      org.apache.spark.sql.types.BinaryType)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.exactSubstrAdmissionStream(
      stream.toDF().toDF("doc_id", "text"), root, ckpt, L = 20)
    stream.addData(
      // shares the span with the hex-era gen-0 doc → must reject
      dupOfOld,
      (11L, words("n", 25).mkString(" ")))                        // novel
    q.processAllAvailable()
    q.stop()
    val admitted = StreamingIngest.admittedCleanCorpus(spark, root).get
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 11L))
    // the new generation persists BINARY(16) keys
    val newSchema = spark.read.parquet(s"$root/gen-0/anchors").schema
    assert(newSchema("h").dataType ===
      org.apache.spark.sql.types.BinaryType)
  }

  test("rewriteHexAnchors finishes an interrupted swap and leaves binary and uncommitted generations alone") {
    import org.apache.spark.sql.functions.{col, unhex}
    val base = SparkSpec.tempDir("graft_hex_rewrite")
    val root = s"$base/corpus"
    val hexKeys = Seq("00112233445566778899aabbccddeeff", "ffeeddccbbaa99887766554433221100")
    def writeHex(path: String) = hexKeys.toDF("h").write.parquet(path)
    def writeBin(path: String) =
      hexKeys.toDF("h").select(unhex(col("h")).as("h")).write.parquet(path)
    def commit(gen: Int) = assert(new java.io.File(s"$root/gen-$gen/_SUCCESS").createNewFile())
    def keys(gen: Int) = spark.read.parquet(s"$root/gen-$gen/anchors")
    def hexOf(df: org.apache.spark.sql.DataFrame) = df
      .select(org.apache.spark.sql.functions.lower(
        org.apache.spark.sql.functions.hex(col("h"))))
      .collect().map(_.getString(0)).toSet
    // gen-0: already BINARY
    writeBin(s"$root/gen-0/anchors"); commit(0)
    // gen-1: a crash between delete and rename — the finished rewrite
    // sits beside a missing `anchors`
    writeBin(s"$root/gen-1/anchors.rewrite"); commit(1)
    // gen-2: an uncommitted crash remnant the stream's replay owns
    writeHex(s"$root/gen-2/anchors")
    // gen-3: hex-era, with a half-written rewrite from a crashed run
    writeHex(s"$root/gen-3/anchors"); commit(3)
    assert(new java.io.File(s"$root/gen-3/anchors.rewrite").mkdirs())
    assert(StreamingIngest.rewriteHexAnchors(spark, root) === 2)
    val binary = org.apache.spark.sql.types.BinaryType
    for (g <- Seq(0, 1, 3)) {
      assert(keys(g).schema("h").dataType === binary, s"gen-$g")
      assert(hexOf(keys(g)) === hexKeys.toSet, s"gen-$g")
      assert(!new java.io.File(s"$root/gen-$g/anchors.rewrite").exists, s"gen-$g")
      assert(new java.io.File(s"$root/gen-$g/_SUCCESS").exists, s"gen-$g")
    }
    assert(keys(2).schema("h").dataType === org.apache.spark.sql.types.StringType)
    assert(StreamingIngest.rewriteHexAnchors(spark, root) === 0)
  }

  test("copurchaseEdgeStream: folded support equals the batch co-purchase graph") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/lineitem.parquet").exists())
    val base = SparkSpec.tempDir("graft_edge_stream")
    val root = s"$base/edges"; val ckpt = s"$base/ckpt"
    // ROW-ORDER chunking (not order-aligned): orders straddle batch
    // boundaries on purpose — their pairs only exist if the per-order
    // state captures cross-batch co-occurrence
    val items = graft.Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .collect()
      .map(r => StreamingIngest.OrderItem(r.getLong(0), r.getLong(1)))
    val stream = MemoryStream[StreamingIngest.OrderItem]
    val q = StreamingIngest.copurchaseEdgeStream(stream.toDS(), root, ckpt)
    items.grouped(math.max(items.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // edge sets equal the batch operator at BOTH thresholds — the raw
    // additive counts serve every k at read time
    for (k <- Seq(1, 2)) {
      val streamed = asSet(
        StreamingIngest.currentCopurchaseEdges(spark, root, k).get)
      val batch = asSet(graft.graph.GraphOps.copurchaseEdgesUndirected(
        graft.Tables(spark, dir, "lineitem"), minOrders = k))
      assert(streamed === batch, s"edge set mismatch at support >= $k")
      assert(streamed.nonEmpty)
    }
    // a cross-batch order exists (first/last thirds share an order id),
    // so the equality above genuinely exercised the state hand-off
    val thirds = items.grouped(math.max(items.length / 3, 1)).toSeq
    assert(thirds.head.map(_.l_orderkey).toSet
      .intersect(thirds.last.map(_.l_orderkey).toSet).nonEmpty ||
      thirds.head.map(_.l_orderkey).toSet
        .intersect(thirds(1).map(_.l_orderkey).toSet).nonEmpty)

    // composition: the stream-maintained WEIGHTED graph feeds g06's
    // fixed-point PageRank with bit-identical ranks to the batch graph
    // (exact fold + exact integer recursion = exact equality)
    val li = graft.Tables(spark, dir, "lineitem")
    val nodes = li.select(col("l_partkey").as("node")).distinct()
    val streamedRanks = graft.graph.GraphOps.pageRankWeighted(
      StreamingIngest.currentCopurchaseEdgesWeighted(spark, root, 1).get,
      nodes, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchRanks = graft.graph.GraphOps.pageRankWeighted(
      graft.graph.GraphOps.copurchaseEdgesWeighted(li, minOrders = 1),
      nodes, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamedRanks === batchRanks)
  }
}

object StreamingSpec {

  /** A symbol no other fixture carries, first offered by a later run. */
  val lateSymbol = "NVDA"
  val lateBars = 40

  /** `lateSymbol`'s daily payload: `lateBars` consecutive days ending on
    * the newest `Fixtures.dailyAapl` bar, so most of them are far older
    * than anything a later run brings.
    */
  val lateSymbolPayload: String = {
    val last = java.time.LocalDate.parse("2025-12-09")
    val bars = (0 until lateBars).map { i =>
      val p = 180.0 + i
      f""""${last.minusDays(i.toLong)}": {"1. open": "$p%.4f", "2. high": "${p + 2}%.4f", """ +
        f""""3. low": "${p - 2}%.4f", "4. close": "${p + 1}%.4f", "5. volume": "${1000000 + i}"}"""
    }
    s"""{"Meta Data": {"1. Information": "Daily Prices", "2. Symbol": "$lateSymbol"},
       |"Time Series (Daily)": {${bars.mkString(",\n")}}}""".stripMargin
  }

  /** Writes each `(name, document)` as `<dir>/<name>.json`. */
  def writePayloads(dir: String, docs: (String, String)*): Unit = {
    Files.createDirectories(Paths.get(dir))
    docs.foreach { case (n, d) => Files.writeString(Paths.get(s"$dir/$n.json"), d) }
  }
}
