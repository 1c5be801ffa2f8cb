package graft

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.functions._

import graft.ingest.{Fixtures, Normalize}
import graft.sink.JdbcSink
import graft.streaming.StreamingIngest

/** Integration test for [[JdbcSink]] against a real JDBC database —
  * embedded Derby (on the Spark classpath, normally serving the Hive
  * metastore). Proves the idempotent-append contract end-to-end over an
  * actual DBMS round-trip, mirroring the reference's `ON CONFLICT DO
  * NOTHING` re-run behavior (`etl_log.log:11695`: second run inserts 0).
  */
class JdbcSinkSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  private def withTable[A](ddl: String, table: String)(body: => A): A = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(ddl)
      body
    } finally {
      try conn.createStatement().execute(s"DROP TABLE $table")
      finally conn.close()
    }
  }

  private def dailyBarsDdl(table: String): String =
    s"""CREATE TABLE $table (
       | company_symbol VARCHAR(16) NOT NULL, "date" DATE NOT NULL,
       | open_price DECIMAL(15,4), high_price DECIMAL(15,4),
       | low_price DECIMAL(15,4), close_price DECIMAL(15,4),
       | volume BIGINT, PRIMARY KEY (company_symbol, "date"))""".stripMargin

  /** The JDBC ingest stream: payload files under `dir` → daily bars →
    * the sink's idempotent append, one micro-batch at a time.
    */
  private def ingestToJdbc(dir: String, table: String, ckpt: String): Unit =
    StreamingIngest.ingestStream(spark, dir, ckpt) { b =>
      new JdbcSink(spark, url, table, Seq("company_symbol", "date"), props)
        .appendIdempotent(Normalize.daily(b))
    }.awaitTermination()

  test("appendIdempotent against Derby: re-run inserts zero, overlap inserts only new rows") {
    withTable(
      "CREATE TABLE bars (sym VARCHAR(8) NOT NULL, d INT NOT NULL, v DOUBLE, PRIMARY KEY (sym, d))",
      "bars") {
      val sink = new JdbcSink(spark, url, "bars", Seq("sym", "d"), props)

      val batch1 = Seq(("AAPL", 1, 10.0), ("AAPL", 2, 11.0), ("MSFT", 1, 20.0))
        .toDF("sym", "d", "v")
      assert(sink.appendIdempotent(batch1) == 3L)

      // exact re-run: the PK guard must suppress every row
      assert(sink.appendIdempotent(batch1) == 0L)

      // overlapping batch: only the two genuinely-new bars insert
      val batch2 = Seq(("AAPL", 2, 11.0), ("MSFT", 1, 20.0),
        ("AAPL", 3, 12.0), ("MSFT", 2, 21.0)).toDF("sym", "d", "v")
      assert(sink.appendIdempotent(batch2) == 2L)

      val readBack = spark.read.jdbc(url, "bars", props)
      assert(readBack.count() == 5L)
      assert(readBack.where(col("sym") === "AAPL" && col("d") === 3)
        .select("v").as[Double].head() == 12.0)
    }
  }

  test("streaming ingest to Derby: redelivered batches insert zero (foreachBatch + PK guard)") {
    withTable(dailyBarsDdl("daily_bars"), "daily_bars") {
      val dir = java.nio.file.Paths.get(SparkSpec.tempDir("graft_stream_jdbc"))
      java.nio.file.Files.writeString(dir.resolve("aapl.json"), graft.ingest.Fixtures.dailyAapl)
      java.nio.file.Files.writeString(dir.resolve("msft.json"), graft.ingest.Fixtures.dailyMsft)

      def runOnce(): Unit = {
        val ckpt = java.nio.file.Paths.get(SparkSpec.tempDir("graft_stream_ckpt"))
        ingestToJdbc(dir.toString, "daily_bars", ckpt.toString)
      }

      runOnce()
      val n1 = spark.read.jdbc(url, "daily_bars", props).count()
      assert(n1 == 8L) // 5 valid AAPL bars + 3 MSFT bars

      // a FRESH checkpoint replays every payload — the reference's
      // "re-run the whole ingest" case; the PK guard must insert zero
      runOnce()
      assert(spark.read.jdbc(url, "daily_bars", props).count() == 8L)
    }
  }

  test("streaming ingest to Derby: a symbol first seen in a later run lands every bar, however old") {
    withTable(dailyBarsDdl("late_bars"), "late_bars") {
      val dir = SparkSpec.tempDir("graft_stream_jdbc_late")
      val ckpt = SparkSpec.tempDir("graft_stream_ckpt_late")
      StreamingSpec.writePayloads(dir, "aapl" -> Fixtures.dailyAapl)
      ingestToJdbc(dir, "late_bars", ckpt)
      assert(spark.read.jdbc(url, "late_bars", props).count() == 5L)

      // same checkpoint: only the new file is a new micro-batch
      StreamingSpec.writePayloads(dir, "late" -> StreamingSpec.lateSymbolPayload)
      ingestToJdbc(dir, "late_bars", ckpt)
      val late = spark.read.jdbc(url, "late_bars", props)
        .where(col("company_symbol") === StreamingSpec.lateSymbol)
      assert(late.count() == StreamingSpec.lateBars.toLong)
      assert(spark.read.jdbc(url, "late_bars", props).count() ==
        5L + StreamingSpec.lateBars)
    }
  }

  test("appendIdempotentTxn: re-run inserts zero; two concurrent writers with overlapping batches lose no rows and duplicate none") {
    withTable(
      "CREATE TABLE txn_bars (sym VARCHAR(8) NOT NULL, d INT NOT NULL, v DOUBLE, PRIMARY KEY (sym, d))",
      "txn_bars") {
      val sink = new JdbcSink(spark, url, "txn_bars", Seq("sym", "d"), props)

      // single-writer contract first: identical to appendIdempotent
      val batch1 = Seq(("AAPL", 1, 10.0), ("AAPL", 2, 11.0), ("MSFT", 1, 20.0))
        .toDF("sym", "d", "v")
      assert(sink.appendIdempotentTxn(batch1) == 3L)
      assert(sink.appendIdempotentTxn(batch1) == 0L)

      // two writers, overlapping key ranges, appending CONCURRENTLY —
      // the read-then-insert race appendIdempotent documents: both
      // would see the overlap as absent and one would hit the PK.
      // The txn path serializes on the table lock instead.
      val writerA = Seq(("AAPL", 3, 12.0), ("AAPL", 4, 13.0), ("IBM", 1, 30.0))
        .toDF("sym", "d", "v")
      val writerB = Seq(("AAPL", 3, 12.0), ("AAPL", 4, 13.0), ("KO", 1, 40.0))
        .toDF("sym", "d", "v")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fa = Future(sink.appendIdempotentTxn(writerA))
      val fb = Future(new JdbcSink(spark, url, "txn_bars", Seq("sym", "d"), props)
        .appendIdempotentTxn(writerB))
      val na = Await.result(fa, 120.seconds)
      val nb = Await.result(fb, 120.seconds)

      // no lost rows: all 4 distinct new PKs landed; no duplicates: the
      // 2 contested PKs counted by exactly one writer
      assert(na + nb == 4L, s"writers inserted $na + $nb, expected 4 total")
      val readBack = spark.read.jdbc(url, "txn_bars", props)
      assert(readBack.count() == 7L)
      assert(readBack.select("sym", "d").distinct().count() == 7L)
      assert(readBack.where(col("sym") === "IBM").count() == 1L)
      assert(readBack.where(col("sym") === "KO").count() == 1L)
    }
  }

  test("append without the guard hits the DB primary key on duplicates") {
    withTable(
      "CREATE TABLE raw_bars (sym VARCHAR(8) NOT NULL, d INT NOT NULL, v DOUBLE, PRIMARY KEY (sym, d))",
      "raw_bars") {
      val sink = new JdbcSink(spark, url, "raw_bars", Seq("sym", "d"), props)
      val batch = Seq(("AAPL", 1, 10.0)).toDF("sym", "d", "v")
      sink.append(batch)
      // the DBMS PK is the last line of defense: a raw duplicate append
      // must fail rather than silently double-insert
      intercept[Exception] { sink.append(batch) }
      assert(spark.read.jdbc(url, "raw_bars", props).count() == 1L)
    }
  }
}
