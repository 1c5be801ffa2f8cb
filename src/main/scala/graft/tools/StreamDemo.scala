package graft.tools

import java.nio.file.{Files, Paths}

import graft.ingest.Fixtures
import graft.streaming.StreamingIngest

/** Runnable demo of the streaming ingest surface: payload JSON files →
  * AvailableNow stream → parquet, run twice with overlapping data to
  * show watermarked PK dedup across restarts.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = Files.createTempDirectory("graft_stream_demo").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()

    Files.writeString(Paths.get(s"$in/p1.json"), Fixtures.dailyAapl)
    Files.writeString(Paths.get(s"$in/p2.json"), Fixtures.dailyMsft)
    StreamingIngest.dailyIngestStream(spark, in, out, ckpt).awaitTermination()
    println(s"RUN1_ROWS=${spark.read.parquet(out).count()}")

    Files.writeString(Paths.get(s"$in/p3.json"), Fixtures.dailyAaplNextRun)
    StreamingIngest.dailyIngestStream(spark, in, out, ckpt).awaitTermination()
    val df = spark.read.parquet(out)
    println(s"RUN2_ROWS=${df.count()}")
    println(s"RUN2_DISTINCT_PK=${df.select("company_symbol", "date").distinct().count()}")
    df.orderBy("company_symbol", "date").show(20, false)
    spark.stop()
  }
}
