package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× round-trip timing for the SCD2 family — the three steps a
  * versioned-dimension deployment runs in sequence:
  *
  *   1. `merge` — q68's batch [[graft.load.Incremental.scdMerge]]
  *      (one full-outer keyed join + per-row version explode);
  *   2. `lookup` — q74's as-of fact⋈dimension join (equi-join on the
  *      key, validity range as a residual filter, never an
  *      inequality-only join);
  *   3. `stream` — [[graft.streaming.StreamingIngest.scdApplyStream]]
  *      folding three CDC micro-batches into generation dirs via
  *      foreachBatch (each trigger = one scdMerge against the prior
  *      generation).
  *
  * The 10× corpus replicates customer+orders with a consistent key
  * shift (custkey' = custkey·16 + replica), so per-replica group
  * structure — orders per customer, change/no-op mix — is preserved
  * and 1× vs 10× is a pure input-size contrast. Prints per-step times
  * and the log₁₀(t₁₀/t₁) exponent; ~1.0 is linear, sub-linear means
  * fixed job overhead amortizes, and >1.3 flags a step that would not
  * survive a 100× dimension.
  *
  * Run: sbt "runMain graft.tools.ScdRoundTrip" (SPARK_GRAFT_SF_DIR
  * overrides the base corpus; min-of-2 timing after one warm-up for
  * the batch steps, single-run for the stream — its checkpoint dirs
  * are fresh per run, so there is no warm path to measure).
  */
object ScdRoundTrip {

  private def replicated(df: DataFrame, keyCols: Seq[String], replicas: Int): DataFrame = {
    val shifted = keyCols.foldLeft(
      df.withColumn("rep", explode(sequence(lit(0), lit(replicas - 1))))) {
      (d, c) => d.withColumn(c, col(c) * 16 + col("rep"))
    }
    shifted.drop("rep")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("graft_scd_rt").toString
    Seq(1 -> "x1", 10 -> "x10").foreach { case (r, d) =>
      replicated(graft.Tables(spark, sfDir, "customer"), Seq("c_custkey"), r)
        .write.mode("overwrite").parquet(s"$base/$d/customer.parquet")
      replicated(graft.Tables(spark, sfDir, "orders"),
          Seq("o_custkey", "o_orderkey"), r)
        .write.mode("overwrite").parquet(s"$base/$d/orders.parquet")
    }

    def timed(f: () => Unit): Double = {
      def once(): Double = {
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }
      once(); math.min(once(), once())
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def streamOnce(dir: String): Double = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      // CDC feed: one segment change per ordering customer at their
      // latest order date — the q68 change derivation, split into 3
      // micro-batches by key so every trigger carries real work
      val changes = spark.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), max(col("o_orderdate")).as("ts"))
        .select(col("o_custkey"),
          concat(lit("TIER"), (col("n") % 3).cast("string")).as("seg"),
          col("ts").cast("timestamp"))
        .as[(Long, String, java.sql.Timestamp)]
        .collect()
      val root = java.nio.file.Files.createTempDirectory("graft_scd_dim").toString
      val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamingIngest.scdApplyStream(
        stream.toDF().toDF("c_custkey", "segment", "ts"),
        s"$root/dim", "c_custkey", "segment", "ts", s"$root/ckpt")
      (0 until 3).foreach { b =>
        stream.addData(changes.filter(_._1 % 3 == b).toSeq)
        q.processAllAvailable()
      }
      q.stop()
      (System.nanoTime() - t0) / 1e9
    }

    val steps: Seq[(String, String => Double)] = Seq(
      ("q68_merge", dir => timed(() =>
        noop(graft.queries.Extensions.q68_scd2_merge(spark, dir)))),
      ("q74_asof_lookup", dir => timed(() =>
        noop(graft.queries.Extensions.q74_scd_asof(spark, dir)))),
      ("scd_apply_stream", dir => streamOnce(dir)))

    val rows = steps.map { case (name, run) =>
      val t1 = run(s"$base/x1")
      val t10 = run(s"$base/x10")
      val exponent = math.log(t10 / t1) / math.log(10.0)
      println(f"[scd-roundtrip] $name%-18s t_1x=$t1%6.2fs t_10x=$t10%6.2fs exponent=$exponent%.2f")
      (name, t1, t10, exponent)
    }
    val js = rows.map { case (q, t1, t10, e) =>
      f"""\"$q\":{\"t1\":$t1%.3f,\"t10\":$t10%.3f,\"exponent\":$e%.3f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scd_roundtrip","sf":"$sfDir","results":$js}""")
    spark.stop()
  }
}
