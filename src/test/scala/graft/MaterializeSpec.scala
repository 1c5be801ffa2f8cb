package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** The measured materialization: what its one job counts, what its plan
  * tells Catalyst, and when it runs no job at all.
  */
class MaterializeSpec extends SparkSpec {

  /** A frame with a shuffle under it, so its checkpoint takes more than
    * one job under AQE.
    */
  private def grouped(n: Int): DataFrame =
    spark.range(n).groupBy((col("id") % 97).as("k"))
      .agg(count(lit(1)).as("n"), collect_list(col("id")).as("ids"))

  private def plan(df: DataFrame): LogicalRDD =
    df.queryExecution.logical.asInstanceOf[LogicalRDD]

  test("the row count and named counts cost no job beyond a plain localCheckpoint") {
    val (_, plain) = jobsOf(grouped(5000).localCheckpoint(true))
    val (m, measured) = jobsOf(
      Materialize(grouped(5000), "big" -> count_if(col("n") > 51)))
    assert(plain > 1, "the frame should need more than one job")
    assert(measured === plain)
    assert(m.rows === 97L)
    // 5000 = 97·51 + 53: residues 0..52 hold 52 ids, the rest 51
    assert(m.counts === Seq(53L))
  }

  test("the result is a bare LogicalRDD holding the row count and the stored bytes") {
    val sc = spark.sparkContext
    val stored = new ConcurrentLinkedQueue[(Int, Int, Long)]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case RDDBlockId(rdd, split) => stored.add((rdd, split,
            e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize))
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    val m = try {
      val m = Materialize(grouped(5000))
      val rdd = plan(m.df).rdd
      eventually(timeout(Span(60, Seconds))) {
        assert(stored.asScala.map(b => b._1 -> b._2).toSet ===
          rdd.partitions.indices.map(rdd.id -> _).toSet)
      }
      m
    } finally sc.removeSparkListener(listener)
    val p = plan(m.df)
    val bytes = stored.asScala.filter(_._1 == p.rdd.id)
      .groupBy(_._2).values.map(_.last._3).sum
    assert(m.df.collect().length === 97)
    assert(p.computeStats().rowCount === Some(BigInt(97)))
    assert(bytes > 0)
    assert(p.computeStats().sizeInBytes === BigInt(bytes))
  }

  test("an empty frame measures 0 rows and does not hang waiting for its counts") {
    val empty = Await.result(Future {
      Materialize(grouped(100).where(col("n") < 0), "any" -> count_if(col("n") > 0))
    }, 2.minutes)
    assert(empty.rows === 0L)
    assert(empty.counts === Seq(0L))
    assert(empty.df.isEmpty)
    val local = Await.result(Future {
      Materialize(spark.range(0).toDF("id"))
    }, 2.minutes)
    assert(local.rows === 0L)
  }

  test("a count that is not a BIGINT fails by name before any job runs") {
    val (err, jobs) = jobsOf(intercept[IllegalArgumentException] {
      Materialize(grouped(100), "mean" -> avg(col("n")))
    })
    assert(jobs === 0)
    assert(err.getMessage.contains("count mean is DOUBLE"), err.getMessage)
  }

  test("materializing an already-measured checkpoint runs no job") {
    val m = Materialize(grouped(1000))
    val (again, jobs) = jobsOf(Materialize(m.df))
    assert(jobs === 0)
    assert(again.df eq m.df)
    assert(again.rows === 97L)
    // a projection over it is a new frame, so it is checkpointed again
    val (_, projected) = jobsOf(Materialize(m.df.select(col("k"))))
    assert(projected > 0)
  }

  test("a join with a measured frame broadcasts it, unless the threshold is below its size") {
    val small = Materialize(grouped(1000)).df
    val big = spark.range(200000).select((col("id") % 97).as("k"), col("id"))
    def physical = big.join(small, "k").queryExecution.sparkPlan.toString
    assert(physical.contains("BroadcastHashJoin"), physical)
    val size = plan(small).computeStats().sizeInBytes
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (size - 1).toString)
      assert(physical.contains("SortMergeJoin"), physical)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
