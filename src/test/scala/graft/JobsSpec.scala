package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** The shared concurrency helper's failure and isolation behaviour. */
class JobsSpec extends SparkSpec {

  private val GroupId = "spark.jobGroup.id"

  test("a failing thunk rethrows and cancels a sibling's running Spark job") {
    val sc = spark.sparkContext
    val taskRunning = new CountDownLatch(1)
    val groupOf = new ConcurrentHashMap[Int, String]()
    val endOf = new ConcurrentHashMap[Int, JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(GroupId)))
          .foreach(groupOf.put(e.jobId, _))
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        taskRunning.countDown()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        endOf.put(e.jobId, e.jobResult)
    }
    sc.addSparkListener(listener)
    try {
      val thrown = intercept[IllegalStateException] {
        Jobs.concurrently[Long](spark, "cancel spec",
          // would run for two minutes unless cancelled
          () => sc.parallelize(1 to 2, 2)
            .map { x => Thread.sleep(120000L); x }.count(),
          () => {
            assert(taskRunning.await(60, TimeUnit.SECONDS))
            throw new IllegalStateException("boom")
          })
      }
      assert(thrown.getMessage === "boom")
      eventually(timeout(Span(60, Seconds))) {
        val sibling = groupOf.asScala.collect {
          case (id, g) if g.startsWith("cancel spec") => id
        }
        assert(sibling.size === 1)
        val result = endOf.get(sibling.head)
        assert(result != null, "the sibling's job has not ended")
        assert(result != JobSucceeded, "the sibling's job completed")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("overlapping calls with the same label use distinct job-group ids") {
    val bothInFlight = new CyclicBarrier(2)
    val ids = new ConcurrentLinkedQueue[String]()
    def call(): Unit = Jobs.concurrently(spark, "same label", () => {
      ids.add(spark.sparkContext.getLocalProperty(GroupId))
      bothInFlight.await(60, TimeUnit.SECONDS)
    })
    Jobs.concurrently(spark, "outer", () => call(), () => call())
    assert(ids.size === 2)
    assert(ids.asScala.forall(_.startsWith("same label")))
    assert(ids.asScala.toSet.size === 2)
  }
}
