package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.graph.Fixpoint

/** The shared fixpoint driver's round, change and cap policy, on
  * states small enough to reason about by hand.
  */
class FixpointSpec extends SparkSpec {

  import spark.implicits._

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  private def incr(s: DataFrame): DataFrame =
    s.select(col("k"), (col("v") + 1L).as("v"))

  private def isMaterialized(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]

  private def readsMaterialized(df: DataFrame): Boolean =
    df.queryExecution.logical.collectLeaves().exists(_.isInstanceOf[LogicalRDD])

  test("iterate runs step exactly n times and returns init then every state") {
    var steps = 0
    val init = Seq((1L, 0L), (2L, 5L)).toDF("k", "v")
    val states = Fixpoint.iterate(init, 4) { s => steps += 1; incr(s) }
    assert(steps === 4)
    assert(states.map(rows) ===
      (0L to 4L).map(i => Set(1L -> i, 2L -> (5L + i))))
  }

  test("iterate with n = 0 returns Seq(init) and never steps") {
    val init = Seq((1L, 0L)).toDF("k", "v")
    val states = Fixpoint.iterate(init, 0) { _ => fail("stepped at n = 0") }
    assert(states.size === 1 && (states.head eq init))
  }

  test("iterate materializes every stride-th state a later step reads, and never the last") {
    val init = Seq((1L, 0L)).toDF("k", "v")
    // stride 1: states 1..n-1 are checkpoints; the last is a lazy step
    // over the checkpoint before it
    val one = Fixpoint.iterate(init, 4)(incr)
    assert(one.map(isMaterialized) === Seq(false, true, true, true, false))
    assert(readsMaterialized(one.last))
    // stride 2 materializes states 2 and 4 of 5
    assert(Fixpoint.iterate(init, 5, stride = 2)(incr).map(isMaterialized) ===
      Seq(false, false, true, false, true, false))
    // stride n: no state is materialized, the last composes all n steps
    val lazyAll = Fixpoint.iterate(init, 4, stride = 4)(incr)
    assert(!lazyAll.exists(readsMaterialized))
    assert(rows(lazyAll.last) === Set(1L -> 4L))
  }

  test("a state still changing at the cap throws, naming the operator and its cap") {
    val init = Seq((1L, 0L), (2L, 0L)).toDF("k", "v")
    val e = intercept[IllegalStateException] {
      Fixpoint.converge("incr", init, Seq("k"), maxRounds = 3)(incr)
    }
    assert(e.getMessage.contains("incr"), e.getMessage)
    assert(e.getMessage.contains("maxRounds=3"), e.getMessage)
  }

  test("a state that reaches its fixpoint on exactly step maxRounds does not throw") {
    var steps = 0
    val init = Seq((1L, 0L)).toDF("k", "v")
    val out = Fixpoint.converge("climb", init, Seq("k"), maxRounds = 3) { s =>
      steps += 1
      s.select(col("k"), least(col("v") + 1L, lit(3L)).as("v"))
    }
    // 0 → 1 → 2 → 3 changes on every step up to the cap; the one
    // confirming step past it is the identity
    assert(steps === 4)
    assert(rows(out) === Set(1L -> 3L))
  }

  test("a state that stops changing converges and then stops stepping") {
    var steps = 0
    val init = Seq((1L, 0L), (2L, 5L)).toDF("k", "v")
    val out = Fixpoint.converge("clamp", init, Seq("k"), maxRounds = 10) { s =>
      steps += 1
      s.select(col("k"), least(col("v") + 1L, lit(2L)).as("v"))
    }
    // 0 → 1 → 2 changes twice; the third step is the identity
    assert(steps === 3)
    assert(rows(out) === Set(1L -> 2L, 2L -> 2L))
  }

  test("a round that only adds a row with a new key counts as a change") {
    // every existing (k, v) is unchanged; the only difference is the
    // new key 9 — the shortestPaths case of a newly reached node. Seen
    // as a change, the loop takes a second step to confirm the fixpoint.
    var steps = 0
    val init = Seq((1L, 7L)).toDF("k", "v")
    val out = Fixpoint.converge("grow", init, Seq("k"), 5) { s =>
      steps += 1
      s.unionAll(Seq((9L, 7L)).toDF("k", "v")).distinct()
    }
    assert(steps === 2)
    assert(rows(out) === Set(1L -> 7L, 9L -> 7L))
  }

  test("null values compare null-safely") {
    val init = Seq[(Long, Option[Long])]((1L, None), (2L, Some(3L)))
      .toDF("k", "v")
    var same = 0
    Fixpoint.converge("identity", init, Seq("k"), 2) { s => same += 1; s }
    assert(same === 1)
    // null → 0 is a change (a null-unsafe compare would miss it and
    // stop after one step)
    var gained = 0
    val out = Fixpoint.converge("coalesce", init, Seq("k"), 5) { s =>
      gained += 1
      s.select(col("k"), coalesce(col("v"), lit(0L)).as("v"))
    }
    assert(gained === 2)
    assert(rows(out) === Set(1L -> 0L, 2L -> 3L))
  }

  test("stride 2, odd maxRounds: the loop takes maxRounds steps plus one confirming step") {
    Seq(1, 3, 5).foreach { maxRounds =>
      var steps = 0
      val init = Seq((1L, 0L)).toDF("k", "v")
      val e = intercept[IllegalStateException] {
        Fixpoint.converge("incr", init, Seq("k"), maxRounds, stride = 2) { s =>
          steps += 1
          incr(s)
        }
      }
      assert(steps === maxRounds + 1)
      assert(e.getMessage.contains(s"maxRounds=$maxRounds"), e.getMessage)
    }
  }

  test("a converge stride runs no change-check job beyond its materialization") {
    val sc = spark.sparkContext
    val group = s"fixpoint-spec-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    var steps = 0
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "converge")
      try {
        val init = Seq((1L, 0L), (2L, 5L)).toDF("k", "v")
        // 0 → 1 → 2 changes twice; the third step is the identity
        Fixpoint.converge("clamp", init, Seq("k"), maxRounds = 10) { s =>
          steps += 1
          s.select(col("k"), least(col("v") + 1L, lit(2L)).as("v"))
        }
      } finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(60, Seconds))) {
        assert(jobs.contains(s"$group-marker"))
      }
    } finally sc.removeSparkListener(listener)
    assert(steps === 3)
    // one SQL execution per materialization: init and the three strides
    assert(plans.size === 4, plans.asScala.mkString("\n----\n"))
    assert(jobs.asScala.count(_ == group) >= 4)
    // the old change check planned a GlobalLimit over the left join
    val limited = plans.asScala.filter(_.contains("Limit"))
    assert(limited.isEmpty, limited.mkString("\n----\n"))
  }
}
