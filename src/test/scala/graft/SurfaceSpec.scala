package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class SurfaceSpec extends SparkSpec {

  test("the walk builds each query once and routes build and execute failures to their own check") {
    val builds = mutable.Map[String, Int]().withDefaultValue(0)
    def counted(name: String)(q: SparkSession => DataFrame)
        : (String, (SparkSession, String) => DataFrame) =
      name -> { (s: SparkSession, _: String) =>
        builds(name) += 1
        q(s)
      }
    val registry = Map(
      counted("a_runs")(_.range(3).toDF()),
      counted("b_build_throws")(_ => throw new IllegalStateException("planted build failure")),
      counted("c_execute_throws")(
        _.range(0, 1, 1, 1).select(raise_error(lit("planted execution failure")))))
    val seen = mutable.ListBuffer[String]()
    val found = Surface.walk(spark, registry,
      Surface.checks :+ ("seen" -> { (name: String, _: DataFrame) =>
        seen += name
        Nil
      }))

    assert(found.builds == 3)
    assert(builds.toMap == Map("a_runs" -> 1, "b_build_throws" -> 1, "c_execute_throws" -> 1))
    assert(found(Surface.Analysis) ==
      Seq("b_build_throws: IllegalStateException planted build failure"))
    assert(seen == Seq("a_runs", "c_execute_throws"))
    assert(found(Surface.Execution).map(_.takeWhile(_ != ':')) == Seq("c_execute_throws"))
    assert(found(Surface.Lint).isEmpty)
    assert(found(Surface.Replay).isEmpty)
    assert(found(Surface.Measured).isEmpty)
  }

  test("the registered surface is walked once, one build per query") {
    assert(Surface.findings.builds == SparkEntry.queries.size)
  }

  test("every checkpoint in a registered query's plan carries its measured rows") {
    val failures = Surface.findings(Surface.Measured)
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
