package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one walk over the registered query surface: it builds each query
  * once at [[sfDir]], in name order, and hands the built frame to every
  * check in turn. A build runs the query's eager [[graft.Materialize]]
  * and `count` jobs, so a new surface-wide check is one more entry in
  * [[checks]], never another walk. Only failure lines are kept, never a
  * frame. A query whose build or analysis throws is reported once, under
  * [[Analysis]], and no check sees it; a check that throws reports the
  * query under its own name.
  */
object Surface {

  type Registry = Map[String, (SparkSession, String) => DataFrame]
  type Check = (String, DataFrame) => Seq[String]

  val sfDir = "/root/testdata/sf0.001"
  val Analysis = "analysis"
  val Lint = "plan lint"
  val Execution = "execution"
  val Replay = "fixture replay"
  val Measured = "measured checkpoints"

  /** How many builds a walk ran, and each check's failure lines. */
  final case class Findings(builds: Int, failures: Map[String, Seq[String]]) {
    def apply(check: String): Seq[String] = failures(check)
  }

  /** The replay runs last: it globs what the execution dumped. */
  def checks: Seq[(String, Check)] = Seq(
    Lint -> PlanLintSpec.lint(mutable.Map()),
    // every checkpoint in the built plan tells the planner its measured
    // rows; a LogicalRDD over a plain RDD (an empty catalog frame) is
    // not a checkpoint
    Measured -> { (name, df) =>
      df.queryExecution.analyzed.collectWithSubqueries {
        case r: LogicalRDD if r.rdd.isCheckpointed &&
            r.computeStats().rowCount.isEmpty => s"$name: ${r.simpleString(5)}"
      }.distinct
    },
    Execution -> { (_, df) =>
      df.write.format("noop").mode("overwrite").save()
      Nil
    },
    Replay -> FixtureReplaySpec.replay)

  /** The registered surface, walked by whichever suite reads it first. */
  lazy val findings: Findings =
    walk(SparkSpec.session, SparkEntry.queries, checks)

  def walk(spark: SparkSession, registry: Registry,
      checks: Seq[(String, Check)]): Findings = {
    val found = (Analysis +: checks.map(_._1))
      .map(_ -> mutable.ListBuffer[String]()).toMap
    def failed(check: String, name: String, e: Throwable): Unit =
      found(check) += s"$name: ${e.getClass.getSimpleName} " +
        Option(e.getMessage).getOrElse("").linesIterator
          .take(2).mkString(" ").take(300)
    var builds = 0
    for ((name, fn) <- registry.toSeq.sortBy(_._1)) {
      val built =
        try {
          builds += 1
          val df = fn(spark, sfDir)
          df.queryExecution.analyzed
          Some(df)
        } catch { case e: Throwable => failed(Analysis, name, e); None }
      for (df <- built; (check, run) <- checks)
        try found(check) ++= run(name, df)
        catch { case e: Throwable => failed(check, name, e) }
    }
    Findings(builds, found.map { case (k, v) => k -> v.toList })
  }
}
