package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** The engine's one eager materialization, for every checkpoint in it:
  * a `localCheckpoint` whose one job also counts the frame's rows (and
  * whatever else the caller names), and whose plan tells Catalyst the
  * frame's real size. A total the plan would otherwise join back as a
  * lazy 1-row aggregate is such a named count, read as a literal.
  *
  * A plain `localCheckpoint` keeps its plan's size ESTIMATE, and an
  * estimate compounds with every join over it, so a join with a tiny
  * checkpoint plans as a sort-merge join and AQE pays one shuffle job
  * per side before it converts the join to a broadcast. The frame
  * returned here is a bare `LogicalRDD` whose statistics hold the
  * measured `rowCount` and, as `sizeInBytes`, the bytes its blocks
  * occupy — never a row-width estimate, which on these frames came to a
  * third of the stored bytes and counts an array as one element. A frame
  * larger than `spark.sql.autoBroadcastJoinThreshold` still plans a
  * shuffled join; only the compounding stops.
  */
object Materialize {

  /** A materialized frame, its row count and the named counts asked for,
    * in the order they were passed.
    */
  final case class Measured(df: DataFrame, rows: Long, counts: Seq[Long])

  /** The measured row count a frame returned by [[apply]] carries. */
  private val Rows = TreeNodeTag[Long]("graft.materialize.rows")

  /** Checkpoint `df` eagerly and count its rows and `counts` in the same
    * job. A frame that is already a measured checkpoint, asked for no
    * counts, is returned as it is with its row count, and no job runs.
    */
  def apply(df: DataFrame, counts: (String, Column)*): Measured =
    df.queryExecution.logical.getTagValue(Rows) match {
      case Some(rows) if counts.isEmpty => Measured(df, rows, Nil)
      case _ => measure(df, counts)(identity)
    }

  /** [[apply]] of `df.select(columns)`, with `counts` evaluated over
    * `df` itself, below the projection: a count may read the columns the
    * checkpoint drops.
    */
  private[graft] def projecting(df: DataFrame, columns: Seq[String],
      counts: (String, Column)*): Measured =
    measure(df, counts)(_.select(columns.map(col): _*))

  private def measure(df: DataFrame, counts: Seq[(String, Column)])(
      shape: DataFrame => DataFrame): Measured = {
    val (cp, rows +: got) =
      observed(df, ("__rows" -> count(lit(1))) +: counts: _*)(shape(_).localCheckpoint(true))
    val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    val out = Bridge.withStatistics(cp, Statistics(
      sizeInBytes = Bridge.storedBytes(rdd), rowCount = Some(rows)))
    out.queryExecution.logical.setTagValue(Rows, rows)
    Measured(out, rows, got)
  }

  /** Runs `action` over `df` and returns its result with the named
    * counts, evaluated by an [[Observation]] inside the action's job
    * rather than by a second scan. The counts see `df` as given, before
    * anything `action` adds on top. Each count must be a BIGINT, checked
    * before any job runs; over no rows a `sum` reads 0, not the NULL a
    * lazy aggregate gives, and a DISTINCT aggregate cannot be observed.
    */
  private[graft] def observed[T](df: DataFrame, counts: (String, Column)*)(
      action: DataFrame => T): (T, Seq[Long]) = {
    val o = Observation()
    val named = counts.map { case (n, c) => c.as(n) }
    for (f <- df.select(named: _*).schema)
      require(f.dataType == LongType,
        s"count ${f.name} is ${f.dataType.sql}, not BIGINT")
    val out = action(df.observe(o, named.head, named.tail: _*))
    val got = o.get
    require(got.nonEmpty, "the action's plan lost its observed counts")
    (out, counts.map { case (n, _) => got(n).asInstanceOf[Long] })
  }
}
