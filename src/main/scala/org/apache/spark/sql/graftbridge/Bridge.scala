package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Minimal bridge to the `private[sql]` Column ↔ Expression converters
  * (Spark 4 moved the old public `Column(expr)` constructor behind
  * `org.apache.spark.sql.classic`). This is the one sanctioned-by-
  * convention seam for libraries shipping custom Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (`Dataset.ofRows` is
    * `private[sql]` in Spark 4) — needed by custom logical operators
    * (e.g. `graft.plans.TopKPerKey`) to hand their plan node back to
    * the session.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed LogicalPlan behind a DataFrame (also `private[sql]`).
    * Analyzed, not raw: callers splice these plans under custom nodes,
    * so every Column-API internal node must already be converted to
    * resolved catalyst expressions.
    */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** `checkpoint`, a frame whose plan is a bare `LogicalRDD` (a
    * `localCheckpoint`), re-wrapped over the same RDD, output,
    * partitioning, ordering and constraints with `stats` as its
    * statistics (`graft.Materialize`).
    */
  def withStatistics(checkpoint: DataFrame, stats: Statistics): DataFrame = {
    val p = checkpoint.queryExecution.logical.asInstanceOf[LogicalRDD]
    val session = checkpoint.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ofRows(session, p.copy()(session, Some(stats), Some(p.constraints)))
  }

  /** The bytes the block managers hold for `rdd`'s blocks, memory plus
    * disk, as the driver's block manager master records them. No job
    * runs, and a block counts as soon as the task that stored it has
    * finished; the status store behind `SparkContext.getRDDStorageInfo`
    * is fed by the listener bus, which nothing orders before the job's
    * return.
    */
  def storedBytes(rdd: RDD[_]): Long =
    SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks).collect {
        case (RDDBlockId(id, _), s) if id == rdd.id => s.memSize + s.diskSize
      }.sum

  /** A reusable JSON-document → InternalRow parser for the given (possibly
    * column-pruned) schema — the same `JacksonParser` + permissive
    * `FailureSafeParser` stack `spark.read.json` uses internally, exposed
    * for the graft DataSource V2 payload reader. One parser instance per
    * partition; apply it per document.
    */
  def jsonDocParser(schema: StructType): String => Iterator[InternalRow] = {
    val opts = new JSONOptions(Map.empty[String, String], "UTC")
    val raw = new JacksonParser(schema, opts, allowArrayAsStructs = false)
    val safe = new FailureSafeParser[String](
      input => raw.parse(input, CreateJacksonParser.string, UTF8String.fromString),
      opts.parseMode, schema, opts.columnNameOfCorruptRecord)
    (doc: String) => safe.parse(doc)
  }
}
