package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Two-phase CUBE for algebraic aggregates (sums/counts): Spark's
  * native `.cube` plans Expand BEFORE the partial aggregate, so every
  * input row is duplicated once per grouping set (4× for two dims) and
  * the whole multiple flows through the hash aggregate. When the finest
  * grain is low-cardinality — the usual case for dimensional rollups —
  * the scale-correct plan aggregates the fact table ONCE at the finest
  * grain, then re-aggregates the tiny base frame per coarser grouping
  * set: the big scan feeds 1× rows instead of 2^dims×, and the re-aggs
  * touch only |groups| rows.
  *
  * Only valid for re-aggregable (algebraic) aggregates — SUM/COUNT
  * compose as SUM over the base; COUNT(DISTINCT) or medians do not.
  * Keep base sums in exact types (decimal) so re-aggregation introduces
  * no rounding. Rows whose dimension value is NULL are merged with the
  * rolled-up NULL, exactly like `.cube` without `grouping_id` — emit a
  * grouping-id column from `levels` if the caller must distinguish.
  */
object Rollups {

  /** `base` must already be aggregated to the finest grain (one row per
    * combination of `dims`), with every measure in `measures` summable.
    * Returns the union of all 2^|dims| grouping sets, coarser levels
    * with NULL dims — the same shape `.cube(dims).agg(sum(measures))`
    * produces.
    */
  def cubeFromBase(base: DataFrame, dims: Seq[String], measures: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "cubeFromBase requires at least one dimension")
    // every grouping-set branch references the base — materialize it
    // eagerly (it is |finest groups| rows) so the expensive upstream
    // aggregate runs once, not once per branch
    val b = Materialize(base).df
    val levels: Seq[Seq[String]] = dims.toSet.subsets().map(_.toSeq).toSeq
    levels.map { kept =>
      val dimCols: Seq[Column] = dims.map { d =>
        if (kept.contains(d)) col(d)
        else lit(null).cast(b.schema(d).dataType).as(d)
      }
      val agg = if (kept.isEmpty) b.groupBy() else b.groupBy(kept.map(col): _*)
      agg.agg(
          measures.head -> "sum",
          measures.tail.map(m => m -> "sum"): _*)
        .select(dimCols ++ measures.map(m => col(s"sum($m)").as(m)): _*)
    }.reduce(_ unionByName _)
  }
}
