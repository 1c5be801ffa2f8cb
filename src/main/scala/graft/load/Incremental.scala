package graft.load

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Materialize

/** Incremental, idempotent loading — the reference's high-water-mark +
  * `ON CONFLICT DO NOTHING` semantics (SURVEY.md §2 A7/B4/B6),
  * re-expressed as set operations so they are order-independent and
  * shuffle-parallel.
  *
  * The append path ([[appendIdempotent]], [[append]]) is the
  * primary-key (PK) anti-join alone ([[notInTarget]]): the batch, deduped
  * on the PK, keeps the rows whose PK the target lacks. At scale this is
  * the only correct general idempotent append (the target's PK set can be
  * arbitrarily large), and AQE picks a broadcast or shuffled join by
  * runtime size.
  *
  * The order-dependent early-break variant (A8, `main.py:137-140`) is
  * deliberately NOT reproduced — SURVEY.md §7.1 decision 2.
  */
object Incremental {

  /** B6 within-batch + B4 cross-batch: at-most-once on the PK.
    *
    * Rows with a NULL in any PK column are rejected outright: a real
    * primary key forbids NULLs (the reference's Postgres INSERT would
    * error), and equality anti-joins never match NULL keys — keeping
    * such rows would re-insert them on every run, silently breaking
    * idempotency.
    */
  def notInTarget(incoming: DataFrame, target: DataFrame, pk: Seq[String]): DataFrame =
    marked(incoming, target, pk).where(col("__fresh"))
      .select(incoming.columns.map(col): _*)

  /** [[notInTarget]] as a flag instead of a filter, so a count over the
    * result sees every offered row: one row per distinct incoming PK
    * (within-batch duplicates keep the first row, as `dropDuplicates`
    * does), with `__n`, the incoming rows it stands for, and `__fresh`,
    * true when the row is to be appended.
    */
  private def marked(incoming: DataFrame, target: DataFrame, pk: Seq[String]): DataFrame = {
    val rest = incoming.columns.filterNot(pk.contains).map(c => first(col(c)).as(c))
    incoming
      .groupBy(pk.map(col): _*)
      .agg(count(lit(1)).as("__n"), rest.toSeq: _*)
      .join(target.select(pk.map(col): _*).withColumn("__hit", lit(true)), pk, "left")
      .withColumn("__fresh", pk.map(col(_).isNotNull).reduce(_ && _) && col("__hit").isNull)
  }

  /** Incremental aggregate maintenance: merge partial aggregate STATES
    * instead of recomputing from raw history — the materialized-view
    * refresh pattern. Each input frame holds per-key additive buffers
    * (counts, exact decimal sums — anything where merge(a,b) = a + b;
    * avg is kept as sum+count, never a stored ratio); the merge is one
    * union + re-aggregate on the keys. At 100 TB this is the difference
    * between touching one new partition's partials and rescanning the
    * table: cost is O(|new data| + |distinct keys|), independent of
    * history size. Exactness is oracle-proven (merged state ≡ full
    * recompute, q49).
    */
  def mergeAggregates(
      parts: Seq[DataFrame],
      keys: Seq[String],
      buffers: Seq[String]): DataFrame = {
    require(parts.nonEmpty, "need at least one partial-state frame")
    val aggs = buffers.map(b => sum(col(b)).as(b))
    parts.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental JOIN maintenance — the join counterpart of
    * [[mergeAggregates]]: given the previous snapshots of both sides
    * and this batch's deltas, the change to `A ⋈ B` is the standard
    * delta rule
    *
    *   Δ(A ⋈ B) = ΔA ⋈ B ∪ A ⋈ ΔB ∪ ΔA ⋈ ΔB
    *
    * (inner equi-join, insert-only deltas). A materialized join view
    * refreshes by appending this frame — cost is O(|ΔA|·f + |ΔB|·f),
    * independent of history size, vs. rescanning both tables. At
    * 100 TB the deltas are typically broadcastable against the big
    * snapshots, and all three terms share the join key partitioning.
    * Exactness is oracle-proven (old join + delta ≡ full recompute,
    * q69) and spec-proven on both-sides-growing batches.
    */
  def deltaJoin(
      aOld: DataFrame, aDelta: DataFrame,
      bOld: DataFrame, bDelta: DataFrame,
      keys: Seq[String]): DataFrame =
    aDelta.join(bOld, keys)
      .unionByName(aOld.join(bDelta, keys))
      .unionByName(aDelta.join(bDelta, keys))

  /** SCD Type-2 merge: apply one batch of attribute changes to a
    * versioned dimension, preserving full history — the
    * slowly-changing-dimension semantics a warehouse load (the
    * reference's `companies` upsert, `main.py:254-272`, is the
    * degenerate type-1 case) needs once attributes can change.
    *
    * `dim` rows are (key, attr, validFrom, validTo) with
    * `validTo IS NULL` marking the current version; `updates` rows are
    * (key, attr, ts) — at most one per key (the caller collapses a
    * multi-change batch to its latest, or applies batches in order).
    * Semantics per key:
    *
    *   - update with a different attr → the current row closes at `ts`
    *     and a new open version starts at `ts`;
    *   - update with an identical attr (null-safe compare) → no-op;
    *   - update for a key absent from `dim` → new open version;
    *   - no update → current row unchanged. Closed history rows always
    *     pass through untouched.
    *
    * Shape: ONE full-outer keyed join of the current slice against the
    * batch, then a per-row explode over the 1-or-2 output versions — no
    * branch re-reads the join, so the dimension is scanned exactly
    * once. At 100 TB the batch side is typically broadcastable and the
    * history pass-through is a pure scan; nothing here is a global
    * sort.
    */
  def scdMerge(
      dim: DataFrame,
      updates: DataFrame,
      key: String,
      attr: String,
      ts: String,
      validFrom: String = "valid_from",
      validTo: String = "valid_to"): DataFrame = {
    val u = updates.select(
      col(key), col(attr).as("__new"), col(ts).as("__ts"))
    val cur = dim.where(col(validTo).isNull)
    val hist = dim.where(col(validTo).isNotNull)
    val j = cur.join(u, Seq(key), "full_outer")
    val isNewKey = col(validFrom).isNull // right-only: no current row
    val changed = col("__ts").isNotNull && !(col(attr) <=> col("__new"))
    def v(a: Column, from: Column, to: Column) =
      struct(a.as(attr), from.as(validFrom), to.as(validTo))
    val nullTs = lit(null).cast(j.schema(validFrom).dataType)
    val merged = j
      .select(col(key), explode(
        when(isNewKey, array(v(col("__new"), col("__ts"), nullTs)))
          .when(changed, array(
            v(col(attr), col(validFrom), col("__ts")),
            v(col("__new"), col("__ts"), nullTs)))
          .otherwise(array(
            v(col(attr), col(validFrom), col(validTo))))).as("__v"))
      .select(col(key), col("__v." + attr), col("__v." + validFrom),
        col("__v." + validTo))
    hist.select(col(key), col(attr), col(validFrom), col(validTo))
      .unionByName(merged)
  }

  /** Rows one append saw (`offered`) and rows it wrote (`inserted`). */
  final case class Appended(offered: Long, inserted: Long)

  /** Idempotent append of `incoming` into the parquet table at `path`
    * (creating it with `schema` if absent). Returns rows inserted —
    * re-running with the same batch inserts 0 (the reference's observed
    * behavior on its second run, BASELINE.md). See [[append]].
    */
  def appendIdempotent(
      spark: SparkSession,
      path: String,
      incoming: DataFrame,
      pk: Seq[String],
      schema: StructType,
      partitionBy: Seq[String] = Nil): Long =
    append(spark, path, incoming, pk, schema, partitionBy).inserted

  /** [[appendIdempotent]], also reporting the rows `incoming` offered.
    *
    * `partitionBy` columns produce hive-style directory partitioning:
    * point/range predicates on them (the reference's
    * `WHERE company_symbol = ?` access pattern, B2) prune whole
    * partitions at planning time instead of scanning the table. The
    * rows are repartitioned on those columns before the write, so one
    * append adds exactly one data file per partition value it inserts
    * into, and none when it inserts nothing.
    *
    * A partitioned append is ONE query, the write itself, and caches
    * nothing: both counts come from an [[Observation]] recorded while the
    * write runs.
    * It sits in the write's last stage, so the already-present rows cross
    * the repartition too and are filtered out after it: AQE replaces a
    * stage whose output turns out empty (as in a batch that inserts
    * nothing) by an empty relation, and an observation inside that stage
    * would be lost with it.
    *
    * An unpartitioned target counts first and writes only when something
    * is fresh: Spark writes an empty part file for an empty unpartitioned
    * append, so a no-op batch would otherwise add one file per run.
    *
    * Single-writer assumption, like the reference's read-then-insert
    * (SURVEY.md §7.5.1).
    */
  def append(
      spark: SparkSession,
      path: String,
      incoming: DataFrame,
      pk: Seq[String],
      schema: StructType,
      partitionBy: Seq[String] = Nil): Appended = {
    val rows = marked(incoming, Catalog.readOrEmpty(spark, path, schema), pk)
    val counts = Seq(
      "offered" -> coalesce(sum(col("__n")), lit(0L)),
      "inserted" -> count(when(col("__fresh"), 1)))
    def fresh(df: DataFrame) = df.where(col("__fresh")).select(schema.fieldNames.map(col): _*)
    if (partitionBy.isEmpty) {
      val c = rows.select(counts.map(_._2): _*).first()
      val appended = Appended(c.getLong(0), c.getLong(1))
      if (appended.inserted > 0) fresh(rows).write.mode("append").parquet(path)
      appended
    } else {
      val Seq(offered, inserted) =
        Materialize.observed(rows.repartition(partitionBy.map(col): _*), counts: _*) {
          fresh(_).write.mode("append").partitionBy(partitionBy: _*).parquet(path)
        }._2
      Appended(offered, inserted)
    }
  }
}
