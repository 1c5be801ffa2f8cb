package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one convergence policy of the iterate-to-fixpoint operators in
  * [[GraphOps]]: a DataFrame is a lazily built plan, so an iterative
  * operator is its `step` plan plus this driver, which owns when the
  * plan is materialized, how a change is detected and where the loop
  * stops.
  *
  * Contract the callers' oracles rely on: each oracle unrolls exactly
  * `maxRounds` rounds of the same recurrence, and a round applied past
  * the fixpoint is the identity, so the early exit here and the full
  * unroll agree whenever the state converges within the cap.
  */
object Fixpoint {

  /** Iterate `step` from `init` until a stride of `stride` rounds leaves
    * the state unchanged, running `step` at most `maxRounds` times (the
    * last stride is shortened to fit). Returns the final state and
    * whether the loop converged, i.e. its last stride changed nothing.
    *
    * Materialization: `init` and the state after every stride are
    * `localCheckpoint`ed, so round k's plan never replays rounds
    * 1..k-1; pass `init` lazy. Within a stride the steps compose
    * lazily, and overshooting the fixpoint inside one is harmless.
    *
    * Change check: one `limit(1).count()` job over a left join of the
    * new state to the old on `keys`, comparing every other column
    * null-safely — a row whose key the old state lacks is a change.
    */
  def converge(init: DataFrame, keys: Seq[String], maxRounds: Int,
      stride: Int = 1)(step: DataFrame => DataFrame): (DataFrame, Boolean) = {
    var state = init.localCheckpoint(true)
    var rounds = 0
    var changed = true
    while (changed && rounds < maxRounds) {
      val n = math.min(stride, maxRounds - rounds)
      val next = (1 to n).foldLeft(state)((s, _) => step(s))
        .localCheckpoint(true)
      changed = differs(next, state, keys)
      state = next
      rounds += n
    }
    (state, !changed)
  }

  private def differs(next: DataFrame, prev: DataFrame,
      keys: Seq[String]): Boolean = {
    val values = next.columns.filterNot(keys.contains).toSeq
    val old = prev.select(keys.map(col) ++
      values.map(c => col(c).as(s"__old_$c")) :+ lit(true).as("__old"): _*)
    val change = values.foldLeft(col("__old").isNull)((acc, c) =>
      acc || !(col(c) <=> col(s"__old_$c")))
    next.join(old, keys, "left").where(change).limit(1).count() > 0
  }
}
