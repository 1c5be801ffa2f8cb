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
  * [[converge]] enforces that condition: it returns only a fixpoint and
  * fails loudly at the cap, so no caller handles convergence itself.
  */
object Fixpoint {

  /** Iterate `step` from `init` until a stride of `stride` rounds leaves
    * the state unchanged, running `step` at most `maxRounds` times (the
    * last stride is shortened to fit), and return the fixpoint.
    *
    * Cap: if the last stride still changed the state when `maxRounds`
    * steps are used up, one more `step` is compared to the state; the
    * state is returned when that step changes nothing, and otherwise an
    * `IllegalStateException` naming `label` and the cap is thrown. A
    * loop that converges before its cap runs no extra job.
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
  def converge(label: String, init: DataFrame, keys: Seq[String],
      maxRounds: Int, stride: Int = 1)(step: DataFrame => DataFrame): DataFrame = {
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
    if (changed && differs(step(state), state, keys))
      throw new IllegalStateException(
        s"$label: no fixpoint within maxRounds=$maxRounds — raise the cap")
    state
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
