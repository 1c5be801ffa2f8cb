package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize

/** The one round driver of the iterative operators in [[GraphOps]],
  * [[graft.similarity.GraphAnn]] and [[graft.analytics.Preference]]: a
  * DataFrame is a lazily built plan, so an iterative operator is its
  * `step` plan plus this driver, which owns when the plan is
  * materialized, how a change is detected and where the loop stops.
  * No graph loop is hand-rolled.
  *
  * [[converge]] runs to a fixpoint: connected components, coreness,
  * shortest paths, and SCC's trim, settle and inner propagation loops
  * (the settle step runs a propagation `converge` of its own).
  * [[iterate]] runs a fixed round count: label propagation, k-hop
  * reach, HyperBall and the graph-ANN beam at stride 1; the PageRanks,
  * `hits` and Bradley–Terry at stride `n`.
  *
  * Contract the callers' oracles rely on: each oracle unrolls exactly
  * `maxRounds` rounds of the same recurrence, and a round applied past
  * the fixpoint is the identity, so the early exit here and the full
  * unroll agree whenever the state converges within the cap.
  * [[converge]] enforces that condition: it returns only a fixpoint and
  * fails loudly at the cap, so no caller handles convergence itself.
  */
object Fixpoint {

  /** Run `step` exactly `n` times from `init`; return `init` and the
    * states after steps 1..n (`n = 0` returns `Seq(init)`).
    *
    * State k (1 ≤ k < n) is materialized ([[graft.Materialize]]) when
    * `stride` divides k; `init` and the last state stay lazy. The
    * stride decides how the composed plan grows with `n`:
    *   - stride 1 when a step reads its state more than once, or every
    *     round's state feeds an output: left lazy, khop's
    *     `reach ∪ expand(reach)` doubles every round, and SCC
    *     materialized every 7th round took 413 s;
    *   - stride `n` when a step reads its state once, or only through
    *     what it materializes itself (hits' and Bradley–Terry's raw
    *     sums): the plan grows linearly and costs no checkpoint job.
    */
  def iterate(init: DataFrame, n: Int, stride: Int = 1)(
      step: DataFrame => DataFrame): Seq[DataFrame] = {
    require(n >= 0 && (n == 0 || stride >= 1),
      s"iterate needs n >= 0 and stride >= 1, got n=$n stride=$stride")
    (1 to n).scanLeft(init) { (state, k) =>
      val next = step(state)
      if (k < n && k % stride == 0) Materialize(next).df else next
    }
  }

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
    * materialized ([[graft.Materialize]]), so round k's plan never
    * replays rounds 1..k-1 and every join over a state is planned from
    * its measured size; pass `init` lazy (an `init` that is already a
    * measured checkpoint, such as another `converge`'s result, costs no
    * job). Within a stride the steps compose lazily, and overshooting
    * the fixpoint inside one is harmless.
    *
    * Change check: inside the job that materializes a stride. The new
    * state is left-joined to the old on `keys`, an `Observation`
    * counts the rows whose other columns differ null-safely or whose
    * key the old state lacks, and the projection above it keeps the new
    * state's columns. `keys` must be a key of every state, `init`
    * included: an old state with a repeated key would repeat rows of
    * the new one.
    */
  def converge(label: String, init: DataFrame, keys: Seq[String],
      maxRounds: Int, stride: Int = 1)(step: DataFrame => DataFrame): DataFrame = {
    var state = Materialize(init).df
    var rounds = 0
    var changed = true
    while (changed && rounds < maxRounds) {
      val n = math.min(stride, maxRounds - rounds)
      val next = changes(iterate(state, n, stride = n)(step).last, state, keys)
      changed = next.counts.head > 0
      state = next.df
      rounds += n
    }
    if (changed && changes(step(state), state, keys).counts.head > 0)
      throw new IllegalStateException(
        s"$label: no fixpoint within maxRounds=$maxRounds — raise the cap")
    state
  }

  /** `next` materialized, with the number of its rows that differ from
    * `prev` as the one count.
    */
  private def changes(next: DataFrame, prev: DataFrame,
      keys: Seq[String]): Materialize.Measured = {
    val values = next.columns.filterNot(keys.contains).toSeq
    val old = prev.select(keys.map(col) ++
      values.map(c => col(c).as(s"__old_$c")) :+ lit(true).as("__old"): _*)
    val change = values.foldLeft(col("__old").isNull)((acc, c) =>
      acc || !(col(c) <=> col(s"__old_$c")))
    Materialize.projecting(next.join(old, keys, "left"), next.columns.toSeq,
      "changed" -> count_if(change))
  }
}
