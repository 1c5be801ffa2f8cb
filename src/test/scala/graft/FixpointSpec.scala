package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.Fixpoint

/** The shared fixpoint driver's round, change and cap policy, on
  * states small enough to reason about by hand.
  */
class FixpointSpec extends SparkSpec {

  import spark.implicits._

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  test("a state still changing at the cap returns converged = false") {
    val init = Seq((1L, 0L), (2L, 0L)).toDF("k", "v")
    val (out, converged) =
      Fixpoint.converge(init, Seq("k"), maxRounds = 3)(
        _.select(col("k"), (col("v") + 1L).as("v")))
    assert(!converged)
    assert(rows(out) === Set(1L -> 3L, 2L -> 3L))
  }

  test("a state that stops changing converges and then stops stepping") {
    var steps = 0
    val init = Seq((1L, 0L), (2L, 5L)).toDF("k", "v")
    val (out, converged) =
      Fixpoint.converge(init, Seq("k"), maxRounds = 10) { s =>
        steps += 1
        s.select(col("k"), least(col("v") + 1L, lit(2L)).as("v"))
      }
    assert(converged)
    // 0 → 1 → 2 changes twice; the third step is the identity
    assert(steps === 3)
    assert(rows(out) === Set(1L -> 2L, 2L -> 2L))
  }

  test("a round that only adds a row with a new key counts as a change") {
    // every existing (k, v) is unchanged; the only difference is the
    // new key 9 — the shortestPaths case of a newly reached node
    val init = Seq((1L, 7L)).toDF("k", "v")
    val grow = (s: DataFrame) =>
      s.unionAll(Seq((9L, 7L)).toDF("k", "v")).distinct()
    val (out, converged) = Fixpoint.converge(init, Seq("k"), 1)(grow)
    assert(!converged)
    assert(rows(out) === Set(1L -> 7L, 9L -> 7L))
    val (_, settled) = Fixpoint.converge(init, Seq("k"), 2)(grow)
    assert(settled)
  }

  test("null values compare null-safely") {
    val init = Seq[(Long, Option[Long])]((1L, None), (2L, Some(3L)))
      .toDF("k", "v")
    val (_, same) = Fixpoint.converge(init, Seq("k"), 2)(identity)
    assert(same)
    val (_, gained) = Fixpoint.converge(init, Seq("k"), 1)(
      _.select(col("k"), coalesce(col("v"), lit(0L)).as("v")))
    assert(!gained)
  }

  test("with stride 2 and an odd maxRounds, step runs at most maxRounds times") {
    Seq(1, 3, 5).foreach { maxRounds =>
      var steps = 0
      val init = Seq((1L, 0L)).toDF("k", "v")
      val (out, converged) =
        Fixpoint.converge(init, Seq("k"), maxRounds, stride = 2) { s =>
          steps += 1
          s.select(col("k"), (col("v") + 1L).as("v"))
        }
      assert(steps === maxRounds)
      assert(!converged)
      assert(rows(out) === Set(1L -> maxRounds.toLong))
    }
  }
}
