package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.graph.Fixpoint

/** Preference-data consumption: the Bradley–Terry strength fit over a
  * duel table — the read side of the preference ladder whose write
  * side is c08's chosen/rejected pair assembly (a DPO/RLHF corpus is
  * only as good as the reward consistency of its pairs, and the BT
  * fit is the classic instrument: if pairwise outcomes admit a
  * one-dimensional strength scale, the fit recovers it; where the
  * fitted ranking disagrees with raw win rates, the pair mix is
  * unbalanced — exactly what a curation pass needs surfaced).
  *
  * Model: P(i beats j) = p_i / (p_i + p_j); fitted by Hunter's (2004)
  * MM iteration  p_i ← W_i / Σ_j n_ij / (p_i + p_j)  for a FIXED
  * round count, in FIXED-POINT BIGINT e-6 units with exact
  * max-normalization per round — the [[graft.graph.GraphOps.hits]]
  * recurrence discipline: no engine-ordered float sums, `div`/`//`
  * floor equally on the all-positive operands, so the oracle's
  * round-by-round unroll hash-matches at any partitioning. W_i
  * carries +1 Laplace smoothing (the standard regularization for
  * separable duel data, where the unsmoothed MLE diverges — and duel
  * data derived from a deterministic reward IS separable), and the
  * normalized strength floors at 1 so an all-losing item keeps a
  * nonzero denominator contribution instead of dividing by zero.
  *
  * Integer-width audit (the q141 written-order discipline applied to
  * widths): strengths s ∈ [1, 10⁶] so s_i + s_j ∈ [2, 2·10⁶]; the
  * inner term n_ij·10⁹ div (s_i+s_j) stays < 2⁶³ for n_ij up to
  * 1.8·10¹⁰ duels PER ITEM PAIR (beyond any corpus — the duel matrix
  * is item-domain-bounded, ≤ |items|² cells); the denominator sum
  * runs in DECIMAL(38,0)/HUGEINT; the raw update w1·10¹² div D is
  * ≤ ~2·10⁹ because D ≥ 500·Σn_ij while w1 ≤ Σn_ij + 1. Every
  * product is widened to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB)
  * before multiplying.
  *
  * Scale shape: the corpus-scale work is the duel aggregation the
  * CALLER does (one keyed agg over the pair frame); everything here
  * runs on the item-domain-bounded duel matrix (for c08's turn
  * templates, ≤ |event-type domain| × 4 items — the q141 bounded-grid
  * argument), so each round's two joins, keyed agg and broadcast
  * 1-row max fold touch a frame of at most |items|² rows regardless
  * of corpus size.
  */
object Preference {

  /** e-6 fixed-point strength units (the HITS/PageRank convention). */
  val BtScale = 1000000L

  /** Inner-division precision: n_ij·BtInnerK div (s_i+s_j). */
  val BtInnerK = 1000000000L // 10^9

  /** Raw-update precision: w1·BtRawK div D. */
  val BtRawK = 1000000000000L // 10^12

  /** MM rounds over a duel table `(item_w, item_l, n_wl)` (winner,
    * loser, count; strict wins only — ties are not BT observations).
    * Returns one row per item: duel totals, e-6 win rate, fitted e-6
    * strength, the strength rank, the raw-win-rate rank, and whether
    * the two agree (the curation signal).
    */
  def bradleyTerryFromDuels(duels: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"bradleyTerry requires iters >= 1, got $iters")
    import org.apache.spark.sql.expressions.Window
    val d = Materialize( // feeds the matrix AND the win totals
      duels.select(col("item_w"), col("item_l"), col("n_wl"))).df
    // symmetric opponent matrix n_ij — the per-round join frame
    val nm = Materialize(d.select(col("item_w").as("i"), col("item_l").as("j"),
        col("n_wl").as("n"))
      .unionAll(d.select(col("item_l").as("i"), col("item_w").as("j"),
        col("n_wl").as("n")))
      .groupBy(col("i"), col("j")).agg(sum(col("n")).as("n_ij"))).df
    val wins = d.groupBy(col("item_w").as("i"))
      .agg(sum(col("n_wl")).as("__w"))
    val base = Materialize(nm.groupBy(col("i"))
      .agg(sum(col("n_ij")).as("n_duels"))
      .join(wins, Seq("i"), "left")
      .select(col("i"), col("n_duels"),
        coalesce(col("__w"), lit(0L)).as("n_wins"),
        (coalesce(col("__w"), lit(0L)) + lit(1L)).as("__w1"))).df
    // each state is one round over its materialized raw: stride iters
    val s = Fixpoint.iterate(base.select(col("i"), lit(BtScale).as("s_e6")),
        iters, stride = iters) { st =>
      val den = nm
        .join(st.select(col("i"), col("s_e6").as("__si")), Seq("i"))
        .join(st.select(col("i").as("j"), col("s_e6").as("__sj")), Seq("j"))
        .select(col("i"),
          expr(s"CAST(n_ij AS DECIMAL(38,0)) * ${BtInnerK}L" +
            " div (__si + __sj)").as("__t"))
        .groupBy(col("i"))
        .agg(sum(expr("CAST(__t AS DECIMAL(38,0))")).as("__d"))
      val raw = Materialize(base.join(den, Seq("i"))
        .select(col("i"),
          expr(s"CAST(__w1 AS DECIMAL(38,0)) * ${BtRawK}L div __d")
            .as("__raw"))).df // the max fold AND the normalize
      val mx = raw.agg(max(col("__raw")).as("__mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("i"),
          greatest(
            expr(s"CAST(__raw AS DECIMAL(38,0)) * ${BtScale}L div __mx"),
            lit(1L)).as("s_e6"))
    }.last
    // the report: constant-key rank windows over the item-domain-
    // bounded frame (≤ |items| rows at any corpus size — the q143
    // report shape)
    val wBt = Window.partitionBy(lit(0))
      .orderBy(col("s_e6").desc, col("i").asc)
    val wWr = Window.partitionBy(lit(0))
      .orderBy(col("win_rate_e6").desc, col("i").asc)
    base.join(s, Seq("i"))
      .withColumn("win_rate_e6",
        expr("(n_wins * 1000000L) div n_duels"))
      .withColumn("bt_rank", row_number().over(wBt).cast("long"))
      .withColumn("wr_rank", row_number().over(wWr).cast("long"))
      .select(col("i").as("item"), col("n_wins"),
        (col("n_duels") - col("n_wins")).as("n_losses"),
        col("n_duels"), col("win_rate_e6"),
        col("s_e6").as("strength_e6"), col("bt_rank"), col("wr_rank"),
        (col("bt_rank") === col("wr_rank")).as("rank_agree"))
  }
}
