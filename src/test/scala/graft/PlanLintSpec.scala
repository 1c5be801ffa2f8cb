package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Automated scale lint over the ENTIRE SparkEntry query surface: every
  * query's optimized plan is checked for the three patterns that are
  * correct at test scale and fatal at 100 TB —
  *
  *   1. unpartitioned windows (all rows to ONE task; the t12/t13 class
  *      of bug this repo already fixed once),
  *   2. cartesian/nested-loop joins that are not a deliberate,
  *      broadcast-bounded design (the s01 exact baseline is the one
  *      allowed case: |probes| is fixed and broadcast), and
  *   3. LOW-CARDINALITY partitioned windows — a window keyed on a
  *      handful of distinct values funnels table-sized partitions
  *      through single tasks exactly like an unpartitioned window, but
  *      pattern 1 can't see it because the partitionSpec is non-empty
  *      (the round-6 q79 class: row_number over the 5-value
  *      o_orderpriority). Detected by MEASURING at lint scale: any
  *      window whose child exceeds 10k rows while its key has <8
  *      distinct values is flagged. Deliberate tiny-partition designs
  *      (t16/q79's bucket-prefix cumulative, q72's daily sketch merge)
  *      pass because their window INPUT is a bounded bucket table, not
  *      the data — the child-row threshold encodes exactly that
  *      distinction, so no allowlist is needed unless a query windows
  *      >10k rows on a <8-value key on purpose.
  *
  * Patterns 1–2 are plan-shape-only; pattern 3 executes each window's
  * child once (counts are cached by canonicalized subtree, so shared
  * shapes across the 291 queries are measured once). The lint is one
  * check of the [[Surface]] walk, which builds each query once.
  */
object PlanLintSpec {

  // deliberate nested-loop/cartesian shapes, each justified in-source:
  // s01/s02/s03 broadcast a fixed probe set against candidates; t15 and
  // t14 cross-join a ONE-ROW broadcast denominator; d04 is the
  // documented brute-force exhaustive variant whose oracle replays it
  // (s02's LSH buckets are the scale path).
  // q65 joins a |event_types|-row sketch table to itself on an
  // inequality — deliberately tiny at any corpus scale. t19 crosses a
  // ONE-ROW broadcast (N, avgdl) stats frame like t14/t15.
  // s07 reuses the s01 broadcast-probe candidate stage before its
  // per-query greedy, so it inherits the same justified shape.
  // t29 crosses a ONE-ROW broadcast (N, V) LM-normalizer frame, the
  // t14/t15/t19 scalar-stats shape. s09 is the s03 probe recipe plus a
  // candidate pre-filter, same broadcast-bounded justification.
  // q83's spine cross join is |nations| × a 1-row-derived month range —
  // bounded by the key space at any fact-table scale.
  // s11 composes t19's broadcast-stats cross and s01's broadcast-probe
  // product, inheriting both justifications.
  // t33 crosses the merged ONE-ROW (n_docs, total_dl) totals frame into
  // the per-term df rows — the t14/t15/t19 scalar-stats shape.
  // q95 crosses the ONE-ROW order-count frame into the 9-digit curve —
  // the t14/t15/t19 scalar-stats shape.
  // s16 crosses two ONE-ROW aggregate frames (per-list stats ×
  // tombstone count) into a single health row — 1×1 by construction.
  // t36 crosses two ONE-ROW frames (total, leftover) and theta-joins
  // the |sources|-row share frame to itself for the remainder rank —
  // catalog-bounded at any corpus scale (the q65 tiny-theta shape; a
  // global window would both single-task the frame and trip lint 1).
  // q112 theta-joins the per-part aggregate against its ONE-ROW
  // broadcast global total (the TPC-H Q11 HAVING-against-global-scalar
  // shape) — the t14/t15/t19 scalar-stats cross with a > condition.
  // s17 crosses the FIXED broadcast probe-LUT set against the codes
  // relation — the s01/s06 broadcast-probe candidate stage (and the
  // codes side is 32× narrower than the float corpus s06 scans).
  private val allowNestedLoop =
    Set("s01_cosine_topk", "s02_lsh_ann_topk", "s03_ivf_topk",
      "t15_mixture_weights", "t14_tfidf_terms", "d04_embedding_neardups",
      "q65_kmv_setops", "t19_bm25", "s06_quant_ann", "s07_mmr_rerank",
      "t27_stopwords", "t29_unigram_xent", "t30_bigram_xent",
      "s09_filtered_ann", "q83_gap_fill", "s11_hybrid_rrf",
      "t33_incremental_corpus_stats", "t36_quota_allocation",
      "q95_benford", "s16_index_health", "q112_tpch_q11", "s17_pq_ann",
      // q123/t40: each crosses against a broadcast 1-row totals frame
      // (the encoding's global mean, χ²'s P/M) — the q82-bounds shape,
      // never a row×row cross
      "q123_target_encoding", "t40_chi2_terms",
      // q127: two 1-row variant-summary frames crossed — never row×row
      "q127_ab_test",
      // q149: the q127 shape verbatim (same two 1-row frames crossed)
      "q149_mde",
      // t41: both bucket rollups cross a broadcast 1-row max-id frame
      "t41_heaps_law",
      // q132: the distinct-count Lorenz frame crosses a broadcast
      // 1-row (n, S, gini-numerator) totals frame — the q123 shape
      "q132_token_gini",
      // q133: the 64-row replicate frame crosses two broadcast 1-row
      // frames (point estimate; percentile CI) — the q127 shape
      "q133_bootstrap_ci",
      // q135: the cumulative frame crosses the broadcast 1-row totals,
      // and the 1-row report crosses the 1-row max — the q127 shape
      "q135_ks_drift",
      // c06: the hamiltonQuotas crosses (broadcast 1-row corpus total
      // and 1-row leftover against the catalog-small source frame) —
      // the t36 shape, re-used by composition
      "c06_training_mix_release",
      // t44: reuses c06's selection stage verbatim (c06Selection), so
      // it inherits the same hamiltonQuotas 1-row/catalog-small crosses
      "t44_bestfit_pack",
      // s19: composes s01's broadcast-probe exact baseline with s03's
      // IVF search, inheriting both queries' justified shapes
      "s19_ann_recall",
      // s24: two s01-shaped broadcast-probe crosses (the exact 64-dim
      // baseline and the 4-dim pc-space side) — probes are a fixed
      // 5-row set, never row×row
      "s24_pca_recall",
      // q138: the cell-pair theta join runs over the domain-bounded
      // (x, y) grid (50·11 cells at ANY corpus size — the corpus
      // collapsed into one groupBy first), plus three broadcast 1-row
      // crosses for the report — never row×row
      "q138_kendall_tau",
      // q142: the k-row pivot frame crosses the broadcast 1-row
      // tie-correction total — the q135 report shape, never row×row
      "q142_kruskal_wallis",
      // g10: each HITS round crosses its side's score frame against
      // the broadcast 1-row max (the exact integer renormalizer) —
      // the q135 report shape, once per side per round
      "g10_hits",
      // q146: the ≤5-row group-stats frame theta-self-joins into the
      // 10 pairs (the q138 grid bound) and crosses the broadcast
      // 1-row tie/N totals — never row×row
      "q146_dunn_posthoc",
      // t49: the per-doc score frame crosses the broadcast 1-row
      // tertile-boundary fold — the q135 report shape
      "t49_perplexity_buckets",
      // q150: each Bradley–Terry MM round crosses the item-domain-
      // bounded strength frame against the broadcast 1-row max (the
      // exact integer renormalizer) — the g10 per-round shape
      "q150_bradley_terry",
      // c10: inherits t49's tertile cross (per-doc frame × broadcast
      // 1-row boundary fold) through the shared tertileBuckets stage —
      // never row×row
      "c10_domain_gate",
      // s22: the 1-row totals frame crosses five broadcast 1-row
      // entropy/purity folds into the single report row — the q127
      // report shape, never row×row
      "s22_cluster_eval",
      // q151: the catalog-bounded group frame crosses the broadcast
      // ≤ range/1000-row global-cumulative frame into the EMD grid
      // (the q138 domain-bounded grid), plus two broadcast 1-row
      // totals crosses — never row×row
      "q151_t_closeness",
      // q154: the 3-row split report crosses TWO broadcast 1-row
      // leak-audit folds (each a fully aggregated count) — the q135
      // report shape, never row×row
      "q154_leakage_safe_split",
      // q152: the catalog-bounded slice frame crosses the broadcast
      // 1-row max-rate slice, picked by an anti-join over the
      // slice-domain-bounded aggregate (≤|sources|² comparisons; the
      // pooled rates are literals) — the q135 report shape
      // (plus t38's inherited broadcast bias lookup)
      "q152_fairness_report",
      // s25: the fixed 5-row broadcast probe set crosses the 4-row
      // persisted entry table to seed the beam (|Q|·|entries| rows —
      // the s01 broadcast-probe shape); every later hop is a keyed
      // broadcast join bounded by |Q|·beam·degree
      "s25_graph_ann",
      // s26: the same walk seeded for the delta decile — the probe
      // side is the arriving batch (bounded per trigger at any
      // corpus scale), entries stay the 4-row persisted table
      "s26_graph_ann_insert")

  // queries allowed to window >minRows rows on a <minKeys-value key —
  // empty by design; adding here requires an in-source justification
  private val allowLowCardWindow = Set.empty[String]

  // queries allowed an UNPARTITIONED window — only over frames that
  // are domain-bounded by construction (the q143 report shape; note
  // Spark 4.x's EliminateWindowPartitions folds a constant-key
  // partitionBy(lit(0)) to exactly this, so the two idioms are the
  // same physical plan — q143's own constant-key windows sit behind
  // its localCheckpoint and are lint-invisible for that reason, not
  // because they execute differently). Adding here requires an
  // in-source bound argument.
  private val allowUnpartitionedWindow = Set(
    // q150: the two rank windows run over the item-domain-bounded
    // Bradley–Terry report frame (≤ |event types| × 4 rows at ANY
    // corpus size — the corpus collapsed into the duel aggregate
    // first; see Preference.bradleyTerryFromDuels)
    "q150_bradley_terry")

  /** Pattern-3 detector: every partitioned window in `df`'s optimized
    * plan whose child row count exceeds `minRows` at this data scale
    * while the partition key takes fewer than `minKeys` distinct
    * values. Child counts and key cardinalities run as Spark jobs over
    * the lint-scale data; `cache` memoizes across the query surface.
    */
  def lowCardWindows(
      df: DataFrame,
      cache: scala.collection.mutable.Map[logical.LogicalPlan, (Long, Long)],
      minRows: Long = 10000L,
      minKeys: Long = 8L): Seq[String] = {
    df.queryExecution.optimizedPlan.collect {
      case w: logical.Window if w.partitionSpec.nonEmpty =>
        val (n, d) = cache.getOrElseUpdate(w.canonicalized, {
          val child = Bridge.ofRows(df.sparkSession, w.child)
          val rows = child.count()
          val keys =
            if (rows > minRows)
              child.select(w.partitionSpec.map(Bridge.column): _*)
                .distinct().count()
            else Long.MaxValue // small input: cardinality is moot
          (rows, keys)
        })
        if (n > minRows && d < minKeys)
          Some(s"window key cardinality $d over $n input rows " +
            s"[${w.partitionSpec.mkString(", ")}]")
        else None
    }.flatten
  }

  /** The lint as a [[Surface]] check: it plans a fresh frame over the
    * built query's plan, so the built frame keeps the session's DPP. */
  def lint(cardCache: scala.collection.mutable.Map[logical.LogicalPlan, (Long, Long)])(
      name: String, built: DataFrame): Seq[String] = {
    val spark = built.sparkSession
    val failures = scala.collection.mutable.ListBuffer[String]()
    // DPP injects DynamicPruningSubquery expressions into the OPTIMIZED
    // logical plan (s12's partitioned-store join); re-analyzing such a
    // subtree through Bridge.ofRows (the pattern-3 child count) fails
    // CheckAnalysis. The lint checks plan SHAPES, and s12's static
    // `isin` list pruning is unaffected, so DPP is off for the lint
    // pass only.
    val dppKey = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    val dppWas = spark.conf.get(dppKey)
    spark.conf.set(dppKey, "false")
    try {
      val df = Bridge.ofRows(spark, built.queryExecution.logical)
      val plan = df.queryExecution.optimizedPlan
      val badWindows = plan.collect {
        case w: logical.Window if w.partitionSpec.isEmpty => w
      }
      if (badWindows.nonEmpty && !allowUnpartitionedWindow(name))
        failures += s"$name: ${badWindows.size} unpartitioned window(s)"
      val phys = df.queryExecution.sparkPlan.toString
      val nestedLoop = phys.contains("CartesianProduct") ||
        phys.contains("BroadcastNestedLoopJoin")
      if (nestedLoop && !allowNestedLoop(name))
        failures += s"$name: cartesian/nested-loop join"
      if (!allowLowCardWindow(name))
        lowCardWindows(df, cardCache).foreach(m => failures += s"$name: $m")
    } finally spark.conf.set(dppKey, dppWas)
    failures.toList
  }
}

class PlanLintSpec extends SparkSpec {
  import PlanLintSpec.lowCardWindows

  test("no query plans an unpartitioned window, an unjustified cartesian join, or a low-cardinality window key") {
    val failures = Surface.findings(Surface.Lint)
    assert(failures.isEmpty,
      s"scale lint failed:\n  ${failures.mkString("\n  ")}")
  }

  test("the cardinality lint flags a planted low-card window and passes a well-keyed one") {
    import org.apache.spark.sql.expressions.Window
    val cache =
      scala.collection.mutable.Map[logical.LogicalPlan, (Long, Long)]()
    val base = spark.range(20000)
      .select(col("id"), pmod(col("id"), lit(3)).as("k3"),
        pmod(col("id"), lit(1000)).as("k1000"))
    // 3-value key over 20k rows: the q79 anti-pattern, must be flagged
    val bad = base.withColumn("rn",
      row_number().over(Window.partitionBy(col("k3")).orderBy(col("id"))))
    assert(lowCardWindows(bad, cache).nonEmpty)
    // 1000-value key over the same rows: healthy, must pass
    val good = base.withColumn("rn",
      row_number().over(Window.partitionBy(col("k1000")).orderBy(col("id"))))
    assert(lowCardWindows(good, cache).isEmpty)
    // small input on a 3-value key (the t16/q79 bucket-table shape):
    // deliberately fine — the row threshold encodes the design rule
    val tiny = spark.range(500)
      .select(col("id"), pmod(col("id"), lit(3)).as("k3"))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("k3")).orderBy(col("id"))))
    assert(lowCardWindows(tiny, cache).isEmpty)
  }
}
