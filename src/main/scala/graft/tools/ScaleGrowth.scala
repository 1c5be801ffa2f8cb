package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-growth measurement for the dedup family (d02 MinHash+LSH,
  * d06 exact Jaccard prefix join, d07 decontamination): times each
  * operator on the sf0.1 documents corpus and on a 10× replicated
  * corpus, and prints the per-operator scaling exponent
  * log10(t_10x / t_1x) — ~1.0 is linear growth, the bucketed designs'
  * claim; >1.3 would flag a quadratic term hiding in a candidate join.
  *
  * The 10× corpus is 10 salted replicas: a REPLICA-wide salt token is
  * inserted after every 4 source tokens, so every 5-gram window
  * contains a salt — shingles differ across replicas (cross-replica
  * pairs break: a plain 10× copy would instead add ~45 cross-replica
  * pairs per document and measure output explosion, not input scaling)
  * while WITHIN a replica two documents share salts and keep their
  * real near-dup overlap. The 1× corpus goes through the same salting,
  * so 1× vs 10× is a pure input-size contrast at matched per-replica
  * pair density. (A doc-unique salt would break ALL cross-document
  * overlap and time the operators over empty candidate sets.)
  *
  * Run: sbt "runMain graft.tools.ScaleGrowth" (SPARK_GRAFT_SF_DIR to
  * override the base corpus; min-of-2 timing after one warm-up).
  */
object ScaleGrowth {

  private def salted(docs: DataFrame, replicas: Int): DataFrame = {
    // insert a per-REPLICA salt token after every 4 source tokens:
    // group-1 backref keeps the original tokens; the salt breaks every
    // 5-gram crossing replica boundaries but is shared by all docs of
    // one replica, preserving within-replica near-dup overlap
    val rep = explode(sequence(lit(0), lit(replicas - 1)))
    docs.withColumn("rep", rep)
      .withColumn("text",
        regexp_replace(col("text"), lit("(\\S+\\s+\\S+\\s+\\S+\\s+\\S+)\\s+"),
          concat(lit("$1 zq"), col("rep"), lit(" "))))
      .withColumn("doc_id", col("doc_id") * 16 + col("rep"))
      .drop("rep")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = java.nio.file.Files.createTempDirectory("graft_scale_growth").toString
    val docs = graft.Tables(spark, sfDir, "documents")
    // both corpora go through the same salting path so 1× vs 10× is a
    // pure input-size contrast, not a salted-vs-raw text contrast
    salted(docs, 1).write.mode("overwrite").parquet(s"$base/x1/documents.parquet")
    salted(docs, 10).write.mode("overwrite").parquet(s"$base/x10/documents.parquet")
    // q79 reads orders, not documents: plain replication with key shift
    // (the query touches only (o_orderpriority, o_totalprice), so no
    // salting concern — the group-key cardinality deliberately STAYS at
    // 5 while rows grow 10×, the exact regime the two-level selection
    // exists for)
    val orders = graft.Tables(spark, sfDir, "orders")
    def repOrders(r: Int): DataFrame =
      orders.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .withColumn("o_orderkey", col("o_orderkey") * 16 + col("rep"))
        .drop("rep")
    repOrders(1).write.mode("overwrite").parquet(s"$base/x1/orders.parquet")
    repOrders(10).write.mode("overwrite").parquet(s"$base/x10/orders.parquet")

    // q82 reads lineitem (z-bucket stats over (l_partkey, l_suppkey)):
    // plain replication with key shift keeps both dims' bounds and the
    // 64-bucket group count FIXED while rows grow 10× — scan + partial
    // agg must carry the growth, the fixed-cardinality-agg regime
    val lineitem = graft.Tables(spark, sfDir, "lineitem")
    def repLineitem(r: Int): DataFrame =
      lineitem.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .withColumn("l_orderkey", col("l_orderkey") * 16 + col("rep"))
        .drop("rep")
    repLineitem(1).write.mode("overwrite").parquet(s"$base/x1/lineitem.parquet")
    repLineitem(10).write.mode("overwrite").parquet(s"$base/x10/lineitem.parquet")

    // q83 additionally joins the customer/nation dims: plain copies in
    // both dirs (the spine is bounded by the key tables; growth enters
    // only through the replicated orders fact)
    // (supplier/region join in for the TPC-H trio q92-q94: plain dim
    // copies; the key-shifted orders/lineitem replicas keep l_orderkey
    // = o_orderkey integrity within every replica)
    // (customer gets its own replicated writer below, for d14)
    Seq("nation", "supplier", "region").foreach { tName =>
      val tdf = graft.Tables(spark, sfDir, tName)
      tdf.write.mode("overwrite").parquet(s"$base/x1/$tName.parquet")
      tdf.write.mode("overwrite").parquet(s"$base/x10/$tName.parquet")
    }

    // s09/s10/d11/s11 read embeddings: replica 0 is the IDENTITY (same
    // ids, same bits — the probe sets, which filter small vec_id
    // ranges, exist unchanged in both dirs), and replicas 1..r-1 are
    // per-(replica, dimension) deterministic SIGN FLIPS with shifted
    // ids. A sign flip is an isometry, so within-replica geometry
    // (cosines, cluster structure, near-dup pairs) is exactly
    // preserved, while cross-replica cosine between copies of one
    // vector collapses toward 0 (the signed mass cancels) — the
    // embedding analogue of the text salt: inverted lists grow 10×
    // without the ~45 cosine-1.0 cross-copy pairs per vector a plain
    // copy would add (which would measure output explosion, not input
    // scaling). The candidate joins — not the index build, which the
    // warm-up amortizes out — must carry the growth.
    val embeddings = graft.Tables(spark, sfDir, "embeddings")
    def repEmbeddings(r: Int): DataFrame =
      embeddings.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .withColumn("embedding",
          when(col("rep") === 0, col("embedding"))
            .otherwise(transform(col("embedding"),
              (x, i) => when(pmod(hash(col("rep"), i), lit(2)) === 0, x)
                .otherwise(-x))))
        .withColumn("vec_id",
          when(col("rep") === 0, col("vec_id"))
            .otherwise(col("vec_id") + col("rep").cast("long") * lit(100000000L)))
        .drop("rep")
    repEmbeddings(1).write.mode("overwrite").parquet(s"$base/x1/embeddings.parquet")
    repEmbeddings(10).write.mode("overwrite").parquet(s"$base/x10/embeddings.parquet")

    // q85 reads events: replicas shift user_id (and event_id for PK
    // hygiene), rep 0 keeping the originals — the first-seen
    // aggregation must carry 10× distinct users while the output stays
    // calendar-bounded, exactly the regime first-seen attribution
    // exists for
    val events = graft.Tables(spark, sfDir, "events")
    def repEvents(r: Int): DataFrame =
      events.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .withColumn("user_id",
          col("user_id") + col("rep").cast("long") * lit(100000000L))
        .withColumn("event_id",
          col("event_id") + col("rep").cast("long") * lit(1000000000L))
        .drop("rep")
    repEvents(1).write.mode("overwrite").parquet(s"$base/x1/events.parquet")
    repEvents(10).write.mode("overwrite").parquet(s"$base/x10/events.parquet")

    // q87 reads part: replicas shift p_partkey only, keeping brand /
    // price / size identical — the price-level skyline frame is the
    // SAME in both dirs (n_parts grows 10×), so the keyed window is
    // fixed-cost and the scan + price-level aggregate must carry all
    // the growth — the aggregate-first discipline under test
    // replica 0 keeps ORIGINAL part keys (the s09/q85 identity rule),
    // so q97's l_partkey = p_partkey join — lineitem replicas carry
    // original part keys — resolves in both dirs: fact 10×, dim fixed
    val part = graft.Tables(spark, sfDir, "part")
    def repPart(r: Int): DataFrame =
      part.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .withColumn("p_partkey",
          when(col("rep") === 0, col("p_partkey"))
            .otherwise(col("p_partkey") * 16 + col("rep")))
        .drop("rep")
    repPart(1).write.mode("overwrite").parquet(s"$base/x1/part.parquet")
    repPart(10).write.mode("overwrite").parquet(s"$base/x10/part.parquet")

    // d14 reads customer NAMES, so the plain dim copy would measure
    // nothing: replica 0 is the identity; replicas 1..9 shift
    // c_custkey collision-free (+rep·10⁸, the q85 events rule) and
    // ROTATE the digit alphabet by rep (digit ch → ch+rep mod 10 via
    // translate). A per-replica alphabet bijection is an edit-distance
    // ISOMETRY — within-replica pair structure is EXACTLY the original
    // — while every digit q-gram differs across replicas, so the
    // rare-gram prefix buckets stay per-replica-sized (a mere tag
    // prefix was measured to leave digit grams shared across replicas:
    // buckets grew 10×, Σ|bucket|² went quadratic — the exact fixture
    // bug the d02 salt / embedding sign-flip exist to avoid). Names
    // never collide across replicas (ids < 10⁵ ⇒ the four leading
    // digits rotate to four distinct chars per rep). The TPC-H dim
    // joins (o_custkey) keep resolving against the rep-0 originals.
    val customer = graft.Tables(spark, sfDir, "customer")
    def repCustomer(r: Int): DataFrame =
      customer.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .withColumn("c_custkey",
          when(col("rep") === 0, col("c_custkey"))
            .otherwise(col("c_custkey") + col("rep").cast("long") * lit(100000000L)))
        .withColumn("c_name",
          expr("translate(c_name, '0123456789', " +
            "substring('01234567890123456789', rep + 1, 10))"))
        .drop("rep")
    repCustomer(1).write.mode("overwrite").parquet(s"$base/x1/customer.parquet")
    repCustomer(10).write.mode("overwrite").parquet(s"$base/x10/customer.parquet")

    // round 9 (graph family): g01-g04 derive a co-purchase graph from
    // lineitem, but the x1/x10 lineitem replicas deliberately keep
    // ORIGINAL part keys (q97's dim join needs them) — under g02-g04's
    // support≥2 filter that would inflate every pair's support 10× and
    // flip the k≥2 graph into the k≥1 graph: a density regime change,
    // not input scaling. The graph queries instead read g1/g10 dirs
    // whose replicas shift BOTH keys (rep 0 identity): the 10× graph
    // is 10 DISJOINT copies of the 1× graph — per-replica support,
    // components, triangles and reach are exactly the originals, so
    // the exponent measures pure scale. d15 reads part NAMES: the
    // plain part replicas share all 64 distinct names (zero growth),
    // so the g-dirs rotate the name alphabet per replica (the d14
    // isometry rule) — within-replica JW structure exact, token
    // blocks per-replica-disjoint.
    def repLineitemGraph(r: Int): DataFrame =
      lineitem.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .withColumn("l_orderkey",
          col("l_orderkey") * 16 + col("rep"))
        .withColumn("l_partkey",
          when(col("rep") === 0, col("l_partkey"))
            .otherwise(col("l_partkey") + col("rep").cast("long") * lit(100000000L)))
        .drop("rep")
    repLineitemGraph(1).write.mode("overwrite").parquet(s"$base/g1/lineitem.parquet")
    repLineitemGraph(10).write.mode("overwrite").parquet(s"$base/g10/lineitem.parquet")
    def repPartNames(r: Int): DataFrame =
      part.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .withColumn("p_partkey",
          when(col("rep") === 0, col("p_partkey"))
            .otherwise(col("p_partkey") + col("rep").cast("long") * lit(100000000L)))
        .withColumn("p_name",
          expr("translate(p_name, 'abcdefghijklmnopqrstuvwxyz', " +
            "substring('abcdefghijklmnopqrstuvwxyzabcdefghijklmnopqrstuvwxyz', " +
            "rep + 1, 26))"))
        .drop("rep")
    repPartNames(1).write.mode("overwrite").parquet(s"$base/g1/part.parquet")
    repPartNames(10).write.mode("overwrite").parquet(s"$base/g10/part.parquet")

    // t17 joins the dedup family here: the sketch-guided heavy-hitter
    // pipeline should be near-linear too (two bigram passes + k-bounded
    // summaries; the salted corpus keeps bigram vocabulary ~1.6k < k,
    // so the per-group guarantee regime matches the real corpus)
    // t19/t21 join in round 5: BM25's df-window + stats cross and the
    // OOV broadcast join are the new shapes where a hidden quadratic
    // could lurk; both should stay near-linear like the rest
    // d09/d10 join in late round 5: the incremental admission join
    // (batch side fixed at every 10th doc, so its cost should grow
    // with the corpus scan, not the pair count) and the asymmetric
    // containment probe (full inverted index on the big side — the
    // one dedup shape without an index-side prefix bound)
    // q79 joins in round 7: the two-level winsorize bounds — its rank
    // selection must scale with the SHUFFLE, not a 5-partition sort
    // t29/s09/q82 join in round 8: the unigram-LM token join (vocab
    // grows with the salted corpus), the filtered-ANN candidate join
    // (lists 10×, probes fixed), and the fixed-64-bucket z-stats agg
    // round 9 adds the rest of the round-8 surface plus t33/s12:
    //  - t31/t32: segment explode + narrow projection (should be ~t03)
    //  - t33: the two-batch stats fold — vocab-keyed, near-t21
    //  - d11: within-cluster pairing under ADAPTIVE nLists (the list
    //    count grows with the corpus, so per-list pair work is bounded
    //    — the published SemDeDup policy; a fixed nLists would go
    //    quadratic here, which is exactly what this measures)
    //  - d12: fingerprint-keyed source-pair matrix (source count fixed)
    //  - s10: probe-bounded quantized candidate cut over 10× lists
    //  - s11: BM25 ⊕ cosine fusion (both stages' growth composed)
    //  - s12: persisted-store serving — restore + pruned probe; the
    //    write is once per dir and amortizes into the warm-up
    //  - q84: CSV write+read round-trip (pure scan-shaped)
    //  - q85: first-seen attribution over 10× distinct users
    //  - s13: frozen-quantizer delta append — base fit + O(|delta|)
    //    assignment, then the probe join over 10× lists
    //  - q86: mergeable-KMV fold — two k-bounded batch sketches, the
    //    scan carries the growth while the fold stays k-sized
    // round 9 (late) adds q87-q89 + t34:
    //  - q87: skyline — price-level frame FIXED across dirs (replicas
    //    keep brand/price/size), so growth rides the scan + pre-agg
    //  - q88: Markov transitions — per-user windows over 10× users;
    //    the transition matrix stays |types|²
    //  - q89: CUSUM — daily bucketing carries 10× events into a
    //    calendar-bounded series; the fold is fixed-length
    //  - t34: NFC normalize — pure narrow projection, scan-shaped
    //  - t35: winnowing — one native loop per doc, scan-shaped
    //  - d13: winnow copy-join — inverted-index pairs bounded by the
    //    df ≤ 50 stop-fingerprint cut (the salt keeps cross-replica
    //    fingerprints disjoint, so pair density stays per-replica)
    //  - q90: Theil-Sen — pairwise slopes over the CALENDAR-bounded
    //    daily series (fixed pair count); the daily agg carries growth
    //  - t36: quota allocation — one keyed count + catalog-small frame
    //  - q91: session paths — user-keyed session windows over 10×
    //    users; the path space stays |types|³
    //  - s15: kNN graph — bucket SELF-join candidates (Σ|bucket|²);
    //    sign-flip replicas keep within-replica bucket structure while
    //    buckets grow 10×, the all-pairs scale shape under test
    //  - s14: tombstone-delete serving — store write + tombstones
    //    amortize into the warm-up; timed path = restore + anti-join
    //    + pruned probe over 10× lists
    // round 9 (final) adds the TPC-H completion set q101-q114 (fact
    // tables 10×, dims fixed — the decorrelated EXISTS / NOT-IN /
    // nested-IN / correlated-MIN plans must ride the keyed fact
    // shuffles), s17 (PQ ADC scan over 10× codes, probes fixed —
    // candidate generation is the byte-narrow scan under test), and
    // d14 (Ed-Join prefix self-join over 10× names at per-replica pair
    // density — Σ|prefix-bucket|² must stay linear like d06's).
    // Local-iteration filter (mirrors Bench): SPARK_GRAFT_SCALE_ONLY=
    // q87,t35 measures just the listed prefixes
    val onlyPrefixes = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val queries = Seq("d02_minhash_neardups", "d06_jaccard_neardups",
      "d07_decontamination", "d09_incremental_neardups",
      "d10_containment_neardups", "t17_heavy_hitters", "t19_bm25",
      "t21_oov_rate", "q79_winsorize", "t29_unigram_xent",
      "t30_bigram_xent", "t31_lang_consistency", "t32_readability",
      "t33_incremental_corpus_stats", "d11_semantic_dedup",
      "d12_source_overlap", "s09_filtered_ann", "s10_ivf_quant_ann",
      "s11_hybrid_rrf", "s12_ivf_serving", "s13_ivf_delta_append",
      "q82_zorder_stats", "q83_gap_fill", "q84_csv_roundtrip",
      "q85_user_growth", "q86_incremental_kmv", "q87_skyline",
      "q88_markov_transitions", "q89_cusum_drift",
      "t34_unicode_normalize", "t35_winnowing",
      "s14_ivf_tombstone_delete", "d13_winnow_copydetect",
      "q90_theilsen_trend", "t36_quota_allocation",
      "q91_session_paths", "q92_tpch_q3", "q93_tpch_q5", "q94_tpch_q10",
      "s15_knn_graph", "q95_benford", "s16_index_health",
      "q96_incremental_quantiles", "q97_tpch_q14", "q98_tpch_q18",
      "q117_seasonal_decompose", "t38_quality_classifier",
      "q99_tpch_q13", "q100_tpch_q17",
      "q101_tpch_q6", "q102_tpch_q4", "q103_tpch_q7", "q104_tpch_q8",
      "q105_tpch_q15", "q106_tpch_q19", "q107_tpch_q22", "q108_tpch_q16",
      "q109_tpch_q21", "q110_tpch_q20", "q111_tpch_q9", "q112_tpch_q11",
      "q113_tpch_q12", "q114_tpch_q2", "s17_pq_ann", "d14_edit_join",
      "s18_ivfpq_ann",
      "g01_pagerank", "g02_components", "g03_triangles", "g04_khop_reach",
      "g05_hyperball", "g06_weighted_pagerank", "g07_personalized_pagerank",
      "d15_jw_join",
      // round 9 (continued): the feature/privacy/fitting family plus
      // the two new graph-composition queries —
      //  - q118: as-of assembly; spine rows 10× against rep-0 user
      //    snapshots + 9 shifted-user snapshot partitions — the keyed
      //    union-sort must ride the shuffle
      //  - q119: grouping-sets ladder at FIXED group cardinality over
      //    10× customer rows (the q82 fixed-cardinality-agg regime)
      //  - q120: nine decimal sufficient statistics over 10× lineitem
      //    at 3 fixed groups — pure scan+partial-agg, the flattest
      //    shape there is
      //  - t39: both count families over the salted corpus (bigram
      //    vocabulary grows with salts; joins stay vocab-keyed)
      //  - g08: 2-hop candidate join over 10 DISJOINT graph copies
      //    (g-dirs) — Σdeg(x)² stays per-replica, the all-pairs trap
      //    this candidate generation avoids
      //  - c05: blocking+JW+closure+rollup on the alphabet-rotated
      //    g-dir names (the d15 isometry rule: per-replica-disjoint
      //    token blocks, within-replica match structure exact)
      "q118_feature_store", "q119_k_anonymity", "q120_ols_multi",
      "t39_collocations", "g08_link_prediction", "c05_entity_resolution",
      // q115/q116: ORC/JSON write+read round-trips over 10× lineitem /
      // orders — pure scan-shaped like q84's CSV twin
      "q115_orc_roundtrip", "q116_json_roundtrip",
      // round 9 (eval/release family):
      //  - q121: AUC over 10× docs — the distinct-score frame grows
      //    with the corpus but the rank prefix is the t16 two-level
      //    sum, so the only unpartitioned window stays bucket-sized
      //  - q122: PSI — two histograms off one scan, fixed bin count
      //  - q123: target encoding — one (cat,fold)-keyed aggregate
      //  - q124: sharded export — partitioned write + manifest agg
      //  - q125: evolved-schema merge read over both generations
      //  - t40: χ² terms — distinct-(doc,token) explode + token agg
      //    (vocabulary grows with the salted corpus, like t29's)
      // - q127: Welch t from two 1-row sufficient-stat frames — the
      //   q120 regime (scan + fixed-cardinality partial agg)
      "q127_ab_test",
      // - q130: Kaplan-Meier — user-keyed min-aggregate over 10x
      //   users into a calendar-bounded event-time frame
      "q130_kaplan_meier",
      // - q129: l-diversity — two nested keyed aggregates over 10x
      //   customer rows at fixed QI-group cardinality (q119's regime)
      "q129_l_diversity",
      "q121_auc_eval", "q122_psi_drift", "q123_target_encoding",
      "q124_shard_manifest", "q125_schema_evolution", "t40_chi2_terms",
      //  - q126: calibration — the q121 scored frame collapsed to
      //    half-logit buckets, report bucket-count-bounded
      "q126_calibration",
      //  - q128: per-slice AUC — the grouped two-level rank prefix
      "q128_auc_by_slice",
      // round 9 (roster completion): the remaining distinct candidate
      // shapes measured nowhere else in their families —
      //  - d03: SimHash pigeonhole block self-join
      //  - d16: embedding-LSH bucket self-join under ADAPTIVE planes
      //    (d04, the registered brute-force ground-truth twin, is
      //    deliberately exhaustive — measuring it against the
      //    quadratic flag would grade the oracle baseline, not the
      //    scale path; its first roster pass read 1.13 for exactly
      //    that reason and prompted d16's registration)
      //  - d05: edge generation + group consolidation over the fold
      //  - d08: repeated-span inverted index (spans md5'd pre-shuffle)
      //  - s02/s03: the original LSH/IVF ANN serving queries
      //  - t07: concat-and-chunk packing (global running sum inside)
      //  - t16: the two-level prefix sum itself at 10× documents
      "d03_simhash_neardups", "d16_embedding_neardups_lsh",
      "d05_dup_groups",
      "d08_repeated_spans", "s02_lsh_ann_topk", "s03_ivf_topk",
      "t07_sequence_pack", "t16_corpus_positions",
      //  - t41: first-occurrence vocab rollup (one token-keyed min-agg;
      //    vocabulary grows with the salted corpus like t29's)
      "t41_heaps_law",
      // round 11 (eval additions):
      //  - q131: Spearman — lineitem replicas repeat the same values,
      //    so the distinct-value rank frames stay FIXED while the
      //    row-side rank joins and moment aggregate carry 10× (the
      //    regime the two-level rank machinery exists for; a hidden
      //    global sort would read ≥1.0 with a superlinear constant)
      //  - q132: Lorenz/Gini — doc-length domain ~fixed under salting;
      //    scan + distinct-count agg carry the growth
      //  - q133: Poisson bootstrap — 64× explode of 10× docs collapsed
      //    map-side to 64 rows; pure scan×B, the flattest heavy shape
      //  - q134: count-of-counts — token vocab grows with the salted
      //    corpus (t29's regime), the F-of-F rollup stays tiny
      //  - q135: KS — event values repeat across replicas, distinct
      //    frame fixed, counts 10×; scan + fixed prefix
      "q131_spearman", "q132_token_gini", "q133_bootstrap_ci",
      "q134_vocab_richness", "q135_ks_drift",
      //  - q136: kappa — scan + one 4-cell exact contingency agg (the
      //    q120 fixed-cardinality regime, flattest shape there is)
      "q136_cohens_kappa",
      // round 16 additions:
      //  - d17: maximal exact-substring matches — 20-gram anchor
      //    explode grows 10×; the per-replica salt (shared within a
      //    replica, inserted identically in every doc) preserves
      //    within-replica span matches while breaking cross-replica
      //    ones, so anchor-bucket pair density stays per-replica —
      //    Σ|bucket|² must ride linearly, the d06/d08 regime
      //  - d18: the cut applied on top of d17 — adds the interval
      //    union (span-inventory-sized) and one narrow rebuild
      //    projection over 10× documents
      //  - s25: graph-ANN beam serving — the per-dir index build
      //    amortizes into the warm-up (the s14 pattern), so the timed
      //    path is the 6-hop walk: per-hop work is beam-bounded
      //    compute over one graph scan + one corpus scan that grow
      //    10× — the exponent prices the scans, not the walk
      "d17_maximal_spans", "d18_exact_substring_cut", "s25_graph_ann")
      .filter(q => onlyPrefixes.forall(_.exists(q.startsWith)))
    // queries measured on the disjoint-copy graph dirs (see above)
    val graphDirQs = Set("g01_pagerank", "g02_components", "g03_triangles",
      "g04_khop_reach", "g05_hyperball", "g06_weighted_pagerank",
      "g07_personalized_pagerank", "d15_jw_join",
      "g08_link_prediction", "c05_entity_resolution")
    def time(name: String, dir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up
      math.min(once(), once())
    }

    val rows = queries.map { q =>
      val pfx = if (graphDirQs(q)) "g" else "x"
      val t1 = time(q, s"$base/${pfx}1")
      val t10 = time(q, s"$base/${pfx}10")
      val exponent = math.log(t10 / t1) / math.log(10.0)
      println(f"[scale-growth] $q%-22s t_1x=$t1%6.2fs t_10x=$t10%6.2fs exponent=$exponent%.2f")
      (q, t1, t10, exponent)
    }
    val js = rows.map { case (q, t1, t10, e) =>
      f"""\"$q\":{\"t1\":$t1%.3f,\"t10\":$t10%.3f,\"exponent\":$e%.3f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_growth","sf":"$sfDir","results":$js}""")
    spark.stop()
  }
}
