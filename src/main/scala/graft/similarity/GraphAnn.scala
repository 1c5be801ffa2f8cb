package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.graph.Fixpoint

/** Graph-based ANN serving — greedy beam search over a persisted kNN
  * graph, the NSW/HNSW-family search shape production vector stores
  * default to (Malkov & Yashunin 2018's layer-0 walk; the reference
  * engine has no vector surface at all — this extends the engine's
  * LLM-pipeline family alongside LSH (s02), IVF (s03) and PQ (s17)).
  *
  * An index is {kNN graph, entry points}: the graph is the s15
  * artifact re-cut at serving out-degree (bucket self-join candidates
  * = Σ|bucket|² — never corpus² — ranked by the codegen cosine through
  * [[graft.plans.TopKPerKey]]'s bounded map-side heaps), and the entry
  * points are the approximate medoids (nearest corpus vectors to the
  * per-dimension mean) every graph-ANN index persists alongside its
  * edges so a search starts somewhere central rather than random.
  *
  * Search is BATCHED beam search — all queries walk simultaneously:
  * each hop expands the current beam along graph edges (one graph
  * scan with the beam broadcast — ≤ |Q|·k probe keys), scores the
  * candidates (one corpus scan with ≤ |Q|·k·degree broadcast
  * candidate ids), merges into the beam, and keeps the per-query
  * top-k. A FIXED hop count (no data-dependent convergence test)
  * keeps the recurrence exactly replayable: hopping past convergence
  * re-derives the same beam (the merge is idempotent), so overshoot
  * is harmless and the whole search unrolls into pure SQL for the
  * oracle. Per-hop work is beam-bounded — |Q|·k·degree scored rows,
  * independent of corpus size — which is the property that makes the
  * walk serve at 100 TB; on a cluster the persisted graph/corpus
  * would additionally be bucketed by id so the broadcast-probe joins
  * prune to the touched buckets (the s02 `searchPruned` move).
  *
  * Determinism: all scoring through the sequential-sum codegen cosine
  * (bit-reproducible, DuckDB-replayable), every cut ordered by
  * (cos DESC, node ASC), duplicate candidates collapse by exact row
  * equality — so the beam contents are a pure function of the index,
  * byte-for-byte across engines.
  */
object GraphAnn {

  /** A serving index: `graph(src, dst)` with out-degree ≤ 2× the
    * build degree (post-symmetrize), `entries(node)` — the persisted
    * start points — and the id→vector corpus the walk scores against.
    * `srcBuckets` is set on a store-backed index ([[read]]) and names
    * the `src_bkt` partition fan-out [[searchPruned]] prunes on.
    */
  final case class Index(graph: DataFrame, entries: DataFrame,
      corpus: DataFrame, srcBuckets: Option[Int] = None)

  /** Persist an index: graph partitioned by `src_bkt = src mod
    * nBuckets` — the storage layout that lets a pruned search's
    * per-hop scan touch only the directories its beam actually
    * probes (the IvfIndex `ivf_list=` / LshIndex `bucket_pfx=`
    * move applied to graph adjacency) — plus entries, corpus, and a
    * one-row params sidecar so a re-open can never run under a
    * mismatched bucket count.
    */
  def write(idx: Index, path: String, nBuckets: Int = 64): Unit = {
    idx.graph.withColumn("src_bkt", pmod(col("src"), lit(nBuckets)))
      .write.mode("overwrite").partitionBy("src_bkt")
      .parquet(s"$path/graph")
    idx.entries.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/entries")
    idx.corpus.write.mode("overwrite").parquet(s"$path/corpus")
    val spark = idx.graph.sparkSession
    import spark.implicits._
    Seq(nBuckets).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Re-open a persisted index. The graph frame keeps its `src_bkt`
    * column (partition pruning needs it); the bucket count comes from
    * the store's sidecar, never the call site.
    */
  def read(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val n = spark.read.parquet(s"$path/params").head().getInt(0)
    Index(
      spark.read.parquet(s"$path/graph"),
      spark.read.parquet(s"$path/entries"),
      spark.read.parquet(s"$path/corpus"),
      srcBuckets = Some(n))
  }

  /** Build the serving index from a fitted [[Similarity.LshIndex]]
    * (one LSH fit shared with s15 — the s03/s19 one-fit-many-consumers
    * discipline). `degree` is the serving out-degree: higher than
    * s15's analytic top-3 because walk connectivity, not edge economy,
    * decides recall.
    */
  def build(idx: Similarity.LshIndex, degree: Int = 8,
      nEntries: Int = 4): Index = {
    val b = idx.buckets
    val cand = b.select(col("bucket"), col("neighbor_id").as("src"))
      .join(b.select(col("bucket"), col("neighbor_id").as("dst")), Seq("bucket"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val va = idx.corpus.select(col("neighbor_id").as("src"), col("__cv").as("__va"))
    val vb = idx.corpus.select(col("neighbor_id").as("dst"), col("__cv").as("__vb"))
    val scored = cand.join(va, Seq("src")).join(vb, Seq("dst"))
      .select(col("src"), col("dst"),
        Similarity.cosine(col("__va"), col("__vb")).as("cos"))
    val fwd = graft.plans.TopKPerKey(scored, Seq("src"),
      Seq(col("cos").desc, col("dst").asc), degree)
    // symmetrize, then re-cut to 2·degree: a pure kNN DIgraph is
    // poorly navigable (a point can be in many nodes' top-k yet have
    // its own edges point elsewhere — walks get trapped); NSW/HNSW
    // add every edge's reverse and prune back to a max degree, which
    // is exactly this union + second TopKPerKey cut (cos is symmetric,
    // so the reversed edge reuses the already-computed score)
    val undirected = fwd
      .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst"),
        col("cos")))
      .distinct()
    val graph = Materialize(graft.plans.TopKPerKey(undirected, Seq("src"),
        Seq(col("cos").desc, col("dst").asc), 2 * degree)
      .select(col("src"), col("dst"))).df // every search hop iterates over it
    // entry points: nearest corpus vectors to the per-dim mean — an
    // O(n·dim) aggregate + one global top-nEntries (TakeOrdered, no
    // full sort). The 64-double mean is the only driver-side value.
    val mean = idx.corpus
      .select(posexplode(col("__cv").cast("array<double>")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(avg(col("x")).as("m"))
      .orderBy(col("i")).collect().map(_.getDouble(1))
    val entries = Materialize(idx.corpus
      .select(col("neighbor_id").as("node"),
        Similarity.cosine(col("__cv"), array(mean.map(lit(_)): _*)).as("__c"))
      .orderBy(col("__c").desc, col("node").asc)
      .limit(nEntries)
      .select(col("node"))).df
    Index(graph, entries,
      idx.corpus.select(col("neighbor_id").as("node"), col("__cv")))
  }

  /** NSW insert — the index-maintenance face [[build]] alone lacks
    * (the s13 delta-append move for the graph family): each new
    * vector beam-searches the EXISTING index for its top-`degree`
    * neighbors and connects BOTH ways (new→found and found→new).
    * Like classic batch NSW insertion, new↔new edges within one
    * delta batch are not created (every search runs against the
    * pre-insert graph — which is also what keeps the recurrence
    * exactly replayable), and found-side degrees are not re-pruned —
    * periodic rebuild/compaction restores the degree bound, the s14
    * compaction story. Deterministic: the found set is a [[search]]
    * cut ordered (cos DESC, id ASC).
    */
  def insert(idx: Index, delta: DataFrame, idCol: String, vecCol: String,
      degree: Int = 16, beam: Int = 32, hops: Int = 6): Index = {
    val found = search(idx, delta, idCol, vecCol, k = degree, beam, hops)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val graph = Materialize(idx.graph.select(col("src"), col("dst"))
      .unionByName(found)
      .unionByName(found.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()).df
    // no cast: __cv keeps the corpus's own element type (cosine casts
    // at scoring time), so the union stays schema-exact
    val corpus = Materialize(idx.corpus.unionByName(
        delta.select(col(idCol).as("node"), col(vecCol).as("__cv")))).df
    // srcBuckets = None, NOT idx.srcBuckets: the unioned in-memory
    // graph was selected down to (src, dst) — no src_bkt column, no
    // partition layout — so propagating a store-backed index's bucket
    // count would send searchPruned filtering on a column that no
    // longer exists (AnalysisException at the first hop). A post-insert
    // index serves through [[search]]; re-[[write]] it to regain the
    // pruned path.
    Index(graph, idx.entries, corpus, srcBuckets = None)
  }

  /** Greedy beam search: per query, seed the beam with the entry
    * points, then `hops` rounds of expand-score-merge-cut over a beam
    * of width `beam` (HNSW's ef — wider than k, because the walk
    * needs exploration slack beyond the answer size), finally cut to
    * the top-k. Returns (query_id, neighbor_id, cosine, rank).
    * `onHop` receives each hop's candidate frame, hop k's at the k-th
    * call (specs assert the |Q|·beam·outDegree bound on it).
    */
  def search(idx: Index, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, k: Int = 10, beam: Int = 32, hops: Int = 6,
      onHop: DataFrame => Unit = _ => ()): DataFrame =
    searchImpl(idx, queries, queryIdCol, queryVecCol, k, beam, hops, onHop,
      beamSrc => idx.graph
        .join(broadcast(beamSrc), Seq("src"))
        .select(col("query_id"), col("dst").as("node"))
        .distinct())

  /** [[search]] against a STORE-BACKED index ([[write]]/[[read]]) —
    * the IvfIndex `searchPruned` move for graph adjacency: each hop
    * first collects the beam's distinct source ids (driver-bounded by
    * |Q|·beam — never corpus-scale) and statically filters the stored
    * graph on their `src_bkt` partitions + the ids themselves, so the
    * per-hop scan reads only the adjacency directories the walk
    * actually probes. Results are identical to [[search]]
    * (spec-asserted, with scan metrics proving the pruning).
    */
  def searchPruned(idx: Index, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, k: Int = 10, beam: Int = 32, hops: Int = 6,
      onHop: DataFrame => Unit = _ => ()): DataFrame = {
    val n = idx.srcBuckets.getOrElse(throw new IllegalArgumentException(
      "searchPruned needs a store-backed index (GraphAnn.read)"))
    searchImpl(idx, queries, queryIdCol, queryVecCol, k, beam, hops, onHop,
      beamSrc => {
        val srcs = beamSrc.select(col("src")).distinct()
          .collect().map(_.getLong(0)) // ≤ |Q|·beam rows by construction
        val bkts = srcs.map(s => ((s % n) + n) % n).distinct
        idx.graph
          .where(col("src_bkt").isin(bkts: _*) && col("src").isin(srcs: _*))
          .join(broadcast(beamSrc), Seq("src"))
          .select(col("query_id"), col("dst").as("node"))
          .distinct()
      })
  }

  private def searchImpl(idx: Index, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, k: Int, beam: Int, hops: Int,
      onHop: DataFrame => Unit,
      expand: DataFrame => DataFrame): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).cast("array<double>").as("__qv")))
    val cvec = idx.corpus
    // score a (query_id, node) candidate frame: corpus streams past
    // the broadcast candidates — no corpus shuffle, ever
    def score(cand: DataFrame): DataFrame =
      cvec.join(broadcast(cand), Seq("node"))
        .join(q, Seq("query_id"))
        .where(col("node") =!= col("query_id"))
        .select(col("query_id"), col("node"),
          Similarity.cosine(col("__qv"), col("__cv")).as("cos"))
    def topB(df: DataFrame): DataFrame =
      graft.plans.TopKPerKey(df, Seq("query_id"),
        Seq(col("cos").desc, col("node").asc), beam)
    // each hop reads the beam twice (expand, merge): init
    // materialized, stride 1
    val init = Materialize(topB(score(
        q.select(col("query_id")).crossJoin(broadcast(idx.entries))))).df
    val beamDf = Fixpoint.iterate(init, hops) { prev =>
      val cand = expand(
        prev.select(col("query_id"), col("node").as("src")))
      onHop(cand)
      // merge is idempotent: a re-derived beam row is an exact
      // duplicate (same deterministic cos bits), collapsed by distinct
      topB(prev.unionByName(score(cand)).distinct())
    }.last
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("node").asc)
    beamDf.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("node").as("neighbor_id"),
        col("cos").as("cosine"), col("rank"))
  }
}
