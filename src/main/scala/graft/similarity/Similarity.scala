package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and random-hyperplane
  * LSH bucketing as the approximate scale path.
  *
  * Scale design: brute-force is queries × corpus — correct whenever the
  * query set is small enough to broadcast (the common "probe a handful"
  * case: the corpus streams, never shuffles). The LSH path replaces the
  * product with a shuffle on bucket keys, the standard SimHash-style
  * ANN layout; recall is tuned by (planes, tables). All vector math is
  * `zip_with`/`aggregate` column expressions over doubles — no UDFs.
  */
object Similarity {

  /** Cosine similarity of two numeric arrays (as doubles; 0.0 when
    * either norm is 0). Backed by the native codegen expression
    * [[graft.functions.VectorExpressions.CosineSimilarity]] — a tight
    * Java loop over ArrayData inside whole-stage codegen (the
    * higher-order-function formulation evaluates interpreted, which
    * dominates the pair-join inner loop at scale). Sequential
    * left-to-right double sums, so results are engine-reproducible.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine(
      a.cast("array<double>"), b.cast("array<double>"))

  /** Dot product (doubles, sequential sum; native codegen expression). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(
      a.cast("array<double>"), b.cast("array<double>"))

  /** Exact top-k cosine neighbors for every query vector.
    *
    * `queries` must be small (it is broadcast): the corpus side then
    * never shuffles for the join — each corpus partition streams past
    * the in-memory query set, and the per-query top-k is a
    * rank-window on (query id) whose shuffle carries only
    * (queryId, corpusId, score) triples, not vectors.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv")))
    // Round-robin exchange so the corpus streams across all cores even
    // from a single-row-group parquet file.
    val c = corpus.select(col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val scored = q.crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Fixed random hyperplanes: `tables` independent sets of `planes`
    * unit-less Gaussian directions, seeded deterministically — the same
    * planes on every executor and every run. Materialized once as a
    * literal (tables × planes × dim doubles ≈ a few KB for dim 64).
    */
  def hyperplanes(dim: Int, planes: Int, tables: Int, seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(tables, planes, dim)(rng.nextGaussian())
  }

  /** One LSH bucket key per table for a vector: table index + the sign
    * bit of the dot product against each of that table's hyperplanes.
    * Two vectors share a bucket in table t iff all `planes` sign bits
    * agree — P[collide] = (1 - θ/π)^planes for angle θ.
    *
    * Backed by the fused native expression
    * [[graft.functions.HyperplaneBuckets]] (one tables × planes × dim
    * loop); [[hyperplaneBucketsColumns]] is the staged-column
    * formulation it is spec-gated bit-identical to.
    */
  def hyperplaneBuckets(
      vec: Column,
      dim: Int,
      planes: Int,
      tables: Int,
      seed: Long = 42L): Column =
    graft.functions.HyperplaneBuckets(
      vec.cast("array<double>"), hyperplanes(dim, planes, tables, seed))

  /** The per-plane column formulation (tables × planes `graft_dot`
    * calls + concat) — kept as the independent reference the native
    * expression is tested against.
    */
  private[graft] def hyperplaneBucketsColumns(
      vec: Column,
      dim: Int,
      planes: Int,
      tables: Int,
      seed: Long = 42L): Column = {
    val hp = hyperplanes(dim, planes, tables, seed)
    val perTable = hp.zipWithIndex.map { case (tablePlanes, t) =>
      val bits = tablePlanes.map { plane =>
        when(dot(vec, typedLit(plane)) >= 0, lit("1")).otherwise(lit("0"))
      }
      concat(lit(s"$t:") +: bits: _*)
    }
    array(perTable: _*)
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * (MLlib, seeded, fit on a corpus sample) partitions the corpus into
    * `nLists` inverted lists; each query probes its `nProbe` nearest
    * centroids and ranks only those lists with exact cosine.
    *
    * Scale shape: the fit touches a bounded sample; assignment is one
    * narrow pass (centroid table is a literal); the probe join shuffles
    * on the list id — queries × (corpus/nLists × nProbe) work instead
    * of queries × corpus. Store the corpus partitioned by `ivf_list`
    * and the probe join prunes partitions too.
    */
  /** A built IVF index: the coarse centroids plus the list-assigned
    * (and cached) corpus. Build once, serve many queries — index
    * construction is the amortized cost, exactly like any ANN index.
    */
  final case class IvfIndex(
      centroids: Seq[Seq[Double]],
      listed: DataFrame) {

    // nearest-centroid ranking as a column expression over the literal
    // centroid table: sort (distance, index) structs — linear-size
    // expression tree (a pairwise argmin reduce would duplicate the
    // accumulated struct per level and blow up exponentially)
    private[similarity] def rankedLists(v: Column): Column =
      array_sort(array(centroids.zipWithIndex.map { case (ctr, i) =>
        struct(IvfIndex.sqDist(v, ctr).as("d"), lit(i).as("i"))
      }: _*)).getField("i")

    /** The `nProbe` nearest list ids for a vector column — the
      * probe-side assignment exposed so custom rankers (e.g. the s10
      * quantized two-stage scorer) can drive their own candidate
      * generation over `listed` while sharing this index's quantizer.
      */
    def probeLists(v: Column, nProbe: Int): Column =
      slice(rankedLists(v.cast("array<double>")), 1, nProbe)

    /** Probe the `nProbe` nearest lists per query, rank candidates by
      * exact cosine. Shuffles on the list id only.
      *
      * `candidateFilter` (over the list columns — build with `metaCols`
      * to carry metadata into the lists) is PRE-filtering: candidates
      * are cut before the cosine ranking, so a selective predicate
      * shrinks the scored set instead of truncating the top-k after the
      * fact (post-filtering k results against a 1%-selective predicate
      * returns ~k/100 rows; pre-filtering keeps k). On a storage-backed
      * index the predicate reaches the parquet scan of the probed
      * lists — filter pushdown composes with the list-partition
      * pruning.
      */
    def search(
        queries: DataFrame,
        queryIdCol: String,
        queryVecCol: String,
        k: Int,
        nProbe: Int = 4,
        candidateFilter: Option[Column] = None): DataFrame =
      searchImpl(queries, queryIdCol, queryVecCol, k, nProbe, prune = false,
        candidateFilter)

    /** [[search]] against a STORAGE-BACKED index ([[IvfIndex#write]] /
      * [[IvfIndex.read]]): first resolves the distinct probed list ids
      * — a driver collect bounded by `centroids.length`, never by query
      * or corpus count — and statically filters the lists relation with
      * them, so a store partitioned by `ivf_list` scans only the probed
      * directories. The serving trade: one extra queries-sized job buys
      * skipping the corpus-sized scan. Results are identical to
      * [[search]] (spec-asserted, scan metrics prove the pruning).
      */
    def searchPruned(
        queries: DataFrame,
        queryIdCol: String,
        queryVecCol: String,
        k: Int,
        nProbe: Int = 4,
        candidateFilter: Option[Column] = None): DataFrame =
      searchImpl(queries, queryIdCol, queryVecCol, k, nProbe, prune = true,
        candidateFilter)

    /** Radius (range) search: every indexed neighbor with exact
      * cosine ≥ `threshold`, probing the `nProbe` nearest lists per
      * query — the companion API to the top-k [[search]] (dedup and
      * link-discovery pipelines ask "everything this similar", not
      * "the 10 most similar"; a k cap silently truncates dense
      * neighborhoods). Same candidate generation and shuffle shape as
      * [[search]] (one list-id equi-join, no window at all — radius
      * needs no per-query ranking), same recall contract: exact
      * within the probed lists, total when nProbe = nLists
      * (spec-asserted against the brute-force filter).
      */
    def searchRadius(
        queries: DataFrame,
        queryIdCol: String,
        queryVecCol: String,
        threshold: Double,
        nProbe: Int = 4): DataFrame = {
      val q = queries.select(col(queryIdCol).as("query_id"),
        col(queryVecCol).cast("array<double>").as("__qv"))
      val probed = q.withColumn("ivf_list",
          explode_outer(slice(rankedLists(col("__qv")), 1, nProbe)))
        .where(col("ivf_list").isNotNull)
      probed.join(listed, Seq("ivf_list"))
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("__qv"), col("__cv")).as("cosine"))
        .where(col("cosine") >= lit(threshold))
    }

    private def searchImpl(
        queries: DataFrame,
        queryIdCol: String,
        queryVecCol: String,
        k: Int,
        nProbe: Int,
        prune: Boolean,
        candidateFilter: Option[Column] = None): DataFrame = {
      val q = queries.select(col(queryIdCol).as("query_id"),
        col(queryVecCol).cast("array<double>").as("__qv"))
      // explode_outer throughout this file: a non-outer explode of a
      // computed array makes the optimizer infer a size/notnull filter
      // that re-evaluates the (native, per-row-expensive) bucket/rank
      // expression a second time; these arrays are never empty, so
      // outer + an isNotNull guard is semantics-identical
      val probed = q.withColumn("ivf_list",
          explode_outer(slice(rankedLists(col("__qv")), 1, nProbe)))
        .where(col("ivf_list").isNotNull)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      val filtered = candidateFilter.fold(listed)(listed.where)
      val lists =
        if (prune) {
          // ≤ nLists values by construction — the one bounded collect
          val ids = probed.select(col("ivf_list")).distinct()
            .collect().map(_.getInt(0)).toSeq
          filtered.where(col("ivf_list").isin(ids: _*))
        } else filtered
      probed.join(lists, Seq("ivf_list"))
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("__qv"), col("__cv")).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
    }

    /** Fold a delta batch into the index WITHOUT refitting: new
      * vectors are assigned to their nearest EXISTING centroid — the
      * quantizer is frozen, the standard serving-index maintenance
      * contract (refits are rare rebuild-scale events; appends are
      * cheap and continuous, the d09/t33 "continuous corpus" loop for
      * ANN). Cost is one narrow assignment pass over the delta + a
      * union — O(|delta|), independent of how much is already indexed.
      * On a persisted index the identical assignment appends files
      * into the existing `ivf_list=` partitions. Exactness: appending
      * equals assigning the full corpus under the same centroids
      * (per-vector assignment is independent), oracle-proven by s13
      * and spec-proven in SimilaritySpec.
      */
    def append(
        delta: DataFrame,
        idCol: String,
        vecCol: String,
        metaCols: Seq[String] = Nil): IvfIndex = {
      val d = delta.select(col(idCol).as("neighbor_id") +:
        col(vecCol).cast("array<double>").as("__cv") +:
        metaCols.map(col): _*)
        .withColumn("ivf_list", element_at(rankedLists(col("__cv")), 1))
      copy(listed = listed.unionByName(d))
    }

    /** Persist the index for serving: the inverted lists land
      * PARTITIONED BY `ivf_list` (one directory per list, so a probe's
      * list keys prune storage partitions instead of scanning the
      * corpus) plus a tiny centroid table. [[IvfIndex.read]] restores a
      * serving-equivalent index — same `search` results, storage-backed
      * lists. This is the 100 TB shape: the in-memory `.cache()` of
      * [[IvfIndex.build]] is a single-session residency; a written
      * index is the durable artifact every later session serves from.
      */
    def write(path: String): Unit = {
      val spark = listed.sparkSession
      import spark.implicits._
      // all list columns persist (id, vector, any metaCols), so a
      // restored index serves filtered searches too
      listed.write.mode("overwrite").partitionBy("ivf_list")
        .parquet(s"$path/lists")
      centroids.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("list_id", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    }

    /** Logical deletion — the third face of index maintenance (build /
      * [[append]] / delete, the full CRUD loop of a serving index): the
      * deleted ids anti-join out of the lists relation, so every
      * subsequent [[search]]/[[searchPruned]] on the returned index
      * excludes them. The delete set is broadcast (a delete batch is
      * operationally tiny next to the corpus), the lists side never
      * shuffles, and on a storage-backed index the `ivf_list` partition
      * pruning still reaches the scan — Catalyst pushes the static
      * list filter below the anti-join. Nothing is rewritten here;
      * [[IvfIndex.compactStore]] is the rare scheduled rewrite, exactly
      * the tombstone-then-compact contract of Lucene segment deletes
      * and Delta deletion vectors.
      */
    def delete(delIds: DataFrame, idCol: String): IvfIndex =
      copy(listed = listed.join(
        broadcast(delIds.select(col(idCol).as("neighbor_id")).distinct()),
        Seq("neighbor_id"), "left_anti"))
  }

  object IvfIndex {
    /** Restore a written index ([[IvfIndex#write]]). The lists stay
      * storage-backed (NOT cached): each probe join carries the list
      * id, and because the files are partitioned by `ivf_list`, the
      * scan reads only the probed directories — partition pruning is
      * the disk-side analogue of the in-memory index's list lookup.
      */
    def read(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
      val ctrs = spark.read.parquet(s"$path/centroids")
        .select(col("list_id"), col("centroid"))
        .collect()
        .sortBy(_.getInt(0))
        .map(_.getSeq[Double](1).toSeq)
        .toSeq
      val lists = spark.read.parquet(s"$path/lists")
      // tombstones (deleteFromStore) apply at restore time: a broadcast
      // anti-join over the delete set — the read-side half of the
      // tombstone-then-compact contract. The `ivf_list` static filter
      // of searchPruned pushes below this join, so partition pruning
      // on the store survives pending deletes.
      val withTomb =
        if (hasTombstones(spark, path))
          lists.join(broadcast(spark.read.parquet(s"$path/tombstones")
              .select(col("neighbor_id")).distinct()),
            Seq("neighbor_id"), "left_anti")
        else lists
      IvfIndex(ctrs, withTomb)
    }

    private[similarity] def fsFor(spark: org.apache.spark.sql.SparkSession,
        path: String): org.apache.hadoop.fs.FileSystem =
      new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)

    private[similarity] def hasTombstones(
        spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
      fsFor(spark, path).exists(
        new org.apache.hadoop.fs.Path(s"$path/tombstones"))

    /** Record deletions against a WRITTEN index without touching its
      * list files: the ids land as an APPEND-mode tombstone batch that
      * [[read]] anti-joins out at restore time. Append (not merge)
      * keeps each delete an O(|batch|) file write regardless of how
      * many tombstones already exist — duplicate tombstones are
      * harmless to the anti-join, and deleting an id the index never
      * held is a no-op by the same algebra. The id column must be the
      * index's id type.
      */
    def deleteFromStore(delIds: DataFrame, idCol: String,
        path: String): Unit =
      delIds.select(col(idCol).as("neighbor_id")).distinct()
        .coalesce(1).write.mode("append").parquet(s"$path/tombstones")

    /** The rare scheduled rewrite that makes tombstones physical: only
      * the `ivf_list` partitions that actually CONTAIN a deleted id are
      * rewritten (surviving rows written to a staging dir, then swapped
      * in with filesystem renames); untouched partitions keep their
      * exact files, and the tombstone set is cleared. At 100 TB this is
      * the whole point — a delete batch touches a handful of lists, so
      * compaction cost scales with the affected lists, not the index.
      * Results before and after compaction are identical
      * (spec-asserted), because the anti-join and the rewrite remove
      * the same rows.
      */
    def compactStore(spark: org.apache.spark.sql.SparkSession,
        path: String): Unit = {
      if (!hasTombstones(spark, path)) return
      val fs = fsFor(spark, path)
      val tomb = spark.read.parquet(s"$path/tombstones")
        .select(col("neighbor_id")).distinct()
      val lists = spark.read.parquet(s"$path/lists")
      // bounded by the list count (≤ nLists values), never corpus size
      val affected = lists.join(broadcast(tomb), Seq("neighbor_id"),
          "left_semi")
        .select(col("ivf_list")).distinct()
        .collect().map(_.getInt(0)).toSeq
      if (affected.nonEmpty) {
        val staging = s"$path/lists_compacting"
        val retired = s"$path/lists_retired"
        lists.where(col("ivf_list").isin(affected: _*))
          .join(broadcast(tomb), Seq("neighbor_id"), "left_anti")
          .write.mode("overwrite").partitionBy("ivf_list").parquet(staging)
        // retire-then-swap, never delete-then-rename: the old partition
        // moves aside BEFORE the staged one moves in, so no crash
        // window destroys data — an interruption leaves either the old
        // dir in place (swap not started), or the rows intact under
        // lists_retired/ (recoverable by moving back), and the
        // tombstone set — cleared only after every swap landed — still
        // guards correctness because read() keeps anti-joining it
        // a leftover retired/ dir from a CRASHED earlier compaction
        // would make the renames below silently no-op (Hadoop rename
        // returns false into an existing destination) — clear it
        // first; the tombstones it predates are still pending, so
        // correctness never depended on it
        fs.delete(new org.apache.hadoop.fs.Path(retired), true)
        fs.mkdirs(new org.apache.hadoop.fs.Path(retired))
        def renameOrFail(src: org.apache.hadoop.fs.Path,
            dst: org.apache.hadoop.fs.Path): Unit =
          if (!fs.rename(src, dst)) throw new java.io.IOException(
            s"compactStore: rename $src -> $dst failed; store left " +
              "consistent (tombstones still pending, reads unaffected)")
        affected.foreach { id =>
          val oldDir = new org.apache.hadoop.fs.Path(s"$path/lists/ivf_list=$id")
          val newDir = new org.apache.hadoop.fs.Path(s"$staging/ivf_list=$id")
          renameOrFail(oldDir,
            new org.apache.hadoop.fs.Path(s"$retired/ivf_list=$id"))
          // a fully-deleted list simply has no staged dir to move in
          if (fs.exists(newDir)) renameOrFail(newDir, oldDir)
        }
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
        fs.delete(new org.apache.hadoop.fs.Path(retired), true)
        fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      } else {
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
      }
    }

    private[similarity] def sqDist(v: Column, ctr: Seq[Double]): Column = {
      val lit2 = typedLit(ctr)
      dot(v, v) - lit(2.0) * dot(v, lit2) + lit(ctr.map(x => x * x).sum)
    }

    /** Corpus-proportional list count: ~`targetListSize` vectors per
      * list with a floor of 16 and a 4096 cap (the centroid table is a
      * broadcast literal; 4096 × 64 doubles ≈ 2 MB keeps it one). This
      * is the published IVF scaling policy — nLists grows WITH the
      * corpus so per-list cardinality, the unit of probe work and of
      * SemDeDup's within-cluster pairing, stays bounded at any scale —
      * and `build(nLists = 0)` applies it from the measured corpus
      * count. All sf fixtures land on the floor (16), so adaptivity
      * changes nothing at test scale and everything at 10×+.
      */
    def adaptiveNLists(total: Long, targetListSize: Long = 300L): Int =
      math.max(16L, math.min(4096L, total / targetListSize)).toInt

    /** Fit the coarse quantizer (MLlib k-means, seeded) and materialize
      * the inverted lists. The fit input is BOUNDED by default: at most
      * ~`maxFitVectors` rows (a uniform sample whose fraction is
      * computed from the corpus count), so index construction costs the
      * same at 100 TB as at 100 GB — a full-corpus k-means fit is the
      * one step that would not survive a 100× scale-up. A k-means
      * quantizer estimates nLists cluster centers; a bounded uniform
      * sample ≫ nLists estimates the same centers (recall is
      * spec-gated at the sampled fit in SimilaritySpec).
      * `fitSampleFraction` < 1 further tightens the sample manually.
      *
      * The assigned corpus is cached — the in-memory residency of a
      * serving index. At 100 TB, persist `listed` partitioned by
      * `ivf_list` instead, so probes prune storage partitions.
      */
    def build(
        corpus: DataFrame,
        corpusIdCol: String,
        corpusVecCol: String,
        nLists: Int = 16,
        fitSampleFraction: Double = 1.0,
        seed: Long = 42L,
        maxFitVectors: Long = 1L << 16,
        metaCols: Seq[String] = Nil): IvfIndex = {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      // metaCols ride along into the lists so a search can pre-filter
      // candidates on metadata (filtered ANN) without a corpus join
      val c = corpus.select(col(corpusIdCol).as("neighbor_id") +:
        col(corpusVecCol).cast("array<double>").as("__cv") +:
        metaCols.map(col): _*)
      // one count() job at build time (amortized across every query the
      // index serves) buys a scale-independent fit AND the adaptive
      // list count (nLists = 0 → [[adaptiveNLists]])
      val total = c.count()
      val k = if (nLists > 0) nLists else adaptiveNLists(total)
      val capFraction =
        if (total > maxFitVectors) maxFitVectors.toDouble / total else 1.0
      val fraction = math.min(fitSampleFraction, capFraction)
      val fitInput = (if (fraction < 1.0) c.sample(fraction, seed) else c)
        .withColumn("features", array_to_vector(col("__cv")))
      val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
        .fit(fitInput)
      val centroids: Seq[Seq[Double]] = model.clusterCenters.map(_.toArray.toSeq).toSeq
      val idx = IvfIndex(centroids, listed = null)
      val listed = c
        .withColumn("ivf_list", element_at(idx.rankedLists(col("__cv")), 1))
        .cache()
      listed.count() // materialize the lists eagerly
      idx.copy(listed = listed)
    }
  }

  /** One-shot IVF top-k (builds a throwaway index; prefer
    * [[IvfIndex.build]] + `search` when serving many query batches).
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 4,
      fitSampleFraction: Double = 1.0,
      seed: Long = 42L,
      maxFitVectors: Long = 1L << 16): DataFrame =
    IvfIndex.build(corpus, corpusIdCol, corpusVecCol, nLists, fitSampleFraction,
        seed, maxFitVectors)
      .search(queries, queryIdCol, queryVecCol, k, nProbe)

  /** Approximate top-k via hyperplane LSH: candidates are corpus
    * vectors sharing ≥1 bucket with the query in any table; exact
    * cosine then ranks the candidates. Shuffles on bucket keys only.
    * Recall < 1 by construction; raise `tables` (more candidates) or
    * lower `planes` (wider buckets) to trade cost for recall.
    */
  /** Mean per-query recall of an approximate top-k result against the
    * exact ground truth: |approx ∩ exact| / |exact|, averaged over the
    * queries present in `exact`. Both frames use the (query_id,
    * neighbor_id) shape every top-k function here emits. Queries the
    * approximate path missed entirely count as recall 0, not holes.
    *
    * An ANN configuration without a measured recall is not a finished
    * component — this is the measurement.
    */
  /** Margin-based bitext scoring (Artetxe–Schwenk '19, the "ratio"
    * margin): for every candidate pair (x, y) across two vector sets,
    *
    *   margin(x, y) = cos(x, y) / (mean_k cos(x, NN_k(x)) / 2
    *                             + mean_k cos(y, NN_k(y)) / 2)
    *
    * — the absolute-cosine mining rule's fix for hubness: a pair
    * scores high only when its similarity stands OUT of both points'
    * neighborhoods, which is what separates a translation pair from a
    * generic semantic neighbor. Inputs are the two DIRECTED candidate
    * frames (x-side queries against y-side neighbors and vice versa —
    * from [[IvfIndex.searchRadius]] over a shared index, or brute
    * force), so the caller owns the candidate-generation recall
    * trade; this function owns the margin algebra.
    *
    * Determinism: cosines are quantized to e-6 BIGINTs up front
    * (round — the s03 boundary discipline), so the k-NN sums are
    * exact integer folds (order-free at any partitioning) and the
    * final margin is ONE IEEE division of two exact integers — the
    * g01 recurrence discipline applied to a score, bit-identical
    * cross-engine. A neighborhood with FEWER than k candidates (easy
    * under pruned candidate generation — an IVF probe budget can
    * return < k opposite-side neighbors) divides by its ACTUAL
    * count, not k: margin = cos/(Σ_q/(2·n_q) + Σ_n/(2·n_n)) =
    * 2·n_q·n_n·cos / (Σ_q·n_n + Σ_n·n_q) — the Artetxe–Schwenk mean
    * of what the neighborhood actually contains, where the fixed-2k
    * form UNDERestimated sparse neighborhoods' means and inflated
    * their margins (r14 advice). With both sides at k the two forms
    * coincide. Pairs whose count-weighted denominator is ≤ 0
    * (degenerate all-negative neighborhoods) are dropped, the ksTail
    * rule (Spark's x/0.0 is ±Inf where DuckDB's is NULL).
    *
    * Scale shape: two windows keyed by the data-scale query id, two
    * keyed aggregates, two 8-byte equi-joins back to the candidate
    * frame — no cross join, no driver state; candidate volume is the
    * index's probe budget, not |A|×|B|.
    */
  def marginScores(candAB: DataFrame, candBA: DataFrame,
      k: Int): (DataFrame, DataFrame) = {
    require(k >= 1, s"marginScores requires k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    def quant(c: DataFrame): DataFrame = c.select(
      col("query_id"), col("neighbor_id"),
      round(col("cosine") * lit(1000000.0), 0).cast("long").as("__ce6"))
    def kSums(c: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("__ce6").desc, col("neighbor_id").asc)
      c.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= k)
        .groupBy(col("query_id")).agg(sum(col("__ce6")).as("__sk"),
          count(lit(1)).as("__nk")) // actual neighborhood size ≤ k
    }
    val ca = graft.Materialize(quant(candAB)).df // sums AND pair scores
    val cb = graft.Materialize(quant(candBA)).df
    val ka = kSums(ca)
    val kb = kSums(cb)
    def scored(pairs: DataFrame, qSums: DataFrame,
        nSums: DataFrame): DataFrame =
      pairs
        .join(qSums.select(col("query_id"), col("__sk").as("__skq"),
          col("__nk").as("__nkq")), Seq("query_id"))
        .join(nSums.select(col("query_id").as("neighbor_id"),
          col("__sk").as("__skn"), col("__nk").as("__nkn")),
          Seq("neighbor_id"))
        .where(col("__skq") * col("__nkn") + col("__skn") * col("__nkq")
          > 0L)
        .select(col("query_id"), col("neighbor_id"), col("__ce6"),
          expr("CAST(__ce6 * 2L * __nkq * __nkn AS DOUBLE)" +
            " / CAST(__skq * __nkn + __skn * __nkq AS DOUBLE)")
            .as("margin"))
    (scored(ca, ka, kb), scored(cb, kb, ka))
  }

  def recallAtK(exact: DataFrame, approx: DataFrame): Double = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val hits = e.join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hit"))
    val row = e.groupBy(col("query_id")).agg(count(lit(1)).as("n"))
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("hit"))
      .agg(avg(col("hit").cast("double") / col("n")).as("recall"))
      .collect()(0)
    if (row.isNullAt(0)) 1.0 else row.getDouble(0)
  }

  /** A built hyperplane-LSH index: the corpus's (bucket, id) pairs and
    * its (id, vector) projection, both cached — like [[IvfIndex]], the
    * bucket construction (64 dots + 16 bucket keys per vector here) is
    * the amortized build cost of a serving index, paid once per corpus
    * rather than per query batch. At 100 TB, persist `buckets`
    * partitioned by bucket prefix instead of caching.
    */
  final case class LshIndex(
      dim: Int, planes: Int, tables: Int, seed: Long,
      buckets: DataFrame,
      corpus: DataFrame) {

    /** Approximate top-k for a (small, broadcastable) probe set against
      * the indexed corpus — identical semantics to [[lshTopK]]: bucket
      * collision in any table → candidate, exact cosine ranks. Id-only
      * payloads through the join and dedup; vectors re-attach after.
      */
    def search(
        queries: DataFrame,
        queryIdCol: String,
        queryVecCol: String,
        k: Int): DataFrame =
      searchFrom(queries, queryIdCol, queryVecCol, k, buckets)

    private def searchFrom(
        queries: DataFrame,
        queryIdCol: String,
        queryVecCol: String,
        k: Int,
        bucketSide: DataFrame): DataFrame = {
      val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
      val qb = q
        .withColumn("bucket", explode_outer(hyperplaneBuckets(col("__qv"), dim, planes, tables, seed)))
        .where(col("bucket").isNotNull)
        .select(col("bucket"), col("query_id"))
      val candidates = qb.join(bucketSide, Seq("bucket"))
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"))
        .distinct()
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      candidates
        .join(broadcast(q), Seq("query_id"))
        .join(corpus, Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("__qv"), col("__cv")).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
    }

    /** [[search]] against a STORAGE-BACKED index ([[LshIndex#write]] /
      * [[LshIndex.read]]) — the IVF `searchPruned` move for the LSH
      * family: the probe set's bucket PREFIXES (table id + the first
      * [[LshIndex.prefixBits]] sign bits) resolve first — a driver
      * collect bounded by probes × tables, never by corpus size — and
      * statically filter the bucket relation, so a store partitioned by
      * `bucket_pfx` scans only the probed directories. Results are
      * identical to [[search]] (spec-asserted with scan metrics).
      */
    def searchPruned(
        queries: DataFrame,
        queryIdCol: String,
        queryVecCol: String,
        k: Int): DataFrame = {
      val q = queries.select(col(queryVecCol).as("__qv"))
      val pfxs = q
        .select(explode_outer(hyperplaneBuckets(col("__qv"), dim, planes, tables, seed)).as("bucket"))
        .where(col("bucket").isNotNull)
        .select(LshIndex.bucketPrefix(col("bucket")).as("p"))
        .distinct().collect().map(_.getString(0)).toSeq
      val pruned =
        if (buckets.columns.contains("bucket_pfx"))
          buckets.where(col("bucket_pfx").isin(pfxs: _*))
        else buckets
      searchFrom(queries, queryIdCol, queryVecCol, k, pruned)
    }

    /** Persist the index for serving: the (bucket, id) pairs land
      * PARTITIONED BY the bucket prefix — table id + the first
      * [[LshIndex.prefixBits]] sign bits, so a probe's bucket keys
      * prune storage partitions instead of scanning every pair — plus
      * the (id, vector) corpus projection. [[LshIndex.read]] restores a
      * serving-equivalent index; the in-memory `.cache()` of
      * [[LshIndex.build]] is a single-session residency, the written
      * index the durable artifact later sessions serve from.
      */
    def write(path: String): Unit = {
      buckets
        .withColumn("bucket_pfx", LshIndex.bucketPrefix(col("bucket")))
        .write.mode("overwrite").partitionBy("bucket_pfx")
        .parquet(s"$path/buckets")
      corpus.write.mode("overwrite").parquet(s"$path/corpus")
      // the build parameters ARE the index: probe buckets computed with
      // different hyperplanes than the stored ones silently return
      // wrong/empty neighbors, so (dim, planes, tables, seed) persist in
      // a one-row sidecar and read() restores them — a caller can no
      // longer re-open an index under mismatched hyperparameters
      val spark = corpus.sparkSession
      import spark.implicits._
      Seq((dim, planes, tables, seed))
        .toDF("dim", "planes", "tables", "seed")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
    }
  }

  object LshIndex {
    /** Partition-key width for stored buckets: table id + this many
      * leading sign bits. 16 tables × 2⁴ = 256 directories — coarse
      * enough to keep file counts sane, fine enough that a small probe
      * set touches a fraction of them.
      */
    val prefixBits = 4

    private[similarity] def bucketPrefix(bucket: Column): Column =
      regexp_extract(bucket, s"^(\\d+:[01]{0,$prefixBits})", 1)

    /** Restore a written index ([[LshIndex#write]]). The buckets stay
      * storage-backed (NOT cached): `searchPruned` filters on the
      * `bucket_pfx` partition column, so probe scans read only the
      * probed directories — partition pruning as the disk-side bucket
      * lookup, exactly the [[IvfIndex.read]] contract. The build
      * parameters come from the store's own sidecar, never from the
      * caller — the hyperplanes that hashed the stored buckets are the
      * only ones that can probe them.
      */
    def read(
        spark: org.apache.spark.sql.SparkSession,
        path: String): LshIndex = {
      val p = spark.read.parquet(s"$path/params").collect() match {
        case Array(row) => row
        case rows => throw new IllegalStateException(
          s"$path/params: expected exactly one parameter row, got ${rows.length}")
      }
      // tombstones (deleteFromStore) apply to BOTH relations at restore
      // time: buckets (so deleted ids stop being candidates) and corpus
      // (so they can never re-attach a vector) — same contract as
      // IvfIndex.read; the bucket_pfx partition filter of searchPruned
      // pushes below the anti-join, so pruning survives pending deletes
      def applyTomb(df: DataFrame): DataFrame =
        if (IvfIndex.hasTombstones(spark, path))
          df.join(broadcast(spark.read.parquet(s"$path/tombstones")
              .select(col("neighbor_id")).distinct()),
            Seq("neighbor_id"), "left_anti")
        else df
      LshIndex(p.getAs[Int]("dim"), p.getAs[Int]("planes"),
        p.getAs[Int]("tables"), p.getAs[Long]("seed"),
        applyTomb(spark.read.parquet(s"$path/buckets")),
        applyTomb(spark.read.parquet(s"$path/corpus")))
    }

    /** Record deletions against a WRITTEN LSH index — identical
      * append-only tombstone algebra to [[IvfIndex.deleteFromStore]]
      * (O(|batch|) file write, duplicates harmless, unknown ids no-op);
      * [[read]] anti-joins them out of buckets AND corpus.
      */
    def deleteFromStore(delIds: DataFrame, idCol: String,
        path: String): Unit =
      delIds.select(col(idCol).as("neighbor_id")).distinct()
        .coalesce(1).write.mode("append").parquet(s"$path/tombstones")

    /** Materialize the corpus buckets once (cached eagerly — the
      * index-build step every ANN serving system amortizes).
      */
    def build(
        corpus: DataFrame,
        corpusIdCol: String,
        corpusVecCol: String,
        dim: Int = 64,
        planes: Int = 10,
        tables: Int = 8,
        seed: Long = 42L): LshIndex = {
      val c = corpus.select(col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv"))
        .cache()
      val b = c
        .withColumn("bucket", explode_outer(hyperplaneBuckets(col("__cv"), dim, planes, tables, seed)))
        .where(col("bucket").isNotNull)
        .select(col("bucket"), col("neighbor_id"))
        .cache()
      b.count() // build eagerly
      LshIndex(dim, planes, tables, seed, b, c)
    }
  }

  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      dim: Int = 64,
      planes: Int = 10,
      tables: Int = 8): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
    val c = corpus.select(col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv"))
    // Bucket join and candidate dedup carry IDS ONLY (the same
    // discipline as the MinHash band join): a vector that collides in
    // several tables would otherwise drag its 64 doubles through the
    // bucket shuffle AND the distinct — per-pair payload drops from
    // ~1 KB to 16 bytes. Vectors re-attach afterwards: the query side
    // broadcasts (probe sets are small by contract), the corpus side is
    // one equi-join shuffling only the deduped candidate ids.
    val qb = q
      .withColumn("bucket", explode_outer(hyperplaneBuckets(col("__qv"), dim, planes, tables)))
      .where(col("bucket").isNotNull)
      .select(col("bucket"), col("query_id"))
    val cb = c
      .withColumn("bucket", explode_outer(hyperplaneBuckets(col("__cv"), dim, planes, tables)))
      .where(col("bucket").isNotNull)
      .select(col("bucket"), col("neighbor_id"))
    val candidates = qb.join(cb, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    candidates
      .join(broadcast(q), Seq("query_id"))
      .join(c, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  // --------------------------------------------------------- MMR re-rank

  /** Candidate row for the per-query MMR greedy. */
  private[graft] case class MmrCand(
      query_id: Long, neighbor_id: Long, cosine: Double, emb: Seq[Double])

  /** One diversified pick. */
  private[graft] case class MmrPick(
      query_id: Long, selected_id: Long, mmr_score: Double, mmr_rank: Long)

  /** Maximal-marginal-relevance diversified top-k re-rank (Carbonell &
    * Goldstein, SIGIR'98): greedily select k of the exact top-N
    * neighbors, each step maximizing
    * λ·cos(query, d) − μ·max over selected s of cos(d, s)
    * (ties → smaller id) — the serving-path step that keeps a
    * retrieval slate from collapsing onto near-duplicates.
    *
    * Two stages, both scale-shaped: the candidate cut is the broadcast
    * brute-force top-N (corpus streams, never shuffles; swap in the
    * LSH/IVF candidate path for large probe sets), then ONE
    * `flatMapGroups` over query_id runs the inherently-sequential
    * greedy on its ≤N candidate rows — distributed across queries,
    * per-query state is N rows, never the corpus. The in-group cosine
    * replicates the codegen expression's sequential sums bit-for-bit,
    * so the whole re-rank stays oracle-replayable (DuckDB reaches the
    * same picks via a recursive CTE).
    *
    * μ is a separate parameter rather than 1−λ because `1.0 - 0.7` is
    * 0.30000000000000004 in doubles — both engines must score with the
    * same literal weights for bit-equality.
    */
  def mmrRerank(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      candidates: Int = 20,
      k: Int = 5,
      lambda: Double = 0.7,
      mu: Double = 0.3): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cand = bruteForceTopK(queries, corpus, queryIdCol, queryVecCol,
      corpusIdCol, corpusVecCol, candidates)
    val withEmb = cand.join(
      corpus.select(col(corpusIdCol).as("neighbor_id"),
        col(corpusVecCol).cast("array<double>").as("emb")),
      Seq("neighbor_id"))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("cosine"), col("emb"))
      .as[MmrCand]
    withEmb.groupByKey(_.query_id).flatMapGroups { (qid, it) =>
      val cs = it.toArray
      val picks = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
      val selEmb = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
      val used = scala.collection.mutable.Set.empty[Long]
      var step = 1
      while (step <= k && used.size < cs.length) {
        var best: MmrCand = null
        var bestScore = Double.NegativeInfinity
        cs.foreach { c =>
          if (!used(c.neighbor_id)) {
            // penalty = max sim to the selected set (may be negative);
            // 0.0 before anything is selected — the oracle's
            // coalesce(MAX(..), 0.0)
            var maxSim = 0.0
            var first = true
            selEmb.foreach { e =>
              val s = cosSeq(c.emb, e)
              if (first || s > maxSim) { maxSim = s; first = false }
            }
            val score = lambda * c.cosine -
              mu * (if (selEmb.isEmpty) 0.0 else maxSim)
            if (score > bestScore || (score == bestScore
                && (best == null || c.neighbor_id < best.neighbor_id))) {
              best = c; bestScore = score
            }
          }
        }
        picks += MmrPick(qid, best.neighbor_id, bestScore, step.toLong)
        selEmb += best.emb
        used += best.neighbor_id
        step += 1
      }
      picks.iterator
    }.toDF()
  }

  /** In-group twin of the codegen cosine: same sequential sums, same
    * zero-norm rule — bit-identical to
    * [[graft.functions.VectorExpressions.CosineSimilarity]].
    */
  private def cosSeq(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
