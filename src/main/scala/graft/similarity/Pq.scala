package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product quantization (Jégou, Douze, Schmid — "Product Quantization
  * for Nearest Neighbor Search", IEEE TPAMI 2011, public literature):
  * split each d-dim vector into `m` contiguous subvectors and quantize
  * each subspace with its OWN k-entry k-means codebook. A vector then
  * stores as m small codes — m bytes at k ≤ 256 — instead of d floats
  * (32× smaller at d=64, m=8 vs float32), and approximate dot products
  * evaluate by ADC (asymmetric distance computation): the query builds
  * one m×k lookup table of subspace dot products, after which EVERY
  * candidate scores as m integer-indexed table lookups plus a short
  * sum — no per-candidate float vector math at all.
  *
  * This is the quantization family's third rung after per-vector int8
  * (s05/s06, 4×): PQ reaches 32× because the codebook carries the
  * geometry once instead of per-vector scales. At 100 TB the codes
  * table is the only corpus-sized artifact (8 bytes/vector vs 256),
  * the codebook is a driver literal (m·k·subDim doubles ≈ 8 KB), and
  * the fit is BOUNDED — the [[Similarity.IvfIndex.build]] discipline:
  * k-means sees at most `maxFitVectors` sampled rows, so index
  * construction costs the same at any corpus size.
  *
  * Engine-reproducibility discipline (the s03/s05 rules): code
  * assignment is an argmin over squared distances evaluated in
  * [[Similarity.IvfIndex.sqDist]]'s exact operation order with a
  * (distance, code) tie-break, and every ADC table term is rounded and
  * quantized to DECIMAL(28,12) before the sum — so the approximate
  * scores themselves (not just the re-ranked results) are
  * order-independent-exact and hash-comparable across engines.
  *
  * Reference trace: the reference stores raw rows in Postgres/DuckDB
  * (create_tables_duckdb.sql:1-36) and has no vector surface; this is
  * part of the LLM-pipeline extension the builder brief mandates.
  */
final case class PqCodebook(subDim: Int, codebooks: Seq[Seq[Seq[Double]]]) {
  def m: Int = codebooks.length
  def k: Int = codebooks.head.length
  def dim: Int = m * subDim

  private def sub(v: Column, j: Int): Column =
    slice(v, j * subDim + 1, subDim)

  /** Squared distance of subvector `j` to a literal centroid, in
    * [[Similarity.IvfIndex.sqDist]]'s exact operation order —
    * dot(v,v) − 2·dot(v,c) + Σc² with sequential left-to-right sums —
    * so the DuckDB oracle can replay assignment bit-exactly.
    */
  private def subSqDist(v: Column, j: Int, ctr: Seq[Double]): Column = {
    val sv = sub(v, j)
    Similarity.dot(sv, sv) - lit(2.0) * Similarity.dot(sv, typedLit(ctr)) +
      lit(ctr.map(x => x * x).sum)
  }

  /** Per-subspace nearest-code assignment: `array<int>` of length m.
    * Ties break to the lowest code. Backed by the native codegen
    * expression [[graft.functions.PqEncode]] — the declarative
    * formulation (k sorted structs × m subspaces, each distance an
    * inline dot) unrolls to m·k sub-expressions and breaks janino's
    * 64 KB method limit at m=16, dropping the stage out of codegen;
    * the native loop is constant code size for any (m, k) and
    * evaluates the same (d, c)-tie-broken argmin in the same
    * operation order (see [[subSqDist]]).
    */
  def encode(v: Column): Column =
    graft.functions.PqEncode.encode(v, subDim, codebooks)

  /** The declarative (built-ins only) encode — retained as the
    * semantic reference [[graft.functions.PqEncode]] is spec-checked
    * against; usable where codebooks are small.
    */
  def encodeDeclarative(v: Column): Column = {
    val vd = v.cast("array<double>")
    array((0 until m).map { j =>
      element_at(array_sort(array(codebooks(j).zipWithIndex.map {
        case (ctr, c) => struct(subSqDist(vd, j, ctr).as("d"), lit(c).as("c"))
      }: _*)), 1).getField("c")
    }: _*)
  }

  /** The ADC lookup table for one query vector: the m×k array of raw
    * subspace dot products dot(q_j, C[j][c]), computed ONCE per query
    * by the native codegen [[graft.functions.PqLut]] (the inline-dot
    * formulation breaks janino's 64 KB limit at m=16). Terms stay raw
    * doubles: each is a sequential-sum dot over identical inputs, so
    * it is bit-identical in any engine, and [[adcDot]] folds them in
    * fixed subspace order — no intermediate rounding anywhere (a
    * per-term round-to-decimal was measured to disagree by one ulp at
    * digit 12 between engines, which a final 6-digit round then
    * amplifies when a sum lands on a half).
    */
  def lut(qv: Column): Column =
    graft.functions.PqLut.lut(qv, subDim, codebooks)

  /** Approximate dot(query, candidate) from the query's LUT and the
    * candidate's codes: Σ_j lut[j][codes[j]] — m array lookups and a
    * fixed-order (j ascending, left-to-right) double sum per
    * candidate. The oracle replays the same fold order, so even the
    * approximate candidate cut is hash-checkable.
    */
  def adcDot(lutCol: Column, codes: Column): Column =
    (0 until m).map { j =>
      element_at(element_at(lutCol, j + 1), element_at(codes, j + 1) + 1)
    }.reduce(_ + _)
}

object PqCodebook {

  /** Fit the m per-subspace codebooks (seeded MLlib k-means per
    * subspace) on a BOUNDED uniform sample — at most ~`maxFitVectors`
    * rows, the [[Similarity.IvfIndex.build]] discipline — so the fit
    * costs the same at 100 TB as at 100 GB. The sample is cached once
    * and reused by all m fits.
    */
  def fit(
      corpus: DataFrame,
      vecCol: String,
      m: Int = 8,
      k: Int = 16,
      seed: Long = 42L,
      maxFitVectors: Long = 1L << 16): PqCodebook = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val c = corpus.select(col(vecCol).cast("array<double>").as("__v"))
    val dim = c.select(size(col("__v"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val total = c.count()
    val fraction =
      if (total > maxFitVectors) maxFitVectors.toDouble / total else 1.0
    val books = graft.Pin.during(
        if (fraction < 1.0) c.sample(fraction, seed) else c) { sampled =>
      sampled.count()
      (0 until m).map { j =>
        val fitInput = sampled.select(
          array_to_vector(slice(col("__v"), j * subDim + 1, subDim))
            .as("features"))
        // seed varies per subspace so identical subspace distributions
        // don't collapse to identical codebooks
        val model = new KMeans().setK(k).setSeed(seed + j)
          .setFeaturesCol("features").fit(fitInput)
        model.clusterCenters.map(_.toArray.toSeq).toSeq
      }
    }
    PqCodebook(subDim, books.toSeq)
  }
}
