package graft.tools

/** Scale-growth measurement for the perceptual near-dup family
  * (m07 images, m08 audio, m09 video) — these corpora are authored
  * in-query (real codec bytes), not read from the sf dirs, so
  * [[ScaleGrowth]]'s replica-dir protocol doesn't apply; this tool
  * scales the corpus-size parameter directly (same planted-group
  * density: groups of 4, so pair structure per group is constant and
  * 10× ids = 10× groups — the disjoint-copy regime). The timed path
  * is encode + decode + hash + banded join, dominated by the codec
  * work, which is embarrassingly parallel; the join is Σ|bucket|².
  *
  * Run: sbt "runMain graft.tools.MediaScale"
  */
object MediaScale {

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    import graft.multimodal.MultiModal

    def time(f: => Long): Double = {
      f // warm-up
      def once(): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }

    // the SHIPPED operators, not re-implementations — m09 in
    // particular must time the per-position rule, not a flat band join
    val sizes = Seq(500, 5000)
    val rows = Seq(
      ("m07_image", (n: Int) => time(MultiModal.bandedHammingPairs(
        MultiModal.imageDHashes(MultiModal.imageCorpus(spark, n))
          .withColumnRenamed("dhash", "h"), maxDist = 3).count())),
      ("m08_audio", (n: Int) => time(MultiModal.bandedHammingPairs(
        MultiModal.audioFingerprints(MultiModal.audioCorpus(spark, n))
          .withColumnRenamed("fp", "h"), maxDist = 3).count())),
      ("m09_video", (n: Int) => time(MultiModal.videoNearDupPairs(
        MultiModal.videoFrameDHashes(MultiModal.videoCorpus(spark, n)))
        .count()))
    ).map { case (name, run) =>
      val t1 = run(sizes.head)
      val t10 = run(sizes.last)
      val e = math.log(t10 / t1) / math.log(sizes.last.toDouble / sizes.head)
      println(f"[media-scale] $name%-12s t_1x=$t1%6.2fs t_10x=$t10%6.2fs exponent=$e%.2f")
      f"""\"$name\":{\"t1\":$t1%.3f,\"t10\":$t10%.3f,\"exponent\":$e%.3f}"""
    }
    println(s"""{"metric":"media_scale","results":${rows.mkString("{", ",", "}")}}""")
    spark.stop()
  }
}
