package graft

import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String): Any =
    Seq(text).toDF("text").select(c.as("v")).collect()(0).get(0)

  test("tokens: lowercases, splits on runs of whitespace, drops empties") {
    assert(one(TextAnalysis.tokens(col("text")), "  The  QUICK\tfox ")
      == Seq("the", "quick", "fox"))
  }

  test("tokenCount and bpeish token count") {
    assert(one(TextAnalysis.tokenCount(col("text")), "a b c") == 3)
    // "don't stop, 42" -> [don]['][t][stop][,][4][2] = 7
    assert(one(TextAnalysis.bpeishTokenCount(col("text")), "don't stop, 42") == 7)
  }

  test("stopword ratio and punct ratio, empty-doc safe") {
    assert(one(TextAnalysis.stopwordRatio(col("text")), "the cat and the hat") == 0.6)
    assert(one(TextAnalysis.stopwordRatio(col("text")), "") == 0.0)
    assert(one(TextAnalysis.punctRatio(col("text")), "ab,.") == 0.5)
    assert(one(TextAnalysis.punctRatio(col("text")), "") == 0.0)
  }

  test("quality score rewards plain prose, penalizes degenerate docs") {
    val good = "the quick brown fox jumps over the lazy dog and runs far away home"
    assert(one(TextAnalysis.qualityScore(col("text")), good) == 1.0)
    // punctuation soup: fails punct + stopword + token-length legs
    val bad = "!!! ??? ;;; ,,,"
    assert(one(TextAnalysis.qualityScore(col("text")), bad)
      .asInstanceOf[Double] <= 0.5)
  }

  test("langId identifies real multilingual samples and falls back to und") {
    val samples = Seq(
      ("the cat is on the mat and it is happy", "en"),
      ("der hund ist nicht zu hause und die katze schläft", "de"),
      ("le chat est dans la maison et il est content", "fr"),
      ("el perro es grande y no es una mascota para todos", "es"),
      ("你好世界 这是一个测试", "zh"),
      ("zzz qqq xxx", "und"))
    val out = samples.map(_._1).toDF("text")
      .select(TextAnalysis.langId(col("text")).as("l"))
      .collect().map(_.getString(0)).toSeq
    assert(out == samples.map(_._2))
  }

  test("shingles: k-grams when long enough, singleton token stream when short") {
    assert(one(TextAnalysis.shingles(col("text"), 2), "a b c")
      == Seq("a b", "b c"))
    assert(one(TextAnalysis.shingles(col("text"), 5), "a b c")
      == Seq("a b c"))
  }

  test("fingerprint: identical normalized content collides, different content does not") {
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog today"),
      (2L, "the QUICK brown fox jumps over the lazy dog today"),
      (3L, "a completely different document about spark engines here")
    ).toDF("id", "text")
      .select(col("id"), TextAnalysis.fingerprint(col("text"), 8).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("repetition signals: duplicate-line fraction and bigrams") {
    val df = Seq(
      (1L, "nav\nbody text here\nnav\nfooter\nnav"),  // 3x "nav" in 5 lines
      (2L, "all\nunique\nlines"),
      (3L, ""),
      (4L, "  \n\n  ")                                // whitespace-only lines drop
    ).toDF("id", "text")
      .select(col("id"), TextAnalysis.dupLineFraction(col("text")).as("f"))
    val f = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(f(1L) == 2.0 / 5)   // 5 lines, 3 distinct -> 2 duplicates
    assert(f(2L) == 0.0 && f(3L) == 0.0 && f(4L) == 0.0)
    val bg = Seq("a b a b a").toDF("text")
      .select(TextAnalysis.bigramsOf(TextAnalysis.tokens(col("text"))).as("bg"))
      .collect()(0).getSeq[String](0)
    assert(bg == Seq("a b", "b a", "a b", "b a"))
    val short = Seq("solo", "").toDF("text")
      .select(TextAnalysis.bigramsOf(TextAnalysis.tokens(col("text"))).as("bg"))
      .collect().map(_.getSeq[String](0))
    assert(short.forall(_.isEmpty))
  }

  test("concatChunk packs shards deterministically with integer offsets") {
    val docs = Seq(
      ("en", 1L, 1000L), ("en", 2L, 1500L), ("en", 3L, 600L), ("en", 4L, 100L),
      ("de", 1L, 2048L), ("de", 2L, 1L)
    ).toDF("lang", "doc_id", "n_tokens")
    val packed = graft.operators.Pack
      .concatChunk(docs, Seq("lang"), "doc_id", "n_tokens", capacity = 2048L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // en: offsets 0,1000,2500,3100 -> packs 0,0,1,1
    assert(packed(("en", 1L)) == (0L, 0L, 0L))
    assert(packed(("en", 2L)) == (1000L, 0L, 1000L))
    assert(packed(("en", 3L)) == (2500L, 1L, 452L))
    assert(packed(("en", 4L)) == (3100L, 1L, 1052L))
    // de: second doc starts exactly at the capacity boundary -> pack 1
    assert(packed(("de", 1L)) == (0L, 0L, 0L))
    assert(packed(("de", 2L)) == (2048L, 1L, 0L))
  }

  test("bfdBinLoads matches a reference best-fit-decreasing fold (seeded sweep)") {
    // reference: the textbook rule with explicit positional bins — the
    // Catalyst fold keeps only the sorted load multiset, which must
    // evolve identically (equal loads are interchangeable)
    def refBfd(ws: Seq[Long], cap: Long): Seq[Long] = {
      val bins = scala.collection.mutable.ArrayBuffer[Long]()
      ws.sorted(Ordering[Long].reverse).foreach { w =>
        val fits = bins.zipWithIndex.filter { case (b, _) => b + w <= cap }
        if (fits.isEmpty) bins += w
        else { val i = fits.maxBy { case (b, i) => (b, -i) }._2; bins(i) += w }
      }
      bins.sorted.toSeq
    }
    val rnd = new scala.util.Random(13)
    val cases = (1 to 40).map { i =>
      val n = 1 + rnd.nextInt(40)
      // weights up to 3000 — some exceed the 2048 capacity on purpose
      // (an overfull weight must open its own bin, not loop or drop)
      (i.toLong, Seq.fill(n)(1L + rnd.nextInt(3000)))
    } :+ (0L, Seq.empty[Long])
    val out = cases.toDF("id", "ws")
      .withColumn("loads",
        graft.operators.Pack.bfdBinLoads(col("ws"), capacity = 2048L))
      .withColumn("waste",
        graft.operators.Pack.binWaste(col("loads"), capacity = 2048L))
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](2), r.getLong(3))))
      .toMap
    cases.foreach { case (id, ws) =>
      val expect = refBfd(ws, 2048L)
      assert(out(id)._1 == expect, s"case $id: ws=$ws")
      assert(out(id)._2 ==
        expect.map(b => math.max(0L, 2048L - b)).sum, s"waste $id")
    }
  }

  test("t45 epoch shuffle: every epoch is a permutation of the same corpus, layouts differ") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val out = graft.queries.Corpus.queries("t45_epoch_shuffle")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val byEpoch = out.groupBy(_._1)
    assert(byEpoch.keySet == Set(0L, 1L, 2L))
    // permutation invariant: every epoch folds to the same corpus
    // checksum (xor of bucket checksums) and the same doc count
    val folds = byEpoch.view.mapValues(rs =>
      (rs.map(_._3).sum, rs.map(_._4).reduce(_ ^ _))).toMap
    assert(folds.values.toSet.size == 1,
      s"epochs disagree on corpus membership: $folds")
    // reshuffle invariant: at least one bucket's membership checksum
    // differs between epochs (the layouts are genuinely re-dealt)
    val layout = (e: Long) => byEpoch(e).map(r => r._2 -> r._4).toMap
    assert(layout(0L) != layout(1L) && layout(1L) != layout(2L))
  }

  test("t29 unigram cross-entropy matches the hand-computed add-one LM on a tiny corpus") {
    // corpus: doc1 = "a a b", doc2 = "a c" → c(a)=3, c(b)=c(c)=1,
    // N=5, V=3; xent = ln(N+V) − Σ c_d(w)·ln(c(w)+1) / n_d with the
    // engine's per-term round-to-9 discipline
    val dir = SparkSpec.tempDir("graft_t29")
    Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the engine's e-unit discipline: per-(doc, token) terms
    // cd·ln(cw+1) at e-9 longs, summed exactly, output at e-6
    def e9(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    def e6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val ln8 = math.log(5 + 3)
    val expected = Map(
      1L -> e6(ln8 -
        (e9(2 * math.log(4)) + e9(1 * math.log(2))).toDouble / 1e9 / 3),
      2L -> e6(ln8 -
        (e9(1 * math.log(4)) + e9(1 * math.log(2))).toDouble / 1e9 / 2))
    val got = graft.queries.Corpus.t29_unigram_xent(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.keySet == expected.keySet)
    // libm ln vs the portable series: ≤1 e-unit at a rounding boundary
    expected.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) <= 1L, s"doc $k: got ${got(k)} want $v")
    }
  }

  test("t30 bigram cross-entropy matches the hand-computed conditional LM; short docs drop") {
    // doc1 = "a b a b" → bigrams (a b)×2, (b a)×1; doc2 = "b a" → (b a)×1;
    // doc3 = "z" has no bigram events and must be absent.
    // c2: (a b)=2, (b a)=2; c1: a=2, b=2; V = |{a, b}| = 2 →
    // every term is ln(2+2) − ln(2+1)
    val dir = SparkSpec.tempDir("graft_t30")
    Seq((1L, "a b a b"), (2L, "b a"), (3L, "z")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // e-unit discipline: per-(doc, bigram) terms cd·(ln(c1+V)−ln(c2+1))
    // at e-9 longs, summed exactly, output xent2_e6 at e-6
    def e9(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    def e6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val term = math.log(4) - math.log(3)
    val expected = Map(
      1L -> e6((e9(2 * term) + e9(1 * term)).toDouble / 1e9 / 3),
      2L -> e6(e9(1 * term).toDouble / 1e9 / 1))
    val got = graft.queries.Corpus.t30_bigram_xent(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) <= 1L, s"doc $k: got ${got(k)} want $v")
    }
  }

  test("native fingerprint equals the interpreted HOF formulation on real docs") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bad = docs.select(
        TextAnalysis.fingerprint(col("text"), 8).as("native"),
        TextAnalysis.fingerprintHof(col("text"), 8).as("hof"))
      .where(col("native") =!= col("hof") || col("native").isNull =!= col("hof").isNull)
    assert(bad.count() == 0)
    // edge shapes: empty text, single token, exactly k, k+1 tokens
    import spark.implicits._
    val edges = Seq("", "one", "a b c d e f g h", "a b c d e f g h i").toDF("text")
    val badEdges = edges.select(
        TextAnalysis.fingerprint(col("text"), 8).as("native"),
        TextAnalysis.fingerprintHof(col("text"), 8).as("hof"))
      .where(col("native") =!= col("hof"))
    assert(badEdges.count() == 0)
  }

  test("tertileBuckets: exact integer tertiles, even splits and tie pileups") {
    import spark.implicits._
    def label(scores: Seq[Long]): Map[Long, String] =
      graft.queries.Corpus.tertileBuckets(
        scores.zipWithIndex.map { case (x, i) => (i.toLong, 10L, x) }
          .toDF("doc_id", "n_tokens", "xent_e6"))
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // 9 distinct scores: t1 = 3rd-smallest, t2 = 6th — a clean 3/3/3
    val even = label(Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L, 90L))
    assert(Seq(0, 1, 2).forall(even(_) == "head"))
    assert(Seq(3, 4, 5).forall(even(_) == "middle"))
    assert(Seq(6, 7, 8).forall(even(_) == "tail"))
    // a tie pileup straddling a boundary goes WHOLLY to the earlier
    // bucket (t_k is a value, not a row index): scores 1,2,2,2,2,9 →
    // N=6, t1 = min{x: 3cum ≥ 6} = 2 (cum(2)=5), t2 = 2 as well
    // (3·5 ≥ 12) → the four 2s are all head, only 9 is tail
    val ties = label(Seq(1L, 2L, 2L, 2L, 2L, 9L))
    assert(Seq(0, 1, 2, 3, 4).forall(ties(_) == "head"))
    assert(ties(5L) == "tail")
  }

  test("t50 vocab budget: greedy-by-frequency crossing with the within-class ceiling") {
    import spark.implicits._
    // counts a=6 b=3 c=1, N=10: 90% needs {a,b} exactly (coverage .9);
    // 95% and 99% both need all three (coverage 1.0)
    val dir = SparkSpec.tempDir("graft_t50")
    Seq((1L, "srcA", "a a a a a a b b b c"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.Corpus.t50_vocab_budget(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(90L) === ((2L, 3L, 0.9)))
    assert(got(95L) === ((3L, 3L, 1.0)))
    assert(got(99L) === ((3L, 3L, 1.0)))
  }

  test("wordpiece encode: greedy longest-match, ## continuations, whole-word [UNK]") {
    import graft.text.WordPiece
    val v = WordPiece.Vocab(Array(
      "h", "p", "hu", "hug", "##u", "##g", "##gs", "##s"))
    // longest-match-first: "hug" beats "hu" beats "h"
    assert(v.encodeWord("hug").toSeq === Seq("hug"))
    // word-initial greed wins first ("hug" over "hu"), tail follows
    assert(v.encodeWord("hugs").toSeq === Seq("hug", "##s"))
    // continuation side is greedy too: without "hug", "##gs" beats "##g"
    val v2 = WordPiece.Vocab(v.pieces.filterNot(_ == "hug"))
    assert(v2.encodeWord("hugs").toSeq === Seq("hu", "##gs"))
    // falls back through shorter pieces
    assert(v.encodeWord("pug").toSeq === Seq("p", "##u", "##g"))
    // an unmatchable position anywhere collapses the WHOLE word
    assert(v.encodeWord("hux").toSeq === Seq(WordPiece.Unk))
    assert(v.encodeWord("xug").toSeq === Seq(WordPiece.Unk))
    assert(v.encodeWord("").toSeq === Seq.empty)
    // decode identity on non-UNK words: strip ## and rejoin
    for (w <- Seq("hug", "hugs", "pug", "h"))
      assert(v.encodeWord(w).map(_.stripPrefix("##")).mkString("") === w)
  }

  test("wordpiece train: likelihood-lift picks the rare-but-exclusive pair over the frequent one") {
    import graft.text.WordPiece
    // "ab" appears 20× but a and b are both very common elsewhere;
    // "xy" appears 4× and x/y appear ONLY together — lift must pick
    // (x, ##y) first even though (a, ##b) has 5× the raw count
    val sample = Seq(("ab", 20L), ("az", 30L), ("zb", 30L), ("xy", 4L))
    val m = WordPiece.train(sample, nMerges = 1)
    assert(m.pieces.contains("xy"), m.pieces.mkString(","))
    assert(!m.pieces.contains("ab"))
    // trained vocab encodes its own corpus without [UNK]
    val full = WordPiece.train(sample, nMerges = 8)
    for ((w, _) <- sample)
      assert(!full.encodeWord(w).contains(WordPiece.Unk), w)
  }
}
