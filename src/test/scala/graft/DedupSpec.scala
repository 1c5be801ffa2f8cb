package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank every single morning"),
    (2L, "THE quick  brown fox jumps over the lazy dog near the old river bank every single morning"), // = 1 normalized
    (3L, "the quick brown fox jumps over the lazy dog near the old river bank every single evening"),  // near-dup of 1
    (4L, "spark executes declarative plans with whole stage codegen and adaptive query execution enabled"),
    (5L, "completely unrelated text about cooking pasta with tomatoes garlic basil and olive oil tonight")
  ).toDF("doc_id", "text")

  test("exactDedup: normalized-identical docs share a group; min id is canonical") {
    val out = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id", "group_size", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out.contains((1L, 2L, true)))
    assert(out.contains((2L, 2L, false)))
    assert(out.contains((4L, 1L, true)))
  }

  test("native MinHashSignature equals the staged-HOF formulation bit-for-bit") {
    val shSets = docs.select(col("doc_id"),
      array_distinct(graft.text.TextAnalysis.shingles(col("text"), 3)).as("sh"))
    val coeffs = Dedup.minhashCoeffs(16)
    val both = shSets.select(
      col("doc_id"),
      graft.functions.MinHashSignature(col("sh"), coeffs, Dedup.minhashP).as("native"),
      Dedup.minhashOfHashes(Dedup.shingleBaseHashes(col("sh")), 16).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"doc ${r.getLong(0)}")
    }
  }

  test("native Md5PrefixLongs equals the transform formulation for odd and even widths") {
    val toks = docs.select(graft.text.TextAnalysis.tokens(col("text")).as("toks"))
    Seq(7, 12).foreach { hexChars =>
      val both = toks.select(
        graft.functions.Md5PrefixLongs(col("toks"), hexChars).as("native"),
        transform(col("toks"),
          t => conv(substring(md5(t), 1, hexChars), 16, 10).cast("long")).as("hof"))
        .collect()
      both.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"hexChars=$hexChars"))
    }
  }

  test("minhash LSH finds the exact pair and the near-dup pair, nothing else") {
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id",
      k = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("minhashNearDups whose job fails leaves its shingle-set frame uncached") {
    // deterministic failure inside the shingle stage: the text column
    // throws for one doc_id when the verify job first computes the sets.
    // The exchange keeps the optimizer from folding the UDF over the
    // local rows at planning time, so the failure comes from the job
    val boom = udf { (id: Long, text: String) =>
      if (id == 4L) throw new IllegalStateException(s"bad doc $id") else text
    }
    val failing = docs.repartition(2)
      .withColumn("text", boom(col("doc_id"), col("text")))
    intercept[Exception] {
      Dedup.minhashNearDups(failing, "text", "doc_id", k = 3, numHashes = 16, bands = 8)
    }
    // the same plan as the operator's shingle sets, looked up in the cache
    val sets = failing.select(col("doc_id").as("id"), col("text").as("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id"),
        array_distinct(graft.text.TextAnalysis.shingles(col("text"), 3)).as("sh_set"))
    assert(sets.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("incrementalNearDups equals the full self-join restricted to corpus×batch pairs") {
    // Same band family + threshold ⇒ the batch-vs-corpus join must
    // reproduce exactly the cross-side subset of the full self-join
    // (and never a corpus×corpus or batch×batch pair).
    val batchIds = Set(2L, 5L)
    val inc = Dedup.incrementalNearDups(
      docs.where(!col("doc_id").isin(2L, 5L)), docs.where(col("doc_id").isin(2L, 5L)),
      "text", "doc_id", k = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashNearDups(docs, "text", "doc_id",
      k = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        if (batchIds(a) && !batchIds(b)) Some((a, b))
        else if (batchIds(b) && !batchIds(a)) Some((b, a))
        else None
      }.toSet
    assert(inc === full)
    assert(inc.contains((2L, 1L)), "exact dup of doc 1 must be admitted-filtered")
  }

  test("ngramJaccardNearDups is lossless: equals brute-force exact Jaccard on real docs") {
    // Prefix filtering claims completeness — verify against the n²
    // ground truth on a real corpus slice (sf0.001 documents).
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val pf = Dedup.ngramJaccardNearDups(corpus, "text", "doc_id",
      k = 5, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Ground truth via a token-granularity overlap join (shingles each
    // doc ONCE — a per-pair jaccardShingles filter re-tokenizes both
    // texts inside the nested-loop condition, n² times): |a∩b| is the
    // count of shared distinct shingles, |a∪b| = na + nb − |a∩b|.
    val sets = corpus.select(col("doc_id"),
      array_distinct(graft.text.TextAnalysis.shingles(col("text"), 5)).as("sh"))
    val ex = sets.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("tok"))
    val brute = ex.as("a").join(ex.as("b"), Seq("tok"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(min(col("a.n")).as("na"), min(col("b.n")).as("nb"),
        count(lit(1)).as("i"))
      .where(col("i").cast("double") / (col("na") + col("nb") - col("i")) >= 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pf === brute)
    assert(brute.nonEmpty, "corpus should contain planted near-dups")
  }

  test("containmentNearDups catches an embedded quote that Jaccard misses") {
    // doc 8 is a contiguous chunk of doc 1: containment 1.0, Jaccard
    // well under 0.5 (union dominated by the long side).
    val withQuote = docs.union(Seq(
      (8L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"))
    val out = Dedup.containmentNearDups(withQuote, "text", "doc_id",
      k = 3, threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(out.get((8L, 1L)).contains(1.0), s"expected (8,1)=1.0 in $out")
    val jac = Dedup.ngramJaccardNearDups(withQuote, "text", "doc_id",
      k = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 8L)) && !jac.contains((8L, 1L)))
  }

  test("containmentNearDups is lossless: equals brute-force overlap coefficient on real docs") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val pf = Dedup.containmentNearDups(corpus, "text", "doc_id",
      k = 5, threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = corpus.select(col("doc_id"),
      array_distinct(graft.text.TextAnalysis.shingles(col("text"), 5)).as("sh"))
    val ex = sets.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("tok"))
    val brute = ex.as("a").join(ex.as("b"), Seq("tok"))
      .where(col("a.n") < col("b.n")
        || (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id")))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(min(col("a.n")).as("na"), count(lit(1)).as("i"))
      .where(col("i").cast("double") / col("na") >= 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pf === brute)
    assert(brute.nonEmpty, "corpus should contain high-containment pairs")
  }

  test("edJoin is lossless: equals brute-force Levenshtein on real names, with pruning") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    val out = Dedup.edJoin(corpus, "c_name", "c_custkey", q = 2, d = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val brute = corpus.as("a").crossJoin(corpus.as("b"))
      .where(col("a.c_custkey") < col("b.c_custkey") &&
        levenshtein(col("a.c_name"), col("b.c_name")) <= 1)
      .select(col("a.c_custkey"), col("b.c_custkey"),
        levenshtein(col("a.c_name"), col("b.c_name")).cast("long"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out === brute)
    assert(brute.nonEmpty, "id-style names should contain distance-1 pairs")
    // the whole point of the prefix filter: candidates ≪ n²/2
    val n = corpus.count()
    assert(out.size < n * (n - 1) / 4,
      "suspiciously dense result — prefix filter likely degenerated")
  }

  test("edJoin short-string edge: 2-char and id-style pairs both join at d = 1") {
    val mixed = Seq(
      (1L, "ab"), (2L, "ac"), (3L, "ab"),
      (4L, "Customer#000000001"), (5L, "Customer#000000002")
    ).toDF("id", "s")
    val out = Dedup.edJoin(mixed, "s", "id", q = 2, d = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
  }

  test("edJoinQgram (the d >= 2 path) is lossless at d = 2 incl. the short-string class") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    val out = Dedup.edJoinQgram(corpus, "c_name", "c_custkey", q = 2, d = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val brute = corpus.as("a").crossJoin(corpus.as("b"))
      .where(col("a.c_custkey") < col("b.c_custkey") &&
        levenshtein(col("a.c_name"), col("b.c_name")) <= 2)
      .select(col("a.c_custkey"), col("b.c_custkey"),
        levenshtein(col("a.c_name"), col("b.c_name")).cast("long"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out === brute)
    assert(brute.nonEmpty)
    // short strings below the prefix lemma's bound ride the dedicated
    // all-pairs class
    val mixed = Seq((1L, "ab"), (2L, "cd"), (3L, "abcd"))
      .toDF("id", "s")
    val short2 = Dedup.edJoinQgram(mixed, "s", "id", q = 2, d = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // "ab"~"cd" (2 subs), "ab"~"abcd" and "cd"~"abcd" (2 ins)
    assert(short2 === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("t25 leakage-free split never places a near-dup pair across the boundary") {
    val dir = "/root/testdata/sf0.001"
    val split = graft.queries.Corpus.t25_leakage_split(spark, dir)
      .select(col("doc_id"), col("split"))
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = Dedup.minhashNearDups(corpus, "text", "doc_id",
      k = 5, numHashes = 16, bands = 4, threshold = 0.5)
    val leaked = pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")), Seq("id_a"))
      .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")), Seq("id_b"))
      .where(col("sa") =!= col("sb")).count()
    assert(leaked === 0L)
    val splits = split.select("split").distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits === Set("train", "valid"), "both splits must be populated")
  }

  test("simhash: normalized-identical texts hash equal; near-dups are close; unrelated far") {
    val sh = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(3L)) < ham(sh(1L), sh(5L)))
  }

  test("simhashNearDups blocks catch identical docs at distance 0") {
    val pairs = Dedup.simhashNearDups(docs, "text", "doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists { case (a, b, d) => a == 1L && b == 2L && d == 0L })
  }

  test("duplicateGroups: chains collapse to min-id components (both paths agree)") {
    // components: {1,2,3,7} (chain 1-2, 2-3, 3-7), {5,6}, and the
    // chain 16-15-…-10, whose far end needs 6 min-label rounds
    val chain = (10L until 16L).map(i => (i + 1, i))
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 7L), (5L, 6L)) ++ chain)
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 5L -> 5L, 6L -> 5L) ++
      (10L to 16L).map(_ -> 10L)
    val driverPath = Dedup.duplicateGroups(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val iterativePath = Dedup.duplicateGroups(pairs, driverThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driverPath == expected)
    assert(iterativePath == expected)
  }

  test("duplicateGroups: the iterative path fails loudly on a chain longer than maxIters") {
    // 1-2-…-8 needs 7 rounds to carry label 1 to node 8; at a cap of 3
    // the loop must throw rather than return unconverged groups
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.duplicateGroups(pairs, maxIters = 3, driverThreshold = 0)
    }
    assert(e.getMessage.contains("connectedComponents"), e.getMessage)
    assert(e.getMessage.contains("maxRounds=3"), e.getMessage)
  }

  test("embedding near-dups: brute force and LSH both find the planted duplicate") {
    val base = Array.tabulate(8)(i => math.sin(i + 1).toFloat)
    val shifted = base.map(x => x * 1.001f)                    // cosine ~ 1
    val opposite = base.map(x => -x)
    val rng = new scala.util.Random(7)
    val noise = Array.fill(8)(rng.nextGaussian().toFloat)
    val vecs = Seq((0L, base), (1L, shifted), (2L, opposite), (3L, noise))
      .toDF("vec_id", "embedding")

    val bf = Dedup.embeddingNearDups(vecs, "embedding", "vec_id",
      threshold = 0.99, bruteForce = true)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf == Set((0L, 1L)))

    val lsh = Dedup.embeddingNearDups(vecs, "embedding", "vec_id",
      threshold = 0.99, dim = 8, planes = 4, tables = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((0L, 1L)))   // identical-direction vectors always share every bucket
  }

  test("semanticNearDups drops the planted twins within their cluster, keeps the lowest id") {
    // two tight triples (same-magnitude small perturbations -> L2-close
    // -> same k-means cell, cosine ~1) far apart from each other, plus
    // a lone outlier: SemDeDup must drop the two higher ids of each
    // triple against the lowest, and never pair across clusters
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val vecs = Seq(
      (10L, v(1, 0, 0, 0)), (11L, v(0.999, 0.001, 0, 0)), (12L, v(0.998, 0.002, 0, 0)),
      (20L, v(0, 1, 0, 0)), (21L, v(0, 0.999, 0.001, 0)), (22L, v(0, 0.998, 0.002, 0)),
      (30L, v(0, 0, 1, 1))
    ).toDF("vec_id", "embedding")
    val dropped = Dedup.semanticNearDups(vecs, "embedding", "vec_id",
      threshold = 0.99, nLists = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dropped === Set((11L, 10L, 1L), (12L, 10L, 2L),
      (21L, 20L, 1L), (22L, 20L, 2L)))
  }

  test("d16 LSH pairs are a subset of d04's ground truth at usable recall") {
    // sf0.1: the smallest fixture whose ground truth is non-trivial
    // (14 true pairs, all hugging the 0.5 boundary — LSH's hardest
    // regime); d04's brute force is still ~2s here
    val dir = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(graft.queries.Corpus.d04_embedding_neardups(spark, dir))
    val lsh = pairs(
      graft.queries.Corpus.d16_embedding_neardups_lsh(spark, dir))
    assert(lsh.subsetOf(exact),
      "every LSH pair must verify against the exact threshold")
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.7, s"d16 recall $recall below floor (found " +
      s"${lsh.size} of ${exact.size} true pairs)")
  }

  test("d16 oracle fallback plane count matches the adaptive formula on the shipped sf0.01 fixture") {
    // d16_sql normally replays the EXACT plane count the query stored
    // (lazy def chain — Verify dumps oracle SQL after every query
    // runs); only a VERIFY_ONLY subset that skipped d16 uses the
    // fallback, which assumes the sf0.01 embeddings fixture is still
    // 500 vectors. If the fixture is ever regenerated at a different
    // size, THIS test names the drift instead of a silent oracle skew.
    val n = Tables(spark, "/root/testdata/sf0.01", "embeddings").count()
    assert(graft.queries.Corpus.d16AdaptivePlanes(n) ==
      graft.queries.Corpus.d16AdaptivePlanes(500),
      s"sf0.01 embeddings fixture now has $n vectors; update the " +
        "d16_sql fallback's documented size")
  }

  test("q154: the group-aware split never leaks a duplicate group; the naive split does") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val out = SparkEntry.queries("q154_leakage_safe_split")(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    assert(out.keySet === Set("train", "val", "test"))
    // the operator's defining invariant: a duplicate group NEVER
    // straddles splits under the group key
    assert(out.values.forall(_._3 == 0L), s"grouped split leaked: $out")
    // ... while the naive per-document split leaks on the planted
    // duplicate groups — the audit that motivates the operator
    assert(out.values.head._4 > 0L, "fixture should make naive leak")
    // partition: sizes sum to the corpus, all splits populated
    val corpus = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.values.map(_._1).sum === corpus)
    assert(out.values.forall(_._1 > 0L))
  }

  test("q155: one audit row per test doc, shares in [0,1], and the group-aware split keeps residual overlap small") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val rows = SparkEntry.queries("q155_memorization_audit")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val testN = SparkEntry.queries("q154_leakage_safe_split")(spark, dir)
      .where(col("split") === "test").head().getLong(1)
    assert(rows.length.toLong === testN) // one row per test doc
    rows.foreach { case (id, n, seen, share) =>
      assert(n > 0L && seen >= 0L && seen <= n, s"doc $id")
      assert(share >= 0.0 && share <= 1.0, s"doc $id share $share")
      assert(share === seen.toDouble / n, s"doc $id share algebra")
    }
    // the WHOLE point: after group-aware splitting, no test doc is a
    // near-verbatim copy of training text (a leaked near-dup would
    // read ~1.0; the fixture's residual boilerplate overlap is tiny)
    assert(rows.map(_._4).max < 0.5, "a test doc looks memorized")
  }

  test("d17 maximalMatches: planted duplicates come back character-exact, maximal, and nothing else") {
    import spark.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$prefix$i")
    val shared = words("dup", 25)       // a 25-token shared run
    val shorter = words("low", 19)      // below L=20: must NOT match
    val docs = Seq(
      // doc 1: prefix(3) + shared(25) + suffix(4) → shared at p=4
      (1L, (words("a", 3) ++ shared ++ words("z", 4)).mkString(" ")),
      // doc 2: prefix(5) + shared(25) → shared at p=6
      (2L, (words("b", 5) ++ shared).mkString(" ")),
      // docs 3/4 share only 19 tokens — under L, no output
      (3L, (words("c", 2) ++ shorter).mkString(" ")),
      (4L, (shorter ++ words("d", 2)).mkString(" ")),
      // doc 5: unrelated
      (5L, words("e", 40).mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.maximalMatches(docs, "text", "doc_id", L = 20)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    // exactly ONE maximal match: docs (1,2), the full 25-token run —
    // not its 6 constituent 20-grams, and nothing from the 19-token
    // or unrelated plants
    assert(got.toSeq === Seq((1L, 2L, 4L, 6L, 25L, shared.mkString(" "))))

    // extension asymmetry: make doc 2's copy continue one token past
    // doc 1's — the match must not grow beyond what BOTH share
    val docs2 = Seq(
      (1L, (words("a", 3) ++ shared ++ words("z", 4)).mkString(" ")),
      (2L, (words("b", 5) ++ shared ++ words("q", 1)).mkString(" ")))
      .toDF("doc_id", "text")
    val got2 = Dedup.maximalMatches(docs2, "text", "doc_id", L = 20).collect()
    assert(got2.length === 1 && got2(0).getLong(4) === 25L)

    // a doc repeating the span twice pairs on TWO diagonals — one
    // maximal match per alignment, both character-exact
    val docs3 = Seq(
      (1L, shared.mkString(" ")),
      (2L, (shared ++ words("m", 2) ++ shared).mkString(" ")))
      .toDF("doc_id", "text")
    val got3 = Dedup.maximalMatches(docs3, "text", "doc_id", L = 20)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getString(5))).sortBy(_._2)
    assert(got3.toSeq === Seq(
      (1L, 1L, 25L, shared.mkString(" ")),
      (1L, 28L, 25L, shared.mkString(" "))))
  }

  test("d18 cutMaximalMatches: lowest doc keeps its copy, every other occurrence is cut, overlaps union") {
    import spark.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$prefix$i")
    val shared = words("dup", 25)
    val docs = Seq(
      // doc 1 owns the span (lowest id): untouched
      (1L, (words("a", 3) ++ shared ++ words("z", 4)).mkString(" ")),
      // doc 2: one copy → cut, neighbors survive
      (2L, (words("b", 5) ++ shared ++ words("y", 2)).mkString(" ")),
      // doc 3: TWO copies (two alignments vs both docs above; the
      // intervals overlap nothing — both cut)
      (3L, (shared ++ words("m", 2) ++ shared).mkString(" ")),
      // doc 4: untouched bystander
      (4L, words("e", 30).mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.cutMaximalMatches(docs, "text", "doc_id", L = 20)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    assert(got(1L) === ((32L, 0L, 0L,
      (words("a", 3) ++ shared ++ words("z", 4)).mkString(" "))))
    assert(got(2L) === ((32L, 25L, 1L,
      (words("b", 5) ++ words("y", 2)).mkString(" "))))
    // both 25-token copies cut (two merged intervals); the 2-token
    // bridge between them is inside no ≥20 match and survives
    assert(got(3L) === ((52L, 50L, 2L, "m1 m2")))
    assert(got(4L) === ((30L, 0L, 0L, words("e", 30).mkString(" "))))
  }

  test("d17 hot-anchor guard: a span shared across 60 docs routes through the salted join with identical output") {
    import spark.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$prefix$i")
    val shared = words("hot", 22) // 3 anchors per doc at L=20, df = 60
    val docsHot = (1 to 60).map(i =>
      (i.toLong,
        (words(s"u${i}x", 3) ++ shared ++ words(s"v${i}x", 2)).mkString(" ")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq.sortBy(t => (t._1, t._2))
    // cold route: default df threshold (1024) far above 60
    val cold = rows(Dedup.maximalMatches(docsHot, "text", "doc_id", L = 20))
    // hot route: force the threshold below 60 so every shared anchor
    // takes the salted pair join — output must be byte-identical
    spark.conf.set("spark.graft.dedup.hotAnchorDf", "8")
    spark.conf.set("spark.graft.dedup.hotAnchorSalts", "5")
    val hot =
      try rows(Dedup.maximalMatches(docsHot, "text", "doc_id", L = 20))
      finally {
        spark.conf.unset("spark.graft.dedup.hotAnchorDf")
        spark.conf.unset("spark.graft.dedup.hotAnchorSalts")
      }
    assert(hot === cold)
    // all 60·59/2 pairs present, each the full 22-token run at p=4/4
    assert(cold.map(t => (t._1, t._2)).toSet ===
      (for { a <- 1 to 60; b <- (a + 1) to 60 } yield (a.toLong, b.toLong)).toSet)
    assert(cold.forall(t =>
      t._3 === 4L && t._4 === 4L && t._5 === 22L &&
        t._6 === shared.mkString(" ")))
  }

  test("d17 adaptive salting: two heat tiers derive different salt counts with identical output") {
    import spark.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$prefix$i")
    // tier 1: a span shared across 60 docs (per-anchor df = 60);
    // tier 2: a DIFFERENT span shared across 20 docs (df = 20). At
    // hotDf = 8 and an uncapping saltCap, the routing derives
    // ceil(60/8) = 8 salts for tier 1 and ceil(20/8) = 3 for tier 2 —
    // both must still produce the exact cold-route pair inventory.
    val hotSpan = words("hot", 22)
    val warmSpan = words("wrm", 22)
    val docs = ((1 to 60).map(i =>
        (i.toLong,
          (words(s"u${i}x", 3) ++ hotSpan ++ words(s"v${i}x", 2))
            .mkString(" "))) ++
      (101 to 120).map(i =>
        (i.toLong,
          (words(s"u${i}x", 2) ++ warmSpan ++ words(s"v${i}x", 3))
            .mkString(" "))))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq.sortBy(t => (t._1, t._2))
    val cold = rows(Dedup.maximalMatches(docs, "text", "doc_id", L = 20))
    spark.conf.set("spark.graft.dedup.hotAnchorDf", "8")
    spark.conf.set("spark.graft.dedup.hotAnchorSalts", "1024")
    val hot =
      try rows(Dedup.maximalMatches(docs, "text", "doc_id", L = 20))
      finally {
        spark.conf.unset("spark.graft.dedup.hotAnchorDf")
        spark.conf.unset("spark.graft.dedup.hotAnchorSalts")
      }
    assert(hot === cold)
    // every cross-document pair inside each tier, none across tiers
    assert(cold.map(t => (t._1, t._2)).toSet ===
      ((for { a <- 1 to 60; b <- (a + 1) to 60 }
        yield (a.toLong, b.toLong)) ++
       (for { a <- 101 to 120; b <- (a + 1) to 120 }
         yield (a.toLong, b.toLong))).toSet)
  }

  test("d17 salting at the cap: a binding hotAnchorSalts keeps every pair and bounds the x-side keys") {
    import spark.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$prefix$i")
    val shared = words("hot", 22) // per-anchor df = 60 at L=20
    val docs = (1 to 60).map(i =>
      (i.toLong,
        (words(s"u${i}x", 3) ++ shared ++ words(s"v${i}x", 2)).mkString(" ")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq.sortBy(t => (t._1, t._2))
    val cold = rows(Dedup.maximalMatches(docs, "text", "doc_id", L = 20))
    // hotDf 4 asks for ceil(60/4) = 15 salts per hash; the cap of 3
    // binds (df = 60 ≫ hotDf·cap = 12)
    spark.conf.set("spark.graft.dedup.hotAnchorDf", "4")
    spark.conf.set("spark.graft.dedup.hotAnchorSalts", "3")
    val hot =
      try rows(Dedup.maximalMatches(docs, "text", "doc_id", L = 20))
      finally {
        spark.conf.unset("spark.graft.dedup.hotAnchorDf")
        spark.conf.unset("spark.graft.dedup.hotAnchorSalts")
      }
    assert(hot === cold)
    assert(cold.map(t => (t._1, t._2)).toSet ===
      (for { a <- 1 to 60; b <- (a + 1) to 60 } yield (a.toLong, b.toLong)).toSet)
    // the salted sides at that cap: each hash spreads its 60 x rows
    // over exactly 3 salts, none holding more than twice its fair share
    // ceil(60/3) = 20, and y carries every row once per salt
    val hotRows = (for { h <- Seq("a", "b", "c"); d <- 1L to 60L }
      yield (h, d, 4L, 60L)).toDF("h", "doc_id", "p", "__df")
    val (x, y) = Dedup.saltHot(hotRows, hotDf = 4, saltCap = 3)
    val perKey = x.groupBy(col("h"), col("__salt")).count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(perKey.keySet ===
      (for { h <- Seq("a", "b", "c"); s <- 0L until 3L } yield (h, s)).toSet)
    assert(perKey.values.max <= 2 * 20, s"$perKey")
    assert(perKey.values.sum === 180L)
    assert(y.count() === 180L * 3)
  }

  test("d17/d18 misconfigured salt/df guards reject instead of silently dropping pairs") {
    import spark.implicits._
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    spark.conf.set("spark.graft.dedup.hotAnchorSalts", "0")
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.maximalMatches(docs, "text", "doc_id", L = 2)
      }
      assert(e.getMessage.contains("hotAnchorSalts"))
    } finally spark.conf.unset("spark.graft.dedup.hotAnchorSalts")
    spark.conf.set("spark.graft.dedup.hotAnchorDf", "-1")
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.maximalMatches(docs, "text", "doc_id", L = 2)
      }
      assert(e.getMessage.contains("hotAnchorDf"))
    } finally spark.conf.unset("spark.graft.dedup.hotAnchorDf")
  }

  test("d18 cut path carries no pair-shaped join (per-anchor min-doc rule)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.expressions.{Attribute, LessThan}
    val plan = Dedup.cutMaximalMatches(docs, "text", "doc_id", L = 20)
      .queryExecution.optimizedPlan
    val pairShaped = plan.collect { case j: Join => j }.exists(
      _.condition.exists(c => c.find {
        case LessThan(a: Attribute, b: Attribute) => a.name == b.name
        case _ => false
      }.isDefined))
    assert(!pairShaped,
      "d18's cut path re-grew an anchors-to-anchors pair join")
  }

  test("d18 cut: hundreds of disjoint intervals in one doc rebuild exactly (array_except cut path)") {
    import spark.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$prefix$i")
    val nSpans = 250
    val spans = (1 to nSpans).map(k => words(s"s${k}q", 20))
    // doc 1 owns every span; doc 2 repeats all of them behind its own
    // unique separators → 250 disjoint cut intervals in ONE document
    val low = spans.zipWithIndex.flatMap { case (sp, k) => sp :+ s"gap${k}a" }
    val hi = spans.zipWithIndex.flatMap { case (sp, k) => sp :+ s"gap${k}b" }
    val two = Seq((1L, low.mkString(" ")), (2L, hi.mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.cutMaximalMatches(two, "text", "doc_id", L = 20)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))).toMap
    assert(got(1L) === ((nSpans * 21L, 0L, 0L, low.mkString(" "))))
    assert(got(2L) === ((nSpans * 21L, nSpans * 20L, nSpans.toLong,
      (0 until nSpans).map(k => s"gap${k}b").mkString(" "))))
  }
}
