package graft

import org.apache.spark.sql.functions._

/** The round-9 eval/release family: q121 (AUC report), q122 (PSI
  * drift), q123 (out-of-fold target encoding), q124 (sharded-export
  * manifest), t40 (χ² term selection). Each spec recomputes the
  * statistic by an INDEPENDENT driver-side mechanism on the small
  * fixture (brute-force pairs for AUC, exact BigDecimal folds for PSI
  * and the encoding) — the same double-entry discipline the DuckDB
  * oracles apply cross-engine, here applied cross-formulation.
  */
class PipelineEvalSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("q121 AUC equals the brute-force Mann-Whitney pair statistic") {
    val row = graft.queries.Corpus.q121_auc_eval(spark, sfDir).collect()(0)
    val (nPos, nNeg) = (row.getLong(0), row.getLong(1))
    val (tp, fp, fn, tn) =
      (row.getLong(2), row.getLong(3), row.getLong(4), row.getLong(5))
    val auc = row.getDouble(7)
    // independent scoring path: the t38 view (logit is the micro-unit
    // integer / 1e6 — injective, so pair comparisons are identical)
    val scored = graft.queries.Corpus.t38_quality_classifier(spark, sfDir)
      .select(col("logit"), col("label_high_stop")).collect()
      .map(r => (r.getDouble(0), r.getBoolean(1)))
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    assert(pos.length.toLong == nPos && neg.length.toLong == nNeg)
    assert(tp + fn == nPos && fp + tn == nNeg)
    var gt = 0L; var eq = 0L
    pos.foreach { p =>
      neg.foreach { n => if (p > n) gt += 1 else if (p == n) eq += 1 }
    }
    val bf = (gt + 0.5 * eq) / (nPos.toDouble * nNeg.toDouble)
    assert(math.abs(auc - bf) < 1e-12, s"auc=$auc brute-force=$bf")
    assert(auc > 0.9, s"distilled model should rank well, auc=$auc")
  }

  test("q128 per-slice AUC equals brute-force pairs within every slice") {
    val out = graft.queries.Corpus.q128_auc_by_slice(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.nonEmpty)
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scored = graft.queries.Corpus.t38_quality_classifier(spark, sfDir)
      .select(col("doc_id"), col("logit"), col("label_high_stop")).collect()
      .map(r => (docs(r.getLong(0)), r.getDouble(1), r.getBoolean(2)))
    out.foreach { case (src, (nPos, nNeg, auc)) =>
      val pos = scored.filter(t => t._1 == src && t._3).map(_._2)
      val neg = scored.filter(t => t._1 == src && !t._3).map(_._2)
      assert(pos.length.toLong == nPos && neg.length.toLong == nNeg, src)
      var gt = 0L; var eq = 0L
      pos.foreach { p =>
        neg.foreach { n => if (p > n) gt += 1 else if (p == n) eq += 1 }
      }
      val bf = (gt + 0.5 * eq) / (nPos.toDouble * nNeg.toDouble)
      assert(math.abs(auc - bf) < 1e-12, s"$src: auc=$auc brute-force=$bf")
    }
    // single-class slices are excluded, never emitted as NaN
    assert(out.values.forall(v => !v._3.isNaN))
  }

  test("q122 PSI total equals the exact per-bin fold and is non-negative") {
    val rows = graft.queries.Features.q122_psi_drift(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // e-9 integer units since the PortableMath migration: psi_e9 is the
    // EXACT sum of the per-bin psi_term_e9 longs (order-independent)
    val psi = rows.head.getLong(4)
    assert(rows.forall(_.getLong(4) == psi), "psi total repeats per row")
    assert(rows.map(_.getLong(3)).sum == psi,
      "psi_e9 is exactly the sum of the per-bin terms")
    val bins = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val (rTot, cTot, b) =
      (bins.map(_._1).sum, bins.map(_._2).sum, bins.length)
    bins.foreach { case (nr, nc, termE9) =>
      val p = (nr + 1).toDouble / (rTot + b).toDouble
      val q = (nc + 1).toDouble / (cTot + b).toDouble
      val expected =
        math.floor((p - q) * math.log(p / q) * 1e9 + 0.5).toLong
      // libm ln vs the portable series agree to ~1e-13 relative — at
      // most one e-9 unit apart at a rounding boundary
      assert(math.abs(termE9 - expected) <= 1L,
        s"bin ($nr,$nc): term_e9=$termE9 libm fold=$expected")
      // (p−q)·ln(p/q) ≥ 0 termwise, so PSI is a true divergence
      assert(termE9 >= 0L)
    }
    assert(psi >= 0L)
  }

  test("q123 encoding is the out-of-fold smoothed mean, leakage-free") {
    val out = graft.queries.Features.q123_target_encoding(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val raw = Tables(spark, sfDir, "orders")
      .select(col("o_orderpriority"),
        pmod(col("o_orderkey"), lit(5L)).as("fold"),
        col("o_totalprice").cast("decimal(18,2)"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
    val exactGmean = raw.map(_._3).sum.toDouble / raw.length.toDouble
    out.foreach { case ((cat, fold), (nRows, nOof, enc)) =>
      val inCat = raw.filter(_._1 == cat)
      val own = inCat.filter(_._2 == fold)
      val rest = inCat.filterNot(_._2 == fold)
      assert(own.length.toLong == nRows && rest.length.toLong == nOof)
      val expected =
        (rest.map(_._3).sum.toDouble + 20.0 * exactGmean) /
          (rest.length.toDouble + 20.0)
      assert(math.abs(enc - expected) < 1e-9,
        s"($cat, $fold): enc=$enc expected=$expected")
      // leakage check: the encoding must NOT equal the with-own-fold
      // smoothed mean unless the fold contributes nothing new
      val leaky = (inCat.map(_._3).sum.toDouble + 20.0 * exactGmean) /
        (inCat.length.toDouble + 20.0)
      assert(own.isEmpty || math.abs(enc - leaky) > 0 ||
        math.abs(leaky - expected) < 1e-12)
    }
  }

  test("q131 Spearman equals the brute-force tied-rank fold; ties are average-ranked") {
    // tiny lineitem with deliberate ties in every column: quantity 2
    // twice, discount 0.00/0.02 twice, price 30.00 twice
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_q131")
    val rows = Seq(
      (1L, BigDecimal(1), BigDecimal(0.00), BigDecimal(10.00)),
      (2L, BigDecimal(2), BigDecimal(0.00), BigDecimal(20.00)),
      (3L, BigDecimal(2), BigDecimal(0.01), BigDecimal(30.00)),
      (4L, BigDecimal(3), BigDecimal(0.02), BigDecimal(30.00)),
      (5L, BigDecimal(5), BigDecimal(0.02), BigDecimal(5.00)))
    rows.toDF("l_orderkey", "l_quantity", "l_discount", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // brute-force tied average ranks (doubled, exact integers), then
    // the same fixed-order moment formula — the query's own definition
    // restated driver-side over raw values
    def rank2(xs: Seq[BigDecimal]): Seq[Long] =
      xs.map { x =>
        2L * xs.count(_ < x) + xs.count(_ == x) + 1L
      }
    def rho(a: Seq[Long], b: Seq[Long]): Double = {
      val n = a.length.toDouble
      val sa = a.sum.toDouble; val sb = b.sum.toDouble
      val sab = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      val saa = a.map(x => x * x).sum.toDouble
      val sbb = b.map(x => x * x).sum.toDouble
      (n * sab - sa * sb) /
        math.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
    }
    val q = rows.map(_._2); val d = rows.map(_._3); val p = rows.map(_._4)
    val expected = Map(
      "l_quantity" -> rho(rank2(q), rank2(p)),
      "l_discount" -> rho(rank2(d), rank2(p)))
    val got = graft.queries.Features.q131_spearman(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (f, (n, r)) =>
      assert(n == 5L, s"$f n_pairs")
      assert(math.abs(r - expected(f)) < 1e-12,
        s"$f: got $r want ${expected(f)}")
    }
    // a perfectly monotone feature must score ρ = 1 (up to one ulp of
    // the sqrt-of-square), and reversing it −1
    val mono = rank2(p)
    assert(math.abs(rho(mono, mono) - 1.0) < 1e-15)
    assert(math.abs(rho(mono, mono.map(-_)) + 1.0) < 1e-15)
  }

  test("q132 Gini equals the mean-absolute-difference fold; the Lorenz curve is a valid CDF pair") {
    // independent identity: G = Σᵢⱼ|xᵢ−xⱼ| / (2·n·S) — no ranks at all,
    // so it cross-checks the rank-sum formulation including ties
    val rows = graft.queries.Features.q132_token_gini(spark, sfDir)
      .collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    val xs = rows.flatMap(r => Seq.fill(r.getLong(1).toInt)(r.getLong(0)))
    val n = xs.length.toLong
    val s = xs.sum
    val mad = (for (a <- xs; b <- xs) yield math.abs(a - b)).map(BigInt(_)).sum
    val brute = mad.toDouble / (2.0 * n.toDouble * s.toDouble)
    val gini = rows.head.getDouble(4)
    assert(rows.forall(_.getDouble(4) == gini), "gini repeats per row")
    assert(math.abs(gini - brute) < 1e-12, s"gini=$gini brute=$brute")
    assert(gini >= 0.0 && gini < 1.0)
    // Lorenz validity: cum_docs hits n exactly, share hits 1.0 exactly,
    // both monotone, and share(v) lags the population fraction (the
    // curve sits under the diagonal for an ascending-sorted positive x)
    assert(rows.last.getLong(2) == n)
    assert(rows.last.getDouble(3) == 1.0)
    val cd = rows.map(_.getLong(2)); val cs = rows.map(_.getDouble(3))
    assert(cd.zip(cd.tail).forall { case (a, b) => b > a })
    assert(cs.zip(cs.tail).forall { case (a, b) => b > a })
    rows.init.foreach { r =>
      assert(r.getDouble(3) <= r.getLong(2).toDouble / n.toDouble + 1e-12,
        s"Lorenz must sit under the diagonal at v=${r.getLong(0)}")
    }
  }

  test("q133 bootstrap CI is the nearest-rank fold of its own replicates; resampling is calibrated") {
    val rows = graft.queries.Features.q133_bootstrap_ci(spark, sfDir)
      .collect()
    assert(rows.length == 64, "one row per replicate")
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 64L),
      "replicate ids 0..63")
    val nDocs = rows.head.getLong(3)
    val mean = rows.head.getDouble(4)
    // the point estimate is the exact corpus mean
    val xs = Tables(spark, sfDir, "documents")
      .select(size(graft.text.TextAnalysis.tokens(col("text"))).cast("long"))
      .collect().map(_.getLong(0))
    assert(nDocs == xs.length.toLong)
    assert(mean == xs.sum.toDouble / xs.length.toDouble)
    // CI = nearest-rank 2.5%/97.5% of the replicate means themselves
    val sortedMeans = rows.map(r => (r.getDouble(2), r.getLong(0))).sorted
    assert(rows.forall(_.getDouble(5) == sortedMeans(1)._1), "ci_lo = rank 2")
    assert(rows.forall(_.getDouble(6) == sortedMeans(62)._1), "ci_hi = rank 63")
    assert(sortedMeans.head._1 <= rows.head.getDouble(5) &&
      rows.head.getDouble(5) < rows.head.getDouble(6) &&
      rows.head.getDouble(6) <= sortedMeans.last._1)
    // Poisson(1) calibration: total effective mass ≈ n·B (each doc
    // contributes multiplicity of mean 1 per replicate); loose bound so
    // a regenerated fixture can't break it, tight enough to catch a
    // mis-scaled threshold table
    val totalEff = rows.map(_.getLong(1)).sum.toDouble
    assert(math.abs(totalEff / (nDocs.toDouble * 64.0) - 1.0) < 0.1,
      s"effective mass $totalEff vs ${nDocs * 64}")
  }

  test("q134 Chao1 and Good-Turing match the hand fold, including the F2=0 fallback") {
    import spark.implicits._
    // a=2, b=1, c=2, d=1 → V=4, N=6, F1=2, F2=2 → chao1 = 4 + 2²/(2·2)
    val dir1 = SparkSpec.tempDir("graft_q134a")
    Seq((1L, "a a b c"), (2L, "c d")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir1/documents.parquet")
    val r1 = graft.queries.Features.q134_vocab_richness(spark, dir1)
      .collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3)) ==
      ((4L, 6L, 2L, 2L)))
    assert(r1.getDouble(4) == 4.0 + 4.0 / 4.0, "chao1")
    assert(r1.getDouble(5) == 2.0 / 6.0, "good-turing unseen mass")
    // all singletons, F2=0 → the F1(F1−1)/2 fallback
    val dir2 = SparkSpec.tempDir("graft_q134b")
    Seq((1L, "a b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val r2 = graft.queries.Features.q134_vocab_richness(spark, dir2)
      .collect()(0)
    assert(r2.getDouble(4) == 2.0 + 2.0 * 1.0 / 2.0, "chao1 fallback")
    // the shipped fixtures draw from a FIXED vocabulary: the projection
    // must saturate (chao1 = V, unseen mass 0) — the q132/t41 QA signal
    val r3 = graft.queries.Features.q134_vocab_richness(spark, sfDir)
      .collect()(0)
    assert(r3.getDouble(4) == r3.getLong(0).toDouble &&
      r3.getDouble(5) == 0.0,
      "fixed-vocab corpus must project zero unseen vocabulary")
  }

  test("q135 KS statistic equals the exact cross-multiplied CDF-gap fold") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_q135")
    val ref = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val cur = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    (Seq(1.0, 2.0, 2.0, 5.0).map((ref, _)) ++
      Seq(2.0, 3.0, 5.0, 5.0, 9.0).map((cur, _)))
      .toDF("ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.queries.Features.q135_ks_drift(spark, dir).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((4L, 5L)))
    // hand fold: distinct v = 1,2,3,5,9; max |cumR·5 − cumC·4| = 11 at
    // v=2 (cumR=3, cumC=1) → D = 11/20
    assert(r.getDouble(2) == 11.0 / 20.0, s"d_stat=${r.getDouble(2)}")
    val crit = 1.3581 * math.sqrt((4.0 + 5.0) / (4.0 * 5.0))
    assert(r.getDouble(3) == crit)
    assert(r.getBoolean(4) == (11.0 / 20.0 > crit))
    // same-distribution split on the real fixture must NOT flag drift
    val real = graft.queries.Features.q135_ks_drift(spark, sfDir)
      .collect()(0)
    assert(!real.getBoolean(4),
      s"no drift expected on the identically-generated split: $real")
  }

  test("q136 kappa matches the exact contingency fold; perfect and degenerate agreement pinned") {
    import spark.implicits._
    // one doc per contingency cell: (la, lb) = (P,N), (N,P), (P,P), (N,N)
    val dir = SparkSpec.tempDir("graft_q136")
    val longStop = Seq.fill(60)("the").mkString(" ")  // la (100% stop), lb (60 ≥ 50)
    val longPlain = (1 to 60).map(i => s"w$i").mkString(" ") // ¬la, lb
    Seq((1L, "the a the a"), (2L, longPlain), (3L, longStop), (4L, "x y"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.queries.Features.q136_cohens_kappa(spark, dir).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((4L, 1L, 1L, 1L, 1L)))
    assert(r.getDouble(5) == 0.5, "po")   // 2 of 4 agree
    assert(r.getDouble(6) == 0.5, "pe")   // balanced marginals
    assert(r.getDouble(7) == 0.0, "independent raters → κ = 0")
    // perfect agreement on both cells → κ = 1 exactly
    val dir2 = SparkSpec.tempDir("graft_q136b")
    Seq((1L, longStop), (2L, "x y")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val r2 = graft.queries.Features.q136_cohens_kappa(spark, dir2).collect()(0)
    assert(r2.getDouble(5) == 1.0 && r2.getDouble(7) == 1.0)
    // all mass in one cell → pe = 1, κ undefined → NULL, never NaN
    val dir3 = SparkSpec.tempDir("graft_q136c")
    Seq((1L, longStop), (2L, longStop)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir3/documents.parquet")
    val r3 = graft.queries.Features.q136_cohens_kappa(spark, dir3).collect()(0)
    assert(r3.getDouble(6) == 1.0 && r3.isNullAt(7))
  }

  test("q124 manifest covers the corpus exactly across 16 shards") {
    val m = graft.queries.Extensions.q124_shard_manifest(spark, sfDir)
      .collect()
    val docs = Tables(spark, sfDir, "documents")
      .agg(count(lit(1)), min(col("doc_id")), max(col("doc_id")))
      .collect()(0)
    assert(m.map(_.getLong(1)).sum == docs.getLong(0), "row counts cover")
    assert(m.map(_.getLong(0)).distinct.length == m.length, "unique shards")
    assert(m.length <= 16 && m.nonEmpty)
    assert(m.map(_.getLong(2)).min == docs.getLong(1))
    assert(m.map(_.getLong(3)).max == docs.getLong(2))
  }

  test("q126 calibration buckets partition the corpus; rates are exact") {
    val rows = graft.queries.Corpus.q126_calibration(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    val docs = Tables(spark, sfDir, "documents").count()
    assert(total == docs, "every document lands in exactly one bucket")
    rows.foreach { r =>
      val (n, nPos) = (r.getLong(1), r.getLong(2))
      assert(nPos >= 0 && nPos <= n)
      val emp = r.getDouble(5)
      assert(emp == nPos.toDouble / n.toDouble, "empirical rate exact")
      // pred_rate_e9: the portable logistic in e-9 integer units
      val predE9 = r.getLong(4)
      assert(predE9 >= 0L && predE9 <= 1000000000L)
    }
    // a distilled model of a realizable rule should calibrate well:
    // weighted |pred − emp| (the ECE fold over this report) is small
    val ece = rows.map { r =>
      r.getLong(1).toDouble / total *
        math.abs(r.getLong(4).toDouble / 1e9 - r.getDouble(5))
    }.sum
    assert(ece < 0.15, s"expected calibration error too large: $ece")
  }

  test("q127 Welch t equals the driver-side fold over raw observations") {
    val row = graft.queries.Features.q127_ab_test(spark, sfDir).collect()(0)
    val raw = Tables(spark, sfDir, "events")
      .where(col("event_type") === "purchase")
      .select(pmod(col("user_id"), lit(2L)) === 0,
        round(col("value"), 2).cast("decimal(18,2)"))
      .collect().map(r => (r.getBoolean(0), BigDecimal(r.getDecimal(1))))
    def stats(side: Boolean): (Long, Double, Double) = {
      val ys = raw.filter(_._1 == side).map(_._2)
      val n = ys.length.toDouble
      val s = ys.sum.toDouble
      val s2 = ys.map(y => y * y).sum.toDouble
      (ys.length.toLong, s / n, ((s2 - s * s / n) / (n - 1.0)) / n)
    }
    val (na, meanA, seA) = stats(true)
    val (nb, meanB, seB) = stats(false)
    assert(row.getLong(0) == na && row.getLong(1) == nb)
    assert(row.getDouble(2) == meanA && row.getDouble(3) == meanB,
      "exact-decimal means must reproduce bit-for-bit")
    val tExp = (meanA - meanB) / math.sqrt(seA + seB)
    assert(math.abs(row.getDouble(5) - tExp) < 1e-12,
      s"t=${row.getDouble(5)} expected=$tExp")
    val dfExp = (seA + seB) * (seA + seB) /
      (seA * seA / (na - 1.0) + seB * seB / (nb - 1.0))
    assert(math.abs(row.getDouble(6) - dfExp) < 1e-9)
    assert(row.getDouble(6) > 0 && row.getDouble(6) <= (na + nb - 2).toDouble)
  }

  test("t41 Heaps fit flags the synthetic corpus's fixed vocabulary") {
    val r = graft.queries.Corpus.t41_heaps_law(spark, sfDir).collect()(0)
    assert(r.getLong(0) > 8, "enough non-empty checkpoint buckets")
    val beta = r.getLong(1).toDouble / 1e6 // heaps_beta_e6 integer units
    // natural text sits near β ≈ 0.4–0.6; the fixtures draw from a
    // small FIXED vocabulary, so nearly all of it appears in the first
    // bucket and growth flattens — the corpus-QA signal this statistic
    // exists to raise. The assertion pins that the fit DETECTS it.
    assert(beta >= 0.0 && beta < 0.2,
      s"synthetic fixed-vocab corpus must read as flat growth, got $beta")
    // log_k recovers the (log) vocabulary plateau: e^log_k must be
    // within the true vocabulary's order of magnitude
    val vocab = Tables(spark, sfDir, "documents")
      .select(explode(graft.text.TextAnalysis.tokens(col("text"))))
      .distinct().count()
    val kEst = math.exp(r.getLong(2).toDouble / 1e6) // log_k_e6 units
    assert(kEst > vocab / 10.0 && kEst < vocab * 10.0,
      s"K=$kEst vs true vocabulary $vocab")
  }

  test("q130 Kaplan-Meier curve matches the hand fold; censoring shrinks at-risk only") {
    val rows = graft.queries.Features.q130_kaplan_meier(spark, sfDir)
      .collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    // replay the estimator by hand from the query's own counts, in the
    // engine's own e-unit discipline: per-step ln(1−d/n) = ln(n−d)−ln(n)
    // quantized to e-12 longs, summed exactly, exp'd, reported at e-6
    var atRisk = rows.map(r => r.getLong(2) + r.getLong(3)).sum
    var se12 = 0L
    var dead = false
    rows.foreach { r =>
      val (t, n, d, c) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n == atRisk, s"at-risk at t=$t")
      if (n - d <= 0L) dead = true // the cumulative pin, from here on
      if (!dead)
        se12 += math.floor(
          (math.log((n - d).toDouble) - math.log(n.toDouble)) * 1e12 + 0.5)
          .toLong
      val expected =
        if (dead) 0L
        else math.floor(math.exp(se12.toDouble / 1e12) * 1e6 + 0.5).toLong
      // libm vs the portable series: ≤1 e-unit apart at a boundary
      assert(math.abs(r.getLong(4) - expected) <= 1L,
        s"survival at t=$t: got ${r.getLong(4)} libm fold=$expected")
      atRisk -= d + c // censored leave the denominator, never the numerator
    }
    // survival is monotone non-increasing from 1 downward
    val surv = rows.map(_.getLong(4))
    assert(surv.head <= 1000000L &&
      surv.zip(surv.tail).forall { case (a, b) => b <= a })
  }

  test("t40 χ² report is well-formed and correctly ordered") {
    val rows = graft.queries.Corpus.t40_chi2_terms(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3), "df = a + b")
      assert(r.getLong(1) >= 20, "min-df filter")
      assert(r.getDouble(4) >= 0.0, "chi2 non-negative")
    }
    val chis = rows.map(_.getDouble(4))
    assert(chis.zip(chis.tail).forall { case (x, y) => x >= y },
      "descending chi2")
  }
}
