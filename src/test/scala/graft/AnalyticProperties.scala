package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test => ScTest}

/** Property-based checks for the round-9 fold algebra: the native
  * winnowing selection, the integer-scaled CUSUM recursion, and the
  * largest-remainder quota identity must hold for ARBITRARY inputs,
  * not just the fixtures (the t33/q86 discipline). Spark jobs per case
  * are slow, so each property runs one job over a batch of generated
  * cases where possible.
  */
object AnalyticProperties extends Properties("graft.analytic") {

  override def overrideParameters(p: ScTest.Parameters): ScTest.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def winnowReplay(toks: Seq[String], k: Int, w: Int): Seq[String] = {
    val hs = if (toks.length < k) Seq(md5hex(toks.mkString(" ")))
      else toks.sliding(k).map(g => md5hex(g.mkString(" "))).toSeq
    val nw = math.max(hs.length - w + 1, 1)
    (0 until nw).map { i =>
      hs.slice(i, math.min(i + w, hs.length))
        .reduceLeft((a, b) => if (b <= a) b else a) // rightmost min
    }.distinct.sorted
  }

  private val genToks: Gen[List[String]] =
    Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")))

  property("WinnowFingerprints ≡ sequential replay for arbitrary (toks, k, w)") =
    Prop.forAll(Gen.listOfN(12, genToks),
      Gen.choose(1, 7), Gen.choose(1, 6)) { (docs, k, w) =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "toks")
        .select(col("id"),
          graft.functions.WinnowFingerprints(col("toks"), k, w).as("fps"))
      val got = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
      docs.zipWithIndex.forall { case (t, i) =>
        got(i.toLong) == winnowReplay(t, k, w)
      }
    }

  property("winnowing guarantee: a shared ≥(w+k-1)-token run shares a fingerprint") =
    Prop.forAll(genToks, genToks, Gen.choose(1, 5), Gen.choose(1, 4),
      Gen.choose(0L, 1L << 30)) { (pre, post, k, w, salt) =>
      // the shared run is salted unique so the surrounding random text
      // cannot accidentally supply the common fingerprint
      val run = (0 until (w + k - 1)).map(i => s"r${salt}x$i")
      val a = pre ++ run
      val b = run ++ post
      winnowReplay(a, k, w).toSet
        .intersect(winnowReplay(b, k, w).toSet).nonEmpty
    }

  property("cusumFromDaily ≡ the sequential Page recursion on arbitrary series") =
    Prop.forAll(Gen.listOfN(30, for {
      et <- Gen.oneOf("a", "b", "c")
      d <- Gen.choose(1, 12)
      n <- Gen.choose(1L, 50L)
    } yield (et, d, n))) { raw =>
      // one count per (type, day): collapse duplicates by summation
      val series = raw.groupBy(r => (r._1, r._2))
        .map { case ((et, d), g) => (et, d, g.map(_._3).sum) }.toSeq
      def ts(d: Int) = new java.sql.Timestamp(d * 86400000L)
      val daily = series.map { case (et, d, n) => (et, ts(d), n) }
        .toDF("event_type", "day", "n")
      val got = graft.queries.Extensions.cusumFromDaily(daily)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val want = series.groupBy(_._1).map { case (et, rows) =>
        val sorted = rows.sortBy(_._2)
        val days = sorted.length.toLong
        val total = sorted.map(_._3).sum
        var s = 0L; var smax = 0L
        sorted.foreach { case (_, _, n) =>
          s = math.max(0L, s + n * days - total); smax = math.max(smax, s)
        }
        et -> (days, total, smax)
      }
      got == want
    }

  property("hamiltonQuotas: Σ quota = budget and every quota is floor/ceil-bounded") =
    Prop.forAll(
      Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, Gen.choose(1L, 500L))),
      Gen.choose(1L, 2000L)) { (counts, budget) =>
      val bySource = counts.zipWithIndex
        .map { case (n, i) => (f"s$i%02d", n) }.toDF("source", "n_docs")
      val out = graft.queries.Corpus.hamiltonQuotas(bySource, budget)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
      val total = counts.sum
      out.map(_._3).sum == budget && out.forall { case (_, n, q) =>
        val exact = n.toDouble * budget / total
        q >= math.floor(exact).toLong && q <= math.ceil(exact).toLong
      }
    }

  property("media codecs: arbitrary bytes decode to None or a sane frame, never an exception") =
    Prop.forAll(
      Gen.choose(0, 200).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte))),
      Gen.oneOf("", "RIFF", "RIFF\u0000\u0000\u0000\u0000AVI ", "\u0089PNG", "ID3")) {
      (tail, magic) =>
      // adversarial inputs: random bytes behind plausible container
      // magics — every decoder must return promptly with None (or a
      // structurally-sane result), never throw and never hang (the
      // crafted-hang case has its own timed spec; this sweeps the
      // random neighborhood)
      import graft.multimodal.MultiModal
      val bytes = magic.getBytes("ISO-8859-1") ++ tail
      val img = MultiModal.ImageIoCodec.decodeImage(bytes)
      val aud = MultiModal.AudioSystemCodec.decodeAudio(bytes)
      val vid = MultiModal.AviMjpegCodec.decodeFrames(bytes)
      img.forall { case (w, h, px) => w > 0 && h > 0 && px.length == w * h * 3 } &&
      aud.forall { case (rate, pcm) => rate > 0 && pcm != null } &&
      vid.forall { case (frameUs, frames) => frameUs >= 0 && frames != null }
    }

  property("min-k sample fold: merge of batch samples ≡ sample of the union, any split") =
    Prop.forAll(
      Gen.listOfN(60, Gen.choose(0L, 40L)).map(_.distinct),
      Gen.listOfN(60, Gen.oneOf(0, 1)), Gen.choose(1, 12)) { (keys, assign0, k) =>
      // the q96 algebra in the abstract: rows = (hash, key, value);
      // takeK is the k smallest by (hash, key) — a set function, so
      // folding per-batch takeKs must equal takeK of the union for
      // EVERY split, not just the parity split the query uses
      def h(x: Long) = graft.streaming.StreamingIngest.md5Hash64(x.toString)
      val rows = keys.map(x => (h(x), x, x * 1.5))
      def takeK(rs: Seq[(Long, Long, Double)]) =
        rs.sortBy(r => (r._1, r._2)).take(k)
      val (b0, b1) = rows.zip(assign0).partition(_._2 == 0)
      val folded = takeK((takeK(b0.map(_._1)) ++ takeK(b1.map(_._1))).distinct)
      folded == takeK(rows)
    }

  property("rank2Frame ≡ brute-force doubled average ranks for arbitrary multisets") =
    Prop.forAll(
      Gen.listOfN(8, Gen.choose(1, 40).flatMap(n =>
        Gen.listOfN(n, Gen.choose(-50L, 50L)))),
      Gen.oneOf(1.0, 7.0, 64.0)) { (cases, step) =>
      // the q131/q132 rank machinery in the abstract: for ANY value
      // multiset and ANY bucket step, the two-level prefix must yield
      // 2·avgrank(v) = 2·|{x < v}| + |{x = v}| + 1 — bucketing is a
      // plan-shape choice, never a semantics choice
      val df = cases.zipWithIndex
        .flatMap { case (xs, i) => xs.map(x => (i.toLong, x)) }
        .toDF("case_id", "v")
      val got = cases.zipWithIndex.forall { case (xs, i) =>
        val one = df.where(col("case_id") === i.toLong).select(col("v"))
        val ranks = graft.queries.Features.rank2Frame(one, "v", step)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        xs.distinct.forall { v =>
          ranks(v) == 2L * xs.count(_ < v) + xs.count(_ == v) + 1L
        }
      }
      got
    }

  property("exclusivePrefix with by keys ≡ brute-force exclusive sums per group") =
    Prop.forAll(
      Gen.listOfN(6, Gen.choose(0, 30).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.choose(-50L, 50L), Gen.choose(0L, 9L))))),
      Gen.oneOf(1.0, 7.0, 64.0)) { (groups, step) =>
      // the q128/drift shape: per group, each distinct value's sums over
      // the group's strictly smaller values, for two measures at once —
      // the prefix restarts at every group, whatever the bucket step
      val rows = groups.zipWithIndex.flatMap { case (xs, i) =>
        xs.map { case (v, w) => (i.toLong, v, w) }
      }
      val g = rows.toDF("grp", "v", "w")
        .groupBy(col("grp"), col("v"))
        .agg(count(lit(1)).as("__c"), sum(col("w")).as("__w"))
        .withColumn("__bucket", floor(col("v").cast("double") / lit(step)))
      val got = graft.queries.Features.exclusivePrefix(g, "v", "__bucket",
          Seq("__excC" -> "__c", "__excW" -> "__w"), by = Seq("grp"))
        .select(col("grp"), col("v"), col("__excC"), col("__excW"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val want = groups.zipWithIndex.flatMap { case (xs, i) =>
        xs.map(_._1).distinct.map { v =>
          (i.toLong, v) ->
            (xs.count(_._1 < v).toLong, xs.filter(_._1 < v).map(_._2).sum)
        }
      }.toMap
      got == want
    }

  property("ksFromCounts D-statistic ≡ the classic max|F1−F2| fold on arbitrary samples") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(0, 200).map(_ / 2.0)),
      Gen.nonEmptyListOf(Gen.choose(0, 200).map(_ / 2.0))) { (ref, cur) =>
      // timestamps straddle ksValueCounts' fixed 2024-01-16 split
      val before = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
      val after = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
      val ev = (ref.map((before, _)) ++ cur.map((after, _)))
        .toDF("ts", "value")
      val r = graft.queries.Features
        .ksFromCounts(graft.queries.Features.ksValueCounts(ev))
        .collect()(0)
      val vs = (ref ++ cur).distinct
      val brute = vs.map { v =>
        math.abs(ref.count(_ <= v).toDouble / ref.length -
          cur.count(_ <= v).toDouble / cur.length)
      }.max
      r.getLong(0) == ref.length.toLong && r.getLong(1) == cur.length.toLong &&
        math.abs(r.getDouble(2) - brute) < 1e-12
    }

  property("mannWhitneyFromCounts ≡ classic tie-corrected U and z on arbitrary samples") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(0, 40).map(_ / 2.0)),
      Gen.nonEmptyListOf(Gen.choose(0, 40).map(_ / 2.0))) { (ref, cur) =>
      val before = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
      val after = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
      val ev = (ref.map((before, _)) ++ cur.map((after, _)))
        .toDF("ts", "value")
      val r = graft.queries.Features
        .mannWhitneyFromCounts(graft.queries.Features.ksValueCounts(ev))
        .collect()(0)
      val all = ref ++ cur
      // classic doubled average ranks (exact integers): 2·rank(v) =
      // 2·|{<v}| + |{=v}| + 1, so the doubled ref rank-sum is integral
      val r1x2 = ref.map(v =>
        2L * all.count(_ < v) + all.count(_ == v) + 1L).sum
      val (n1, n2) = (ref.length.toLong, cur.length.toLong)
      val uBrute = (r1x2 - n1 * (n1 + 1)).toDouble / 2.0
      val n = (n1 + n2).toDouble
      val tc = all.groupBy(identity).values
        .map(g => { val t = g.size.toLong; t * t * t - t }).sum
      val varU = n1 * n2 / 12.0 * ((n + 1.0) - tc / (n * (n - 1.0)))
      val uOk = r.getDouble(2) == uBrute // both exact halves of integers
      val zOk =
        if (varU <= 0) r.isNullAt(3) && r.isNullAt(4)
        else {
          val zBrute = (uBrute - n1 * n2 / 2.0) / math.sqrt(varU)
          // the flag is checked against the ENGINE's z (zBrute can sit
          // 1e-13 across the threshold without being a bug)
          math.abs(r.getDouble(3) - zBrute) < 1e-12 &&
            r.getBoolean(4) == (math.abs(r.getDouble(3)) > 1.959964)
        }
      r.getLong(0) == n1 && r.getLong(1) == n2 && uOk && zOk
    }

  property("cliffsDeltaFromCounts ≡ brute-force P(ref>cur)−P(cur>ref) on arbitrary samples") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(0, 40).map(_ / 2.0)),
      Gen.nonEmptyListOf(Gen.choose(0, 40).map(_ / 2.0))) { (ref0, cur0) =>
      // shrinking can bypass nonEmptyListOf; degenerate (one-sided)
      // inputs are covered by the NULL rule, so pin shrinks to 1 row
      val ref = if (ref0.isEmpty) List(1.0) else ref0
      val cur = if (cur0.isEmpty) List(1.0) else cur0
      val before = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
      val after = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
      val ev = (ref.map((before, _)) ++ cur.map((after, _)))
        .toDF("ts", "value")
      val r = graft.queries.Features
        .cliffsDeltaFromCounts(graft.queries.Features.ksValueCounts(ev))
        .collect()(0)
      // the definitional pair count: δ = (#(x>y) − #(x<y)) / (n1·n2)
      var gt = 0L; var ltc = 0L
      for (x <- ref; y <- cur) {
        if (x > y) gt += 1 else if (x < y) ltc += 1
      }
      val (n1, n2) = (ref.length.toLong, cur.length.toLong)
      val brute = (gt - ltc).toDouble / (n1 * n2).toDouble
      val mag = math.abs(brute) match {
        case a if a < 0.147 => "negligible"
        case a if a < 0.33  => "small"
        case a if a < 0.474 => "medium"
        case _              => "large"
      }
      r.getLong(0) == n1 && r.getLong(1) == n2 &&
        math.abs(r.getDouble(2) - brute) < 1e-12 &&
        r.getString(3) == mag
    }

  property("anovaFromStats ≡ classic two-pass one-way F on arbitrary samples") =
    Prop.forAll(Gen.sequence[List[List[Int]], List[Int]](
      List.fill(5)(Gen.nonEmptyListOf(Gen.choose(0, 4000))))) { cents0 =>
      // shrinking can bypass nonEmptyListOf; an empty arm is the NULL
      // rule's territory, so pin shrinks to one row per arm
      val cents = cents0.map(g => if (g.isEmpty) List(100) else g)
      val types = graft.queries.Features.AnovaTypes
      val rows = types.zip(cents).flatMap { case (t, g) =>
        g.map(c => (t, c.toDouble / 100.0))
      }
      val r = graft.queries.Features
        .anovaFromStats(graft.queries.Features.anovaSufficientStats(
          rows.toDF("event_type", "value")))
        .collect()(0)
      // independent mechanism: two-pass means over the quantized
      // values, SSB = Σ n_g(m_g−m)², SSW = Σ_g Σ(y−m_g)²
      val groups = cents.map(_.map(_.toDouble / 100.0))
      val n = groups.map(_.size).sum.toDouble
      val grandMean = groups.flatten.sum / n
      val ssb = groups.map(g =>
        g.size * math.pow(g.sum / g.size - grandMean, 2)).sum
      val ssw = groups.map(g => {
        val m = g.sum / g.size
        g.map(y => (y - m) * (y - m)).sum
      }).sum
      val nOk = r.getLong(0) == n.toLong
      val sOk = math.abs(r.getDouble(1) - ssb) < 1e-6 * (1.0 + ssb) &&
        math.abs(r.getDouble(2) - ssw) < 1e-6 * (1.0 + ssw)
      val fOk =
        if (ssw <= 1e-12 || n <= 5) r.isNullAt(3)
        else {
          val f = (ssb / 4.0) / (ssw / (n - 5.0))
          math.abs(r.getDouble(3) - f) < 1e-6 * (1.0 + f.abs)
        }
      nOk && sOk && fOk
    }

  property("kruskalWallisFromCounts ≡ brute-force global ranks on arbitrary samples") =
    Prop.forAll(Gen.sequence[List[List[Int]], List[Int]](
      List.fill(5)(Gen.nonEmptyListOf(Gen.choose(0, 40))))) { cents0 =>
      // shrinking can bypass nonEmptyListOf; an empty arm is the NULL
      // rule's territory, so pin shrinks to one row per arm
      val cents = cents0.map(g => if (g.isEmpty) List(7) else g)
      val types = graft.queries.Features.AnovaTypes
      val rows = types.zip(cents).flatMap { case (t, g) =>
        g.map(c => (t, c.toDouble / 4.0)) // quarter steps force ties
      }
      val r = graft.queries.Features
        .kruskalWallisFromCounts(graft.queries.Features.kwCounts(
          rows.toDF("event_type", "value")))
        .collect()(0)
      // independent mechanism: literal sorted-sample tie-averaged ranks
      val groups = cents.map(_.map(_.toDouble / 4.0))
      val all = groups.flatten.sorted
      val n = all.length
      val rank: Map[Double, Double] = all.zipWithIndex.groupBy(_._1)
        .map { case (v, ps) =>
          v -> ps.map(_._2 + 1).sum.toDouble / ps.length }
      val rg = groups.map(_.map(rank).sum)
      val h = 12.0 / (n.toDouble * (n + 1.0)) *
        groups.indices.map(i => rg(i) * rg(i) / groups(i).size).sum -
        3.0 * (n + 1.0)
      val tc = all.groupBy(identity).values
        .map(g => { val t = g.size.toDouble; t * t * t - t }).sum
      val denom = 1.0 - tc / (n.toDouble * n * n - n)
      val nOk = r.getLong(0) == n.toLong
      if (denom <= 0.0 || n <= 5) nOk && r.isNullAt(2)
      else {
        val hc = h / denom
        nOk && math.abs(r.getDouble(1) - h) < 1e-9 * (1.0 + h.abs) &&
          math.abs(r.getDouble(2) - hc) < 1e-9 * (1.0 + hc.abs) &&
          r.getBoolean(4) == (hc > 9.4877)
      }
    }

  property("fleissFromLabels ≡ textbook per-item Fleiss' kappa on arbitrary panels") =
    Prop.forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.prob(0.5), Gen.prob(0.5), Gen.prob(0.5)))) { panel0 =>
      val panel = if (panel0.isEmpty) List((true, false, true)) else panel0
      val r = graft.queries.Features
        .fleissFromLabels(panel.toDF("__la", "__lb", "__lc"))
        .collect()(0)
      // textbook: P_i = Σ_j n_ij(n_ij−1)/(n(n−1)), P̄e = Σ_j p_j²
      val nps = panel.map { case (a, b, c) =>
        Seq(a, b, c).count(identity) }
      val bigN = panel.length.toDouble
      val pBar = nps.map(p => p * (p - 1) + (3 - p) * (2 - p)).sum /
        (6.0 * bigN)
      val pPos = nps.sum / (3.0 * bigN)
      val pE = pPos * pPos + (1.0 - pPos) * (1.0 - pPos)
      val nOk = r.getLong(0) == panel.length.toLong &&
        r.getLong(1) == nps.sum.toLong &&
        r.getLong(2) == 3L * panel.length - nps.sum
      val baseOk = math.abs(r.getDouble(3) - pBar) < 1e-12 &&
        math.abs(r.getDouble(4) - pE) < 1e-12
      val kOk =
        if (math.abs(pE - 1.0) < 1e-15) r.isNullAt(5)
        else math.abs(
          r.getDouble(5) - (pBar - pE) / (1.0 - pE)) < 1e-9
      nOk && baseOk && kOk
    }

  property("chi2FromCatCounts ≡ textbook contingency chi-square on arbitrary mixes") =
    Prop.forAll(Gen.sequence[List[(Int, Int)], (Int, Int)](
      List.fill(5)(Gen.zip(Gen.choose(0, 400), Gen.choose(0, 400))))) { cells =>
      val types = graft.queries.Features.AnovaTypes
      val counts = types.zip(cells).map { case (t, (r, c)) =>
        (t, r.toLong, c.toLong) }
      val res = graft.queries.Features
        .chi2FromCatCounts(counts.toDF("event_type", "n_ref", "n_cur"))
        .collect()(0)
      val colR = cells.map(_._1.toDouble).sum
      val colC = cells.map(_._2.toDouble).sum
      val n = colR + colC
      val nOk = res.getLong(0) == cells.map(p => p._1 + p._2).sum.toLong
      if (colR == 0.0 || colC == 0.0) nOk && res.isNullAt(1)
      else {
        // an empty row (type absent from both sides) drops — the
        // query's guarded-cell convention, textbook dropped-cell
        val chi2 = cells.flatMap { case (r, c) =>
          val row = (r + c).toDouble
          Seq((r.toDouble, row * colR / n), (c.toDouble, row * colC / n))
        }.collect { case (o, e) if e > 0.0 => (o - e) * (o - e) / e }.sum
        nOk && math.abs(res.getDouble(1) - chi2) < 1e-9 * (1.0 + chi2) &&
          math.abs(res.getDouble(2) - math.sqrt(chi2 / n)) < 1e-9 &&
          res.getBoolean(3) == (chi2 > 9.4877)
      }
    }

  property("dunnFromCounts ≡ brute-force pooled-variance pairwise z on arbitrary samples") =
    Prop.forAll(Gen.sequence[List[List[Int]], List[Int]](
      List.fill(5)(Gen.nonEmptyListOf(Gen.choose(0, 40))))) { cents0 =>
      val cents = cents0.map(g => if (g.isEmpty) List(3) else g)
      val types = graft.queries.Features.AnovaTypes
      val rows = types.zip(cents).flatMap { case (t, g) =>
        g.map(c => (t, c.toDouble / 4.0)) } // quarter steps force ties
      val got = graft.queries.Features
        .dunnFromCounts(graft.queries.Features.kwCounts(
          rows.toDF("event_type", "value")))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
      // literal sorted-sample tie-averaged ranks, textbook Dunn z
      val groups = cents.map(_.map(_.toDouble / 4.0))
      val all = groups.flatten.sorted
      val n = all.length
      val rank: Map[Double, Double] = all.zipWithIndex.groupBy(_._1)
        .map { case (v, ps) =>
          v -> ps.map(_._2 + 1).sum.toDouble / ps.length }
      val tc = all.groupBy(identity).values
        .map(g => { val t = g.size.toDouble; t * t * t - t }).sum
      val sig2 = n.toDouble * (n + 1.0) / 12.0 - tc / (12.0 * (n - 1.0))
      val pairsOk = (for {
        i <- types.indices; j <- types.indices if types(i) < types(j)
      } yield {
        val (na, nb) = (groups(i).size, groups(j).size)
        val (gNa, gNb, gZ) = got((types(i), types(j)))
        val sizeOk = gNa == na.toLong && gNb == nb.toLong
        if (sig2 <= 0.0 || n <= 1) sizeOk && gZ.isEmpty
        else {
          val z = (groups(i).map(rank).sum / na -
            groups(j).map(rank).sum / nb) /
            math.sqrt(sig2 * (1.0 / na + 1.0 / nb))
          sizeOk && gZ.exists(g => math.abs(g - z) < 1e-9 * (1.0 + z.abs))
        }
      }).forall(identity)
      got.size == 10 && pairsOk
    }

  property("mannKendallFromDaily ≡ brute-force pair enumeration on arbitrary series") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0, 6))) { series0 =>
      val series = if (series0.isEmpty) List(1) else series0
      val daily = series.zipWithIndex.map { case (n, i) =>
        ("click", java.sql.Timestamp.valueOf(
          f"2024-01-${i % 28 + 1}%02d 00:00:00"), n.toLong) }
      // distinct days required: cap the series at 28 points
      val capped = daily.take(28)
      val rows = graft.queries.Features
        .mannKendallFromDaily(capped.toDF("event_type", "day", "n"))
        .collect()
      val xs = capped.map(_._3)
      val n = xs.length
      // a single-day series has no pairs, hence no test and no row
      if (n == 1) rows.isEmpty
      else {
        val r = rows(0)
        var s = 0L
        for (i <- 0 until n; j <- (i + 1) until n)
          s += (xs(j) - xs(i)).sign
        val tt = xs.groupBy(identity).values
          .map(g => { val t = g.size.toLong; t * (t - 1) * (2 * t + 5) }).sum
        val varS = (n.toDouble * (n - 1.0) * (2.0 * n + 5.0) - tt) / 18.0
        val base = r.getLong(1) == n.toLong &&
          r.getLong(2) == n.toLong * (n - 1) / 2 && r.getLong(3) == s
        if (varS <= 0.0) base && r.isNullAt(5)
        else {
          val z = if (s > 0) (s - 1.0) / math.sqrt(varS)
            else if (s < 0) (s + 1.0) / math.sqrt(varS) else 0.0
          base && math.abs(r.getDouble(5) - z) < 1e-12 &&
            r.getBoolean(6) == (math.abs(z) > 1.959964)
        }
      }
    }

  property("cupedFromPerUser ≡ literal per-user adjusted-metric computation") =
    Prop.forAll(Gen.listOfN(10,
      Gen.zip(Gen.choose(0L, 500L), Gen.choose(0L, 500L)))) { xy0 =>
      // ≥2 users per arm so the adjusted variance is defined
      val xy = if (xy0.length < 4)
        List((10L, 20L), (30L, 5L), (7L, 7L), (0L, 50L)) else xy0
      val perUser = xy.zipWithIndex.map { case ((x, y), i) =>
        (i.toLong, x, y, i % 2 == 0) }
      val r = graft.queries.Features
        .cupedFromPerUser(perUser.toDF("user_id", "__x", "__y", "__a"))
        .collect()(0)
      val n = xy.length.toDouble
      val xs = xy.map(_._1.toDouble); val ys = xy.map(_._2.toDouble)
      val (xbar, ybar) = (xs.sum / n, ys.sum / n)
      val varX = xs.map(x => (x - xbar) * (x - xbar)).sum
      val cov = xs.zip(ys).map { case (x, y) => (x - xbar) * (y - ybar) }.sum
      val base = r.getLong(0) == perUser.count(_._4).toLong &&
        r.getLong(1) == perUser.count(!_._4).toLong
      if (varX <= 0.0) base && r.isNullAt(3)
      else {
        val theta = cov / varX
        val adj = perUser.map { case (_, x, y, a) =>
          (a, y - theta * (x - xbar)) }
        val (aa, bb) = (adj.filter(_._1).map(_._2), adj.filterNot(_._1).map(_._2))
        val lift = (aa.sum / aa.length - bb.sum / bb.length) / 100.0
        base && math.abs(r.getDouble(3) - theta) < 1e-9 * (1.0 + theta.abs) &&
          math.abs(r.getDouble(4) - lift) < 1e-9 * (1.0 + lift.abs)
      }
    }

  property("kendallFromPairs ≡ brute-force pair counting on arbitrary samples") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 8), Gen.choose(0, 5)))) { xy0 =>
      // shrinking can bypass nonEmptyListOf; the operator's domain is
      // a non-empty corpus, so pin the degenerate shrink to 1 row
      val xy = if (xy0.isEmpty) List((1, 1)) else xy0
      val r = graft.queries.Features
        .kendallFromPairs(xy.toDF("x", "y"))
        .collect()(0)
      val n = xy.length.toLong
      var c = 0L; var d = 0L
      for (i <- xy.indices; j <- (i + 1) until xy.length) {
        val s = (xy(i)._1 - xy(j)._1).sign * (xy(i)._2 - xy(j)._2).sign
        if (s > 0) c += 1 else if (s < 0) d += 1
      }
      val tx = xy.groupBy(_._1).values
        .map(g => { val t = g.size.toLong; t * (t - 1) }).sum
      val ty = xy.groupBy(_._2).values
        .map(g => { val t = g.size.toLong; t * (t - 1) }).sum
      val n02 = n * (n - 1)
      val dx = (n02 - tx).toDouble / 2.0
      val dy = (n02 - ty).toDouble / 2.0
      val cOk = r.getDouble(2) == c.toDouble && r.getDouble(3) == d.toDouble
      val tauOk =
        if (dx <= 0 || dy <= 0) r.isNullAt(4)
        else math.abs(
          r.getDouble(4) - (c - d).toDouble / math.sqrt(dx * dy)) < 1e-12
      r.getLong(0) == n && cOk && tauOk
    }

  /** Exact BigInt replay of [[graft.analytics.Preference]]'s fixed-
    * point MM rounds — every truncating division restated driver-side,
    * so the distributed fit must match BIT-EXACTLY, any partitioning.
    */
  private def btReplay(duels: Seq[(String, String, Long)],
      iters: Int): Map[String, Long] = {
    val nm = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    duels.foreach { case (w, l, n) =>
      nm((w, l)) += n; nm((l, w)) += n
    }
    val items = nm.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct.sorted
    val winsByItem = duels.groupBy(_._1)
      .map { case (i, xs) => i -> xs.map(_._3).sum }
    val w1 = items.map(i =>
      i -> (BigInt(winsByItem.getOrElse(i, 0L)) + 1)).toMap
    var s = items.map(i => i -> BigInt(1000000L)).toMap
    (1 to iters).foreach { _ =>
      val d = items.map { i =>
        i -> items.filter(j => nm((i, j)) > 0).map { j =>
          BigInt(nm((i, j))) * BigInt(1000000000L) / (s(i) + s(j))
        }.sum
      }.toMap
      val raw = items.map(i =>
        i -> (w1(i) * BigInt(1000000000000L) / d(i))).toMap
      val mx = raw.values.max
      s = items.map(i =>
        i -> (raw(i) * 1000000 / mx).max(BigInt(1))).toMap
    }
    s.map { case (k, v) => k -> v.toLong }
  }

  private val genDuels: Gen[List[(String, String, Long)]] = for {
    nItems <- Gen.choose(2, 6)
    items = (0 until nItems).map(i => s"item_$i")
    n <- Gen.choose(1, 12)
    ds <- Gen.listOfN(n, for {
      w <- Gen.oneOf(items)
      l <- Gen.oneOf(items.filterNot(_ == w))
      c <- Gen.choose(1L, 50L)
    } yield (w, l, c))
  } yield ds

  /** Independent t-closeness reference: per-group ordered-EMD against
    * the global distribution via plain Double cumulative fractions —
    * no common-denominator rewrite, no decimal folds.
    */
  private def emdReplay(rows: Seq[(String, Long, Long)])
      : Map[(String, Long), Double] = {
    val buckets = rows.map(_._3).distinct.sorted
    val n = rows.size.toDouble
    val globCum = buckets.map(b =>
      b -> rows.count(_._3 <= b) / n).toMap
    rows.groupBy(r => (r._1, r._2)).map { case (g, rs) =>
      val ng = rs.size.toDouble
      val emd = buckets.map(b =>
        math.abs(rs.count(_._3 <= b) / ng - globCum(b))).sum /
        math.max(buckets.size - 1, 1)
      g -> emd
    }
  }

  private val genPrivacyRows: Gen[List[(String, Long, Long)]] = for {
    n <- Gen.choose(20, 120)
    rows <- Gen.listOfN(n, for {
      seg <- Gen.oneOf("A", "B", "C")
      nat <- Gen.choose(0L, 2L)
      sens <- Gen.choose(0L, 5L)
    } yield (seg, nat, sens))
  } yield rows

  property("q151 t-closeness EMD ≡ independent Double cumulative-fraction replay") =
    Prop.forAll(genPrivacyRows) { rows0 =>
      val rows = if (rows0.isEmpty) List(("A", 0L, 0L), ("A", 0L, 1L))
        else rows0
      // drive the registered query's exact pipeline through a view
      // over the generated rows (customer-shaped projection)
      val df = rows.toDF("seg", "nat", "sens")
        .select(col("seg").as("c_mktsegment"),
          col("nat").as("c_nationkey"),
          (col("sens").cast("double") * 1000.0).as("c_acctbal"))
      val tmp = SparkSpec.tempDir("graft_q151_prop")
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/customer.parquet")
      val got = graft.queries.Features.q151_t_closeness(spark, tmp)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
        .toMap
      val want = emdReplay(rows)
      val m = rows.map(_._3).distinct.size
      got.keySet == want.keySet && got.forall { case (g, t) =>
        if (m <= 1) t.isNaN // single bucket: NULL, never 0/0 debris
        else math.abs(t - want(g)) < 1e-12
      }
    }

  property("bradleyTerryFromDuels ≡ the exact BigInt MM replay on arbitrary duel tables") =
    Prop.forAll(genDuels) { ds0 =>
      // shrinking can bypass the generator's bounds; pin the
      // degenerate shrink to one duel
      val ds = if (ds0.isEmpty) List(("item_0", "item_1", 1L)) else ds0
      val iters = 4 // fewer than q150's 8: the property is per-round
      val got = graft.analytics.Preference
        .bradleyTerryFromDuels(
          ds.toDF("item_w", "item_l", "n_wl").repartition(5), iters)
        .collect()
        .map(r => (r.getString(0), r.getLong(5), r.getLong(6)))
      val want = btReplay(ds, iters)
      val strengthsOk = got.forall { case (i, s, _) => want(i) == s }
      // ranks must be the strength order with the item tiebreak
      val rankOk = got.sortBy(_._3).map(_._1).toSeq ==
        got.sortBy(x => (-x._2, x._1)).map(_._1).toSeq
      got.length == want.size && strengthsOk && rankOk
    }
}
