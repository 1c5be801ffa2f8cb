package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test => ScTest}

import graft.analytics.Indicators
import graft.load.Incremental

/** Property-based checks (SURVEY.md §5): load idempotency, SMA ≡
  * brute force and the fold/sketch algebras below. Spark jobs
  * per case are slow, so the per-property case count is small; the
  * generators still cover empty/duplicate/out-of-order shapes.
  */
object LoadProperties extends Properties("graft.load") {

  override def overrideParameters(p: ScTest.Parameters): ScTest.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("sym", StringType),
    StructField("d", IntegerType),
    StructField("v", DoubleType)))

  private val genRows: Gen[List[(String, Int, Double)]] =
    Gen.listOfN(30, for {
      s <- Gen.oneOf("A", "B", "C")
      d <- Gen.choose(1, 15)
      v <- Gen.choose(0, 1000).map(_ / 10.0)
    } yield (s, d, v))

  property("appendIdempotent: re-running any batch inserts zero") =
    Prop.forAll(genRows) { rows =>
      val path = SparkSpec.tempDir("graft_prop") + "/t"
      val batch = rows.toDF("sym", "d", "v")
      val n1 = Incremental.appendIdempotent(spark, path, batch, Seq("sym", "d"), schema)
      val n2 = Incremental.appendIdempotent(spark, path, batch, Seq("sym", "d"), schema)
      val distinctPk = rows.map(r => (r._1, r._2)).distinct.size
      n1 == distinctPk && n2 == 0
    }

  property("TopKPerKey ≡ rank window on arbitrary keyed data") =
    Prop.forAll(genRows, Gen.choose(1, 4)) { (rows, k) =>
      val df = rows.toDF("sym", "d", "v").repartition(3)
      val custom = graft.plans.TopKPerKey(df, Seq("sym"),
        Seq(col("v").desc, col("d").asc), k)
        .collect().map(_.toSeq).toSet
      // (v desc, d asc) ties only between IDENTICAL rows, so the
      // multiset of emitted values is unique and a value-set compare
      // against the rank window is exact
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("sym")).orderBy(col("v").desc, col("d").asc)
      val win = df.withColumn("__r", row_number().over(w)).where(col("__r") <= k)
        .drop("__r").collect().map(_.toSeq).toSet
      custom == win
    }

  property("mergeAggregates over any 3-way split ≡ one-shot aggregation") =
    Prop.forAll(genRows, Gen.choose(1, 28), Gen.choose(2, 29)) { (rows, c1, c2 ) =>
      val Seq(lo, hi) = Seq(c1, c2).sorted
      def state(xs: List[(String, Int, Double)]) =
        xs.toDF("sym", "d", "v").groupBy("sym")
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(18, 2))).as("s"))
      val parts = Seq(rows.take(lo), rows.slice(lo, hi), rows.drop(hi))
        .filter(_.nonEmpty).map(state)
      parts.isEmpty || {
        val merged = Incremental.mergeAggregates(parts, Seq("sym"), Seq("n", "s"))
          .select(col("sym"), col("n"), col("s").cast(DecimalType(18, 2)))
          .collect().map(_.toSeq).toSet
        val full = state(rows)
          .select(col("sym"), col("n"), col("s").cast(DecimalType(18, 2)))
          .collect().map(_.toSeq).toSet
        merged == full
      }
    }

  // t33's fold machinery must be split-invariant: ANY batch assignment
  // (including empty batches and empty documents) folds to the same
  // stats a one-shot pass computes — the property that makes the
  // continuous-corpus loop safe under arbitrary delta arrival.
  property("CorpusStats fold over any 3-way batch split ≡ one-shot recompute") = {
    import graft.text.{CorpusStats, TextAnalysis}
    val genDocs: Gen[List[(Long, String)]] =
      Gen.listOfN(20, for {
        id <- Gen.choose(0L, 1000000L)
        n <- Gen.choose(0, 10) // 0 → the empty-document edge
        ws <- Gen.listOfN(n,
          Gen.oneOf("spark", "data", "rank", "window", "hot", "fox", "stream"))
      } yield (id, ws.mkString(" ")))
    Prop.forAll(genDocs, Gen.listOfN(20, Gen.choose(0, 2))) { (docs, assign0) =>
      val assign = assign0.padTo(docs.length, 0)
      def staged(xs: List[(Long, String)]) =
        xs.toDF("doc_id", "text")
          .withColumn("__toks", TextAnalysis.tokens(col("text")))
      val parts = (0 to 2).map(p =>
        staged(docs.zip(assign).collect { case (d, a) if a == p => d }))
      val (dfM, totM) = CorpusStats.merge(
        parts.map(f => CorpusStats.dfPartial(f, col("__toks"))),
        parts.map(f => CorpusStats.totalsPartial(f, col("__toks"))))
      val all = staged(docs)
      val (dfF, totF) = CorpusStats.merge(
        Seq(CorpusStats.dfPartial(all, col("__toks"))),
        Seq(CorpusStats.totalsPartial(all, col("__toks"))))
      def d(x: org.apache.spark.sql.DataFrame) =
        x.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      def t(x: org.apache.spark.sql.DataFrame) =
        x.collect().map(r => (r.getLong(0), r.getLong(1))).head
      d(dfM) == d(dfF) && t(totM) == t(totF)
    }
  }

  // q86's algebra: the k smallest hashes of a union are the k smallest
  // of the parts' k-smallest sets — KMV summaries fold losslessly, for
  // any split, any duplicate pattern, any fill level (< k included).
  property("KMV k-min fold over any 2-way split ≡ full-corpus sketch") = {
    import graft.functions.KmvSketch
    Prop.forAll(Gen.listOfN(40, Gen.choose(0L, 30L))) { vals =>
      val k = 8
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
        .select(col("id"), KmvSketch.hash64(col("v")).as("__h"))
      def sketch(part: org.apache.spark.sql.DataFrame): Seq[Long] =
        part.agg(KmvSketch.kmvHashes(col("__h"), k).as("hs"))
          .collect()(0).getSeq[Long](0)
      val merged = (sketch(df.where(pmod(col("id"), lit(2)) === 0))
        ++ sketch(df.where(pmod(col("id"), lit(2)) === 1)))
        .distinct.sorted.take(k)
      merged == sketch(df).toList
    }
  }

  // journeyFrame's two-level (user, day) assembly must equal the global
  // (ts, event_id) sort — the invariant that lets the hot user's history
  // split across days without an unbounded aggregation buffer. The
  // generator forces the hazardous shapes: events AT midnight (the day
  // seam), 1-second straddles on both sides of it, and equal-ts ties
  // with distinct event_ids (within a day by construction — day(ts) is a
  // function of ts, so a tie can never cross the seam).
  property("journeyFrame two-level day assembly ≡ global (ts,event_id) sort") = {
    val midnight = java.time.LocalDate.of(2024, 3, 9)
    val genEvent = for {
      user <- Gen.choose(1L, 2L)
      day <- Gen.choose(0, 2)
      sec <- Gen.oneOf(Gen.oneOf(0L, 1L, 86399L), Gen.choose(0L, 86399L))
      typ <- Gen.oneOf("view", "click", "purchase", "error")
    } yield (user, midnight.plusDays(day).atStartOfDay()
      .plusSeconds(sec), typ)
    val genEvents = Gen.listOfN(40, genEvent).map(_.zipWithIndex.map {
      case ((u, ldt, ty), i) =>
        (u, java.sql.Timestamp.valueOf(ldt), i.toLong, ty)
    })
    Prop.forAll(genEvents) { rows =>
      // plant guaranteed equal-ts ties: duplicate every 7th event's ts
      // under a fresh event_id
      val ties = rows.zipWithIndex.collect { case ((u, ts, _, ty), i) if i % 7 == 0 =>
        (u, ts, (rows.size + i).toLong, ty)
      }
      val all = rows ++ ties
      val df = all.toDF("user_id", "ts", "event_id", "event_type")
      val got = graft.queries.Extensions.journeyFrame(df, "vc*p")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3))))
        .toMap
      val want = all.groupBy(_._1).map { case (u, es) =>
        val j = es.sortBy(e => (e._2.getTime, e._3))
          .map(_._4.substring(0, 1)).mkString
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(j.getBytes("UTF-8")).map("%02x".format(_)).mkString
        u -> ((j.length.toLong, md5, "vc*p".r.findAllMatchIn(j).length.toLong))
      }
      got == want
    }
  }

  property("SMA window ≡ brute-force average, gated on full windows") =
    Prop.forAll(Gen.listOfN(25, Gen.choose(0, 500).map(_ / 10.0)), Gen.choose(1, 6)) {
      (xs, n) =>
        val df = xs.zipWithIndex.map { case (x, i) => ("A", i, x) }.toDF("sym", "t", "x")
        val got = Indicators.sma(df, "sym", Seq("t"), "x", n)
          .orderBy("t").select("sma_value").collect().map(_.getDouble(0)).toSeq
        val want = xs.indices.drop(n - 1)
          .map(i => xs.slice(i - n + 1, i + 1).sum / n)
        got.size == want.size &&
          got.zip(want).forall { case (a, b) => math.abs(a - b) < 1e-9 }
    }
}
