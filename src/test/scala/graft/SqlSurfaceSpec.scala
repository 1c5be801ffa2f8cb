package graft

class SqlSurfaceSpec extends SparkSpec {

  test("ApproxDistinctRewrite: COUNT(DISTINCT) becomes the KMV sketch only when enabled") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1 to 5000).map(i => (i % 3, s"v${i % 1000}")).toDF("g", "x")
    df.createOrReplaceTempView("approx_t")
    val prior = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prior :+ graft.functions.ApproxDistinctRewrite
    try {
      val q = "SELECT g, COUNT(DISTINCT x) AS d FROM approx_t GROUP BY g"
      // flag off: exact result, no sketch in the plan
      spark.conf.set("spark.graft.approxDistinct.enabled", "false")
      val exact = spark.sql(q)
      assert(!exact.queryExecution.optimizedPlan.toString.contains("graft_kmv"))
      assert(exact.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ===
        Set((0, 1000L), (1, 1000L), (2, 1000L)))
      // flag on: plan carries the sketch aggregate, result equals the
      // direct KmvSketch.kmvDistinct value (bit-for-bit same estimator)
      spark.conf.set("spark.graft.approxDistinct.enabled", "true")
      val approx = spark.sql(q)
      assert(approx.queryExecution.optimizedPlan.toString.contains("graft_kmv"))
      val got = approx.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      val direct = df.groupBy("g")
        .agg(graft.functions.KmvSketch.kmvDistinct(col("x")).as("d"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(got === direct)
      // k=256 on 1000 distinct → an estimate within the ~6% error bound
      got.values.foreach(v => assert(math.abs(v - 1000.0) / 1000.0 < 0.2, s"estimate $v"))
    } finally {
      spark.conf.set("spark.graft.approxDistinct.enabled", "false")
      spark.experimental.extraOptimizations = prior
    }
  }

  test("ApproxDistinctRewrite: ±0.0 hash to one value and subquery aggregates are rewritten") {
    import spark.implicits._
    // 10 distinct doubles < k=256 → the sketch must be EXACT; with the
    // raw string hash, -0.0 and 0.0 split and the count comes back 11
    val vals = Seq(-0.0, 0.0) ++ (1 to 9).map(_.toDouble)
    val df = (vals ++ vals).toDF("x") // duplicated so DISTINCT matters
    df.createOrReplaceTempView("approx_zero_t")
    val prior = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prior :+ graft.functions.ApproxDistinctRewrite
    try {
      spark.conf.set("spark.graft.approxDistinct.enabled", "true")
      val q = spark.sql("SELECT COUNT(DISTINCT x) AS d FROM approx_zero_t")
      assert(q.queryExecution.optimizedPlan.toString.contains("graft_kmv"))
      assert(q.collect()(0).getLong(0) === 10L,
        "-0.0 and 0.0 are one distinct value to exact COUNT(DISTINCT)")
      // the rewrite must also descend into subquery plans
      val sub = spark.sql(
        """SELECT x FROM approx_zero_t
          |WHERE x >= (SELECT COUNT(DISTINCT x) FROM approx_zero_t) - 1""".stripMargin)
      assert(sub.queryExecution.optimizedPlan.toString.contains("graft_kmv"),
        "scalar-subquery COUNT(DISTINCT) must be rewritten too")
      assert(sub.collect().map(_.getDouble(0)).toSet === Set(9.0))
    } finally {
      spark.conf.set("spark.graft.approxDistinct.enabled", "false")
      spark.experimental.extraOptimizations = prior
    }
  }

  test("graft_cosine on a wrong argument type fails analysis with its own type-check message") {
    graft.functions.VectorExpressions.register(spark)
    // spark.sql analyzes eagerly: the error surfaces before any job,
    // not as a runtime cast error
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_cosine('a', 'b')")
    }
    assert(e.getMessage.contains(
      "graft_cosine requires two array<double> arguments, got string and string"),
      e.getMessage)
  }

  test("registerViews exposes the corpus and the graft SQL functions to spark.sql") {
    Tables.registerViews(spark, "/root/testdata/sf0.001")
    val n = spark.sql("SELECT COUNT(*) FROM lineitem WHERE l_quantity < 10")
      .collect()(0).getLong(0)
    assert(n > 0)

    val joined = spark.sql(
      """SELECT r_name, COUNT(*) AS c FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin).collect()
    assert(joined.length == 5)

    val cos = spark.sql(
      """SELECT a.vec_id, graft_cosine(CAST(a.embedding AS ARRAY<DOUBLE>),
        |                              CAST(a.embedding AS ARRAY<DOUBLE>)) AS self_cos
        |FROM embeddings a LIMIT 5""".stripMargin)
      .collect().map(_.getDouble(1))
    assert(cos.forall(c => math.abs(c - 1.0) < 1e-12))

    val dot = spark.sql(
      "SELECT graft_dot(CAST(ARRAY(1.0, 2.0) AS ARRAY<DOUBLE>), CAST(ARRAY(3.0, 4.0) AS ARRAY<DOUBLE>)) AS d")
      .collect()(0).getDouble(0)
    assert(dot == 11.0)

    // fingerprint via SQL equals the Column-API / interpreted formulation
    val fp = spark.sql(
      """SELECT graft_fingerprint(
        |  filter(split(lower(text), '\\s+'), t -> t <> ''), 8) AS f,
        |  md5('x') AS probe
        |FROM documents LIMIT 3""".stripMargin).collect()
    assert(fp.forall(r => r.getString(0).matches("[0-9a-f]{32}")))

    val sh = spark.sql(
      "SELECT graft_simhash_fold(CAST(ARRAY(5, 5, 5) AS ARRAY<BIGINT>), 4) AS s")
      .collect()(0).getLong(0)
    assert(sh == 5L) // all tokens identical -> the hash itself

    // SpaceSaving summary from SQL: exact in the unsaturated regime
    val ss = spark.sql(
      """SELECT graft_spacesaving(x, 8) AS s FROM (
        |  SELECT explode(array('a','a','a','b','b','c')) AS x)""".stripMargin)
      .selectExpr("inline(s)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(ss.toSeq === Seq(("a", 3L, 0L), ("b", 2L, 0L), ("c", 1L, 0L)))

    // round-9 expressions from SQL: NFC recomposition and winnowing
    // Spark's chr() is ASCII-only (n % 256), so the combining acute
    // rides in as a unicode escape inside the SQL literal
    val nfc = spark.sql(
      "SELECT graft_normalize('cafe\u0301', 'NFC') AS n")
      .collect()(0).getString(0)
    assert(nfc === "caf\u00e9")
    val wn = spark.sql(
      """SELECT graft_winnow(array('a','b','c','d','e','f','g','h'), 5, 4) AS w"""
    ).collect()(0).getSeq[String](0)
    assert(wn.nonEmpty && wn.forall(_.matches("[0-9a-f]{32}")))

    // Jaro–Winkler from SQL: the Winkler reference pair
    val jw = spark.sql(
      "SELECT graft_jaro_winkler('martha', 'marhta') AS j")
      .collect()(0).getDouble(0)
    assert(math.abs(jw - 0.9611111111111111) < 1e-12)
  }

  private val sfDir = "/root/testdata/sf0.001"

  test("q59_lateral: correlated LATERAL LIMIT equals the rank-window top-2 per customer") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = graft.queries.Extensions.q59_lateral(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val custs = Tables(spark, sfDir, "customer")
      .where(col("c_nationkey") === 5).select(col("c_custkey"))
    val ref = Tables(spark, sfDir, "orders")
      .join(custs, col("o_custkey") === col("c_custkey"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= 2)
      .collect().map(r => (r.getAs[Long]("o_custkey"), r.getAs[Long]("o_orderkey"))).toSet
    assert(got === ref)
    assert(got.groupBy(_._1).values.forall(_.size <= 2))
  }

  test("q60_month_spine: recursive CTE spans min..max contiguously and zero-fills gap months") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.Extensions.q60_month_spine(spark, sfDir)
      .orderBy("month_start").collect()
    val months = rows.map(_.getTimestamp(0))
    // contiguous: every consecutive pair is exactly one calendar month apart
    months.sliding(2).foreach { case Array(a, b) =>
      val c = java.util.Calendar.getInstance(java.util.TimeZone.getTimeZone("UTC"))
      c.setTime(a); c.add(java.util.Calendar.MONTH, 1)
      assert(c.getTime.getTime === b.getTime, s"gap between $a and $b")
    case _ => ()
    }
    // order counts conserve: spine sums to the table's row count
    val totalOrders = Tables(spark, sfDir, "orders").count()
    assert(rows.map(_.getLong(1)).sum === totalOrders)
    // the spine exists precisely because some months have zero orders
    // at this scale factor; zero-filled rows carry 0.0 totals
    rows.filter(_.getLong(1) == 0).foreach(r => assert(r.getDouble(2) === 0.0))
  }

  test("q61_array_hof: array fold/filter agree with the explode formulation") {
    import org.apache.spark.sql.functions._
    val got = graft.queries.Extensions.q61_array_hof(spark, sfDir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    val base = Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_totalprice").cast("decimal(18,2)").as("p"))
    val totals = base.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum(col("p")).cast("double").as("tot"))
    val above = base.join(totals, "o_custkey")
      .where(col("p").cast("double") > col("tot") / col("n"))
      .groupBy("o_custkey").agg(count(lit(1)).as("na"))
    val ref2 = totals.join(above, Seq("o_custkey"), "left")
      .na.fill(0L, Seq("na"))
      .collect().map(r => (r.getAs[Long]("o_custkey"),
        (r.getAs[Long]("n"), r.getAs[Double]("tot"), r.getAs[Long]("na")))).toMap
    assert(got === ref2)
  }

  test("q62/q63: multi-distinct plans via Expand; NOT IN drops NULL-key rows NOT EXISTS would keep") {
    import org.apache.spark.sql.functions._
    // q62: two DISTINCT aggregates + plain aggregates in ONE pass —
    // the plan must carry an Expand, not a self-join per distinct set
    val q62 = graft.queries.Extensions.q62_multi_distinct(spark, sfDir)
    assert(q62.queryExecution.executedPlan.toString.contains("Expand"),
      "multiple DISTINCT aggregates should plan through Expand")
    val row = q62.where(col("o_orderpriority") === "1-URGENT").collect()(0)
    val ref = Tables(spark, sfDir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
      .agg(countDistinct(col("o_custkey")).as("n"), count(lit(1)).as("c"))
      .collect()(0)
    assert(row.getLong(1) === ref.getLong(0) &&
      row.getLong(4) === ref.getLong(1))
    // q63: every AUTOMOBILE customer has a NULL key, and NOT IN's
    // three-valued logic must exclude ALL of them — exactly where it
    // diverges from q07's NOT EXISTS, which would keep such rows
    val q63 = graft.queries.Extensions.q63_not_in(spark, sfDir).collect()
    assert(q63.nonEmpty)
    assert(!q63.exists(_.getString(2) == "AUTOMOBILE"),
      "NULL-key rows must not survive NOT IN")
    assert(q63.forall(r => !r.isNullAt(0)))
  }

  test("q65_kmv_setops: sketch set-algebra estimates land within KMV error of exact overlaps") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.Advanced.q65_kmv_setops(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val exactU = (ev(a) | ev(b)).size.toDouble
      val exactI = (ev(a) & ev(b)).size.toDouble
      // k=256 → ~1/√254 ≈ 6.3% relative error per estimate; the
      // inclusion–exclusion intersection compounds three of them
      assert(math.abs(r.getLong(4) - exactU) / exactU < 0.25,
        s"$a∪$b: est ${r.getLong(4)} vs exact $exactU")
      assert(math.abs(r.getLong(5) - exactI) <= 0.35 * exactU,
        s"$a∩$b: est ${r.getLong(5)} vs exact $exactI")
    }
  }

  test("q73_sampled_quantiles: bottom-k-hash sample quantiles land near the exact quantiles") {
    import org.apache.spark.sql.functions._
    val est = graft.queries.Advanced.q73_sampled_quantiles(spark, sfDir)
      .collect().map(r => (r.getString(0), (r.getDouble(2), r.getDouble(3)))).toMap
    val exact = Tables(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2)))).toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (g, (p50, p90)) =>
      // 256-row order statistics: sampled quantile of a heavy-group
      // distribution sits within ~1/√k of the true rank; prices span
      // ~[1k, 500k], so allow 15% relative error per group
      assert(math.abs(p50 - exact(g)._1) / exact(g)._1 < 0.15,
        s"$g p50: est $p50 vs exact ${exact(g)._1}")
      assert(math.abs(p90 - exact(g)._2) / exact(g)._2 < 0.15,
        s"$g p90: est $p90 vs exact ${exact(g)._2}")
    }
  }

  test("t16_corpus_positions: two-level prefix sum equals the naive global running sum") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = graft.queries.Corpus.t16_corpus_positions(spark, sfDir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val w = Window.orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    val ref = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.text.TextAnalysis.tokenCountOf(
          graft.text.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(w), lit(0L)))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got === ref)
    // offsets start at zero and concatenate exactly
    val first = got.minBy(_._1)._2
    assert(first._2 === 0L)
    assert(got.values.map(_._1).sum ===
      got.maxBy(_._1)._2._1 + got.maxBy(_._1)._2._2)
  }

  test("t28/weightedSamplePriorities: maxW boundary passes, one past it fails fast") {
    import spark.implicits._
    val ok = Seq((1L, 100L), (2L, 5L)).toDF("doc_id", "w")
    // w == maxW is legal and identical to the unguarded computation
    val guarded = graft.queries.Corpus.weightedSamplePriorities(ok, maxW = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val roomy = graft.queries.Corpus.weightedSamplePriorities(ok)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(guarded === roomy && guarded.size === 2)
    // w == maxW + 1 raises the documented error BEFORE exploding
    val bad = Seq((3L, 101L)).toDF("doc_id", "w")
    val e = intercept[Exception] {
      graft.queries.Corpus.weightedSamplePriorities(bad, maxW = 100L).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("|")
    assert(msgs.contains("exceeds maxW"), s"unexpected error chain: $msgs")
  }

  test("q79_winsorize: two-level bucket selection equals the naive rank window, ties included") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // synthetic orders with heavy ties (31 distinct values per group),
    // tiny groups (n=1,2), and a group whose values all collide into
    // ONE bucket — the residual pass must resolve ranks by value counts
    val tmp = SparkSpec.tempDir("g-q79")
    val rows = (0 until 4000).map { i =>
      (s"G${i % 3}", math.round((i * 37 % 31) * 100.37 * 100) / 100.0)
    } ++ Seq(("TINY1", 42.0), ("TINY2", 7.0), ("TINY2", 9.0)) ++
      (0 until 500).map(i => ("ONEBUCKET", 500.0 + (i % 7) * 10.0))
    import spark.implicits._
    rows.toDF("o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val got = graft.queries.Extensions.q79_winsorize(spark, tmp)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    // the naive formulation the two-level plan replaced
    val o = spark.read.parquet(s"$tmp/orders.parquet")
      .select(col("o_orderpriority").as("grp"), col("o_totalprice").as("v"))
    val ranked = o
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("v"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
    val bounds = ranked.groupBy(col("grp")).agg(
      min(when(col("rn") >= ceil(col("n") * 0.05), col("v"))).as("lo"),
      min(when(col("rn") >= ceil(col("n") * 0.95), col("v"))).as("hi"))
    val dec2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val ref = o.join(broadcast(bounds), Seq("grp"))
      .withColumn("cv", least(greatest(col("v"), col("lo")), col("hi")))
      .groupBy(col("grp")).agg(
        count(lit(1)).as("n"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clipped_high"),
        sum(col("cv").cast(dec2)).cast("double").as("winsorized_total"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(got === ref)
  }

  test("q77/journeyQuery: a planted power user (1M+ events) completes with bounded per-group state") {
    import org.apache.spark.sql.functions._
    // 1,000,002 events for ONE user, one event/second (~11.6 days), so
    // the per-(user, day) first-level groups hold ≤86,400 events while
    // the single-aggregate formulation this replaced would buffer all
    // 1M (ts, event_id, ini) structs in one aggregation state
    val tmp = SparkSpec.tempDir("g-q77")
    val n = 1000002L
    val epoch = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    // ts is written as nanosecond BIGINT — the TIMESTAMP(NANOS) shape
    // Tables.events reads from the driver-generated parquet
    spark.range(n)
      .select(col("id").as("event_id"),
        ((lit(epoch) + col("id")) * lit(1000000000L)).as("ts"),
        lit(1L).as("user_id"),
        element_at(typedLit(Seq("view", "click", "purchase")),
          (pmod(col("id"), lit(3)) + 1).cast("int")).as("event_type"))
      .union(spark.range(3).select(
        (col("id") + n).as("event_id"),
        ((lit(epoch) + col("id") * 86400L) * lit(1000000000L)).as("ts"),
        lit(2L).as("user_id"),
        lit("error").as("event_type")))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = graft.queries.Extensions.journeyQuery("vc*p")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getLong(3))).toMap
    val triples = (n / 3).toInt
    val journey = "vcp" * triples
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest(journey.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) === ((n, md5hex, triples.toLong)))
    assert(got(2L) === ((3L, java.security.MessageDigest.getInstance("MD5")
      .digest("eee".getBytes("UTF-8")).map("%02x".format(_)).mkString, 0L)))
  }
}
