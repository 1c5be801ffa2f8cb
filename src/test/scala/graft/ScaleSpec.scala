package graft

import org.apache.spark.sql.functions._

import graft.load.Scale

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin matches plain join results on skewed data") {
    val big = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k$i", i))
      .toDF("k", "v")
    val small = Seq(("hot", 100), ("k1", 1), ("k2", 2)).toDF("k", "w")
    val plain = big.join(small, Seq("k")).select("k", "v", "w")
      .collect().map(_.toSeq).toSet
    val salted = Scale.saltedJoin(big, small, "k", salt = 8)
      .select("k", "v", "w").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(plain.count(_.head == "hot") == 100)
  }

  test("saltedJoin rejects a full join and a zero salt") {
    val big = Seq(("k", 1)).toDF("k", "v")
    val small = Seq(("k", 2)).toDF("k", "w")
    // replicating the small side breaks right/full join semantics
    val full = intercept[IllegalArgumentException] {
      Scale.saltedJoin(big, small, "k", salt = 4, joinType = "full")
    }
    assert(full.getMessage.contains("supports inner/left joins, got full"))
    val zero = intercept[IllegalArgumentException] {
      Scale.saltedJoin(big, small, "k", salt = 0)
    }
    assert(zero.getMessage.contains("salt must be >= 1, got 0"))
  }

  test("topNPerKey equals the plain rank-window formulation") {
    val df = (1 to 500).map(i => (s"k${i % 7}", i)).toDF("k", "v")
      .repartition(8)
    val expected = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("k")).orderBy(col("v").desc)
      df.withColumn("r", row_number().over(w)).where(col("r") <= 3)
        .select("k", "v").collect().map(_.toSeq).toSet
    }
    val got = Scale.topNPerKey(df, "k", col("v").desc, 3)
      .select("k", "v").collect().map(_.toSeq).toSet
    assert(got == expected)
  }

  test("AQE splits a runtime-skewed sort-merge join (and matches saltedJoin)") {
    // One key carries ~75% of the big side: exactly the shape AQE's
    // skew-join rule handles at runtime without manual salting. Lower
    // the detection thresholds so the sf-test-sized shuffle qualifies,
    // force the sort-merge path, run, and assert the finalized adaptive
    // plan actually took the skew split — SortMergeJoin prints
    // `(skew=true)` only when OptimizeSkewedJoin rewrote it.
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // md5 payload: incompressible, so the hot reducer partition's
      // shuffle bytes genuinely exceed the detection threshold
      val big = spark.range(0, 60000).select(
        when(col("id") < 45000, lit("hot"))
          .otherwise(concat(lit("k"), col("id"))).as("k"),
        md5(col("id").cast("string")).as("pad"))
      val small = Seq(("hot", 1), ("k45001", 2), ("k45002", 3)).toDF("k", "w")
      val joined = big.join(small, Seq("k")).select("k", "pad", "w")
      // collect() executes THIS DataFrame's queryExecution — count()
      // would plan a separate aggregate query and leave this adaptive
      // plan unfinalized (isFinalPlan=false, no skew rewrite to see)
      assert(joined.collect().length == 45002)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected OptimizeSkewedJoin to split the hot partition, got:\n$plan")
      // same answer as the explicit mitigation for known-in-advance skew
      val salted = Scale.saltedJoin(big, small, "k", salt = 8)
        .select("k", "pad", "w")
      assert(salted.exceptAll(joined).isEmpty && joined.exceptAll(salted).isEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    // a crashed earlier run can leave the managed location behind
    Seq("bkt_a", "bkt_b").foreach { t =>
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    Scale.writeBucketed((1 to 1000).map(i => (i.toLong, s"a$i")).toDF("id", "a"),
      "bkt_a", "id", 4)
    Scale.writeBucketed((500 to 1500).map(i => (i.toLong, s"b$i")).toDF("id", "b"),
      "bkt_b", "id", 4)
    // force the sort-merge path (tiny test tables would broadcast, which
    // bypasses bucketing entirely); at scale SMJ is what bucketing serves
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "id")
      assert(joined.count() == 501)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join, got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("corrupt-shard tolerance: ignoreCorruptFiles reads past a damaged file; default mode fails loudly") {
    val dir = SparkSpec.tempDir("graft_corrupt")
    spark.range(100).selectExpr("id", "id * 2 AS v")
      .repartition(4).write.mode("overwrite").parquet(dir)
    // plant a garbage shard where a 100 TB table WILL eventually have
    // one (failed writer, bit rot); name it like a real part file so
    // the reader can't skip it by pattern
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part-99999-corrupt.snappy.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    // default: the job must FAIL — silent row loss is never acceptable
    intercept[org.apache.spark.SparkException] {
      spark.read.parquet(dir).count()
    }
    // explicit opt-in: degrade by skipping the damaged shard, keeping
    // every row from the healthy ones
    val prev = spark.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try {
      assert(spark.read.parquet(dir).count() === 100L)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.ignoreCorruptFiles", v)
      case None => spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    }
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val path = SparkSpec.tempDir("graft_dpp")
    val ev = graft.Tables(spark, dir, "events")
      .withColumn("event_date", to_date(col("ts")))
    Scale.writePartitioned(ev, path, "event_date")
    val fact = spark.read.parquet(path)
    // the selective predicate lives ONLY on the dim side — static
    // pruning can't see it; DPP must push a runtime subquery filter
    // into the fact scan's partition filters
    val dim = ev.select(col("event_date")).distinct()
      .where(col("event_date") === "2024-01-02")
    val joined = fact.join(dim, Seq("event_date"))
    // collect() (not count()) so THIS plan executes and owns the metrics
    val n = joined.collect().length.toLong
    assert(n === ev.where(col("event_date") === "2024-01-02").count())
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter in the fact scan, got:\n$plan")
    // AQE wraps the final plan in adaptive/stage nodes — unwrap to
    // reach the fact scan whose partitionFilters carry the DPP subquery
    val scans = scala.collection.mutable.ListBuffer[
      org.apache.spark.sql.execution.FileSourceScanExec]()
    def go(n: org.apache.spark.sql.execution.SparkPlan): Unit = n match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        go(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        go(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => scans += f
      case other => other.children.foreach(go)
    }
    go(joined.queryExecution.executedPlan)
    val scan = scans
      .find(_.partitionFilters.mkString.contains("dynamicpruning"))
      .getOrElse(fail(s"no scan with a dynamicpruning partition filter in:\n$plan"))
    assert(scan.metrics("numPartitions").value === 1,
      s"DPP read ${scan.metrics("numPartitions").value} fact partitions, expected 1")
  }

  test("writePartitioned: a partition-column predicate prunes to one directory") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val path = SparkSpec.tempDir("graft_part")
    val ev = graft.Tables(spark, dir, "events")
      .withColumn("event_date", to_date(col("ts")))
    Scale.writePartitioned(ev, path, "event_date")
    val all = spark.read.parquet(path)
    val nDates = all.select("event_date").distinct().count()
    assert(nDates > 1, "need multiple partitions for pruning to mean anything")
    val oneDay = all.where(col("event_date") === "2024-01-02")
    val rows = oneDay.collect()
    // planning-time pruning: the predicate lands in the scan's
    // PartitionFilters (not a post-scan data filter), and the executed
    // scan's metrics show it opened exactly ONE partition directory —
    // df.inputFiles can't show this (it lists the unpruned FileIndex)
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("event_date"),
      s"expected a partition filter in the scan, got:\n$plan")
    val scan = {
      var found: Option[org.apache.spark.sql.execution.FileSourceScanExec] = None
      oneDay.queryExecution.executedPlan.foreach {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => found = Some(f)
        case _ =>
      }
      found.get
    }
    assert(scan.metrics("numPartitions").value === 1,
      s"scan read ${scan.metrics("numPartitions").value} partitions, expected 1")
    assert(scan.metrics("numFiles").value < all.inputFiles.length)
    // pruned read returns exactly the matching rows
    assert(rows.length.toLong ===
      ev.where(col("event_date") === "2024-01-02").count())
  }

  test("compactTo rewrites a fragmented table into few files, preserving rows") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val src = SparkSpec.tempDir("graft_frag")
    val dst = SparkSpec.tempDir("graft_compact") + "/out"
    val ev = graft.Tables(spark, dir, "events")
    ev.repartition(40).write.mode("overwrite").parquet(src)
    val (before, after) = Scale.compactTo(spark, src, dst, targetFileBytes = 1L << 30)
    assert(before === 40)
    assert(after === 1)
    val a = spark.read.parquet(src).collect().map(_.toSeq).toSet
    val b = spark.read.parquet(dst).collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("compactTo sizes a hive-partitioned source recursively and computes a real file count") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val src = SparkSpec.tempDir("graft_frag_part") + "/src"
    val dst = SparkSpec.tempDir("graft_compact_part") + "/out"
    val ev = graft.Tables(spark, dir, "events")
      .withColumn("etype", col("event_type"))
    // hive layout: files nested under etype=…/ — the non-recursive
    // listStatus saw ZERO files here, sized the table to 0 bytes and
    // collapsed it to one file regardless of targetFileBytes
    ev.repartition(8).write.partitionBy("etype").mode("overwrite").parquet(src)
    val bytes = {
      val p = new org.apache.hadoop.fs.Path(src)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var t = 0L
      while (it.hasNext) { val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) t += f.getLen }
      t
    }
    assert(bytes > 0L)
    // pick a target that demands >1 output file from the real size
    val target = math.max(bytes / 4, 1L)
    val expected = math.ceil(bytes.toDouble / target).toInt
    val (before, after) = Scale.compactTo(spark, src, dst, targetFileBytes = target)
    assert(before > 0, "recursive sizing must see the nested files")
    assert(after === expected, s"expected $expected files, got $after")
    assert(after > 1, "a >target-sized table must not collapse to one file")
    // rows preserved, partition values surviving as ordinary columns
    // (project both in the same column order — hive reads put partition
    // columns last, the flat rewrite keeps them wherever the read did)
    val cols = spark.read.parquet(src).columns.sorted.toSeq
    val a = spark.read.parquet(src).select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).toSet
    val b = spark.read.parquet(dst).select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("zvalue interleaves bits exactly; zorderBy narrows per-partition spread on BOTH dimensions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // exact Morton codes on a 2-bit 2-D grid: bit i of x → position 2i,
    // bit i of y → position 2i+1
    val grid = Seq((0, 0, 0L), (3, 0, 5L), (0, 3, 10L), (3, 3, 15L), (2, 1, 6L))
      .toDF("x", "y", "expected")
    val z = grid.withColumn("z", graft.load.Scale.zvalue(
      Seq((col("x"), 0.0, 3.0), (col("y"), 0.0, 3.0)), bits = 2))
    z.collect().foreach(r =>
      assert(r.getAs[Long]("z") === r.getAs[Long]("expected"),
        s"(${r.getInt(0)},${r.getInt(1)})"))

    // layout property: uniform 2-D points, 16 partitions
    val n = 20000
    val pts = spark.range(n).select(
      (pmod(xxhash64(col("id")), lit(10000)) / 10000.0).as("x"),
      (pmod(xxhash64(col("id") + 1000000), lit(10000)) / 10000.0).as("y"))
    def spreads(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val s = df.withColumn("p", spark_partition_id())
        .groupBy("p")
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .agg(avg("sx"), avg("sy")).collect()(0)
      (s.getDouble(0), s.getDouble(1))
    }
    val (zx, zy) = spreads(graft.load.Scale.zorderBy(pts, Seq("x", "y"), 16))
    val (sx, sy) = spreads(pts.repartitionByRange(16, col("x")))
    // x-only sort: x narrow but y spans nearly the full range
    assert(sx < 0.2 && sy > 0.8, s"x-sort baseline unexpected: $sx/$sy")
    // z-order: BOTH dimensions narrow — each partition is ~a quadrant
    assert(zx < 0.6 && zy < 0.6, s"z-order spreads too wide: $zx/$zy")
    assert(zy < sy / 2, "z-order must at least halve the y spread")
  }

  test("bloomPreFilter keeps every joining row and prunes most others") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/lineitem.parquet").exists())
    val li = graft.Tables(spark, dir, "lineitem")
    val keys = graft.Tables(spark, dir, "supplier")
      .where(col("s_suppkey") % 25 === 7).select(col("s_suppkey"))
    val filtered = Scale.bloomPreFilter(li, col("l_suppkey"), keys, "s_suppkey",
      expectedItems = 1000L)
    val trueMatches = li.join(keys, col("l_suppkey") === col("s_suppkey"), "left_semi")
    // no false negatives: the pre-filter is a superset of the semi-join
    assert(filtered.join(keys, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .count() === trueMatches.count())
    assert(filtered.count() >= trueMatches.count())
    // and it actually prunes: 1-in-25 keys should cut the fact hard
    assert(filtered.count() < li.count() / 2,
      s"bloom filter pruned nothing: ${filtered.count()} of ${li.count()}")
  }

  test("q23_bucketed_join plans with zero exchanges end-to-end") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/orders.parquet").exists())
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.queries.Relational.queries("q23_bucketed_join")(spark, dir)
      assert(df.count() > 0)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected zero-exchange bucketed join+agg, got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
