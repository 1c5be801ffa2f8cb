package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.load.{Catalog, Incremental}

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("sym", StringType),
    StructField("d", IntegerType),
    StructField("v", DoubleType)))

  test("appendIdempotent: re-running the same batch inserts zero; order-shuffled input is equivalent") {
    val base = SparkSpec.tempDir("graft_inc_spec") + "/t"
    val batch = Seq(("A", 1, 1.0), ("A", 2, 2.0), ("A", 2, 99.0), ("B", 1, 3.0))
      .toDF("sym", "d", "v")
    val n1 = Incremental.appendIdempotent(spark, base, batch, Seq("sym", "d"), schema)
    assert(n1 == 3)  // in-batch dup (A,2) collapsed
    val n2 = Incremental.appendIdempotent(spark, base,
      batch.orderBy(col("d").desc), Seq("sym", "d"), schema)
    assert(n2 == 0)  // fully idempotent re-run
    val n3 = Incremental.appendIdempotent(spark, base,
      Seq(("A", 3, 4.0)).toDF("sym", "d", "v"), Seq("sym", "d"), schema)
    assert(n3 == 1)
    assert(spark.read.schema(schema).parquet(base).count() == 4)
  }

  test("appendIdempotent rejects NULL-PK rows instead of re-inserting them forever") {
    val base = SparkSpec.tempDir("graft_nullpk_spec") + "/t"
    val batch = Seq(("A", Some(1), 1.0), ("B", None, 2.0))
      .toDF("sym", "d", "v")
    val n1 = Incremental.appendIdempotent(spark, base, batch, Seq("sym", "d"), schema)
    val n2 = Incremental.appendIdempotent(spark, base, batch, Seq("sym", "d"), schema)
    assert(n1 == 1 && n2 == 0)   // null-d row never lands, never re-inserts
    assert(spark.read.schema(schema).parquet(base).count() == 1)
  }

  test("symbol-partitioned append: point reads prune partitions at plan time") {
    val base = SparkSpec.tempDir("graft_part_spec") + "/t"
    val batch = Seq(("AAPL", 1, 1.0), ("AAPL", 2, 2.0), ("MSFT", 1, 3.0))
      .toDF("sym", "d", "v")
    val n = Incremental.appendIdempotent(spark, base, batch, Seq("sym", "d"),
      schema, partitionBy = Seq("sym"))
    assert(n == 3)
    // layout: one directory per symbol
    assert(new java.io.File(base + "/sym=AAPL").exists())
    val read = spark.read.schema(schema).parquet(base)
      .where(org.apache.spark.sql.functions.col("sym") === "AAPL")
    assert(read.count() == 2)
    val scan = read.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("isnotnull(sym"),
      s"expected partition pruning in scan:\n$scan")
    // re-run stays idempotent across the partitioned layout
    assert(Incremental.appendIdempotent(spark, base, batch, Seq("sym", "d"),
      schema, partitionBy = Seq("sym")) == 0)
  }

  test("an append inserting zero rows leaves the data-file list unchanged, partitioned or not") {
    val empty = Seq.empty[(String, Int, Double)].toDF("sym", "d", "v")
    val batch = Seq(("A", 1, 1.0), ("A", 2, 2.0), ("B", 1, 3.0)).toDF("sym", "d", "v")
    Seq(Nil, Seq("sym")).foreach { parts =>
      val base = SparkSpec.tempDir("graft_noop_spec") + "/t"
      def append(df: org.apache.spark.sql.DataFrame) =
        Incremental.append(spark, base, df, Seq("sym", "d"), schema, parts)
      assert(append(empty) == Incremental.Appended(0, 0), s"partitionBy $parts")
      assert(IncrementalSpec.dataFiles(base).isEmpty, s"partitionBy $parts")
      assert(append(batch) == Incremental.Appended(3, 3), s"partitionBy $parts")
      val before = IncrementalSpec.dataFiles(base)
      assert(before.nonEmpty)
      assert(append(batch) == Incremental.Appended(3, 0), s"partitionBy $parts")
      assert(append(empty) == Incremental.Appended(0, 0), s"partitionBy $parts")
      assert(IncrementalSpec.dataFiles(base) == before, s"partitionBy $parts")
    }
  }

  test("a partitioned append writes exactly one data file per partition value") {
    val base = SparkSpec.tempDir("graft_onefile_spec") + "/t"
    def batch(days: Range, syms: Seq[String]) =
      (for (s <- syms; d <- days) yield (s, d, d.toDouble)).toDF("sym", "d", "v")
        .repartition(8) // every symbol's rows spread over several tasks
    def append(df: org.apache.spark.sql.DataFrame) =
      Incremental.appendIdempotent(spark, base, df, Seq("sym", "d"), schema,
        partitionBy = Seq("sym"))
    def filesPer(sym: String) =
      IncrementalSpec.dataFiles(base).count(_.startsWith(s"sym=$sym/"))
    assert(append(batch(1 to 40, Seq("A", "B", "C"))) == 120)
    assert(Seq("A", "B", "C").map(filesPer) == Seq(1, 1, 1))
    // an overlapping batch touching two symbols adds one file to each
    assert(append(batch(31 to 60, Seq("A", "B"))) == 40)
    assert(Seq("A", "B", "C").map(filesPer) == Seq(2, 2, 1))
    assert(spark.read.schema(schema).parquet(base).count() == 160)
  }

  test("snapshotDiff classifies inserts, deletes, and updates") {
    val old = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v")
    val neu = Seq((2L, "b", 20.0), (3L, "c", 31.0), (4L, "d", 40.0))
      .toDF("id", "name", "v")
    val got = graft.load.SnapshotDiff(old, neu, Seq("id")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "delete", 3L -> "update", 4L -> "insert"))
    // null-safe value compare: null -> value and value -> null are updates
    val o2 = Seq((1L, Option.empty[String]), (2L, Option("x"))).toDF("id", "s")
    val n2 = Seq((1L, Option("y")), (2L, Option.empty[String])).toDF("id", "s")
    val g2 = graft.load.SnapshotDiff(o2, n2, Seq("id")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(g2 == Map(1L -> "update", 2L -> "update"))
  }

  test("mergeAggregates: three partial states merge to the full recompute") {
    val rows = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L),
      ("a", 4L, 40L), ("c", 5L, 50L), ("b", 6L, 60L))
    def state(xs: Seq[(String, Long, Long)]) =
      xs.toDF("k", "id", "v").groupBy("k")
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
    val merged = Incremental.mergeAggregates(
      Seq(state(rows.take(2)), state(rows.slice(2, 4)), state(rows.drop(4))),
      Seq("k"), Seq("n", "s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val full = state(rows)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged === full)
    assert(merged === Set(("a", 3L, 70L), ("b", 2L, 90L), ("c", 1L, 50L)))
  }

  test("ensureCompanies appends only unseen symbols") {
    val base = SparkSpec.tempDir("graft_cat_spec")
    val n1 = Catalog.ensureCompanies(spark, base, Seq("AAPL", "MSFT", "AAPL").toDF("s"))
    assert(n1 == 2)
    val n2 = Catalog.ensureCompanies(spark, base, Seq("AAPL", "GOOG").toDF("s"))
    assert(n2 == 1)
  }

  test("readEvolved merges an added column across file generations; pinned readers prune it") {
    import org.apache.spark.sql.functions._
    val path = SparkSpec.tempDir("graft_evolve") + "/t"
    // generation 1: two columns
    Seq(("AAPL", 10.0), ("MSFT", 20.0)).toDF("sym", "px")
      .write.mode("append").parquet(path)
    // generation 2: a writer starts emitting a new column — no rewrite
    Seq(("GOOG", 30.0, 7L)).toDF("sym", "px", "volume")
      .write.mode("append").parquet(path)
    val merged = Catalog.readEvolved(spark, path)
    assert(merged.columns.toSet === Set("sym", "px", "volume"))
    val rows = merged.orderBy("sym")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(rows.toSeq === Seq(("AAPL", 10.0, None), ("MSFT", 20.0, None),
      ("GOOG", 30.0, Some(7L))).sortBy(_._1))
    // a reader pinning the v1 schema still works and prunes the new column
    val pinned = Catalog.readOrEmpty(spark, path,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sym",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("px",
          org.apache.spark.sql.types.DoubleType))))
    assert(pinned.columns.toSet === Set("sym", "px"))
    assert(pinned.count() === 3L)
    assert(pinned.agg(sum(col("px"))).collect()(0).getDouble(0) === 60.0)
  }

  test("tableDiff classifies added/removed/changed/same; NULL attribute values compare null-safe") {
    val a = Seq((1, Some("x")), (2, Some("y")), (3, None: Option[String]), (4, Some("z")))
      .toDF("k", "v")
    val b = Seq((1, Some("x")), (2, Some("Y")), (3, None: Option[String]), (5, Some("w")))
      .toDF("k", "v")
    val out = graft.load.Reconcile.tableDiff(a, b, Seq("k"), Seq("v"))
      .select("k", "status").collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(out === Map(
      1 -> "same", 2 -> "changed",
      3 -> "same",      // NULL <=> NULL is true, not unknown
      4 -> "removed", 5 -> "added"))
  }

  test("deltaJoin: old join + three-term delta equals full recompute when both sides grow") {
    val aOld = Seq((1, "a1"), (2, "a2")).toDF("k", "a")
    val aNew = Seq((2, "a2b"), (3, "a3")).toDF("k", "a")
    val bOld = Seq((1, "b1"), (3, "b3")).toDF("k", "b")
    val bNew = Seq((2, "b2"), (3, "b3b")).toDF("k", "b")
    val incremental = aOld.join(bOld, Seq("k"))
      .unionByName(Incremental.deltaJoin(aOld, aNew, bOld, bNew, Seq("k")))
    val full = aOld.unionByName(aNew).join(bOld.unionByName(bNew), Seq("k"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getInt(0), r.getString(1), r.getString(2))
    assert(incremental.collect().map(key).sorted.toSeq ===
      full.collect().map(key).sorted.toSeq)
  }

  test("scdMerge: change closes + reopens, no-op keeps, new key inserts, history passes through") {
    val dim = Seq(
      (1L, "OLD1", Some(10), Some(20)), // closed history row
      (1L, "CUR1", Some(20), None),     // current, will change
      (2L, "CUR2", Some(15), None),     // current, update re-asserts value
      (3L, "CUR3", Some(12), None)      // current, no update
    ).toDF("k", "attr", "valid_from", "valid_to")
    val updates = Seq(
      (1L, "NEW1", 30), // changed
      (2L, "CUR2", 31), // identical -> no-op
      (9L, "NEW9", 32)  // key absent from dim -> insert
    ).toDF("k", "attr", "ts")
    val out = Incremental.scdMerge(dim, updates, "k", "attr", "ts")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        Option(r.get(3)).map(_.asInstanceOf[Int]))).toSet
    assert(out === Set(
      (1L, "OLD1", Some(10), Some(20)), // history untouched
      (1L, "CUR1", Some(20), Some(30)), // closed at change ts
      (1L, "NEW1", Some(30), None),     // new open version
      (2L, "CUR2", Some(15), None),     // no-op: original valid_from kept
      (3L, "CUR3", Some(12), None),     // unchanged
      (9L, "NEW9", Some(32), None)))    // fresh key
    // exactly one current version per key
    val cur = Incremental.scdMerge(dim, updates, "k", "attr", "ts")
      .where(col("valid_to").isNull).groupBy(col("k")).count()
      .where(col("count") > 1).count()
    assert(cur === 0L)
  }

  test("CorpusStats: folding successive batches equals full recompute at every step") {
    import graft.text.{CorpusStats, TextAnalysis}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
    val toks = col("__toks")
    def stats(df: org.apache.spark.sql.DataFrame, tot: org.apache.spark.sql.DataFrame) = {
      val d = df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val t = tot.collect().map(r => (r.getLong(0), r.getLong(1))).head
      (d, t)
    }
    // three growing batches (uneven by construction: % 5 buckets 0, 1-2, 3-4)
    val batches = Seq(
      docs.where(pmod(col("doc_id"), lit(5)) === 0),
      docs.where(pmod(col("doc_id"), lit(5)).isin(1, 2)),
      docs.where(pmod(col("doc_id"), lit(5)).isin(3, 4)))
    var dfParts = List.empty[org.apache.spark.sql.DataFrame]
    var totParts = List.empty[org.apache.spark.sql.DataFrame]
    batches.zipWithIndex.foreach { case (b, i) =>
      dfParts :+= CorpusStats.dfPartial(b, toks)
      totParts :+= CorpusStats.totalsPartial(b, toks)
      val (foldedDf, foldedTot) = CorpusStats.merge(dfParts, totParts)
      // full recompute over the union seen so far — both sides growing
      val seen = docs.where(pmod(col("doc_id"), lit(5)) <= i * 2)
      val (fullDf, fullTot) = CorpusStats.merge(
        Seq(CorpusStats.dfPartial(seen, toks)),
        Seq(CorpusStats.totalsPartial(seen, toks)))
      assert(stats(foldedDf, foldedTot) === stats(fullDf, fullTot),
        s"fold diverged from recompute after batch $i")
    }
  }
}

object IncrementalSpec {

  /** The parquet data files under `root`, as sorted relative paths. */
  def dataFiles(root: String): Seq[String] = {
    val r = java.nio.file.Paths.get(root)
    if (!Files.exists(r)) Nil
    else {
      val s = Files.walk(r)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
          .map(p => r.relativize(p).toString).toSeq.sorted
      } finally s.close()
    }
  }
}
