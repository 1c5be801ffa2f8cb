package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.StockPipeline
import graft.ingest.{Normalize, PayloadReader}
import graft.load.{Catalog, Incremental}
import graft.schema.StockSchemas

/** `etl_incremental`: the paper's path, the seeded batches through
  * `StockPipeline.run` into a parquet store.
  *
  * A run bootstraps one store (timed: `bootstrap_s`), then repeats timed
  * passes: each pass copies that bootstrapped store and loads the
  * incremental batches into the copy. After the last pass the last batch
  * is loaded once more (timed: `noop_rerun_s`); it must insert nothing.
  *
  * Untraced, a batch is one `StockPipeline.run` call. Traced, the batch
  * replays that call's steps one after another on this thread (catalog,
  * normalize, companies, three `appendIdempotent`), so every step is a
  * span of its own; the gap between the two runs' `pass_s` is the cost of
  * tracing plus the lost overlap of the three concurrent fact loads.
  */
object EtlWorkload {
  /** One timed batch: wall seconds and rows inserted per table. */
  private final case class Step(seconds: Double, inserted: Map[String, Long])

  /** Timed passes per run, so `pass_s` is a median of several passes. */
  val minPasses = 3

  def run(spark: SparkSession, cfg: RunConfig, tr: Tracer, out: Outcome): Unit = {
    val shape = if (cfg.tiny) EtlShape.tiny else EtlShape.full
    val load = PayloadGen.generate(cfg.seed, shape)
    val exp = load.expected
    val incrementals = 1 to shape.incrementals

    /** Loads batch `b` into `store` and checks the rows it inserted
      * against step `step` of the generator's books.
      */
    def batch(store: String, b: Int, step: Int, traced: Boolean, label: String): Step = {
      val docs = load.batches(b)
      val (inserted, dt) = Stats.time(
        if (traced) tr("batch", "step" -> step)(tracedBatch(spark, store, docs, tr))
        else StockPipeline.run(spark, store,
          payloads(spark, docs.daily),
          payloads(spark, docs.intraday),
          payloads(spark, docs.sma))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      out.attempted += 1
      out.check(s"$label step $step inserted", inserted == exp.inserted(step),
        s"got $inserted, expected ${exp.inserted(step)}")
      Step(dt, inserted)
    }

    // warm-up (counted as set-up): the bootstrap, the first incremental and
    // that incremental again (which must insert nothing), untraced, so JIT
    // and codegen are warm on every path a timed batch takes
    val warm0 = System.nanoTime()
    val warm = s"${cfg.runDir}/store-warm"
    val noop = exp.inserted.size - 1
    Seq(0 -> 0, 1 -> 1, 1 -> noop).foreach { case (b, step) =>
      batch(warm, b, step, traced = false, "warm-up") }
    deleteTree(Paths.get(warm))
    out.metric("setup_s", Main.sinceLaunch(cfg), "s")
    out.info("warmup_s") = Stats.seconds(warm0)

    tr.resetBlocks()
    val t0 = System.nanoTime()
    val base = Paths.get(s"${cfg.runDir}/store-base")
    val boot = tr("bootstrap")(batch(base.toString, 0, 0, cfg.trace, "bootstrap"))
    var last = base
    val passes = Stats.repeatFor(cfg.seconds, min = minPasses) { i =>
      val store = Paths.get(s"${cfg.runDir}/store-${i + 1}")
      copyTree(base, store)
      val steps = tr("pass", "pass" -> (i + 1))(incrementals.map(b =>
        batch(store.toString, b, b, cfg.trace, s"pass ${i + 1}")))
      if (last != base) deleteTree(last)
      last = store
      steps
    }
    val rerun = tr("rerun")(batch(last.toString, load.batches.indices.last,
      noop, cfg.trace, "re-run"))
    val timed = Stats.seconds(t0)
    val (blocks, peakStorageMb) = tr.blocks()

    // the store the last pass and the re-run left: exactly the generator's
    // distinct valid (symbol, ts) rows per table
    val stored = StockSchemas.tables.keys.toSeq.sorted.map { t =>
      val pk = StockSchemas.primaryKeys(t)
      val r = Catalog.readOrEmpty(spark, Catalog.tablePath(last.toString, t),
        StockSchemas.tables(t))
        .agg(count(lit(1)), countDistinct(col(pk.head), pk.tail.map(col): _*))
        .first()
      out.check(s"table $t rows",
        r.getLong(0) == exp.rows(t) && r.getLong(1) == exp.rows(t),
        s"rows ${r.getLong(0)}, distinct keys ${r.getLong(1)}, expected ${exp.rows(t)}")
      r.getLong(0)
    }
    val (storeFiles, storeBytes) = dataFiles(last)
    deleteTree(last)
    deleteTree(base)
    checkRejects(spark, load, out)

    val inc = passes.flatten
    val incSeconds = inc.map(_.seconds).sum
    val incRows = inc.map(_.inserted.values.sum).sum
    out.metric("pass_s", Stats.median(passes.map(_.map(_.seconds).sum)), "s")
    out.metric("op_p50_s", Stats.median(inc.map(_.seconds)), "s")
    out.metric("bootstrap_s", boot.seconds, "s")
    out.metric("noop_rerun_s", rerun.seconds, "s")
    out.metric("rows_per_s", if (incSeconds > 0) incRows / incSeconds else 0.0, "1/s")
    out.metric("store_bytes_per_row", storeBytes.toDouble / math.max(1L, stored.sum), "B")
    out.info ++= Seq(
      "passes" -> passes.size,
      "timed_s" -> timed,
      "batch_seconds" -> passes.map(_.map(_.seconds)),
      "ops_per_pass" -> shape.incrementals,
      "op_samples" -> inc.size,
      "symbols" -> shape.symbols,
      "expected_rows" -> exp.rows,
      "expected_rejects" -> exp.rejects)

    if (cfg.trace) layerMetrics(tr, passes.size, storeFiles, blocks, peakStorageMb, out)
  }

  /** One payload DataFrame from JSON documents, as the pipeline takes it. */
  def payloads(spark: SparkSession, docs: Seq[String]): DataFrame =
    PayloadReader.fromJsonStrings(spark, spark.createDataset(docs)(Encoders.STRING))

  /** `StockPipeline.run`'s steps, each a span, on the calling thread. */
  private def tracedBatch(spark: SparkSession, store: String, batch: Batch,
      tr: Tracer): Map[String, Long] = {
    tr("catalog")(Catalog.createTablesIfNotExists(spark, store))
    val rows = tr("ingest") {
      PayloadGen.endpoints.map { ep =>
        val frame = payloads(spark, batch.endpoint(ep))
        val normalized = ep match {
          case "daily" => Normalize.daily(frame)
          case "intraday" => Normalize.intraday(frame)
          case "sma" => Normalize.sma(frame)
        }
        val Seq(parsed, kept, rejected) = rejectCounts(frame, ep)
        tr.note(s"$ep.parsed" -> parsed, s"$ep.kept" -> kept, s"$ep.rejected" -> rejected)
        ep -> normalized
      }.toMap
    }
    val symbols = PayloadGen.endpoints.map(rows(_).select("company_symbol"))
      .reduce(_.unionByName(_)).distinct()
    val companies = tr("catalog")(Catalog.ensureCompanies(spark, store, symbols))
    val inserted = PayloadGen.endpoints.map { ep =>
      val table = PayloadGen.tableOf(ep)
      val path = Catalog.tablePath(store, table)
      val (filesBefore, bytesBefore) = dataFiles(Paths.get(path))
      val n = tr("load", "table" -> table) {
        val n = Incremental.appendIdempotent(spark, path, rows(ep),
          StockSchemas.primaryKeys(table), StockSchemas.tables(table),
          StockSchemas.partitioning(table))
        val (filesAfter, bytesAfter) = dataFiles(Paths.get(path))
        tr.note("inserted" -> n, "target_files_read" -> filesBefore,
          "files_written" -> (filesAfter - filesBefore),
          "bytes_written" -> (bytesAfter - bytesBefore))
        n
      }
      table -> n
    }
    (("companies" -> companies) +: inserted).toMap
  }

  /** `Normalize.rejects` over every distinct batch must count exactly the
    * injected bad bars, and the envelopes must not reach the normalizer.
    */
  private def checkRejects(spark: SparkSession, load: PayloadGen.Load,
      out: Outcome): Unit =
    PayloadGen.endpoints.foreach { ep =>
      val frame = payloads(spark, load.batches.flatMap(_.endpoint(ep)))
      val Seq(parsed, _, rejected) = rejectCounts(frame, ep)
      val valid = PayloadReader.valid(frame).count()
      val e = load.expected
      out.check(s"$ep rejects", parsed == e.bars(ep) &&
        rejected == e.rejects(ep) && valid == e.payloads(ep),
        s"bars $parsed/${e.bars(ep)}, rejected $rejected/${e.rejects(ep)}, " +
          s"payloads $valid/${e.payloads(ep)}")
    }

  /** (bars parsed, bars kept, bars rejected) by `Normalize.rejects`. */
  private def rejectCounts(frame: DataFrame, ep: String): Seq[Long] = {
    val r = Normalize.rejects(frame, ep)
      .agg(sum("input_rows"), sum("kept_rows"), sum("rejected_rows")).first()
    (0 until 3).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Per-layer numbers from the traced passes, each a median per pass. */
  private def layerMetrics(tr: Tracer, passes: Int, storeFiles: Long, blocks: Long,
      peakStorageMb: Double, out: Outcome): Unit = {
    val perPass = tr.byPass()
    def per(f: Seq[Tracer.Span] => Double): Double = Stats.median(perPass.map(f))
    def named(ss: Seq[Tracer.Span], n: String) = ss.filter(_.name == n)
    def attr(ss: Seq[Tracer.Span], key: String): Double =
      ss.flatMap(_.attrs.get(key)).map(_.asInstanceOf[Long].toDouble).sum
    def ingest(ss: Seq[Tracer.Span], what: String): Double =
      PayloadGen.endpoints.map(ep => attr(named(ss, "ingest"), s"$ep.$what")).sum

    out.metric("ingest.s", per(named(_, "ingest").map(_.seconds).sum), "s")
    out.metric("ingest.rows_parsed", per(ingest(_, "parsed")), "count")
    out.metric("ingest.rows_rejected", per(ingest(_, "rejected")), "count")
    out.metric("ingest.reject_ratio",
      per(ss => ingest(ss, "rejected") / math.max(1.0, ingest(ss, "parsed"))), "ratio")
    out.metric("catalog.s", per(named(_, "catalog").map(_.seconds).sum), "s")
    out.metric("load.s", per(named(_, "load").map(_.seconds).sum), "s")
    out.metric("load.jobs", per(named(_, "load").map(_.jobs.toDouble).sum), "count")
    out.metric("load.rows_offered", per(ingest(_, "kept")), "count")
    out.metric("load.rows_inserted", per(ss => attr(named(ss, "load"), "inserted")), "count")
    out.metric("load.useful_ratio", per(ss =>
      attr(named(ss, "load"), "inserted") / math.max(1.0, ingest(ss, "kept"))), "ratio")
    out.metric("load.target_files_read",
      per(ss => attr(named(ss, "load"), "target_files_read")), "count")
    out.metric("load.files_written",
      per(ss => attr(named(ss, "load"), "files_written")), "count")
    out.metric("load.bytes_written_mb",
      per(ss => attr(named(ss, "load"), "bytes_written") / Tracer.Mb), "MB")
    out.metric("store.files_total", storeFiles.toDouble, "count")
    out.metric("shuffle_write_mb", per(_.map(_.shuffleWriteBytes).sum / Tracer.Mb), "MB")
    out.metric("spill_mb", per(_.map(_.spillBytes).sum / Tracer.Mb), "MB")
    out.metric("materialize.blocks", blocks.toDouble / passes, "count")
    out.metric("materialize.peak_storage_mb", peakStorageMb, "MB")
  }

  /** (count, bytes) of the parquet data files under `root`. */
  def dataFiles(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
          .toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach(p =>
      Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
