package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The query workloads. Each pass builds, plans and runs every query of
  * the workload through the `noop` sink, in an order drawn from the seed.
  * The warm-up pass writes each result to parquet instead, so the DuckDB
  * oracle can check it after the JVM exits.
  */
object QueryWorkload {

  /** Queries per workload, as named in `SparkEntry.queries`. */
  val sets: Map[String, Seq[String]] = Map(
    // iterative GraphOps loops, one fixed-iteration (PageRank) and one
    // converge-to-fixpoint (shortest paths): eager localCheckpoint plus a
    // convergence job per round, so the build layer dominates
    "graph_fixpoint" -> Seq("g01_pagerank", "g13_shortest_paths"),
    // one-shot dedup, span and eval queries: no fixpoint loop
    "corpus_materialize" -> Seq("d02_minhash_neardups", "d17_maximal_spans",
      "q128_auc_by_slice"))

  /** Timed passes per run, so `pass_s` is never a single sample. */
  val minPasses = 2

  def run(spark: SparkSession, cfg: RunConfig, tr: Tracer, out: Outcome): Unit = {
    val all = sets(cfg.workload)
    val names = new scala.util.Random(cfg.seed)
      .shuffle(if (cfg.tiny) all.take(1) else all)
    val fns = SparkEntry.queries
    val dumps = s"${cfg.runDir}/dumps"

    def attempt(n: String)(body: => Unit): Boolean = {
      out.attempted += 1
      try { body; true }
      catch { case e: Exception =>
        out.failedOps += 1
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
        false
      }
    }

    val warm0 = System.nanoTime()
    // warm-up: every query once, its result dumped for the oracle
    val dumped = names.filter(n => attempt(n)(fns(n)(spark, cfg.dataDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$dumps/$n")))
    // the inputs of scripts/compare_oracle.py: every query's oracle SQL, and
    // the queries that threw, which it fails without looking for a dump
    val oracles = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(dumps))
    Files.writeString(Paths.get(s"$dumps/oracle_sql.json"),
      Json(names.map(n => n -> oracles.getOrElse(n, null))))
    Files.writeString(Paths.get(s"$dumps/_verify_failed.json"),
      Json(names.filterNot(dumped.contains)))
    out.metric("setup_s", Main.sinceLaunch(cfg), "s")
    out.info("warmup_s") = Stats.seconds(warm0)

    tr.resetBlocks()
    val t0 = System.nanoTime()
    val passes = Stats.repeatFor(cfg.seconds, min = minPasses) { p =>
      tr("pass", "pass" -> (p + 1)) {
        names.map { n =>
          n -> Stats.time(attempt(n)(
            tr("query", "query" -> n)(once(fns(n)(spark, cfg.dataDir), tr))))._2
        }
      }
    }
    val (blocks, peakStorageMb) = tr.blocks()

    out.metric("pass_s", Stats.median(passes.map(_.map(_._2).sum)), "s")
    out.metric("op_p50_s", Stats.median(passes.flatten.map(_._2)), "s")
    out.info ++= Seq(
      "passes" -> passes.size,
      "timed_s" -> Stats.seconds(t0),
      "op_seconds" -> passes,
      "queries" -> names,
      "op_samples" -> passes.map(_.size).sum,
      "dumps" -> dumps)

    if (cfg.trace) layerMetrics(spark, tr, blocks, peakStorageMb, out)
  }

  /** Build, plan and execute one query; each step is a span when traced. */
  private def once(build: => DataFrame, tr: Tracer): Unit = {
    val df = tr("build")(build)
    tr("plan") {
      df.queryExecution.executedPlan
      tr.note(df.queryExecution.tracker.phases.toSeq.sortBy(_._1)
        .map { case (phase, t) => s"$phase.ms" -> t.durationMs }: _*)
    }
    tr("execute")(df.write.format("noop").mode("overwrite").save())
  }

  /** Per-layer numbers from the traced passes, each a median per pass. */
  private def layerMetrics(spark: SparkSession, tr: Tracer, blocks: Long,
      peakStorageMb: Double, out: Outcome): Unit = {
    val perPass = tr.byPass()
    def per(f: Seq[Tracer.Span] => Double): Double = Stats.median(perPass.map(f))
    def layer(n: String)(f: Tracer.Span => Double)(ss: Seq[Tracer.Span]) =
      ss.filter(_.name == n).map(f).sum
    val cores = spark.sparkContext.defaultParallelism

    for (l <- Seq("build", "execute")) {
      out.metric(s"$l.s", per(layer(l)(_.seconds)), "s")
      out.metric(s"$l.jobs", per(layer(l)(_.jobs.toDouble)), "count")
      out.metric(s"$l.tasks", per(layer(l)(_.tasks.toDouble)), "count")
    }
    out.metric("plan.s", per(layer("plan")(_.seconds)), "s")
    out.metric("task_util", per(ss =>
      layer("execute")(_.taskNs / 1e9)(ss) /
        math.max(1e-9, layer("execute")(_.seconds)(ss) * cores)), "ratio")
    out.metric("input_mb", per(layer("execute")(_.inputBytes / Tracer.Mb)), "MB")
    out.metric("shuffle_write_mb", per(_.map(_.shuffleWriteBytes).sum / Tracer.Mb), "MB")
    out.metric("spill_mb", per(_.map(_.spillBytes).sum / Tracer.Mb), "MB")
    out.metric("materialize.blocks", blocks.toDouble / perPass.size, "count")
    out.metric("materialize.peak_storage_mb", peakStorageMb, "MB")
  }
}
