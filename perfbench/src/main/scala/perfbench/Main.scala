package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM; `run.py` starts it and reads the result
  * file it writes.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --run-dir DIR --launched-at EPOCH_SECONDS [--tiny]
  * }}}
  *
  * Writes `result.json` (metrics with units, operation and check counts,
  * host block) and, when traced, `trace.json` (every span) into the run
  * directory.
  */
object Main {
  val workloads: Seq[String] =
    "etl_incremental" +: QueryWorkload.sets.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    // query-written artifacts that oracle SQL re-reads go under this run,
    // pinned before any query object initialises (as graft.Verify does)
    graft.ingest.FixtureTables.root = s"${cfg.runDir}/fixtures"
    graft.queries.Corpus.oracleSfDir = cfg.dataDir

    val hostStart = Host.snapshot()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Tracer(spark, cfg.trace, cfg.workload, cfg.seed)
    val out = new Outcome
    try {
      if (cfg.workload == "etl_incremental") EtlWorkload.run(spark, cfg, tr, out)
      else QueryWorkload.run(spark, cfg, tr, out)
    } finally tr.close()

    val hostEnd = Host.snapshot()
    val steal = Host.stealPct(hostStart.jiffies, hostEnd.jiffies)
    out.metric("peak_rss_mb", Host.peakRssMb(), "MB")
    if (cfg.trace) {
      out.metric("host.steal_pct", steal, "%")
      out.metric("host.loadavg", hostEnd.loadavg.headOption.getOrElse(0.0), "load")
      Files.writeString(Paths.get(s"${cfg.runDir}/trace.json"),
        tr.toJson(out.metrics.toSeq.map { case (k, (v, u)) =>
          k -> Seq("value" -> v, "unit" -> u) }) + "\n")
    }
    val result = Seq(
      "workload" -> cfg.workload,
      "seed" -> cfg.seed,
      "trace" -> cfg.trace,
      "attempted" -> out.attempted,
      "failed_ops" -> out.failedOps,
      "failed_checks" -> out.failedChecks,
      "checks" -> out.checks.map { case (n, ok, d) =>
        Seq("name" -> n, "ok" -> ok, "detail" -> d) },
      "metrics" -> out.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Seq("value" -> v, "unit" -> u) },
      "info" -> out.info.toSeq,
      "host" -> Seq(
        "nproc" -> cores,
        "master" -> spark.sparkContext.master,
        "spark_version" -> spark.version,
        "seed" -> cfg.seed,
        "loadavg_start" -> hostStart.loadavg,
        "loadavg_end" -> hostEnd.loadavg,
        "steal_pct" -> steal))
    Files.writeString(Paths.get(s"${cfg.runDir}/result.json"), Json(result) + "\n")
    spark.stop()
  }

  /** Seconds since `run.py` launched this JVM. */
  def sinceLaunch(cfg: RunConfig): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9 - cfg.launchedAt
  }

  private def parse(args: Array[String]): RunConfig = {
    val flags = Set("--tiny")
    val kv = args.toSeq.filterNot(flags).grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val cfg = RunConfig(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      dataDir = need("data"),
      runDir = need("run-dir"),
      launchedAt = need("launched-at").toDouble,
      tiny = args.contains("--tiny"))
    require(workloads.contains(cfg.workload),
      s"unknown workload ${cfg.workload}; one of ${workloads.mkString(", ")}")
    cfg
  }
}
