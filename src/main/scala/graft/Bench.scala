package graft

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and prints one JSON line. Each query gets one warm-up execution
  * (JIT + codegen + file-footer caches) and one timed execution — the
  * sustained-throughput number a long-running cluster would see, which
  * is the figure comparable across engines at any scale.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder()
      // long single-JVM runs accumulate unreferenced broadcast/shuffle
      // state until ContextCleaner runs; keep it timely so late queries
      // aren't measured inside a degraded heap
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = scala.collection.mutable.ListBuffer[String]()
    // Local-iteration filter: SPARK_GRAFT_BENCH_ONLY=d02,d05 times just
    // the queries whose name starts with a listed prefix. Unset (the
    // driver's invocation) runs everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // Timed executions per query after warm-up. Default 2 since round
    // 15: warm-up + two timed passes = THREE full evaluations whose
    // minimum is reported — the "min-of-3 driver bench" the r14
    // verdict prescribed to end noise adjudication by inference. The
    // extra pass costs ≈ the steady-state sum (~4 min at sf0.1),
    // well inside the driver's wall budget.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(2)
    // The incremental-load demo is an end-to-end two-run idempotency
    // proof in Verify/tests; the bench only needs its steady-state load
    // cost, so run one ingest pass unless explicitly overridden.
    StockPipeline.demoRuns =
      sys.env.get("SPARK_GRAFT_DEMO_RUNS").map(_.toInt).getOrElse(1)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    // Host-load instrumentation (r14 verdict item 1): every round so
    // far has adjudicated bench regressions on untouched code as
    // "noisy host" BY INFERENCE, because the artifact recorded nothing
    // about host load. Record it: /proc/loadavg at run start/end and
    // the steal-time share of /proc/stat's aggregate cpu line across
    // EACH query's evaluations — a reader can now see directly whether
    // a slow number sat inside a steal burst. Both reads are
    // best-effort (empty/zero outside Linux).
    def loadavg(): Seq[Double] =
      try java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/loadavg"))
        .trim.split("\\s+").take(3).toSeq.map(_.toDouble)
      catch { case _: Throwable => Seq.empty }
    def cpuJiffies(): (Long, Long) = // (steal, total) since boot
      try {
        val cols = java.nio.file.Files
          .readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
          .trim.split("\\s+").drop(1).map(_.toLong)
        (if (cols.length > 7) cols(7) else 0L, cols.sum)
      } catch { case _: Throwable => (0L, 0L) }
    def stealPct(a: (Long, Long), b: (Long, Long)): Double = {
      val dTot = b._2 - a._2
      if (dTot <= 0L) 0.0 else 100.0 * (b._1 - a._1) / dTot
    }
    val loadStart = loadavg()
    val jfStart = cpuJiffies()
    val hostPerQuery = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = selected.map { case (name, fn) =>
      def once(): Unit =
        // Evaluate through the noop sink, not count(): under a count(1)
        // aggregate Catalyst prunes every unreferenced projection and
        // window column, so projection-only queries would be timed as
        // bare scans. The noop sink consumes every output column at
        // full width — the honest per-query cost.
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          if (!failed.contains(name)) {
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
        }
      def timedOnce(): Double = {
        val t0 = System.nanoTime()
        once()
        (System.nanoTime() - t0) / 1e9
      }
      // Warm-up (codegen + JIT + IO caches) — timed as well: it is a
      // full evaluation, so its wall time is a free upper bound on the
      // query's cost that a mid-run stall in the timed pass can never
      // exceed legitimately.
      val jq0 = cpuJiffies()
      val warm = timedOnce()
      if (runs > 1)
        System.gc() // min-of-N mode: isolate runs from warm-up's refs
      val timed = Seq.fill(runs)(timedOnce())
      hostPerQuery(name) = stealPct(jq0, cpuJiffies())
      name -> ((warm +: timed, () => timedOnce()))
    }
    // Stall repair: this host's CPU is intermittently stolen in bursts
    // lasting minutes (sampled /proc/stat steal at 6-10%/cpu during
    // them), inflating whichever queries happen to run inside the burst
    // 3-25× — the victims move between runs of the identical binary.
    // min(warm-up, timed) can't help when the burst spans both passes,
    // so any query whose best time still looks stalled is re-measured
    // once more HERE, after the main pass, when the burst has typically
    // ended. 2s is above the steady-state time of every query except the
    // end-to-end ingest demo, so steady-state runs re-measure only a
    // handful of entries (a few seconds of extra wall).
    val sampled = results.map { case (name, (samples, again)) =>
      name -> (if (samples.min > 2.0) samples :+ again() else samples)
    }
    val repaired = sampled.map { case (name, samples) => name -> samples.min }
    val qs = repaired.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (repaired.nonEmpty) repaired.map(_._2).sum else 0.0
    // Per-query max−min across the STEADY-STATE evaluations only (the
    // N timed passes + any repair pass) — the reader's direct evidence
    // for "this number is host noise, not a plan regression": the same
    // binary disagreeing with itself within ONE run bounds the host's
    // contribution. The warm-up pass is EXCLUDED: it absorbs per-query
    // codegen/JIT/IO-cache cost by design, so including it flagged
    // every fast query (33 noise_suspect entries in BENCH_r10) and
    // diluted the steal-burst signal this exists to carry. With a
    // single timed pass and no repair the within-run spread is 0 —
    // the cross-run reference check below carries the signal instead.
    val spreads = sampled.map { case (name, samples) =>
      val steady = samples.drop(1) // samples(0) is the warm-up
      name -> (if (steady.isEmpty) 0.0 else steady.max - steady.min)
    }
    val spreadJson = spreads
      .map { case (k, v) => "\"" + k + "\":" + String.format(
        java.util.Locale.ROOT, "%.3f", Double.box(v)) }
      .mkString("{", ",", "}")
    // a query whose steady-state samples disagree by more than
    // max(0.25s, its best time) sat in a steal burst during a pass
    val spreadSuspect = sampled.collect {
      case (name, samples)
          if {
            val steady = samples.drop(1)
            steady.nonEmpty &&
              steady.max - steady.min > math.max(0.25, samples.min)
          } =>
        name
    }.toSet
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Noise flagging: a single-run bench on this host can read 2-3× high
    // on regex/JIT-heavy queries with ZERO code change (the steal-burst
    // problem above, plus expression-compile tails one warm-up doesn't
    // fully absorb). bench_reference.json — committed, the builder's
    // min-of-2 for the same sf — provides per-query context: any timed
    // value > 2× its reference (and > 0.25 s above it, so micro-query
    // jitter never trips it) lands in "noise_suspect", telling a reader
    // the number is probably the host, not a regression. Floors hold
    // only for the host that measured them, so a reference applies when
    // its "sf" and its "cpus" both match this run; absent, mismatched or
    // without "cpus" → empty list, never an error.
    val reference: Map[String, Double] =
      try {
        val p = java.nio.file.Paths.get("bench_reference.json")
        if (java.nio.file.Files.exists(p)) {
          val txt = java.nio.file.Files.readString(p)
          // \s* after the colon: the committed reference is
          // json.dump-formatted ("name": 0.99) — the r14 regex
          // required the digit immediately after ':' and silently
          // parsed an EMPTY reference, muting the 2×-floor
          // noise_suspect channel for every round it shipped
          val sfOk = "\"sf\":\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
            .forall(_.group(1) == sfDir)
          val cpusOk = "\"cpus\":\\s*([0-9]+)".r.findFirstMatchIn(txt)
            .exists(_.group(1).toInt == spark.sparkContext.defaultParallelism)
          // parse ONLY the flat "queries" object: the full artifact now
          // also carries the host block (per-query steal_pct map), and
          // an unscoped name:number scan over a merged bench_total.json
          // would install steal PERCENTAGES as time FLOORS, corrupting
          // the 2×-floor channel
          val qObj = "\"queries\"\\s*:\\s*\\{([^}]*)\\}".r
            .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
          if (sfOk && cpusOk)
            "\"([A-Za-z0-9_]+)\":\\s*([0-9]+\\.?[0-9]*)".r
              .findAllMatchIn(qObj)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          else Map.empty
        } else Map.empty
      } catch { case _: Throwable => Map.empty }
    val noiseSuspect = (repaired.collect {
      case (name, v)
          if reference.get(name).exists(r => v > 2.0 * r && v - r > 0.25) =>
        name
    }.toSet ++ spreadSuspect).toSeq.sorted
    val noiseJson = noiseSuspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Host-load block: run-level loadavg bounds + aggregate steal
    // share, and the per-query steal map (percent of the query's
    // evaluation window the hypervisor stole). Reading "q55: 3.1s,
    // steal_pct 8.2" closes the question that used to take a round of
    // quiet-host re-measurement.
    val loadEnd = loadavg()
    val runSteal = stealPct(jfStart, cpuJiffies())
    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    val stealJson = hostPerQuery
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val hostJson =
      s"""{"loadavg_start":${loadStart.map(fmt).mkString("[", ",", "]")},""" +
      s""""loadavg_end":${loadEnd.map(fmt).mkString("[", ",", "]")},""" +
      s""""steal_pct_run":${fmt(runSteal)},"steal_pct":$stealJson}"""
    // spark_version in every artifact: round 7's 21-query break was a
    // Spark-lineage change, diagnosable from the JSON alone only if the
    // runtime version rides along.
    val ver = spark.version
    val record = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spreadJson,"failed":$failedJson,"noise_suspect":$noiseJson,"host":$hostJson,"sf":"$sfDir","spark_version":"$ver"}"""
    println(record)
    // The per-query line above can exceed the driver's tail-capture
    // window (~70 entries); repeat the total on a FINAL compact line —
    // no per-query map — so a machine-readable number always survives.
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failedJson,"noise_suspect":$noiseJson,"loadavg_end":${loadEnd.map(fmt).mkString("[", ",", "]")},"steal_pct_run":${fmt(runSteal)},"sf":"$sfDir","spark_version":"$ver"}""")
    // ... and persist the FULL record to bench_total.json (cwd — the
    // driver invokes sbt from the repo root) so the number survives
    // even when stdout capture truncates both lines: read the file
    // instead of parsing a tail. Full runs only: a subset is no record.
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_total.json"), record + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] bench_total.json write failed: ${e.getMessage}")
      }
    spark.stop()
  }
}
