package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // every query-written artifact (weight dumps, shard exports, index
    // stores) goes under THIS run's out-dir: write-once and private, so
    // no concurrent/interleaved run can overwrite what the driver's
    // DuckDB compare replays (round-9 q124/q125 failure class); local
    // VERIFY_ONLY iterations reuse the same outDir, so a previous full
    // run's fixtures keep serving the unselected queries' oracles.
    // MUST be pinned before ANY query-object touch: a lazily-initialized
    // object could otherwise capture the per-process default.
    // SIBLING of outDir, not inside it: the driver's compare sweep
    // parquet-reads EVERY outDir subdirectory as a query result, and the
    // fixture root holds non-parquet dumps too (q84's CSV round trip) —
    // round 10's <outDir>/fixtures placement produced a bogus errored
    // 'fixtures' row in CORRECTNESS_r10.json.
    // built from (parent, name + suffix), not string concat: a
    // trailing slash on outDir would make "outDir + .fixtures" resolve
    // INSIDE outDir and reintroduce the bug
    graft.ingest.FixtureTables.root = {
      val od = new java.io.File(outDir).getAbsoluteFile
      new java.io.File(od.getParentFile, od.getName + ".fixtures")
        .getAbsolutePath
    }
    // dir-dependent oracles (s03's centroid fixture) must describe THIS
    // verify run's sfDir when oracle_sql.json is dumped below
    graft.queries.Corpus.oracleSfDir = sfDir
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (mirrors Bench): SPARK_GRAFT_VERIFY_ONLY=
    // q68,t19 dumps just the listed name prefixes into outDir — point
    // at a previous FULL dump dir and compare_oracle still runs the
    // whole surface. Unset (the driver's invocation) dumps everything.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    val failed = scala.collection.mutable.ListBuffer[String]()
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
    }
    // a query that throws (e.g. at analysis, after a column rename)
    // silently VANISHES from the correctness surface otherwise — round
    // 10's s11 breakage was only visible by diffing key sets across
    // rounds. Dump everything first, then fail loudly.
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} UNRUNNABLE QUERIES: ${failed.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failure marker (r12 advisor): the lenient exit default means a
    // wrapper that only checks the exit code could miss a thrown query.
    // The marker makes that impossible at the COMPARE layer instead:
    // scripts/compare_oracle.py hard-fails every name listed here (even
    // if a stale dump from a previous full run still exists), so a
    // failed query can never read as green locally. A plain file, not a
    // directory — the driver's sweep only parquet-reads subdirectories.
    Files.writeString(Paths.get(s"$outDir/_verify_failed.json"),
      failed.map(q).mkString("[", ",", "]"))
    // runtime-version sidecar (see Bench): keeps correctness artifacts
    // diagnosable when the Spark lineage moves under the repo
    Files.writeString(Paths.get(s"$outDir/runtime.json"),
      s"""{"spark_version":"${spark.version}","sf_dir":${q(sfDir)}}\n""")
    System.err.println(s"[verify] spark_version=${spark.version}")
    spark.stop()
    // Exit semantics: the UNRUNNABLE summary above is always printed,
    // but the non-zero exit is opt-in. If the round driver treated a
    // non-zero Verify exit as a whole-round abort, ONE flaky query
    // would zero a 245-query surface that still produced 244 perfectly
    // comparable dumps — the asymmetry is catastrophic, so the driver
    // path defaults to exit 0 + loud stderr. The local validation loop
    // (and CI wrappers) set SPARK_GRAFT_VERIFY_STRICT=1 to keep the
    // round-11 fail-fast behavior where a non-zero exit is safe.
    if (failed.nonEmpty && sys.env.get("SPARK_GRAFT_VERIFY_STRICT")
          .contains("1")) sys.exit(1)
  }
}
