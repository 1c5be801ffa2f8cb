package graft.tools

/** Prints formatted plans + warm timings for chosen SparkEntry queries —
  * the `.explain` audit loop (pushdown/broadcast/codegen checks).
  * Usage: runMain graft.tools.PlanAudit <sfDir> <query...>
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // "ALL" audits the entire declared surface (bulk plan dump)
    val names =
      if (args.length > 1 && args(1) == "ALL")
        graft.SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 1) args.tail.toSeq
      else Seq("q06_semi_join", "q07_anti_join")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_PLAN_ONLY=1: dump formatted plans without the timing
    // loop — the bulk whole-surface audit mode (guide §1: capture the
    // plan shape of every query; Exchange count, join strategy,
    // PushedFilters/ReadSchema are grep-able from the output).
    val planOnly = sys.env.get("SPARK_GRAFT_PLAN_ONLY").contains("1")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      println(s"\n========== $n ==========")
      try {
        val df = fn(spark, sfDir)
        df.explain("formatted")
        if (!planOnly) {
          fn(spark, sfDir).count() // warm
          (1 to 3).foreach { i =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            println(s"$n run$i: ${(System.nanoTime() - t0) / 1e9}s")
          }
        }
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"$n PLAN FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
