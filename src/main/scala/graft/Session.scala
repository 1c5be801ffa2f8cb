package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the engine's mains (Bench, Verify
  * and the tools): local mode on `SPARK_GRAFT_CPUS` worker threads
  * (every core when unset), as many shuffle partitions, UTC session
  * time and no UI. A main adds its own confs on the returned builder
  * and calls `getOrCreate()`.
  */
object Session {
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }
}
