package perfbench

import java.nio.file.{Files, Paths}

/** Best-effort reads of host load from `/proc` (zero or empty elsewhere),
  * the same reads `graft.Bench` makes, plus this JVM's peak RSS.
  */
object Host {
  def loadavg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg"))
      .trim.split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Exception => Seq.empty }

  /** (steal, total) jiffies since boot from the aggregate cpu line. */
  def cpuJiffies(): (Long, Long) =
    try {
      val cols = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (cols.length > 7) cols(7) else 0L, cols.sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double = {
    val dTot = b._2 - a._2
    if (dTot <= 0L) 0.0 else 100.0 * (b._1 - a._1) / dTot
  }

  /** VmHWM of this process in MB: the peak resident set so far. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray(Array.empty[String]).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => 0.0 }

  /** A snapshot taken at run start and again at run end. */
  final case class Snapshot(loadavg: Seq[Double], jiffies: (Long, Long))
  def snapshot(): Snapshot = Snapshot(loadavg(), cpuJiffies())
}
