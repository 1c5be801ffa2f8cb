package perfbench

import scala.collection.mutable

/** Command-line settings of one benchmark run. */
final case class RunConfig(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    dataDir: String,
    runDir: String,
    launchedAt: Double,
    tiny: Boolean)

/** What a workload hands back: metric values with units, operation
  * counts, and the outcome of every correctness check it ran.
  */
final class Outcome {
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  val checks: mutable.ArrayBuffer[(String, Boolean, String)] = mutable.ArrayBuffer()
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  var attempted = 0L
  var failedOps = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  def failedChecks: Long = checks.count(!_._2).toLong
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` and returns its result with its wall time in seconds. */
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0))
  }

  /** Calls `pass` until `seconds` have gone by, at least `min` times. */
  def repeatFor[T](seconds: Double, min: Int)(pass: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer[T]()
    while (out.size < min || Stats.seconds(t0) < seconds) out += pass(out.size)
    out.toSeq
  }
}
