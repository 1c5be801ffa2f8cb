package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered. The bus is asynchronous, so the benchmark drains it before
  * reading its listener's counters; `listenerBus` is package-private to
  * Spark, hence this object's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
