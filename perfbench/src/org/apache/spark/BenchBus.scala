package org.apache.spark

/** Reaches the package-private listener bus so the benchmark can read its
  * listener totals only after every posted event has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
