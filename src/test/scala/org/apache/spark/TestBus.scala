package org.apache.spark

/** Test access to SparkContext's private listener bus. */
object TestBus {
  /** Wait until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
