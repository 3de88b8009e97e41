package org.apache.spark

/** Blocks until every listener has seen every event posted so far. The
  * listener bus is asynchronous and its drain call is package-private, so the
  * benchmark reaches it from this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
