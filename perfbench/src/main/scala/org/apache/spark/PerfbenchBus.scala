package org.apache.spark

/** Waits until every event posted so far has reached every listener, so
  * the benchmark's listeners are complete before their totals are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
