package org.apache.spark

/** Waits until every queued listener event has been delivered. Lives in
  * Spark's package because the live listener bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
