package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener added or removed around a block sees exactly that block's
  * events. Lives in Spark's package because the live listener bus is
  * package-private. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
