package org.apache.spark

/** Blocks until every queued listener event has been delivered, so the
  * benchmark's job counts are complete before it reads them. */
object PerfbenchListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
