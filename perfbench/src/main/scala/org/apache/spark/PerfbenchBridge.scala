package org.apache.spark

/** Waits until every queued listener event has been delivered, so job and
  * task counts read right after an action are complete. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
