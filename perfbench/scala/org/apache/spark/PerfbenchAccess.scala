package org.apache.spark

/** The listener bus is package-private to Spark; the traced run drains it
  * before summarizing an op so every job and stage event has arrived. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
