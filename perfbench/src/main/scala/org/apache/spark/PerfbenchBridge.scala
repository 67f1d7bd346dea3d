package org.apache.spark

/** The two scheduler internals the benchmark reads: draining the listener
  * bus, so a call's task metrics are complete when its span closes, and the
  * number of registered listeners, a resource-hygiene count. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size()
}
