package org.apache.spark

/** Test access to the scheduler's listener bus: specs that count jobs with
  * a `SparkListener` drain the bus before reading their counts. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
