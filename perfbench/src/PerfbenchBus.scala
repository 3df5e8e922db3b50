package org.apache.spark

/** Waits for the listener bus to deliver every posted event; the wait is
  * `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
