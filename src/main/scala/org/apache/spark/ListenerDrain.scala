package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so a listener's counters are complete once an action has returned. The
  * bus is `private[spark]`, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
