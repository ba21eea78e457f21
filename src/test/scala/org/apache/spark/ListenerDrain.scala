package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so a
  * test listener's counters are complete before they are read. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
