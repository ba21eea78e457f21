package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so a
  * listener's counters are complete before they are read. The bus is
  * private to Spark; this one call is the benchmark's only reach into it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
