package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the traced run's per-layer numbers include the last jobs of the loop.
  * Lives in this package because the bus is private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
