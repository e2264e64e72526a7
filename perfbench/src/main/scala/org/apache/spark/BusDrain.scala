package org.apache.spark

/** Waits until the listener bus has delivered every posted event. The bus
  * is private to Spark; this is the one place the benchmark reaches it, so
  * telemetry read right after an action is complete rather than polled.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
