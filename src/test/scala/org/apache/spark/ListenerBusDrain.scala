package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec reads a listener's count after an action without polling. The bus
  * is private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
