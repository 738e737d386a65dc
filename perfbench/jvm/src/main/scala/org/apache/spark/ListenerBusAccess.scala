package org.apache.spark

/** Spark keeps its listener bus package-private; the benchmark's span
  * recorder needs to wait for it to deliver every posted event.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
