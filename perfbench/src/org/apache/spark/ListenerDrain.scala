package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's view of finished jobs is complete before it is read. The
  * bus is package-private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
