package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
 * listener's counts are complete when its owner reads them. Spark keeps
 * the bus package-private, hence this package. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
