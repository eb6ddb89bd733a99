package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
 * test listener's counts are complete when the test reads them. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
