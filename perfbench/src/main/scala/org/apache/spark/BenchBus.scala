package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
 * benchmark waits for queued listener events before it reads them. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
