package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run reads complete counters. Listener delivery is asynchronous
  * and the wait is package-private in Spark, hence this one-line shim.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
