package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * recorder reads complete counters. Listener delivery is asynchronous
  * and the wait is package-private in Spark, hence this one-line shim.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
