package org.apache.spark

/** The listener bus is private to Spark. Draining it guarantees every event
  * posted so far has reached the registered listeners, so counters read
  * afterwards are complete.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
