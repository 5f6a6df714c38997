package org.apache.spark

/** The listener bus is private to Spark; a traced pass drains it so every
  * event of the pass has reached the benchmark's listeners before their
  * counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
