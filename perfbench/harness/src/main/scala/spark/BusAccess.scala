package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before it
  * reads its trace so every finished stage has been counted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
