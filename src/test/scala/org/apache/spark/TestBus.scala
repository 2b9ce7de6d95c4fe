package org.apache.spark

/** The listener bus is package-private; specs that count jobs or capture
  * executed plans drain it before they read what their listener saw. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
