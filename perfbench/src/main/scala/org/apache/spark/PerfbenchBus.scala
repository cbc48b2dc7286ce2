package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it at each
  * pass end so every job and query event is attributed before moving on. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
