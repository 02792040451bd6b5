package org.apache.spark

/** The listener bus is private to Spark; the benchmark's tracer needs to
  * wait until every posted event has been delivered before it reports. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
