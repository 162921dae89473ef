package org.apache.spark

/** Waits until every posted listener event has been delivered, so span
  * attribution sees the events of the last call. The listener bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
