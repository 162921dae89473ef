package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * The bus is `private[spark]`; this one call is its only use, so a
  * counter read right after an action sees all of that action's jobs
  * without running a fence job. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
