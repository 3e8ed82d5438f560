package org.apache.spark

/** Waits until every queued listener event has been delivered, so that a
  * recorder read right after an action sees all of that action's events. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
