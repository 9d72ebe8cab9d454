package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read right after a call include that call's jobs and tasks. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
