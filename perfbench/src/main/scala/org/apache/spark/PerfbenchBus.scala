package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read after a Spark action include that action's events.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
