package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's tracer reads complete job/stage/task totals. The listener
  * bus is only reachable from this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
