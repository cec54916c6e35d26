package org.apache.spark

/** Lets the benchmark wait until every queued listener event is delivered,
  * so per-op counters are complete before they are written out. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
