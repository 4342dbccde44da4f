package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark needs one call on
  * it — wait until every queued event has reached its listeners — so its
  * counters are complete before it reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
