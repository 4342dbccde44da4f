package org.apache.spark

/** Test access to the driver's listener bus, which is `private[spark]`:
  * block until every event posted so far has been delivered, so a spec
  * can count events synchronously around the call it measures. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
