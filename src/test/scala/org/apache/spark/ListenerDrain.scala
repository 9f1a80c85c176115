package org.apache.spark

/** Test access to the listener bus: `waitUntilEmpty` is private[spark],
  * and a listener's counts are complete only once every event posted
  * before the call has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
