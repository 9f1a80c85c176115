package org.apache.spark

/** Access to the one scheduler hook the traced run needs: draining the
  * listener bus, so counters read at a span boundary include every event
  * posted before it. */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
