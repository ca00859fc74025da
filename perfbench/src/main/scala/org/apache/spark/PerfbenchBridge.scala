package org.apache.spark

/** The one `private[spark]` hook the benchmark needs: wait until every
  * posted listener event has been delivered, so counters read at a span
  * boundary include all work that finished before it. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
