package org.apache.spark

/** Test hook into `private[spark]` listener-bus state: wait until every
  * posted event has reached its listeners, so a count read after an
  * action includes all the jobs the action ran. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
