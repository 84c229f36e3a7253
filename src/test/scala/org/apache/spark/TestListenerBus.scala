package org.apache.spark

/** Test access to the listener bus: wait until every posted event has
  * reached its listeners (query-execution listeners run on the bus). */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
