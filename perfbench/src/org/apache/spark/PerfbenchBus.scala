package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so every job and task event is counted before metrics are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
