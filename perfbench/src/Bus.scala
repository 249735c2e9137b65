package org.apache.spark

/** The listener bus is private to Spark; the harness waits on it so a
  * dump holds every job and stage event of the work it just timed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
