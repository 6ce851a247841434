package org.apache.spark

/** The listener bus is asynchronous: per-operation figures read right after
  * an action would miss events still queued. `waitUntilEmpty` is
  * package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
