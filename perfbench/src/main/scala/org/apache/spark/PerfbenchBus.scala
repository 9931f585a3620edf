package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so counters
  * read after an action include all of that action's work. It lives in this
  * package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
