package org.apache.spark

/** Reads the live listener bus (`listenerBus` is `private[spark]`). */
object ListenerBusProbe {
  /** Listeners registered on `sc`'s bus, across every queue. */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
