package org.apache.spark

/** Waits until every queued listener event has been delivered, so that
  * a listener read right after an action has seen all of its events.
  * The listener bus is package-private, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
