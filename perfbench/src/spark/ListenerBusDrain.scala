package org.apache.spark

/** Waits until every queued listener event has been delivered. The bus
  * is private to Spark; this one-method bridge keeps the access explicit. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
