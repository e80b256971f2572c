package org.apache.spark

/** Waits until every queued listener event has been delivered, so a job
  * count read afterwards is complete. The listener bus is private to
  * Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
