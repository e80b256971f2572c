package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-span job and task counts are complete before the
  * traced run reads them. The listener bus is private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
