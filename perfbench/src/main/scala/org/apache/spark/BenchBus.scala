package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * harness reads complete job and stage records (the bus is private to
  * Spark's package). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
