package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's job records are complete before it reads them. The bus
  * is private to Spark's package, hence this accessor's location.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
