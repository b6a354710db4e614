package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's totals are complete before they are read. The bus is
  * package-private to Spark, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
