package org.apache.spark

/** Waits until every queued listener event has been delivered, so listener
  * totals read afterwards are complete. The bus is private to Spark, hence
  * this one-line bridge in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
