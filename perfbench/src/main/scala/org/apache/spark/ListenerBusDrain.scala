package org.apache.spark

/** Blocks until every queued listener event has been delivered, so a
  * listener's aggregates are complete before they are read. The bus is
  * package-private to Spark, hence this file's package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
