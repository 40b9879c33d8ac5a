package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so listener-derived numbers are complete when read. The bus
  * is package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
