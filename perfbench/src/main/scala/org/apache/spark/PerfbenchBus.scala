package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's counters are complete when a span closes. The bus drain
  * is package-private in Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
