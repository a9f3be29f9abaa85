package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so counters read after a run are complete. The bus is private to
  * Spark, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
