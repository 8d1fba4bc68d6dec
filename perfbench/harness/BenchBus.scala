package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * harness reads complete stage metrics. The bus is private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
