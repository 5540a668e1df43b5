package org.apache.spark

/** Package-private access the benchmark needs: wait until every queued
  * listener event is delivered, so job and task counts are complete.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
