package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every posted event, so traced counts are
  * complete when they are read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
