package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so a pass's trace
  * is complete before it is summarised. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
