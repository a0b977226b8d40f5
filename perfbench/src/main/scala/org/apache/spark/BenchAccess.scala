package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * queued listener event has been delivered, so stage and task counters
  * are complete before the trace is summarised. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
