package org.apache.spark

/** The one Spark-internal call the benchmark makes: block until the
  * listener bus has delivered every queued event, so counters read at a
  * span boundary are complete. */
object BenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
