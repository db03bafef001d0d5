package org.apache.spark

/** The one Spark-internal call the benchmark makes: wait until the
  * listener bus has delivered every queued event, so a traced pass is
  * complete before its figures are read.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
