package org.apache.spark

/** Blocks until Spark's listener bus has delivered every event posted
  * so far, so a traced run's listener has seen its last task before
  * the per-layer figures are computed. The bus is Spark-internal, hence
  * this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
