package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so counters read after a call include all of its tasks. The bus is
  * private to Spark, hence this package. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
