package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so counts read after a call include that call's jobs. The bus
  * is package-private to Spark, hence this one-line bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
