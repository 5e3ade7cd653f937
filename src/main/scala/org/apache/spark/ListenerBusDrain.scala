package org.apache.spark

/** Blocks until Spark's listener bus has delivered every event posted so
  * far, so listener counts read after an action include that action's
  * jobs. The bus is package-private to Spark, hence this bridge.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
