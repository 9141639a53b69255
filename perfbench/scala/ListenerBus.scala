package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far. The bus is internal to Spark, so this lives in Spark's package.
  */
object GraftbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
