package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a spec's listener has seen every job its body started. The bus's
  * drain call is package-private to Spark, hence this package.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
