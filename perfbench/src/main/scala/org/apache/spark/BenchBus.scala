package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so the harness reads complete per-job and per-task aggregates. The
  * bus's drain call is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
