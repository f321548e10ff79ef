package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * the traced run reads complete counters at each pass boundary. The
  * bus is private to Spark, hence this one-line bridge in its package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
