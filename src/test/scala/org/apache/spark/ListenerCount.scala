package org.apache.spark

/** The number of listeners on the (Spark-private) listener bus. */
object ListenerCount {
  def of(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
