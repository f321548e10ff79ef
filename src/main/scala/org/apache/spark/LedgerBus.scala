package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * `graft.Ledger` and the `ScaleProbe` stream mode read complete
  * counters. The bus is private to Spark, hence this one-line bridge in
  * its package.
  */
object LedgerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
