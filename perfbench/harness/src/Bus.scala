package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so the
  * trace listener's per-operation totals are complete before they are
  * read. The bus is private to Spark's own packages. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
