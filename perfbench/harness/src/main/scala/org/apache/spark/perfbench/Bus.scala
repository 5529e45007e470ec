package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's `private[spark]` drain, so the traced run
  * can read listener totals that are complete up to the call. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
