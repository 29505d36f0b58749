package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners have seen all task ends before it reads their
  * counters. The bus is `private[spark]`, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
