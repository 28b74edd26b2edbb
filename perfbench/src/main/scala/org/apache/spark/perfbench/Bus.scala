package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package because the listener bus is `private[spark]`:
  * counters read before the bus drains would miss the last tasks. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
