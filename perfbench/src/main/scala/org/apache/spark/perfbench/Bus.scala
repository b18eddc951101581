package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's asynchronous bus. The traced run
  * drains it at each span boundary, so every event received by then
  * belongs to the span that just ended. The drain is `private[spark]`,
  * hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
