package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; the traced run drains it before it
  * reads the listener's totals. `listenerBus` is private to Spark.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
