package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; a test that counts jobs with a
  * listener drains it before it reads the count. `listenerBus` is private
  * to Spark.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
