package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; the traced run drains it after each
  * op so every event the op caused is attributed before the next starts.
  * `listenerBus` is private to Spark, hence this bridge in its package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
