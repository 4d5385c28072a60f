package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event.
  * `listenerBus` is `private[spark]`, so this one call lives in a
  * Spark package.
  */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
