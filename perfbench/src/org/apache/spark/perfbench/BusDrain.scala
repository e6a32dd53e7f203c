package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits for the listener bus to deliver every posted event, so the
  * benchmark's listener has complete job/stage/task records before the
  * spans are attributed. The bus is `private[spark]`, hence this package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
