package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this is the one call the
  * benchmark needs from it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
