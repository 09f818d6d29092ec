package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a region is summarised
  * only after every event raised inside it has reached the listeners. The
  * bus is `private[spark]`, hence this shim inside the spark package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
