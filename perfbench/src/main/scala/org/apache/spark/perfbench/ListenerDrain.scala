package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; `waitUntilEmpty` is
  * `private[spark]`, so this bridge lives inside the `org.apache.spark`
  * package. Call it before reading listener totals for finished jobs. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
