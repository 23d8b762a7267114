package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the async listener bus has delivered every event posted
  * so far, so an operation's trailing events land in its own totals.
  * Lives in Spark's package because `listenerBus` is `private[spark]`. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
