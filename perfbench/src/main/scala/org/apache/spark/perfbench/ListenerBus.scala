package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a counter read right
  * after an action would miss the action's own task-end events. The wait
  * is `private[spark]`, hence this one-line bridge in Spark's package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
