package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a listener's counter
  * read right after an action can miss the action's own events. The wait
  * is `private[spark]`, hence this one-line bridge in Spark's package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
