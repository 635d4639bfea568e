package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  *
  * `LiveListenerBus` is `private[spark]`, which is why this sits under the
  * `org.apache.spark` package. Tests that count events with a listener drain
  * before and after the counted call, so the counts hold that call alone.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
