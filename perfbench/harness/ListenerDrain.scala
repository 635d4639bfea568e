package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  *
  * `LiveListenerBus` is `private[spark]`; this one call is why the file sits
  * under the `org.apache.spark` package. The harness drains before and after
  * each unit so that the events it reads belong to that unit alone.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
