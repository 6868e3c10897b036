package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; counters read before the bus
  * drains would miss the tail of a run. The drain call is Spark-internal,
  * hence this one-method bridge in Spark's package. */
object ListenerBusBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
