package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's asynchronous bus; a traced span's
  * counters are complete only once the bus has delivered every event
  * posted before the span closed.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
