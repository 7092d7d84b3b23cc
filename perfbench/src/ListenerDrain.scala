package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; a traced run must wait for it to
  * deliver every posted event before it reads its counters.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
