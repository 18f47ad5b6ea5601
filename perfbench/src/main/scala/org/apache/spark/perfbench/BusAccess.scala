package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is delivered asynchronously; the traced run reads its
  * counters only after every event of a pass has been delivered. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
