package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the traced run must wait
  * for it to deliver every posted event before it reads its counters.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
