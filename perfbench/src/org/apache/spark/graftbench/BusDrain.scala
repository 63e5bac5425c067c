package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Block until every queued listener event has been delivered, so the
  * traced run's spans are complete before they are written.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
