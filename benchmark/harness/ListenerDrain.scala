package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so the
  * traced counts of a phase are complete when it ends. The listener bus
  * is package-private to Spark, hence this one-line bridge. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
