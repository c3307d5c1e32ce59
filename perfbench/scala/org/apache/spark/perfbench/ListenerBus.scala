package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the benchmark makes: block until every
  * queued listener event has been delivered, so the ledger's totals
  * are complete when they are read. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
