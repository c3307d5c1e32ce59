package org.apache.spark.sql.graftfns

import org.apache.spark.SparkContext

/** Block until every listener event posted so far has been delivered,
  * so a listener's totals are complete when they are read. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
