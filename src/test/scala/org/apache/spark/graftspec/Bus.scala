package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered,
  * so a spec's listener has seen every job it is about to count. The
  * bus is package-private to Spark, hence this one-line bridge.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
