package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The traced run closes a query's span only after every event the
  * query posted has reached the listeners, so late events are never
  * attributed to the next query. The listener bus's drain call is
  * Spark-internal; this shim is the only place that reaches it. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
