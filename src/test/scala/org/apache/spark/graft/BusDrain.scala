package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Specs that count listener events must wait until every posted event
  * has reached the listeners; the listener bus's drain call is
  * Spark-internal, so this test-only shim reaches it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
