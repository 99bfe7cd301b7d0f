package org.apache.spark.graft

import org.apache.spark.util.AccumulatorContext

/** Whether an accumulator id is still registered; the registry is
  * Spark-internal, so this test-only shim reaches it. */
object Accumulators {
  def registered(id: Long): Boolean = AccumulatorContext.get(id).isDefined
}
