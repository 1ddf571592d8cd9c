package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is Spark-internal; the tracer needs it drained before
  * it closes an op, so every event of the op's jobs has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
