package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is Spark-private; the tracer drains it at each query
  * boundary so every event of a query is attributed to that query. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
