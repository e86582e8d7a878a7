package org.apache.spark.graftbench

import org.apache.spark.sql.SparkSession

/** Access to the listener bus, which is private to Spark's own packages:
  * the tracer waits for it to deliver every queued event before it closes
  * a span, so each event is charged to the span that caused it.
  */
object Bus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
