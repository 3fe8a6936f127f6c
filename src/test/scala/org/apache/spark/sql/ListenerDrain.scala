package org.apache.spark.sql

/** The listener bus is package-private; plan tests that capture queries with
  * a `QueryExecutionListener` wait until it has seen every posted event. */
object ListenerDrain {
  def apply(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
