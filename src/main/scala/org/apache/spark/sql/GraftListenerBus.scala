package org.apache.spark.sql

/** Listener events are delivered asynchronously; `drain` returns once
  * the bus has delivered every event posted so far (the bus is
  * `private[spark]`), so counters read after it are complete. */
object GraftListenerBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
