package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The one Spark-internal call the benchmark needs: listener events are
  * delivered asynchronously, so counters are read only after the bus
  * has delivered everything posted so far. */
object BenchAccess {
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
