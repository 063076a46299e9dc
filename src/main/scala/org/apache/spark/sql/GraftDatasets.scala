package org.apache.spark.sql

import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** `df`'s logical plan as a DataFrame of `session` (`Dataset.ofRows` is
  * `private[sql]`), so its jobs run under `session`'s job artifact state
  * and task class loader. Only for a plan that holds no session state,
  * such as a `foreachBatch` micro-batch (a `LogicalRDD`). */
object GraftDatasets {
  def rebind(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session, df.logicalPlan)
}
