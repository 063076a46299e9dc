package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.TableRef

/**
 * Lake-table access (O-1, O-6): resolves [[TableRef]]s to DataFrames
 * and registers them as temp views under their alias, the Spark-native
 * counterpart of the reference's Glue-catalog resolution
 * (dataquality/dataset.py:3-18; glue/business_metrics.py:16-20 with
 * --enable-glue-datacatalog).
 *
 * Locally a "database" is a directory of parquet files; on a real
 * cluster the same TableRefs resolve through the session catalog
 * (spark.table("db.tbl")) with identical downstream semantics.
 */
object Tables {

  /** Read one lake table rooted at `sfDir` (parquet-per-table layout,
    * TESTDATA.md). Filters/projections on the result push down to the
    * parquet scan via Catalyst.
    *
    * TIMESTAMP(NANOS) parquet columns (the `events.ts` writer uses
    * them) aren't a Spark type: read them as nano longs and convert at
    * second precision with exact integer division (a double division
    * would lose precision above 2^53 ns and could flip second
    * boundaries). */
  def read(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$table.parquet")
    df.schema.fields.find(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) => df.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_seconds(
          org.apache.spark.sql.functions.expr("ts div 1000000000")))
      case None => df
    }
  }

  /** Register the given datasets as temp views under their alias
    * (O-1). Idempotent; deduped upstream per O-16. */
  def registerDatasets(spark: SparkSession, sfDir: String, refs: Seq[TableRef]): Unit =
    refs.distinct.foreach { ref =>
      read(spark, sfDir, ref.table).createOrReplaceTempView(ref.alias)
    }
}
