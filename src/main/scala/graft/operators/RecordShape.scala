package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.catalog.Schemas
import graft.functions.TimeFns

/**
 * Record-shape projections (O-33/O-34/O-35 and the metrics_* /
 * partition-column derivations of O-9/O-26): turns enriched window
 * aggregates into the exact lake record shape the reference's producer
 * emits (lambda/metric_stream_producer.py:100-135; column set from
 * cdk_constructs/glue_catalog_construct.py:69-108).
 */
object RecordShape {

  /** O-34: newest datapoint with null-safe fallback
    * (metric_stream_producer.py:127-128): CloudWatch returns values
    * newest-first, so element 1 is the newest; empty array → null. */
  def arrayHead(arr: Column): Column = try_element_at(arr, lit(1))

  /**
   * Project enriched window aggregates into the metrics_{freq} record
   * shape + Hive partition columns. All inputs must already carry
   * (series_id, namespace, name, period, frequency, statistic,
   * metadata, dimensions, window_start, metricvalue).
   *
   * @param accountId  stamped AccountId (producer ARN parse, :125)
   * @param region     stamped + partition Region (:126)
   * @param collectionEpoch fixed collection instant (O-35; the
   *                   reference stamps utcnow — injected here for
   *                   reproducibility)
   */
  def toMetricsRecords(enriched: DataFrame, accountId: String, region: String,
      collectionEpoch: Long): DataFrame = {
    val ts = timestamp_seconds(col("window_start"))
    enriched.select(Seq(
      TimeFns.isoUtc(lit(collectionEpoch)).as("collectiontime"),
      col("namespace"), col("name"), col("period").cast("int").as("period"),
      col("frequency"), col("statistic"),
      col("metadata"), col("dimensions"),
      lit(accountId).as("accountid"),
      TimeFns.isoUtc(col("window_start")).as("metrictimestamp"),
      col("metricvalue").cast("float").as("metricvalue"),
      col("series_id").as("id"),
      col("name").as("label")) ++ partitionColumns(ts, region): _*)
  }

  /** The five Hive partition columns ([[Schemas.partitionKeys]],
    * glue_catalog_construct.py:52-67) of a record stamped at `ts`,
    * derived BEFORE the write so partitionBy needs no extra pass
    * (O-9/O-26). Batch records and streaming ingest both use it. */
  private[graft] def partitionColumns(ts: Column, region: String): Seq[Column] = Seq(
    lit(region).as("region"),
    year(ts).cast("smallint").as("year"),
    month(ts).cast("smallint").as("month"),
    dayofmonth(ts).cast("smallint").as("day"),
    hour(ts).cast("smallint").as("hour"))

  /** O-9 landing: write records with the reference's 5-key Hive layout
    * (kinesis_construct.py:125-146 conversion + prefix scheme
    * metrics_streamer.py:90-91). Partition registration is native —
    * no add_partition step (O-27 collapses away). The one lake write
    * site: batch records and streaming ingest both land through it.
    *
    * Sized like Firehose's per-prefix buffer objects
    * (kinesis_construct.py:121-124): an AQE rebalance on the five
    * partition keys sends each Hive partition to one writer, so a
    * write lands one file per partition instead of one per task per
    * partition. AQE coalesces the empty reducers and splits a partition
    * larger than `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * (64 MB by default, Firehose's buffer size), so a hot hour never
    * lands in a single task. The cost is one hash exchange of the
    * landed rows. */
  def writePartitioned(records: DataFrame, path: String): Unit =
    records.hint("rebalance", Schemas.partitionColumnNames.map(col): _*)
      .write.mode("append")
      .partitionBy(Schemas.partitionColumnNames: _*)
      .parquet(path)

  /** The directory of one partition under `root`, from a row holding
    * the five partition values in [[Schemas.partitionColumnNames]]
    * order. */
  private[graft] def partitionDir(root: String, partition: Row): String =
    Schemas.partitionColumnNames.zipWithIndex
      .map { case (k, i) => s"$k=${partition.get(i)}" }
      .mkString(s"$root/", "/", "")
}
