package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.StatWindowAgg

/**
 * Streaming variant of the CW-statistic window aggregation (O-12 over
 * `readStream`): tumbling event-time windows of the series period with
 * a watermark bounding state. The reference has no event-time/late
 * semantics at all (processing-time Firehose buffers only, SURVEY §2
 * "not present") — the watermark is the engine-side upgrade that makes
 * the same aggregation correct under out-of-order arrival at scale.
 *
 * Append mode: a window emits once its watermark passes, which is
 * exactly the "scrape after the 10-minute alignment delay" behavior
 * the reference approximates with end-time snapping (O-13).
 *
 * The statistic rule is the batch one: NaN and ±Infinity are no-data
 * ([[StatWindowAgg.finite]]) and the aggregate is
 * [[StatWindowAgg.statColumn]], so the five standard statistics and
 * pNN read as [[StatWindowAgg.aggregateOne]] reads them.
 */
object StreamingStatAgg {

  /** @param datapoints streaming df (series_id, ts:timestamp, value)
    * @param statistic  CW statistic for all series in this stream
    *                   (standard or pNN)
    * @param periodSeconds window width
    * @param watermark  max out-of-order delay, e.g. "10 minutes" */
  def aggregate(datapoints: DataFrame, statistic: String, periodSeconds: Int,
      watermark: String = "10 minutes"): DataFrame =
    StatWindowAgg.finite(datapoints.withWatermark("ts", watermark), "value")
      .groupBy(col("series_id"), window(col("ts"), s"$periodSeconds seconds"))
      .agg(StatWindowAgg.statColumn(statistic, "value").as("metricvalue"))
      .select(col("series_id"),
        unix_timestamp(col("window.start")).as("window_start"),
        col("metricvalue"))
}
