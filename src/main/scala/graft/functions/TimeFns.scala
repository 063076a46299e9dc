package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Time semantics (O-13, O-35; reference:
 * lambda/metric_stream_producer.py:40-43, 124).
 */
object TimeFns {

  /** O-13: snap a timestamp down to the previous 10-minute boundary —
    * end = t − (minute % 10, seconds, micros) — so the queried window
    * is complete/stable despite ingestion lag
    * (metric_stream_producer.py:40-43), as epoch seconds (a bigint
    * output hashes identically across engines). Pure epoch arithmetic
    * keeps it codegen-friendly and timezone-proof. */
  def alignEnd10MinEpoch(ts: Column): Column =
    (floor(unix_timestamp(ts) / 600) * 600).cast("long")

  /** O-35: ISO-8601 UTC stamping of a fixed instant (reference stamps
    * wall-clock utcnow; the engine always takes the instant as input so
    * runs are reproducible). */
  def isoUtc(epochSeconds: Column): Column =
    date_format(timestamp_seconds(epochSeconds), "yyyy-MM-dd'T'HH:mm:ss")
}
