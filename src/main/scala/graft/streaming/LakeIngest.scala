package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.catalog.Schemas
import graft.operators.{PartitionOps, RecordShape}

/**
 * Streaming JSON→Parquet partitioned lake ingest (O-8/O-9; reference:
 * the Kinesis→Firehose pipe, cdk_constructs/kinesis_construct.py:107-153
 * — 60 s buffers, JSON→Parquet conversion against the catalog schema,
 * 5-key Hive prefix, error records to a side output;
 * stacks/metrics_streamer.py:90-94).
 *
 * One Structured Streaming job replaces producer→Kinesis→Firehose→
 * add_partition: parse with the fixed schema (no inference — SURVEY
 * §1.3), derive partition columns BEFORE the write, land parquet with
 * partitionBy (partitions self-register; O-27 collapses away) — the
 * same columns and the same write as batch records
 * ([[RecordShape.partitionColumns]], [[RecordShape.writePartitioned]]) — and
 * append unparseable records to an errors path exactly like Firehose's
 * `metric_errors/` prefix.
 */
object LakeIngest {

  /** Raw record schema as the producer emits it (enriched
    * MetricDataResult, metric_stream_producer.py:100-135). */
  val rawSchema: StructType = Schemas.metrics

  /**
   * Start the ingest query over a stream of JSON strings (column
   * `value`), the Kinesis stand-in.
   *
   * @param trigger micro-batch cadence — 60 s parity with Firehose
   *                buffering hints; tests pass AvailableNow/short.
   * @param compactLagBatches when > 0, a post-ingest compaction pass:
   *                a partition untouched for this many micro-batches is
   *                considered closed (event time moved past it) and is
   *                rewritten to target-size files via
   *                [[graft.operators.PartitionOps.compactPartition]].
   *                Without it the 60 s trigger lands 1,440 files/day/
   *                partition and every downstream scan pays the
   *                open-file tax. Driver-side state is one (path,
   *                batchId) entry per OPEN partition — bounded by the
   *                ingest's event-time spread, not by history.
   */
  def start(records: DataFrame, outDir: String, errDir: String,
      checkpointDir: String, region: String = "local-1",
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      compactLagBatches: Int = 0): StreamingQuery = {

    // Corruption marker column: from_json in PERMISSIVE mode yields an
    // ALL-NULL struct for an unparseable line — indistinguishable from
    // a valid record whose nullable fields are absent. The
    // columnNameOfCorruptRecord option disambiguates: only lines that
    // failed to parse populate the marker.
    val corruptCol = "_corrupt_record"
    val parseSchema = rawSchema.add(corruptCol,
      org.apache.spark.sql.types.StringType)
    val parsed = records
      .withColumn("parsed", from_json(col("value"), parseSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corruptCol)))

    records.sparkSession.sqlContext.setConf(
      "spark.sql.streaming.schemaInference", "false")

    // open-partition tracker for the compaction pass; foreachBatch
    // invocations are serialized per query, so no synchronization
    val openPartitions = scala.collection.mutable.Map.empty[String, Long]

    parsed.writeStream
      .queryName("lake_ingest")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          // corrupt-record side output (Firehose error prefix): a
          // record is corrupt when from_json could not parse the line
          // (corrupt marker populated). Checking a data field like
          // `id` instead would silently divert VALID records that
          // merely omit that nullable field — data loss with no
          // signal, and not what "conversion failure" means.
          val good = b.filter(col(s"parsed.$corruptCol").isNull)
            .select("parsed.*").drop(corruptCol)
          val bad = b.filter(col(s"parsed.$corruptCol").isNotNull)
            .select(col("value"))
          val withParts = good
            .select(col("*") +: RecordShape.partitionColumns(
              to_timestamp(col("metrictimestamp")), region): _*)
            .persist()
          try {
            RecordShape.writePartitioned(withParts, outDir)
            if (!bad.isEmpty) bad.write.mode("append").text(errDir)
            if (compactLagBatches > 0) {
              // distinct partition tuples of THIS batch: metadata-scale
              // (a micro-batch spans minutes of event time — even a
              // full day of regions is thousands of tuples, not data)
              val touched = graft.pipeline.DriverBounds.boundedCollect(
                withParts
                  .select(Schemas.partitionColumnNames.map(col): _*)
                  .filter(col("year").isNotNull)
                  .distinct(), 100000L,
                "LakeIngest touched-partition tuples (batch metadata)")
                .map(RecordShape.partitionDir(outDir, _))
              touched.foreach(p => openPartitions(p) = batchId)
              val closed = openPartitions.collect {
                case (p, last) if batchId - last >= compactLagBatches => p
              }.toSeq
              closed.foreach { p =>
                PartitionOps.compactPartition(batch.sparkSession, p)
                openPartitions.remove(p)
              }
            }
          } finally { withParts.unpersist(); () }
        } finally { b.unpersist(); () }
      }
      .start()
  }
}
