package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftDatasets}
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
 *
 * Each micro-batch runs in the caller's session (`records.sparkSession`):
 * a streaming query runs on a clone with a new session id, and with
 * artifact isolation (on by default outside spark-shell) executors give
 * each session id its own task class loader, so the codegen cache (keyed
 * on loader and source) would compile every task-side class again on
 * each `start`. The micro-batch plan is a `LogicalRDD`, which no session
 * owns; it is rebound and persisted once for the landing, one metadata
 * pass, the errors write and compaction.
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
   *                A micro-batch lands one file per partition it
   *                touches (the landing rebalances on the partition
   *                keys; more only past the advisory partition size,
   *                see [[RecordShape.writePartitioned]]), so without
   *                compaction the 60 s trigger still
   *                lands up to 1,440 files/day/partition and every
   *                downstream scan pays the open-file tax. A closed
   *                partition that already holds one file is left as
   *                it is. Driver-side state is one (path,
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

    // open-partition tracker for the compaction pass; foreachBatch
    // invocations are serialized per query, so no synchronization
    val openPartitions = scala.collection.mutable.Map.empty[String, Long]
    // a record is corrupt, and goes to the errors output (Firehose's
    // error prefix), when from_json could not parse the line. Checking a
    // data field like `id` instead would silently divert VALID records
    // that merely omit that nullable field — data loss with no signal.
    val corrupt = col(s"parsed.$corruptCol").isNotNull
    val parts = RecordShape.partitionColumns(
      to_timestamp(col("parsed.metrictimestamp")), region)

    parsed.writeStream
      .queryName("lake_ingest")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (micro: DataFrame, batchId: Long) =>
        val b = GraftDatasets.rebind(records.sparkSession, micro).persist()
        try {
          RecordShape.writePartitioned(b.filter(!corrupt)
            .select(col("parsed.*") +: parts: _*).drop(corruptCol), outDir)
          // one metadata pass, corrupt and good rows per partition tuple:
          // a micro-batch spans minutes of event time, so few tuples
          val meta = graft.pipeline.DriverBounds.boundedCollect(b.groupBy(parts: _*)
            .agg(count_if(corrupt).as("corrupt"), count_if(!corrupt).as("good")), 100000L,
            "LakeIngest touched-partition tuples (batch metadata)")
          if (meta.exists(_.getAs[Long]("corrupt") > 0))
            b.filter(corrupt).select(col("value")).write.mode("append").text(errDir)
          if (compactLagBatches > 0) {
            meta.filter(r => r.getAs[Long]("good") > 0 && r.getAs[Any]("year") != null)
              .foreach(r => openPartitions(RecordShape.partitionDir(outDir, r)) = batchId)
            val closed = openPartitions.collect {
              case (p, last) if batchId - last >= compactLagBatches => p
            }.toSeq
            closed.foreach { p =>
              PartitionOps.compactPartition(records.sparkSession, p)
              openPartitions.remove(p)
            }
          }
        } finally { b.unpersist(); () }
      }
      .start()
  }
}
