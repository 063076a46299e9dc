package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Schemas

/**
 * Partition and catalog maintenance (O-26/O-27/O-28; reference:
 * lambda/add_partition.py:17-71, stacks/centralized_resources.py:47-65).
 */
object PartitionOps {

  /**
   * O-26: parse an object key into (table, partition values)
   * (add_partition.py:17-33). Metrics keys have one extra level
   * (`metrics/{freq}/...`); SLA-style keys start at the table name.
   * Returns columns: table, region, year, month, day, hour.
   */
  def parseKey(key: Column): Column = {
    val parts = split(key, "/")
    // try_element_at: Spark 4 runs ANSI mode by default, where a bare
    // element_at past the end THROWS — one stray short key (a _SUCCESS
    // marker, a truncated prefix) would kill the whole parse job
    // instead of yielding nulls for the missing segments.
    def seg(i: Int) = try_element_at(parts, lit(i))
    val isMetrics = seg(1) === "metrics"
    struct(
      when(isMetrics, concat_ws("_", seg(1), seg(2)))
        .otherwise(seg(1)).as("table"),
      when(isMetrics, seg(3)).otherwise(seg(2)).as("region"),
      when(isMetrics, seg(4)).otherwise(seg(3))
        .cast("smallint").as("year"),
      when(isMetrics, seg(5)).otherwise(seg(4))
        .cast("smallint").as("month"),
      when(isMetrics, seg(6)).otherwise(seg(5))
        .cast("smallint").as("day"),
      when(isMetrics, seg(7)).otherwise(seg(6))
        .cast("smallint").as("hour"))
  }

  /** O-27: idempotent partition registration for an external catalog.
    * partitionBy writes self-register locally; for a Hive-style
    * external table this is the ADD IF NOT EXISTS form
    * (add_partition.py:56-71's existence-check + create collapses into
    * one idempotent DDL). */
  def addPartition(spark: SparkSession, table: String, region: String,
      year: Int, month: Int, day: Int, hour: Int, location: String): Unit = {
    // backtick-quote the identifier and escape string literals — the
    // region/location values come from object-key parsing (O-26), so
    // an unexpected quote must not become DDL
    def lit(s: String) = s.replace("'", "''")
    val tbl = "`" + table.replace("`", "``").replace(".", "`.`") + "`"
    spark.sql(
      s"ALTER TABLE $tbl ADD IF NOT EXISTS PARTITION " +
      s"(region='${lit(region)}', year=$year, month=$month, day=$day, hour=$hour) " +
      s"LOCATION '${lit(location)}'")
  }

  /** O-27 multi-catalog loop (add_partition.py:56-71): register the
    * same partition into every listed catalog's copy of the table.
    * The reference iterates Glue catalog accounts with a per-catalog
    * existence check + create; Spark-side each target is a
    * fully-qualified identifier — `catalog.db.table` for a configured
    * V2 catalog, `db.table` within the session catalog — and the
    * ADD IF NOT EXISTS form keeps each registration idempotent. A
    * failing catalog does not block the rest (the reference's loop
    * likewise proceeds per catalog); failures are returned for the
    * caller to retry.
    *
    * @return (table, Some(error)) per failed target; empty = all
    *         registered */
  def addPartitionAll(spark: SparkSession, tables: Seq[String],
      region: String, year: Int, month: Int, day: Int, hour: Int,
      location: String): Seq[(String, String)] =
    tables.flatMap { t =>
      try { addPartition(spark, t, region, year, month, day, hour, location); None }
      catch { case scala.util.control.NonFatal(e) =>
        Some(t -> String.valueOf(e.getMessage)) }
    }

  /** Retention TTLs by frequency (centralized_resources.py:47-65). */
  val retentionDays: Map[String, Int] = Map("minute" -> 2, "hour" -> 30, "day" -> 90)

  /**
   * O-28: partition-age retention — keep rows whose partition date is
   * within `ttlDays` of `asOf` (epoch seconds). Operates purely on
   * partition columns so Catalyst prunes expired partitions at scan
   * time instead of reading data files.
   */
  def retain(records: DataFrame, ttlDays: Int, asOfEpoch: Long): DataFrame =
    records.filter(retained(ttlDays, asOfEpoch))

  /** The retention predicate on partition columns: the partition date
    * is at or after `asOf` minus `ttlDays`. */
  private def retained(ttlDays: Int, asOfEpoch: Long): Column =
    make_date(col("year"), col("month"), col("day")) >=
      date_sub(to_date(timestamp_seconds(lit(asOfEpoch))), ttlDays)

  /** Executable retention enforcement: drop expired partition
    * directories of a partitioned lake table (the engine-side form of
    * the S3 lifecycle rules). Deletes ONLY paths under `lakeDir` that
    * match the expired partition tuples. Returns the dropped paths.
    * The read declares only the partition keys: `expired` touches
    * nothing else, so no schema-inference job runs, any data schema
    * works, and an empty lake has nothing to drop. */
  def enforceRetention(spark: SparkSession, lakeDir: String, ttlDays: Int,
      asOfEpoch: Long): Seq[String] = {
    val lake = spark.read.schema(Schemas.partitionKeys).parquet(lakeDir)
    val drop = expired(lake, ttlDays, asOfEpoch)
      .collect().map(RecordShape.partitionDir(lakeDir, _)).toSeq
    // recursive delete via Hadoop FileSystem (hdfs://, s3a://, and
    // plain local paths all resolve), and report only what was
    // actually removed — a path that survives a failed delete must not
    // be recorded as purged or retention silently stops being enforced
    // there
    val fs = new org.apache.hadoop.fs.Path(lakeDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    drop.filter { p =>
      val dir = new org.apache.hadoop.fs.Path(p)
      !fs.exists(dir) || fs.delete(dir, true)
    }
  }

  /**
   * Backfill planner: hourly partitions that SHOULD exist between each
   * series' first and last observed hour but hold no data — the gap
   * list a scheduler (O-37) would re-scrape. The reference registers
   * partitions as objects land (`lambda/add_partition.py:17-71`) but
   * has nothing that notices a missed landing; this closes that gap.
   * Per-series sequence() is bounded by the series' own span, and the
   * anti-join is an aggregated-key join — no full-table theta join.
   */
  def hourlyGaps(records: DataFrame, seriesCol: String, tsCol: String,
      maxSpanHours: Long = 200000L): DataFrame = {
    val hour = (floor(unix_timestamp(col(tsCol)) / 3600) * 3600).cast("long")
    val present = records.select(col(seriesCol).as("series"), hour.as("h")).distinct()
    val spans = present.groupBy("series").agg(min("h").as("h0"), max("h").as("h1"))
    // clamp the densified span to the trailing maxSpanHours (~22 years
    // at the default): one corrupt far-future timestamp would
    // otherwise ask sequence() for billions of slots and OOM the
    // whole backfill-planning job
    val lo = greatest(col("h0"), col("h1") - lit(maxSpanHours) * 3600L)
    spans
      .select(col("series"),
        explode(sequence(lo, col("h1"), lit(3600L))).as("h"))
      .join(present, Seq("series", "h"), "left_anti")
      .select(col("series"), col("h").as("missing_hour_epoch"))
  }


  /**
   * Small-file compaction for one lake partition directory: rewrite
   * its parquet files into ceil(bytes / targetBytes) files. The
   * operational fix for streaming sinks that land a file per
   * micro-batch (O-9 writes every 60 s → 1,440 files/day/partition);
   * scan tasks, file-listing latency, and name-node pressure all track
   * file count at 100 TB.
   *
   * Swap protocol: write to `<dir>.__compact__`, rename `dir` →
   * `<dir>.__old__`, staging → `dir`, drop old. The partition is a
   * fully-formed directory at every point except the instant between
   * the two renames, and a crash anywhere is repaired by the recovery
   * branch on the next call — the original data is never deleted
   * before the compacted copy is in place.
   */
  def compactPartition(spark: SparkSession, partitionDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    // Hadoop FileSystem, not java.io.File: the same path resolution the
    // Spark read/write calls below use, so hdfs:// and s3a:// partition
    // URIs work instead of silently no-opping. Note: rename is atomic
    // on HDFS/local but copy-based on object stores — there the brief
    // two-rename window widens; run compaction when readers are idle.
    val dir = new org.apache.hadoop.fs.Path(partitionDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new org.apache.hadoop.fs.Path(dir.getParent, dir.getName + ".__compact__")
    val old = new org.apache.hadoop.fs.Path(dir.getParent, dir.getName + ".__old__")
    // recovery from a previous crash, in swap order: complete a rename
    // that lost its second half, then clear leftovers
    if (!fs.exists(dir) && fs.exists(staging) && !fs.rename(staging, dir))
      throw new java.io.IOException(s"cannot recover $staging -> $dir")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(staging)) fs.delete(staging, true) // incomplete write
    val parquets = (if (fs.exists(dir)) fs.listStatus(dir)
      else Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter(_.getPath.getName.endsWith(".parquet"))
    if (parquets.length <= 1) return parquets.length.toLong
    val bytes = parquets.map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(partitionDir).repartition(nFiles)
      .write.mode("overwrite").parquet(staging.toString)
    if (!fs.rename(dir, old))
      throw new java.io.IOException(s"cannot stage out $dir")
    if (!fs.rename(staging, dir)) {
      fs.rename(old, dir) // roll back; original data untouched
      throw new java.io.IOException(s"cannot swap in $staging")
    }
    fs.delete(old, true)
    nFiles.toLong
  }

  /** The complement of [[retain]]: the distinct partition tuples an
    * expiry job would drop, in [[Schemas.partitionColumnNames]] order. */
  def expired(records: DataFrame, ttlDays: Int, asOfEpoch: Long): DataFrame =
    records.select(Schemas.partitionColumnNames.map(col): _*).distinct()
      .filter(!retained(ttlDays, asOfEpoch))
}
