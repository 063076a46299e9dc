package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.PartitionOps
import graft.streaming.LakeIngest

/**
 * lake_jobs: the lake side of the pipeline, one scheduled run per cycle.
 * JSON metric records in the `Schemas.metrics` shape land as
 * Hive-partitioned parquet through `LakeIngest` (AvailableNow,
 * `maxFilesPerTrigger`, compaction); retention and the hourly gap
 * planner maintain the partitions (`PartitionOps`); then the hourly
 * business-metrics job runs over the lake's TPC-H tables
 * ([[BusinessSql]]). Ingest, partition, catalog and business-metric
 * layers do the work; the window and alarm operators stay idle.
 *
 * Planted truth: good and corrupt line counts, the partition set after
 * retention, the expired partitions, the missing hours, and every
 * business metric's scalar.
 */
final class LakeJobsWorkload(spark: SparkSession, seed: Long, scale: Double)
    extends BatchWorkload(spark, seed, scale) {
  val name = "lake_jobs"

  private val series = math.max(8, (150 * scale).round.toInt)
  private val liveHours = 4
  private val expiredHours = 1
  private val files = 20
  private val filesPerTrigger = 10
  private val region = "local-1"
  private val dayStart = java.time.LocalDate.of(2024, 3, 10)
    .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
  private val expiredStart = dayStart - 4 * 86400L
  private val asOf = dayStart + liveHours * 3600L
  private val biz = new BusinessSql(spark, seed, scale)

  private def sid(s: Int) = f"lake$s%04d"
  private def isGapSeries(s: Int) = s % 7 == 3

  // planted truth, set by generate
  private var inDir = ""
  private var inputBytes = 0L
  private var goodLive = 0L
  private var goodAll = 0L
  private var corrupt = 0L
  private var livePartitions = Set.empty[String]
  private var expiredPartitions = Set.empty[String]
  private var gaps = Set.empty[(String, Long)]

  // collected outputs of the last cycle
  private var outGaps = Set.empty[(String, Long)]
  private var outDropped = Set.empty[String]

  private def partition(epoch: Long): String = {
    val t = java.time.Instant.ofEpochSecond(epoch).atZone(java.time.ZoneOffset.UTC)
    s"region=$region/year=${t.getYear}/month=${t.getMonthValue}/day=${t.getDayOfMonth}/hour=${t.getHour}"
  }

  private def iso(epoch: Long): String =
    java.time.LocalDateTime.ofEpochSecond(epoch, 0, java.time.ZoneOffset.UTC).toString match {
      case s if s.length == 16 => s + ":00"
      case s => s
    }

  def generate(dir: String): Unit = {
    val records = s"$dir/records"
    Files.createDirectories(Paths.get(records))
    // one missing hour (never the first or last) for each gap series
    val gapHour = (0 until series).filter(isGapSeries)
      .map(s => s -> (1 + Truth.rng(seed, 2, s).nextInt(liveHours - 2))).toMap
    val r = Truth.rng(seed, 3, 0)
    val minutes = (0 until expiredHours * 60).map(m => expiredStart + m * 60L) ++
      (0 until liveHours * 60).map(m => dayStart + m * 60L)
    val lines = Array.newBuilder[String]
    var good = 0L
    var bad = 0L
    goodAll = 0L
    for (ts <- minutes; s <- 0 until series) {
      val hour = ((ts - dayStart) / 3600).toInt
      val live = ts >= dayStart
      if (!(live && gapHour.get(s).contains(hour))) {
        val v = Truth.value(r, 0)
        lines += s"""{"collectiontime":"${iso(asOf)}","namespace":"Bench/Lake","name":"Latency",""" +
          s""""period":60,"frequency":"minute","statistic":"Average","metadata":null,""" +
          s""""dimensions":"{\\"Series\\": \\"${sid(s)}\\"}","accountid":"000000000001",""" +
          s""""metrictimestamp":"${iso(ts)}","metricvalue":$v,"id":"${sid(s)}","label":"Latency"}"""
        if (live) good += 1
        goodAll += 1
        if (r.nextInt(100) == 0) {
          lines += s"""{"collectiontime":"${iso(asOf)}","namespace":"Bench/Lake","name":"Lat"""
          bad += 1
        }
      }
    }
    val all = lines.result()
    val per = (all.length + files - 1) / files
    inputBytes = 0L
    all.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val p = Paths.get(records, f"records-$i%02d.json")
      val bytes = chunk.mkString("", "\n", "\n").getBytes(UTF_8)
      Files.write(p, bytes)
      inputBytes += bytes.length
      // the file source orders files by modification time
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    inDir = records
    goodLive = good
    corrupt = bad
    livePartitions = (0 until liveHours).map(h => partition(dayStart + h * 3600L)).toSet
    expiredPartitions = (0 until expiredHours).map(h => partition(expiredStart + h * 3600L)).toSet
    gaps = gapHour.map { case (s, h) => (sid(s), dayStart + h * 3600L) }.toSet
    biz.generate(s"$dir/tpch")
  }

  def cycle(tr: Tracer, outDir: String, i: Int): CycleOut = {
    val lake = s"$outDir/lake"
    val t0 = System.nanoTime()
    val c0 = Stats.cpuSeconds()
    tr.span("ingest") {
      val src = spark.readStream.format("text")
        .option("maxFilesPerTrigger", filesPerTrigger.toLong).load(inDir)
      val q = LakeIngest.start(src, lake, s"$outDir/errors", s"$outDir/checkpoint",
        region, Trigger.AvailableNow(), compactLagBatches = 1)
      q.awaitTermination()
    }
    val ingestS = (System.nanoTime() - t0) / 1e9
    val ingestCpuS = Stats.cpuSeconds() - c0
    val (landedBytes, landedFiles) = Stats.filesUnder(lake)
    val touched = partitionDirs(lake).size
    outDropped = tr.span("partition.retention") {
      PartitionOps.enforceRetention(spark, lake, PartitionOps.retentionDays("minute"), asOf)
    }.map(p => p.stripPrefix(lake + "/")).toSet
    val records = spark.read.parquet(lake)
      .withColumn("ts", to_timestamp(col("metrictimestamp")))
    outGaps = tr.span("partition.gaps") {
      PartitionOps.hourlyGaps(records, "id", "ts").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    }
    val published = biz.run(tr, i)
    val (keptBytes, keptFiles) = Stats.filesUnder(lake)
    val kept = partitionDirs(lake).size
    CycleOut(ingestS, goodAll, ingestS, ingestCpuS, keptBytes.toDouble / inputBytes, Map(
      "ingest.files_written" -> landedFiles.toDouble,
      "ingest.bytes_written" -> landedBytes.toDouble,
      "ingest.partitions_touched" -> touched.toDouble,
      "ingest.records_corrupt" -> corrupt.toDouble,
      "partition.dropped" -> outDropped.size.toDouble,
      "partition.gap_rows" -> outGaps.size.toDouble,
      "partition.files_per_partition" -> (if (kept == 0) 0.0 else keptFiles.toDouble / kept),
      "bizmetrics.published" -> published.toDouble))
  }

  private def partitionDirs(lake: String): Seq[String] = {
    val root = Paths.get(lake)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try {
        val it = s.iterator()
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val p = it.next()
          if (Files.isDirectory(p) && p.getFileName.toString.startsWith("hour="))
            b += root.relativize(p).toString
        }
        b.result()
      } finally s.close()
    }
  }

  def checks(outDir: String, i: Int): Seq[Check] = {
    val lake = s"$outDir/lake"
    val errLines = spark.read.text(s"$outDir/errors").count()
    Seq(
      Check("lake_jobs.good_records", goodLive, spark.read.parquet(lake).count()),
      Check("lake_jobs.corrupt_records", corrupt, errLines),
      Check("lake_jobs.partitions", livePartitions, partitionDirs(lake).toSet),
      Check("lake_jobs.expired_dropped", expiredPartitions, outDropped),
      Check("lake_jobs.missing_hours", gaps, outGaps)) ++ biz.checks(i)
  }

  /** Alter one output of cycle `i`, so a test can show the checks see it. */
  private[perfbench] def corruptOutputs(i: Int): Unit = biz.corruptOutputs(i)
}
