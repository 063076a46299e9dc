package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, MapType, StringType, StructField, StructType, TimestampType}

import graft.model._
import graft.operators.{AlarmStateMachine, EnrichmentJoins, Incidents, RecordShape, StatWindowAgg}
import graft.registry.DefinitionExport

/**
 * sla_fanout: thousands of series, written to parquet during set-up so
 * ingest is bypassed. Each cycle exports the definitions
 * (`DefinitionExport`), aggregates statistic windows (`StatWindowAgg`),
 * evaluates two SLAs per series (`AlarmStateMachine`), routes the
 * transitions to SLA records and incidents (`EnrichmentJoins`,
 * `Incidents`) and lands the metric records (`RecordShape`).
 *
 * Inputs mix Average, Sum, Maximum, SampleCount and p90 statistics,
 * minute and hour frequencies, all four missing-data policies, and drop
 * about 5% of windows so densification runs. Planted truth: every
 * window's statistic, and the transitions of every SLA.
 */
final class SlaFanoutWorkload(spark: SparkSession, seed: Long, scale: Double)
    extends BatchWorkload(spark, seed, scale) {
  val name = "sla_fanout"

  private val series = math.max(20, (400 * scale).round.toInt)
  private val windowsPerSeries = 20
  private val account = "000000000003"
  private val region = "local-1"
  private val base = java.time.LocalDate.of(2024, 3, 10)
    .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
  private val statistics = Seq("Average", "Sum", "Maximum", "SampleCount", "p90")
  private val policies = TreatMissingData.all
  private val mOfN = Seq((1, 1), (2, 3), (1, 2), (3, 4))

  private def sid(i: Int) = f"s$i%05d"
  private def frequency(i: Int): Frequency = if (i % 3 == 0) Frequency.Hour else Frequency.Minute
  private def perWindow(i: Int) = 2 + i % 3

  private def thresholds(i: Int): (Int, Int) = statistics(i % statistics.size) match {
    case "Sum" => (Truth.WarnThreshold * perWindow(i), Truth.CritThreshold * perWindow(i))
    case "SampleCount" => (Truth.WarnCount, Truth.CritCount)
    case _ => (Truth.WarnThreshold, Truth.CritThreshold)
  }

  private def metric(i: Int): Metric = Metric("Bench/Fanout", "Latency", frequency(i),
    statistics(i % statistics.size), Widget("fanout"),
    metadata = Seq(Metadata("dataset", s"ds${i % 50}")),
    dimensions = Seq(Dimension("Series", sid(i))))

  /** Warning (index 0) and critical (index 1) SLA of series `i`. */
  private def slas(i: Int, m: Metric): Seq[SLA] = {
    val (warn, crit) = thresholds(i)
    Seq(
      SLA(m, "latency high", "warning threshold", warn, ComparisonOperator.GreaterThanThreshold,
        policies(i % 4), "warning", mOfN(i % 4)._1, mOfN(i % 4)._2, snsEnabled = false),
      SLA(m, "latency critical", "critical threshold", crit,
        ComparisonOperator.GreaterThanOrEqualToThreshold, policies((i + 1) % 4), "critical",
        mOfN((i + 1) % 4)._1, mOfN((i + 1) % 4)._2, snsEnabled = true))
  }

  // planted truth, set by generate
  private var dpDir = ""
  private var definition: AccountDefinition = _
  private var datapoints = 0L
  private var inputBytes = 0L
  private var expectedWindows: DataFrame = _
  private var windowCount = 0L
  private var slaRecords = Set.empty[(String, Long, Double, String, String)]
  private var incidents = Set.empty[(String, String)]
  private var incidentCount = 0L

  // outputs of the last cycle kept for the checks
  private var windows: DataFrame = _
  private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  def generate(dir: String): Unit = {
    val rows = Array.newBuilder[Row]
    val expected = Array.newBuilder[Row]
    val recs = Set.newBuilder[(String, Long, Double, String, String)]
    val incs = Set.newBuilder[(String, String)]
    var nInc = 0L
    val metrics = (0 until series).map(metric)
    for (i <- 0 until series) {
      val m = metrics(i)
      val r = Truth.rng(seed, 10, i)
      val lv = Truth.levels(r, windowsPerSeries)
      val present = Array.fill(windowsPerSeries)(r.nextDouble() >= 0.05)
      val period = m.period.toLong
      val stat = m.statistic
      for (j <- 0 until windowsPerSeries if present(j)) {
        val ws = base + j * period
        val n = if (stat == "SampleCount") Truth.CountByLevel(lv(j)) else perWindow(i)
        val vs = (0 until n).map(_ => Truth.value(r, if (stat == "SampleCount") 0 else lv(j)))
        vs.zipWithIndex.foreach { case (v, k) =>
          rows += Row(m.uniqueId, new Timestamp((ws + k * period / n) * 1000L), v)
        }
        val sum = vs.map(v => BigDecimal(v).setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
        val (lo, hi) = stat match {
          case "Average" => (sum / n, sum / n)
          case "Sum" => (sum, sum)
          case "Maximum" => (vs.max, vs.max)
          case "SampleCount" => (n.toDouble, n.toDouble)
          case _ => (vs.min, vs.max)
        }
        expected += Row(m.uniqueId, ws, lo, hi)
      }
      val first = present.indexOf(true)
      val last = present.lastIndexOf(true)
      if (first >= 0) slas(i, m).zipWithIndex.foreach { case (sla, k) =>
        val breach = (first to last).map { j =>
          if (present(j)) Some(Truth.breaches(lv(j), warning = k == 0)) else None
        }.toArray
        val st = Truth.states(breach, Truth.Sla(sla.threshold, sla.comparisonOperator,
          sla.datapointsToAlarm, sla.evaluationPeriods, sla.treatMissingData))
        Truth.transitions(st, None).foreach { case (j, _, to) =>
          recs += ((m.alarmName(region), base + (first + j) * period, sla.threshold, to, m.namespace))
          if (to == "ALARM") {
            incs += ((s"${sid(i)}-${m.name}-${m.frequency.name}", s"ds${i % 50}"))
            nInc += 1
          }
        }
      }
    }
    val dpSchema = StructType(Seq(StructField("series_id", StringType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    val dps = rows.result()
    spark.createDataFrame(spark.sparkContext.parallelize(dps.toSeq, 4), dpSchema)
      .write.mode("overwrite").parquet(s"$dir/datapoints")
    val exp = expected.result()
    if (expectedWindows != null) expectedWindows.unpersist()
    expectedWindows = spark.createDataFrame(spark.sparkContext.parallelize(exp.toSeq, 4),
      StructType(Seq(StructField("series_id", StringType), StructField("window_start", LongType),
        StructField("lo", DoubleType), StructField("hi", DoubleType)))).persist()
    dpDir = s"$dir/datapoints"
    inputBytes = Stats.filesUnder(dpDir)._1
    datapoints = dps.length
    windowCount = exp.length
    definition = AccountDefinition(account, Seq(MetricSet("fanout", metrics)),
      Seq(SLASet("fanout_slas", metrics.indices.flatMap(i => slas(i, metrics(i))))))
    slaRecords = recs.result()
    incidents = incs.result()
    incidentCount = nInc
  }

  private def keep(df: DataFrame): DataFrame = { cached += df; df.persist() }

  def cycle(tr: Tracer, outDir: String, i: Int): CycleOut = {
    val t0 = System.nanoTime()
    val collectionEpoch = base + 86400L + i * 3600L
    val defs = Seq(definition)

    // the exports are what the registry layer produces; they are small
    // and stay lazy, so their Spark work shows in the layers that read them
    val (keys, slaTable, resolution) = tr.span("registry") {
      val slaDefs = DefinitionExport.slaDefs(spark, defs)
      val keys = DefinitionExport.seriesKeys(spark, defs)
      val joined = slaDefs.join(keys, slaDefs("metric_namespace") === keys("namespace") &&
        slaDefs("metric_name") === keys("name") && slaDefs("metric_dimensions") === keys("dimensions"))
      val slaTable = joined.select(col("unique_id").as("series_id"), col("period"),
        col("threshold").cast("double").as("threshold"), col("comparison_operator"),
        col("datapoints_to_alarm"), col("evaluation_periods"), col("treat_missing_data"))
      val entries = transform(map_entries(from_json(col("metric_metadata"),
        MapType(StringType, StringType))), e => struct(e.getField("key").as("name"),
        e.getField("value").as("value")))
      val resolution = joined.select(col("metric_name"), col("frequency"),
        get_json_object(col("metric_dimensions"), "$.Series").as("dimension_value"),
        col("details"), col("short_description"), col("severity"),
        (col("severity") === "critical").as("sns_enabled"), entries.as("metadata_entries"))
      (keys, slaTable, resolution)
    }

    val tw = System.nanoTime()
    val cw = Stats.cpuSeconds()
    val nWindows = tr.span("windows") {
      windows = keep(StatWindowAgg.aggregate(spark.read.parquet(dpDir), keys))
      windows.count()
    }
    val windowsS = (System.nanoTime() - tw) / 1e9
    val windowsCpuS = Stats.cpuSeconds() - cw

    val (slots, nSlots, nReal, nTransitions) = tr.span("alarms") {
      val slots = keep(AlarmStateMachine.evaluate(
        windows.select("series_id", "window_start", "metricvalue"), slaTable))
      val r = slots.agg(count(lit(1)), count(col("metricvalue")),
        sum(when(col("transitioned"), 1L).otherwise(0L))).head()
      (slots, r.getLong(0), r.getLong(1), r.getLong(2))
    }

    tr.span("incidents") {
      val alarms = slots.filter(col("transitioned"))
        .join(broadcast(keys.select(col("unique_id").as("series_id"), col("alarm_key"))), "series_id")
        .select(concat(lit("arn:local:alarm/"), col("alarm_key")).as("alarmarn"),
          concat(lit("data-gov-"), col("alarm_key"), lit(s"-SLA-Alarm-$region")).as("alarmname"),
          col("statevalue"), concat(lit("window "), col("window_start")).as("statereason"),
          col("threshold"), col("comparison_operator").as("comparisonoperator"),
          col("treat_missing_data").as("treatmissingdata"))
      Incidents.toSlaRecords(EnrichmentJoins.enrichAlarms(alarms, keys, region), account,
        collectionEpoch).write.mode("overwrite").parquet(s"$outDir/slas")
      val notified = alarms.filter(col("statevalue") === "ALARM")
        .select(col("alarmname"), concat(col("statevalue"), lit(": "), col("alarmname")).as("subject"))
      val resolved = EnrichmentJoins.resolveSlas(notified, resolution)
        .withColumn("reference_id", Incidents.referenceId(col("metadata_entries")))
      Incidents.toIncidents(resolved).write.mode("overwrite").parquet(s"$outDir/incidents")
    }
    val latencyS = (System.nanoTime() - t0) / 1e9

    tr.span("records") {
      val results = windows.drop("statistic", "period").withColumnRenamed("series_id", "id")
      val enriched = EnrichmentJoins.enrichResults(results, keys).withColumnRenamed("id", "series_id")
      RecordShape.writePartitioned(
        RecordShape.toMetricsRecords(enriched, account, region, collectionEpoch), s"$outDir/metrics")
    }
    val (recBytes, recFiles) = Stats.filesUnder(s"$outDir/metrics")
    val written = recBytes + Stats.filesUnder(s"$outDir/slas")._1 +
      Stats.filesUnder(s"$outDir/incidents")._1
    CycleOut(latencyS, datapoints, windowsS, windowsCpuS, written.toDouble / inputBytes, Map(
      "registry.series" -> series.toDouble,
      "windows.rows_in" -> datapoints.toDouble,
      "windows.rows_out" -> nWindows.toDouble,
      "alarms.slots" -> nSlots.toDouble,
      "alarms.real_ratio" -> (if (nSlots == 0) 0.0 else nReal.toDouble / nSlots),
      "alarms.transitions" -> nTransitions.toDouble,
      "records.files_written" -> recFiles.toDouble,
      "records.bytes_written" -> recBytes.toDouble))
  }

  def checks(outDir: String, i: Int): Seq[Check] = {
    val badWindows = windows.select("series_id", "window_start", "metricvalue")
      .join(expectedWindows, Seq("series_id", "window_start"), "full_outer")
      .filter(col("metricvalue").isNull || col("lo").isNull ||
        col("metricvalue") < col("lo") || col("metricvalue") > col("hi"))
      .count()
    val recs = spark.read.parquet(s"$outDir/slas")
      .select(col("alarmname"), regexp_extract(col("statereason"), "(\\d+)$", 1).cast("long"),
        col("threshold").cast("double"), col("statevalue"), col("metricnamespace"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3),
        r.getString(4))).toSet
    val inc = spark.read.parquet(s"$outDir/incidents").select("unique_id", "reference_id")
    Seq(
      Check("sla_fanout.windows", windowCount, windows.count()),
      Check("sla_fanout.window_values_off", 0L, badWindows),
      Check("sla_fanout.sla_records", slaRecords, recs),
      Check("sla_fanout.incident_rows", incidentCount, inc.count()),
      Check("sla_fanout.incidents", incidents,
        inc.distinct().collect().map(r => (r.getString(0), r.getString(1))).toSet),
      Check("sla_fanout.metric_records", windowCount, spark.read.parquet(s"$outDir/metrics").count()))
  }

  override def cleanup(): Unit = {
    cached.foreach(_.unpersist())
    cached.clear()
  }
}
