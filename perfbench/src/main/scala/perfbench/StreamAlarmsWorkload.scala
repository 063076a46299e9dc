package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.model.{ComparisonOperator, TreatMissingData}
import graft.operators.{AlarmStateMachine, StatWindowAgg}
import graft.streaming.AlarmStream.Transition
import graft.streaming.StreamingAlarmPipeline

/**
 * stream_alarms: an open loop. One generator thread adds one datapoint
 * per series to a `MemoryStream` every tick, on a fixed schedule that
 * does not slow when the system does; one tick is one event-minute. The
 * stream runs `StreamingAlarmPipeline.evaluateStream` with two minute
 * SLAs per series into a sink that stamps when each transition arrives.
 *
 * A window closes when the datapoint of the next event-minute moves the
 * watermark past it, so a transition's latency runs from when that
 * datapoint was due to be sent to when the transition reached the sink.
 *
 * Planted truth: the transitions of every SLA. A parity check runs
 * `AlarmStateMachine.evaluate` over the same datapoints after the timed
 * window.
 */
final class StreamAlarmsWorkload(spark: SparkSession, seed: Long, scale: Double) {
  import StreamAlarmsWorkload._

  val series: Int = math.max(10, (SeriesAtScale1 * scale).round.toInt)
  private val base = java.time.LocalDate.of(2024, 3, 10)
    .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
  private val statistics = Seq("Average", "Maximum", "p90", "Sum")
  private val mOfN = Seq((1, 1), (2, 3), (1, 2), (3, 4))
  private val maxTicks = 4000
  private def sid(i: Int) = f"m$i%05d"

  private lazy val levels: Array[Array[Int]] =
    Array.tabulate(series)(i => Truth.levels(Truth.rng(seed, 20, i), maxTicks))

  /** Datapoints of tick `k`: one per series, inside event-minute `k`. */
  def tick(k: Int): Seq[(String, Timestamp, Double)] = (0 until series).map { i =>
    val r = Truth.rng(seed, 21 + k.toLong, i)
    (sid(i), new Timestamp((base + k * 60L + i % 50) * 1000L), Truth.value(r, levels(i)(k)))
  }

  /** (series, statistic, threshold, m, n) of the warning and critical SLA. */
  private def slaRows: Seq[(String, String, Double, Int, Int)] = (0 until series).flatMap { i =>
    val st = statistics(i % statistics.size)
    Seq((sid(i), st, Truth.WarnThreshold.toDouble, mOfN(i % 4)._1, mOfN(i % 4)._2),
      (sid(i), st, Truth.CritThreshold.toDouble, mOfN((i + 1) % 4)._1, mOfN((i + 1) % 4)._2))
  }

  def slaTable: DataFrame = {
    import spark.implicits._
    slaRows.map { case (s, st, th, m, n) =>
      (s, 60L, th, "GREATER_THAN_THRESHOLD", m, n, "NOT_BREACHING", st)
    }.toDF("series_id", "period", "threshold", "comparison_operator",
      "datapoints_to_alarm", "evaluation_periods", "treat_missing_data", "statistic")
  }

  /** Expected transitions (series, window, prev, new) of windows
    * 0..lastWindow, streaming semantics (machines start at
    * INSUFFICIENT_DATA). */
  def expected(lastWindow: Int): Seq[(String, Long, String, String)] =
    slaRows.flatMap { case (s, _, th, m, n) =>
      val i = s.drop(1).toInt
      val sla = Truth.Sla(th, ComparisonOperator.GreaterThanThreshold, m, n,
        TreatMissingData.NotBreaching)
      val breach: Array[Option[Boolean]] = (0 to lastWindow).map(k =>
        Option(Truth.breaches(levels(i)(k), warning = th == Truth.WarnThreshold))).toArray
      Truth.transitions(Truth.states(breach, sla), Some("INSUFFICIENT_DATA"))
        .map { case (k, p, q) => (s, base + k * 60L, p, q) }
    }.sorted

  /** Batch parity: the same datapoints through StatWindowAgg and
    * AlarmStateMachine. Batch machines report no transition at a
    * series' first window, so windows 1..lastWindow are compared. */
  def batchTransitions(lastTick: Int, lastWindow: Int): Seq[(String, Long, String, String)] = {
    val schema = StructType(Seq(StructField("series_id", StringType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    val rows = (0 to lastTick).flatMap(tick).map { case (s, t, v) => Row(s, t, v) }
    val dps = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val slas = slaTable
    val defs = slas.select(col("series_id").as("unique_id"), col("statistic"),
      col("period").cast("int").as("period"), lit("minute").as("frequency")).distinct()
    val windows = StatWindowAgg.aggregate(dps, defs)
      .select("series_id", "window_start", "metricvalue")
    AlarmStateMachine.evaluate(windows, slas.drop("statistic"))
      .filter(col("transitioned") && col("window_start") > base &&
        col("window_start") <= base + lastWindow * 60L)
      .select("series_id", "window_start", "prev_state", "statevalue").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq.sorted
  }

  /** A running open loop: the query, its sink and the generator. */
  final class Loop(workDir: String, tickMs: Long) {
    implicit private val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val mem = MemoryStream[(String, Timestamp, Double)]
    /** (series, window, prev, new, arrival nanos) as the sink saw them. */
    val sink = new ConcurrentLinkedQueue[(String, Long, String, String, Long)]()
    private val sinkFn: (Dataset[Transition], Long) => Unit = (ds, _) => {
      val got = ds.collect()
      val at = System.nanoTime()
      got.foreach(t => sink.add((t.seriesId, t.windowStart, t.prevState, t.newState, at)))
    }
    val query: StreamingQuery = StreamingAlarmPipeline
      .evaluateStream(mem.toDF().toDF("series_id", "ts", "value"), slaTable, "Average",
        watermark = "0 seconds")
      .writeStream.queryName("stream_alarms")
      .option("checkpointLocation", s"$workDir/stream-checkpoint")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch(sinkFn)
      .start()

    val start: Long = System.nanoTime() + 200L * 1000000L
    @volatile private var stopAt = Int.MaxValue
    @volatile var sent = 0
    /** lateness (ms) of each tick, indexed by tick */
    val lateMs = new java.util.concurrent.ConcurrentHashMap[Int, Double]()

    def due(k: Int): Long = start + k * tickMs * 1000000L

    private val generator = new Thread("perfbench-generator") {
      override def run(): Unit = {
        var k = 0
        while (k < stopAt && k < maxTicks) {
          val wait = due(k) - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val rows = tick(k)
          lateMs.put(k, (System.nanoTime() - due(k)) / 1e6)
          mem.addData(rows)
          k += 1
          sent = k
        }
      }
    }
    generator.setDaemon(true)
    generator.start()

    /** Stop sending after tick `k - 1`, then process everything sent. */
    def finish(k: Int): Int = {
      stopAt = k
      generator.join()
      query.processAllAvailable()
      sent
    }

    def stop(): Unit = {
      stopAt = 0
      generator.join()
      query.stop()
    }

    /** Tick whose datapoints close window `ws`. */
    def closingTick(ws: Long): Int = ((ws - base) / 60L).toInt + 1

    def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq
  }
}

object StreamAlarmsWorkload {
  /** Series at scale 1, and the tick length: one event-minute per tick,
    * so the offered rate is SeriesAtScale1 * 1000 / TickMs datapoints/s. */
  val SeriesAtScale1 = 1000
  val TickMs = 500L

  def progressStartMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  def triggerMs(p: StreamingQueryProgress): Double =
    Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)

  def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).flatMap(o =>
      scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)

  def sinkRows(l: StreamAlarmsWorkload#Loop) = l.sink.asScala.toSeq
}
