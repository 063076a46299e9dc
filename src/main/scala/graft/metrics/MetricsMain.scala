package graft.metrics

import java.time.Instant
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.model.Frequency
import graft.registry.DefinitionRegistry

/**
 * Job entry points (O-37/O-38; reference: stacks/metrics_streamer.py
 * wires one scheduled Glue job per BusinessMetric set with args
 * --account_number/--metric_set_name, and EventBridge crons per
 * frequency).
 *
 * O-38 maps to one Spark application per metric set: `main(account,
 * metricSetName, sfDir, outDir)`. O-37's cron cadence maps to
 * Structured Streaming triggers ([[triggerFor]]) for the ingest path
 * and to an external scheduler invoking this main for batch sets —
 * the engine itself stays scheduler-agnostic.
 */
object MetricsMain {

  /** EventBridge-equivalent cron line per frequency
    * (metrics_streamer.py:105-133). */
  val cronFor: Map[Frequency, String] = Map(
    Frequency.Minute -> "cron(0/1 * * * ? *)",
    Frequency.Hour -> "cron(0 * * * ? *)",
    Frequency.Day -> "cron(0 0 * * ? *)")

  /** O-37 executable form: start the in-process scheduler that stands
    * in for the three EventBridge rules — `onFire` receives the
    * frequency exactly as the reference's publishing lambda receives
    * `{'frequency': ...}` (metrics_streamer.py:105-133). */
  def schedule(onFire: Frequency => Unit): FrequencyScheduler =
    new FrequencyScheduler(onFire).start()

  /** Streaming-trigger equivalent of the frequency cadence — the
    * Firehose 60 s buffer floor applies to minute cadence
    * (kinesis_construct.py:121-124). */
  def triggerFor(f: Frequency): Trigger =
    Trigger.ProcessingTime(s"${math.max(f.periodSeconds, 60)} seconds")

  /** O-38: one run of one account's metric set. Args:
    * account metricSetName sfDir outDir [epochSeconds]. */
  def main(args: Array[String]): Unit = {
    val account = if (args.length > 0) args(0) else DefinitionRegistry.DefaultAccount
    val setName = if (args.length > 1) args(1)
      else DefinitionRegistry.businessMetricSet.name
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 3) args(3) else "/tmp/graft_out"
    val at = if (args.length > 4) Instant.ofEpochSecond(args(4).toLong)
      else Instant.EPOCH

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(s"graft-metrics-$setName")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors().toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // business-metric SQL may call the native expressions by name
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    try {
      val published = MetricsJob.run(spark, sfDir, account, setName, at)
      MetricsJob.publish(published, outDir)
    } finally spark.stop()
  }
}

/**
 * O-37 scheduler loop: one fixed-rate timer per frequency, aligned to
 * the top of its period the way the EventBridge crons fire at the top
 * of every minute/hour/day (metrics_streamer.py:105-133). A failing
 * run is logged and the schedule keeps firing — EventBridge does not
 * stop on a failed lambda invocation.
 *
 * `periodMillisOverride` and `nowMillis` are injection points for
 * tests (a compressed minute) and have production defaults.
 */
final class FrequencyScheduler(
    onFire: Frequency => Unit,
    frequencies: Seq[Frequency] =
      Seq(Frequency.Minute, Frequency.Hour, Frequency.Day),
    periodMillisOverride: Map[Frequency, Long] = Map.empty,
    nowMillis: () => Long = () => System.currentTimeMillis())
  extends AutoCloseable {

  // one thread PER frequency: the reference models independent
  // EventBridge rules — with a shared thread a minute-run overrunning
  // its hour would delay the hour/day firings behind it
  private val exec = java.util.concurrent.Executors.newScheduledThreadPool(
    math.max(1, frequencies.size),
    (r: Runnable) => {
      val t = new Thread(r, "graft-frequency-scheduler")
      t.setDaemon(true); t
    })
  private val fired =
    new java.util.concurrent.ConcurrentHashMap[Frequency, java.lang.Long]()

  /** Completed firings per frequency (including failed runs — the
    * schedule itself fired). */
  def fireCount(f: Frequency): Long =
    Option(fired.get(f)).map(_.longValue).getOrElse(0L)

  def start(): this.type = {
    frequencies.foreach { f =>
      val period = periodMillisOverride.getOrElse(f, f.periodSeconds * 1000L)
      require(period > 0, s"period for $f must be positive")
      // first firing at the next top-of-period boundary, like cron
      val initial = period - java.lang.Math.floorMod(nowMillis(), period)
      exec.scheduleAtFixedRate(() => {
        // catch InterruptedException too (excluded from NonFatal): any
        // throwable escaping this body makes scheduleAtFixedRate
        // CANCEL the schedule permanently and silently — the exact
        // "keeps firing" contract violation this wrapper exists for.
        // Fatal VM errors still propagate.
        try onFire(f)
        catch {
          case e: InterruptedException =>
            Thread.currentThread().interrupt()
            System.err.println(s"[scheduler] $f run interrupted")
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[scheduler] $f run failed: ${e.getMessage}")
        } finally fired.merge(f, 1L, (a, b) => a + b)
      }, initial, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    this
  }

  override def close(): Unit = exec.shutdownNow()
}
