package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{AlarmStateMachine, StatWindowAgg}
import graft.pipeline.DriverBounds
import graft.streaming.AlarmStream.{AlarmState, SlaConf, Transition}

/**
 * End-to-end streaming alarm pipeline: raw datapoints → per-period
 * statistic windows → M-of-N alarm transitions, the reference's full
 * flow (Firehose buffer → CloudWatch statistic → alarm evaluation,
 * kinesis_construct.py + cw_alarm.py) as ONE stateful operator.
 *
 * Why one operator and not [[StreamingStatAgg]] chained into a second
 * stateful alarm stage: `flatMapGroupsWithState` downstream of a
 * streaming aggregation cannot work in append mode — a window emits
 * (stamped at its start) only after the watermark passed its end, so
 * every emitted row is already "late" for any downstream event-time
 * filter, and a second watermark node would pin the global
 * min-of-nodes watermark at its initial value forever (deadlock).
 * Windowing, the statistic, and the alarm machine therefore share one
 * `flatMapGroupsWithState`: state = open windows' partial aggregates +
 * the [[AlarmStream.AlarmState]] vote history, windows close when the
 * (single, upstream) watermark passes their end, and closures feed
 * [[AlarmStream.applySlot]] in window order with gap densification
 * ([[AlarmStream.synthesizeSlots]]) and silent-series catch-up
 * ([[AlarmStream.advanceToWatermark]]). This is the only streaming
 * alarm operator; the SLA-config check
 * ([[AlarmStateMachine.requireSlaConfig]]) and the statistic check
 * ([[StatWindowAgg.requireStatistic]]) are the batch machine's own.
 *
 * Scale: state per series = O(open windows + evaluation_periods).
 * Open windows are bounded by watermark delay / period (a series
 * cannot accumulate unbounded windows — anything older than the
 * watermark is closed on the next firing). Partial aggregates are
 * map-side-combinable pairs (sum/count/min/max), so state size does
 * not grow with datapoint rate.
 *
 * Statistic parity with the batch path:
 *  - Sum/Average accumulate in BigDecimal at scale 8 (HALF_UP — the
 *    same rounding Spark's Cast(double→decimal(28,8)) applies in the
 *    batch StatWindowAgg), then cast to double exactly as the batch
 *    plan does, so batch and stream are bit-equal at any magnitude
 *    the state encoder's DECIMAL(38,18) can hold (|sum| < 1e20; the
 *    batch sum overflows its own DECIMAL(38,8) at 1e30).
 *  - pNN percentiles run Spark's own Greenwald-Khanna summary
 *    ([[QuantileSummaries]]) with the identical accuracy the batch
 *    `percentile_approx(…, 100000)` uses. Below 100k samples/window
 *    the GK summary provably performs no merges at this accuracy, so
 *    the result is the exact rank statistic — bit-equal to batch
 *    regardless of insertion/partition order. Beyond 100k both sides
 *    are within the same relative-error guarantee but not bit-equal.
 *    Per-window state is a raw buffer (≤[[RawSampleBuffer]] values)
 *    folded into the compressed GK triplet array — the same
 *    O(min(n, accuracy)) memory the batch aggregation buffer holds.
 *
 * State schema version: [[StateVersion]] (currently 4). Version 1
 * (rounds ≤5) accumulated `sum` as Double and had no percentile
 * fields; version 2 (rounds 6–7) added the DECIMAL(38,18) sum +
 * samples/sketch/sketchCount [[WinAgg]] fields and keyed groups by
 * (series, SLA config) WITHOUT a statistic dimension; version 3
 * (round 8) adds the `stateVersion` and `lastDataSec` fields and the
 * statistic group-key dimension; version 4 swaps the machine's
 * `slotVotes`/`realVotes` lists and config copy for the batch walk's
 * O(1) window (`votes`, `breaches`, `sinceReal`), so batch and stream
 * step one machine. Each bump is NOT checkpoint-compatible with its
 * predecessor (restore fails Spark's state-schema validation by
 * design; v2→v3 also redistributes groups across the new key).
 * Interim round-8 builds briefly carried the v3 shape still labeled
 * 2 — checkpoints from those commits must be discarded too. For
 * FUTURE semantic changes that happen to keep a bitwise-compatible
 * schema (where Spark's check passes but the meaning of a field
 * drifted), the explicit `stateVersion` field is verified on every
 * restore — a mismatch fails fast with an actionable message instead
 * of silently mixing incompatible accumulator semantics. A
 * long-running stream upgrading across any boundary must start a new
 * checkpoint directory and replay from the source (the lake keeps the
 * raw datapoints, so replay is lossless).
 */
object StreamingAlarmPipeline {

  /** Raw datapoint with its (broadcast-joined) SLA config. `statistic`
    * rides with the SLA row (CloudWatch semantics: the statistic is an
    * alarm property, not a stream property). */
  final case class ConfiguredPoint(
      seriesId: String, eventTime: java.sql.Timestamp, value: Double,
      period: Long, threshold: Double, comparisonOperator: String,
      datapointsToAlarm: Int, evaluationPeriods: Int,
      treatMissingData: String, statistic: String)

  /** Raw per-window sample values kept before folding into the GK
    * sketch. 4096 keeps the common case (windows far smaller than
    * this) on the cheap append path with zero sketch reconstruction. */
  private[graft] val RawSampleBuffer = 4096

  private val Zero8 = BigDecimal(0).setScale(8)

  /** Partial aggregate of one open window. `sum` is exact decimal at
    * scale 8 (see the statistic-parity scaladoc above). `samples` +
    * `sketch`/`sketchCount` carry the percentile state: raw values
    * until [[RawSampleBuffer]], then Spark-identical Greenwald-Khanna
    * (value, g, delta) triplets. Both stay empty for non-percentile
    * statistics. */
  final case class WinAgg(
      sum: BigDecimal, count: Long, min: Double, max: Double,
      samples: Vector[Double] = Vector.empty,
      sketch: Vector[(Double, Long, Long)] = Vector.empty,
      sketchCount: Long = 0L)

  private[graft] val EmptyWin =
    WinAgg(Zero8, 0L, Double.MaxValue, Double.MinValue)

  /** Absorb one datapoint into a window's partial aggregate. */
  private[graft] def absorb(cur: WinAgg, value: Double, keepSamples: Boolean): WinAgg = {
    // the same HALF_UP scale-8 rounding Cast(double→decimal(28,8))
    // applies on the batch side
    val dec = BigDecimal(value).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    val grown = cur.copy(sum = cur.sum + dec, count = cur.count + 1,
      min = math.min(cur.min, value), max = math.max(cur.max, value),
      samples = if (keepSamples) cur.samples :+ value else cur.samples)
    if (grown.samples.length >= RawSampleBuffer) foldSamples(grown) else grown
  }

  /** Same relative error as the batch `percentile_approx(…, 100000)`
    * dispatch in [[StatWindowAgg]]. */
  private val PercentileRelativeError = 1.0d / StatWindowAgg.PercentileAccuracy

  private def toSummaries(w: WinAgg): QuantileSummaries = {
    val base = new QuantileSummaries(
      QuantileSummaries.defaultCompressThreshold, PercentileRelativeError,
      w.sketch.map { case (v, g, d) => QuantileSummaries.Stats(v, g, d) }.toArray,
      w.sketchCount, true)
    w.samples.foldLeft(base)(_.insert(_)).compress()
  }

  /** Fold the raw sample buffer into the GK sketch (state compaction;
    * only reached once a window exceeds [[RawSampleBuffer]] points). */
  private def foldSamples(w: WinAgg): WinAgg = {
    val qs = toSummaries(w)
    w.copy(samples = Vector.empty,
      sketch = qs.sampled.iterator.map(s => (s.value, s.g, s.delta)).toVector,
      sketchCount = qs.count)
  }

  /** Current [[PipeState.stateVersion]]; bump on ANY semantic change
    * to the state encoding OR the group key (see the class scaladoc). */
  private[graft] val StateVersion = 4

  /** Per-series pipeline state: open windows + the alarm machine.
    * `conf`, the one copy of the SLA config, is captured from the
    * first absorbed point so timer-only invocations (watermark passes
    * an open window with no new data) can close windows before the
    * machine ever evaluated a slot.
    * `lastDataSec` is the newest REAL datapoint's event time — the
    * idle-TTL signal (the alarm cursor can't serve: missing-data
    * synthesis keeps it tracking the watermark even for a series that
    * went silent long ago). */
  final case class PipeState(
      open: Map[Long, WinAgg], alarm: AlarmState, conf: Option[SlaConf],
      stateVersion: Int = StateVersion, lastDataSec: Long = Long.MinValue)

  /** Restore-time guard: a checkpoint written by a different state
    * version must never feed the machine. */
  private[graft] def requireStateVersion(st: PipeState): PipeState = {
    if (st.stateVersion != StateVersion) throw new IllegalStateException(
      s"incompatible alarm-pipeline checkpoint: state version " +
        s"${st.stateVersion}, this build writes $StateVersion — start a " +
        "new checkpoint directory and replay from the lake (raw " +
        "datapoints are retained; replay is lossless)")
    st
  }

  // Sum/Average mirror the batch plan exactly: exact decimal sum, cast
  // to double, THEN divide by the (long→double) count.
  private[graft] def statValue(statistic: String, w: WinAgg): Double = statistic match {
    case "Sum"         => w.sum.toDouble
    case "Average"     => w.sum.toDouble / w.count
    case "Minimum"     => w.min
    case "Maximum"     => w.max
    case "SampleCount" => w.count.toDouble
    case p => StatWindowAgg.percentileFraction(p) match {
      case Some(f) => toSummaries(w).query(f).getOrElse(
        throw new IllegalStateException(s"empty percentile window for $p"))
      case None => throw new IllegalArgumentException(
        s"unsupported streaming statistic: $p")
    }
  }

  /** Advance one series: absorb points into open windows, close every
    * window the watermark passed (in order, densifying gaps), handle
    * silent-series catch-up. Pure — unit-testable without Spark. */
  private[graft] def step(
      seriesId: String, points: Seq[ConfiguredPoint], st: PipeState,
      watermarkSec: Long, statistic: String):
      (PipeState, List[Transition], Option[Long]) = {
    val conf = points.headOption.map(p => SlaConf(p.period, p.threshold,
      p.comparisonOperator, p.datapointsToAlarm, p.evaluationPeriods,
      p.treatMissingData)).orElse(st.conf)

    conf match {
      case None => (st, Nil, None)
      case Some(c) =>
        // 1) absorb points into open windows (late = window already
        //    evaluated → dropped). Non-finite values are dropped as
        //    no-data, as StatWindowAgg drops them: BigDecimal(NaN)
        //    would kill the stream.
        val keepSamples = StatWindowAgg.percentileFraction(statistic).isDefined
        var open = st.open
        var lastData = st.lastDataSec
        points.foreach { p =>
          val ts = p.eventTime.getTime / 1000
          val w = math.floorDiv(ts, c.period) * c.period
          if (java.lang.Double.isFinite(p.value) &&
              !st.alarm.lastWindow.exists(w <= _)) {
            lastData = math.max(lastData, ts)
            open = open.updated(w,
              absorb(open.getOrElse(w, EmptyWin), p.value, keepSamples))
          }
        }
        // 2) close windows the watermark passed, in window order,
        //    densifying inter-window gaps with missing votes
        val (toClose, stillOpen) = open.partition {
          case (w, _) => w + c.period <= watermarkSec
        }
        var alarm = st.alarm
        var out = List.empty[Transition] // reverse-chronological
        toClose.toSeq.sortBy(_._1).foreach { case (w, agg) =>
          alarm.lastWindow.foreach { last =>
            val (s2, gapOut) = AlarmStream.synthesizeSlots(alarm, seriesId,
              last, w, c)
            alarm = s2; out = gapOut ::: out
          }
          val (s3, tr) = AlarmStream.applySlot(alarm, seriesId, w,
            Some(statValue(statistic, agg)), c)
          alarm = s3; out = tr.toList ::: out
        }
        // 3) silent-series catch-up: the watermark moved past further
        //    unreported slots (any point for those slots would be
        //    dropped as late from here on, so evaluating them now is
        //    final). Runs even while windows are still open: every
        //    surviving open window ends AFTER the watermark (phase 2
        //    closed the rest), and catch-up only evaluates slots that
        //    end AT OR BEFORE it — disjoint and strictly earlier. The
        //    old stillOpen.isEmpty gate let ONE corrupt far-future
        //    point (e.g. epoch-millis parsed as seconds) pin a window
        //    open forever and silently disable missing-data evaluation
        //    for the series.
        val (s4, wmOut) = AlarmStream.advanceToWatermark(alarm, seriesId,
          watermarkSec, c)
        alarm = s4; out = wmOut.reverse ::: out
        // 4) next timer: the earliest pending closure — an open
        //    window's end, or the silent series' next expected slot
        //    end. The latter must arm even with windows open, or a
        //    far-future open window postpones missing-data evaluation
        //    indefinitely.
        val nextTimeout = (stillOpen.keys.map(_ + c.period) ++
          alarm.lastWindow.map(_ + 2 * c.period))
          .reduceOption(_ min _)
        (PipeState(stillOpen, alarm, Some(c), lastDataSec = lastData),
          out.reverse, nextTimeout)
    }
  }

  /**
   * @param datapoints streaming (series_id, ts:timestamp, value)
   * @param slas       static (series_id, period, threshold,
   *                   comparison_operator, datapoints_to_alarm,
   *                   evaluation_periods, treat_missing_data
   *                   [, statistic]); tiny — broadcast into a
   *                   stateless stream-static join. A `statistic`
   *                   column overrides the stream-wide default per SLA
   *                   row (CloudWatch semantics: each alarm carries its
   *                   own statistic), so one stream evaluates
   *                   Sum/Average/pNN alarms side by side.
   * @param statistic  default CW statistic for SLA rows without one
   * @param watermark  max out-of-order delay for raw datapoints
   * @param idleTtlPeriods drop a series' state once the watermark
   *                   passes its last evaluated slot by this many
   *                   periods with no open window (0 = keep forever,
   *                   CloudWatch semantics: an alarm exists until its
   *                   config is deleted). Without a TTL, retired
   *                   series re-arm their event-time timer forever and
   *                   state grows with every key ever seen.
   */
  def evaluateStream(datapoints: DataFrame, slas: DataFrame,
      statistic: String, watermark: String = "10 minutes",
      idleTtlPeriods: Int = 0): Dataset[Transition] = {
    val spark = datapoints.sparkSession
    import spark.implicits._
    // Fail fast on bad SLA config — the table is static and small, so
    // one collect under the definition bound holds it, and a typo'd
    // value must die HERE with a clear message, not minutes later
    // inside flatMapGroupsWithState when the first window closes (a
    // mid-stream throw checkpoints a poisoned source offset and
    // crash-loops every restart).
    val perSla = slas.columns.contains("statistic")
    StatWindowAgg.requireStatistic(statistic)
    val (slaRows, slasLocal) = DriverBounds.collectDefinitions(
      slas.select((AlarmStateMachine.KeyCols ++ (if (perSla) Seq("statistic") else Nil))
        .map(col): _*), "StreamingAlarmPipeline SLA definitions")
    // a null per-SLA statistic takes the stream-wide default
    if (perSla) StatWindowAgg.requireStatistics(
      slaRows.map(_.getString(AlarmStateMachine.KeyCols.length)).filter(_ != null).toSeq,
      "StreamingAlarmPipeline")
    AlarmStateMachine.requireSlaConfig(slaRows)
    val statCol =
      if (perSla)
        org.apache.spark.sql.functions.coalesce(col("statistic"),
          org.apache.spark.sql.functions.lit(statistic))
      else org.apache.spark.sql.functions.lit(statistic)
    datapoints
      .withWatermark("ts", watermark)
      .join(broadcast(slasLocal), Seq("series_id")) // stateless stream-static join
      .select(col("series_id").as("seriesId"), col("ts").as("eventTime"),
        col("value").cast("double").as("value"),
        col("period").cast("long").as("period"), col("threshold").cast("double"),
        col("comparison_operator").as("comparisonOperator"),
        col("datapoints_to_alarm").cast("int").as("datapointsToAlarm"),
        col("evaluation_periods").cast("int").as("evaluationPeriods"),
        col("treat_missing_data").as("treatMissingData"),
        statCol.as("statistic"))
      .as[ConfiguredPoint]
      // key by series AND full SLA config (incl. statistic): a series
      // may carry several SLAs (warning + critical), and mixing their
      // vote streams in one machine would interleave states — same
      // reason the batch variant's window partitions by the full config
      .groupByKey(p => (p.seriesId, p.period, p.threshold,
        p.comparisonOperator, p.datapointsToAlarm, p.evaluationPeriods,
        p.treatMissingData, p.statistic))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (String, Long, Double, String, Int, Int, String, String),
            it: Iterator[ConfiguredPoint], gs: GroupState[PipeState]) => {
          val st = gs.getOption.map(requireStateVersion).getOrElse(
            PipeState(Map.empty, AlarmStream.EmptyState, None))
          val wmSec = gs.getCurrentWatermarkMs() / 1000
          val (next, out, nextTimeout) = step(key._1, it.toSeq, st, wmSec, key._8)
          // retire idle series: nothing open and the watermark is
          // idleTtlPeriods past the newest real datapoint — drop the
          // state and do NOT re-arm the timer, or every key ever seen
          // re-wakes on each watermark advance forever
          val retire = idleTtlPeriods > 0 && next.open.isEmpty &&
            next.lastDataSec != Long.MinValue &&
            wmSec >= next.lastDataSec + idleTtlPeriods.toLong * key._2
          if (retire) gs.remove()
          else {
            gs.update(next)
            nextTimeout.foreach { t =>
              if (t * 1000 > gs.getCurrentWatermarkMs()) gs.setTimeoutTimestamp(t * 1000)
            }
          }
          out.iterator
        })
  }
}
