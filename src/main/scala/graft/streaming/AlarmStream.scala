package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.{ComparisonOperator, TreatMissingData}
import graft.operators.AlarmStateMachine

/**
 * Streaming alarm state machine (O-23 streaming variant; SURVEY.md §7
 * "What's hard" #1/#5): per-series CloudWatch-style M-of-N evaluation
 * as flatMapGroupsWithState. State per series = ring buffer of the
 * last N breach votes + the current alarm state; each incoming window
 * value advances the machine and state *transitions* are emitted
 * (alarm actions fire on change, not level — cw_alarm.py:52-62).
 *
 * CloudWatch evaluates every period on the wall clock, not only when a
 * datapoint arrives (cw_alarm.py:46-49 — the missing-data policies are
 * about exactly this), so the machine advances on two clocks:
 *
 *  - a point arriving after a gap first DENSIFIES the gap — every
 *    skipped period slot casts its own missing-data vote, so an
 *    N-window gap casts N votes exactly like the batch variant's
 *    densified timeline;
 *  - an event-time timer ([[GroupStateTimeout.EventTimeTimeout]]) fires
 *    when the watermark passes the end of the series' next expected
 *    slot, synthesizing missing-slot votes for SILENT series — a series
 *    that stops reporting transitions to INSUFFICIENT_DATA (MISSING
 *    policy) / OK (NOT_BREACHING) / ALARM (BREACHING) without any
 *    further input.
 *
 * Late points older than the series' last evaluated slot are dropped
 * (the watermark delay of [[transitions]] bounds how late a point can
 * usefully arrive — standard streaming tradeoff).
 *
 * Scale: state is O(evaluation_periods) booleans per series — millions
 * of series fit comfortably in the state store; keys partition across
 * executors by series hash. A silence of any length costs at most
 * evaluation_periods synthesized slots per timer firing (after N
 * missing votes the vote window is saturated and the state can no
 * longer change, so longer gaps jump straight to the watermark).
 */
object AlarmStream {

  final case class SeriesPoint(
      seriesId: String, windowStart: Long, value: Option[Double],
      period: Long, threshold: Double, comparisonOperator: String,
      datapointsToAlarm: Int, evaluationPeriods: Int,
      treatMissingData: String)

  /** SLA config snapshot carried in state so timer firings can
    * evaluate missing slots without an incoming point. */
  final case class SlaConf(
      period: Long, threshold: Double, comparisonOperator: String,
      datapointsToAlarm: Int, evaluationPeriods: Int,
      treatMissingData: String)

  /** Per-series machine state, mirroring the batch variant's two
    * views of history: `slotVotes` = last N slots (missing slots as
    * None — drives MISSING insufficiency and the NB/B policies);
    * `realVotes` = last N breach flags of REAL datapoints (drives
    * IGNORE/MISSING vote counting, where missing slots don't vote).
    * `lastWindow`/`conf` drive gap densification and timer-based
    * evaluation of silent series. */
  final case class AlarmState(
      slotVotes: List[Option[Boolean]], realVotes: List[Boolean],
      state: String, lastWindow: Option[Long], conf: Option[SlaConf])

  val EmptyState: AlarmState =
    AlarmState(Nil, Nil, "INSUFFICIENT_DATA", None, None)

  final case class Transition(
      seriesId: String, windowStart: Long, prevState: String,
      newState: String)

  private def confOf(p: SeriesPoint): SlaConf =
    SlaConf(p.period, p.threshold, p.comparisonOperator,
      p.datapointsToAlarm, p.evaluationPeriods, p.treatMissingData)

  /** Evaluate ONE slot (real or missing) against the machine, by the
    * vote and state rule the batch variant runs
    * ([[AlarmStateMachine.vote]], [[AlarmStateMachine.state]]). */
  private[graft] def applySlot(s: AlarmState, seriesId: String, ws: Long,
      value: Option[Double], conf: SlaConf): (AlarmState, Option[Transition]) = {
    val op = ComparisonOperator.fromName(conf.comparisonOperator)
    val n = math.max(conf.evaluationPeriods, 1)
    val policy = TreatMissingData.fromName(conf.treatMissingData)
    val slotVote = AlarmStateMachine.vote(value, op, conf.threshold, policy)
    val slotVotes = (s.slotVotes :+ slotVote).takeRight(n)
    val realVotes = (s.realVotes ++ slotVote.filter(_ => value.isDefined)).takeRight(n)
    // the last N cast votes: every slot votes unless the policy
    // abstains on missing slots, then only real datapoints do (so
    // under MISSING a voting slot is a real one)
    val cast = if (policy.missingVote.isEmpty) realVotes else slotVotes.flatten
    val newState = AlarmStateMachine.state(policy, conf.datapointsToAlarm,
      cast.count(identity), slotVotes.exists(_.isDefined))
    val next = AlarmState(slotVotes, realVotes, newState,
      Some(ws), Some(conf))
    val out = if (newState != s.state)
      Some(Transition(seriesId, ws, s.state, newState)) else None
    (next, out)
  }

  /** Advance one series' machine over a batch of points (ordered by
    * window), densifying any gap between consecutive points with
    * missing-slot votes. Points at or before the last evaluated slot
    * are dropped (already evaluated — replay/out-of-order safe). Pure
    * function — unit-testable without Spark; semantics match
    * graft.operators.AlarmStateMachine.evaluate. */
  private[graft] def advance(
      points: Iterator[SeriesPoint],
      st: AlarmState): (AlarmState, List[Transition]) =
    points.toSeq.sortBy(_.windowStart).foldLeft((st, List.empty[Transition])) {
      case ((s, out), p) =>
        if (s.lastWindow.exists(p.windowStart <= _)) (s, out)
        else {
          val conf = confOf(p)
          // densify the gap: every skipped slot casts a missing vote
          val (gapState, gapOut) = s.lastWindow match {
            case Some(last) if p.period > 0 =>
              synthesizeSlots(s, p.seriesId, last, p.windowStart, conf)
            case _ => (s, List.empty[Transition])
          }
          val (next, tr) = applySlot(gapState, p.seriesId, p.windowStart,
            p.value, conf)
          // accumulator is reverse-chronological; gapOut arrives
          // reverse-chronological from synthesizeSlots
          (next, tr.toList ::: gapOut ::: out)
        }
    } match { case (s, out) => (s, out.reverse) }

  /** Synthesize missing-slot votes for slots in (from, until) stepping
    * by conf.period. Gaps longer than N slots jump: after N missing
    * votes the window is saturated and the state cannot change again,
    * so only the first N slots are evaluated individually and the
    * cursor moves straight to the last skipped slot. */
  private[streaming] def synthesizeSlots(s: AlarmState, seriesId: String, from: Long,
      until: Long, conf: SlaConf): (AlarmState, List[Transition]) = {
    val n = math.max(conf.evaluationPeriods, 1).toLong
    val total = (until - from - 1) / conf.period // slots strictly between
    if (total <= 0) (s, Nil)
    else {
      val evalCount = math.min(total, n)
      var st = s
      var out = List.empty[Transition] // reverse order
      var w = from + conf.period
      var i = 0L
      while (i < evalCount) {
        val (s2, tr) = applySlot(st, seriesId, w, None, conf)
        st = s2
        out = tr.toList ::: out
        w += conf.period
        i += 1
      }
      if (total > evalCount) // jump the saturated remainder
        st = st.copy(lastWindow = Some(from + total * conf.period))
      (st, out)
    }
  }

  /** Timer path: evaluate every slot the watermark has already closed
    * (slot [w, w+period) is closed once w + period <= watermark). */
  private[graft] def advanceToWatermark(s: AlarmState, seriesId: String,
      watermarkSec: Long): (AlarmState, List[Transition]) =
    (s.lastWindow, s.conf) match {
      case (Some(last), Some(conf)) if conf.period > 0 =>
        // largest closed slot start, on the series' own slot grid
        val maxClosed = watermarkSec - conf.period
        if (maxClosed <= last) (s, Nil)
        else {
          val k = (maxClosed - last) / conf.period
          if (k <= 0) (s, Nil)
          else {
            // synthesizeSlots is exclusive of `until`: pass one step past
            // the last slot we want evaluated
            val (st, out) = synthesizeSlots(s, seriesId, last,
              last + (k + 1) * conf.period, conf)
            (st, out.reverse)
          }
        }
      case _ => (s, Nil)
    }

  /** Internal row shape carrying the watermark column (public only
    * because Spark's generated deserializer code must access it). */
  final case class TimedPoint(
      seriesId: String, windowStart: Long, value: Option[Double],
      period: Long, threshold: Double, comparisonOperator: String,
      datapointsToAlarm: Int, evaluationPeriods: Int,
      treatMissingData: String, eventTime: java.sql.Timestamp) {
    def toPoint: SeriesPoint = SeriesPoint(seriesId, windowStart, value,
      period, threshold, comparisonOperator, datapointsToAlarm,
      evaluationPeriods, treatMissingData)
  }

  /** Wire the machine into a streaming Dataset of series points.
    *
    * @param watermarkDelay how long to admit late points; also how far
    *        wall-clock evaluation of silent series trails event time
    */
  def transitions(points: Dataset[SeriesPoint],
      watermarkDelay: String = "0 seconds"): Dataset[Transition] = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .withColumn("eventTime", col("windowStart").cast("timestamp"))
      .withWatermark("eventTime", watermarkDelay)
      .as[TimedPoint]
      .transform(machine)
  }

  /** The flatMapGroupsWithState wiring, shared by [[transitions]]
    * (which defines its own watermark) and [[evaluateStream]] (which
    * must reuse the upstream aggregation's). */
  private def machine(timed: Dataset[TimedPoint]): Dataset[Transition] = {
    val spark = timed.sparkSession
    import spark.implicits._
    timed
      .groupByKey(_.seriesId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, it: Iterator[TimedPoint], gs: GroupState[AlarmState]) => {
          val st = gs.getOption.getOrElse(EmptyState)
          val wmSec = gs.getCurrentWatermarkMs() / 1000
          val (afterPoints, out1) = advance(it.map(_.toPoint), st)
          // catch up slots the watermark has closed (covers both the
          // timer firing with no data and a data batch that moved the
          // watermark past unreported slots)
          val (next, out2) = advanceToWatermark(afterPoints, key, wmSec)
          gs.update(next)
          // re-arm: fire when the watermark closes the next expected slot
          (next.lastWindow, next.conf) match {
            case (Some(last), Some(conf)) if conf.period > 0 =>
              val target = (last + 2 * conf.period) * 1000
              if (target > gs.getCurrentWatermarkMs())
                gs.setTimeoutTimestamp(target)
            case _ => ()
          }
          (out1 ++ out2).iterator
        })
  }
}
