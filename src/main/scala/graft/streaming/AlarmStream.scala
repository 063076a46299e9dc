package graft.streaming

import graft.model.{ComparisonOperator, TreatMissingData}
import graft.operators.AlarmStateMachine

/**
 * The per-slot alarm machine of the streaming O-23 path (SURVEY.md §7
 * "What's hard" #1/#5): CloudWatch-style M-of-N evaluation over one
 * SLA's vote history. It holds no Dataset wiring — the only streaming
 * operator is [[StreamingAlarmPipeline.evaluateStream]], whose
 * `flatMapGroupsWithState` keeps one [[AlarmState]] per (series, SLA)
 * and feeds it closed windows and missing slots through the functions
 * here. State *transitions* are emitted (alarm actions fire on change,
 * not level — cw_alarm.py:52-62).
 *
 * CloudWatch evaluates every period on the wall clock, not only when a
 * datapoint arrives (cw_alarm.py:46-49 — the missing-data policies are
 * about exactly this), so the machine advances on two clocks:
 *
 *  - a window closing after a gap first DENSIFIES the gap
 *    ([[synthesizeSlots]]) — every skipped period slot casts its own
 *    missing-data vote, so an N-window gap casts N votes exactly like
 *    the batch variant's densified timeline;
 *  - when the watermark passes the end of the series' next expected
 *    slot, [[advanceToWatermark]] synthesizes missing-slot votes for a
 *    SILENT series — a series that stops reporting transitions to
 *    INSUFFICIENT_DATA (MISSING policy) / OK (NOT_BREACHING) / ALARM
 *    (BREACHING) without any further input.
 *
 * Scale: state is O(evaluation_periods) booleans per series. A silence
 * of any length costs at most evaluation_periods synthesized slots per
 * timer firing (after N missing votes the vote window is saturated and
 * the state can no longer change, so longer gaps jump straight to the
 * watermark).
 */
object AlarmStream {

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
}
