package graft.streaming

import graft.model.{ComparisonOperator, TreatMissingData}

/**
 * The per-slot M-of-N alarm machine of both O-23 operators (SURVEY.md
 * §7 "What's hard" #1/#5): CloudWatch-style evaluation over one SLA's
 * vote history, with no Dataset wiring. The batch
 * [[graft.operators.AlarmStateMachine]] walk folds [[stepSlot]] over
 * each key's dense slot grid; [[StreamingAlarmPipeline.evaluateStream]]
 * keeps one [[AlarmState]] per (series, SLA) and feeds it closed
 * windows and missing slots through [[applySlot]], emitting state
 * *transitions* (alarm actions fire on change — cw_alarm.py:52-62).
 *
 * CloudWatch evaluates every period on the wall clock, not only when a
 * datapoint arrives (cw_alarm.py:46-49 — the missing-data policies are
 * about exactly this), so the streaming machine advances on two clocks:
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
 * Scale: state is O(evaluation_periods) booleans per series, and a
 * slot costs O(1): the window keeps a running breach count. A silence
 * of any length costs at most evaluation_periods synthesized slots per
 * timer firing (after N missing votes the vote window is saturated and
 * the state can no longer change, so longer gaps jump straight to the
 * watermark).
 */
object AlarmStream {

  /** SLA config snapshot carried in the pipeline state so timer
    * firings can evaluate missing slots without an incoming point. */
  final case class SlaConf(
      period: Long, threshold: Double, comparisonOperator: String,
      datapointsToAlarm: Int, evaluationPeriods: Int,
      treatMissingData: String)

  /** One SLA's machine after its last slot: `votes` are the last N
    * votes cast (oldest first), `breaches` how many of them breach,
    * `sinceReal` the slots since the last real datapoint (capped at N;
    * `Int.MaxValue` before any slot), `state` the alarm state and
    * `lastWindow` the last slot's start, which drives gap densification
    * and timer-based evaluation of silent series. */
  final case class AlarmState(
      votes: Vector[Boolean], breaches: Int, sinceReal: Int,
      state: String, lastWindow: Option[Long])

  val EmptyState: AlarmState =
    AlarmState(Vector.empty, 0, Int.MaxValue, "INSUFFICIENT_DATA", None)

  final case class Transition(
      seriesId: String, windowStart: Long, prevState: String,
      newState: String)

  /** A slot's vote: a real datapoint votes whether it breaches, a
    * missing slot casts the policy's missing vote (None = abstains). */
  private[graft] def vote(value: Option[Double], op: ComparisonOperator,
      threshold: Double, policy: TreatMissingData): Option[Boolean] =
    value.map(op.breaches(_, threshold)).orElse(policy.missingVote)

  /** The per-slot step: slot `ws` (`real` when it holds a datapoint)
    * casts `slotVote`, the oldest vote leaves once more than N are held,
    * and the state follows — INSUFFICIENT_DATA under MISSING when none
    * of the last N slots held a real datapoint, else ALARM when at
    * least M of the last N votes cast breach, else OK. Under IGNORE and
    * MISSING a missing slot abstains, so the window spans the last N
    * real datapoints. */
  private[graft] def stepSlot(s: AlarmState, ws: Long, real: Boolean,
      slotVote: Option[Boolean], m: Int, n: Int,
      policy: TreatMissingData): AlarmState = {
    val (votes, breaches) = slotVote.fold((s.votes, s.breaches)) { b =>
      val cast = s.votes :+ b
      val count = s.breaches + (if (b) 1 else 0)
      if (cast.length > n) (cast.tail, count - (if (cast.head) 1 else 0)) else (cast, count)
    }
    val sinceReal = if (real) 0 else math.min(s.sinceReal, n - 1) + 1
    val state =
      if (policy == TreatMissingData.Missing && sinceReal >= n) "INSUFFICIENT_DATA"
      else if (breaches >= m) "ALARM"
      else "OK"
    AlarmState(votes, breaches, sinceReal, state, Some(ws))
  }

  /** Evaluate ONE slot (real or missing) of a streaming SLA: its
    * [[vote]] through [[stepSlot]], with the transition it causes. */
  private[graft] def applySlot(s: AlarmState, seriesId: String, ws: Long,
      value: Option[Double], conf: SlaConf): (AlarmState, Option[Transition]) = {
    val policy = TreatMissingData.fromName(conf.treatMissingData)
    val next = stepSlot(s, ws, value.isDefined,
      vote(value, ComparisonOperator.fromName(conf.comparisonOperator),
        conf.threshold, policy),
      conf.datapointsToAlarm, math.max(conf.evaluationPeriods, 1), policy)
    val out = if (next.state != s.state)
      Some(Transition(seriesId, ws, s.state, next.state)) else None
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
      watermarkSec: Long, conf: SlaConf): (AlarmState, List[Transition]) =
    s.lastWindow match {
      case Some(last) if conf.period > 0 =>
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
