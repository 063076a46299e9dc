package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}
import graft.model.{ComparisonOperator, TreatMissingData}

/**
 * Threshold comparison + alarm state machine, batch variant (O-23;
 * reference: dataquality/sla.py:14-33 declares the config,
 * cdk_constructs/cw_alarm.py:32-62 wires it, and the M-of-N evaluation
 * itself runs inside the CloudWatch service). CloudWatch semantics
 * implemented:
 *
 *  - breach per datapoint: value <op> threshold for the four
 *    comparison operators (cw_alarm.py:42-45), in Spark SQL ordering;
 *  - alarm when ≥ datapoints_to_alarm (M) of the last
 *    evaluation_periods (N) votes breach;
 *  - treat_missing_data ∈ NOT_BREACHING (default) | BREACHING | IGNORE
 *    | MISSING (cw_alarm.py:46-49): the series timeline is densified to
 *    one slot per period, and missing slots vote non-breaching /
 *    breaching / abstain, so the window spans the last N real
 *    datapoints / abstain and yield INSUFFICIENT_DATA when none of the
 *    last N slots holds a real datapoint;
 *  - state-change rows (OK→ALARM etc.) are flagged for notification
 *    (alarm actions fire on transition, not level).
 *
 * One pass: a broadcast join of the SLAs, one hash repartition on the
 * full SLA key (a series may carry several SLAs, and two differing only
 * in `period` have separate grids and vote streams), a sort by key and
 * window_start within partitions, and one walk per key over its dense
 * slot grid. The walk keeps the last N votes in a ring buffer with a
 * running breach count, so a slot costs O(1). Its vote and state rule
 * ([[vote]], [[state]]) is the one streaming.AlarmStream.applySlot runs.
 *
 * The grid is CLAMPED to the key's last maxSlotsPerSeries slots: one
 * corrupt far-future timestamp (epoch-millis read as seconds) would
 * otherwise ask for ~1e10 slots and kill alarming for every healthy
 * series with it.
 */
object AlarmStateMachine {

  val StateOk = "OK"
  val StateAlarm = "ALARM"
  val StateInsufficient = "INSUFFICIENT_DATA"

  private val KeyCols = Seq("series_id", "period", "threshold",
    "comparison_operator", "datapoints_to_alarm", "evaluation_periods",
    "treat_missing_data")

  /** A slot's vote: a real datapoint votes whether it breaches, a
    * missing slot casts the policy's missing vote (None = abstains). */
  private[graft] def vote(value: Option[Double], op: ComparisonOperator,
      threshold: Double, policy: TreatMissingData): Option[Boolean] =
    value.map(op.breaches(_, threshold)).orElse(policy.missingVote)

  /** The state after a slot, from the breaches among the last N votes
    * cast and whether any of the last N slots held a real datapoint. */
  private[graft] def state(policy: TreatMissingData, datapointsToAlarm: Int,
      breaches: Int, realInLastN: Boolean): String =
    if (policy == TreatMissingData.Missing && !realInLastN) StateInsufficient
    else if (breaches >= datapointsToAlarm) StateAlarm
    else StateOk

  /** Fail fast on bad SLA config, for the batch machine and the
    * streaming pipeline alike: a positive period, known operator and
    * missing-data names, a threshold and datapoints_to_alarm, and
    * evaluation_periods of at least 1. A typo'd operator would
    * otherwise make every slot silently abstain — the alarm could
    * never fire and nothing would report it; a null threshold would
    * fail only once the first window is evaluated. */
  private[graft] def requireSlaConfig(slas: DataFrame): Unit =
    graft.pipeline.DriverBounds.boundedCollect(
      slas.select(col("period").cast("long"), col("comparison_operator"),
        col("treat_missing_data"), coalesce(col("threshold").isNotNull &&
          col("datapoints_to_alarm").isNotNull && col("evaluation_periods") >= 1,
          lit(false))).distinct(), 10000L,
      "AlarmStateMachine distinct SLA configs (definition metadata)")
      .foreach { r =>
        require(!r.isNullAt(0) && r.getLong(0) > 0,
          s"SLA period must be positive, got ${r.get(0)}")
        ComparisonOperator.fromName(r.getString(1))
        TreatMissingData.fromName(r.getString(2))
        require(r.getBoolean(3), "SLA threshold and datapoints_to_alarm must " +
          "be set and evaluation_periods must be at least 1")
      }

  /**
   * Evaluate alarm states over windowed series values.
   *
   * @param series (series_id, window_start:long, metricvalue:double) —
   *               output of StatWindowAgg
   * @param slas   (series_id, period, threshold, comparison_operator,
   *               datapoints_to_alarm, evaluation_periods,
   *               treat_missing_data) — tiny; broadcast
   * @return one row per (SLA key, slot): the key columns, window_start,
   *         metricvalue (null when the slot was missing), breaching,
   *         statevalue, prev_state (null on the first slot), transitioned
   */
  def evaluate(series: DataFrame, slas: DataFrame,
      maxSlotsPerSeries: Long = 200000L): DataFrame = {
    requireSlaConfig(slas)
    val key = KeyCols.map(col)
    val rows = series
      .select(col("series_id"), col("window_start").cast("long").as("window_start"),
        col("metricvalue"))
      .filter(col("window_start").isNotNull)
      .join(broadcast(slas.select(key: _*)), Seq("series_id"))
      .select(key :+ col("window_start") :+ col("metricvalue"): _*)
    val out = StructType(rows.schema.fields ++ Seq(
      StructField("breaching", BooleanType), StructField("statevalue", StringType),
      StructField("prev_state", StringType), StructField("transitioned", BooleanType)))
    rows.repartition(key: _*)
      .sortWithinPartitions(key :+ col("window_start"): _*)
      .mapPartitions(walk(_, maxSlotsPerSeries))(Encoders.row(out))
  }

  /** Walks one partition, sorted by key then window_start, key by key:
    * one output row per slot, or per row where rows share a slot. Rows
    * are (key columns, window_start, metricvalue). */
  private def walk(rows: Iterator[Row], maxSlots: Long): Iterator[Row] = {
    val in = rows.buffered
    def ws(r: Row): Long = r.getLong(KeyCols.length)
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val first = in.next()
      val key = KeyCols.indices.map(first.get)
      val period = first.getAs[Number](1).longValue
      // rows a clamp span behind the newest can hold no slot: drop them
      val kept = mutable.ArrayDeque(first)
      while (in.hasNext && key.indices.forall(i =>
          java.util.Objects.equals(in.head.get(i), key(i)))) {
        kept += in.next()
        while (ws(kept.head) < ws(kept.last) - maxSlots * period) kept.removeHead()
      }
      val threshold = first.getAs[Number](2).doubleValue
      val op = ComparisonOperator.fromName(first.getString(3))
      val m = first.getAs[Number](4).intValue
      val n = first.getAs[Number](5).intValue
      val policy = TreatMissingData.fromName(first.getString(6))
      val votes = mutable.Queue.empty[Boolean] // the last n votes cast
      var breaches = 0
      var sinceReal = n // slots since the last real datapoint, capped at n
      var prev: String = null
      var i = 0
      val hi = ws(kept.last)
      (math.max(ws(first), hi - maxSlots * period) to hi by period).iterator.flatMap { w =>
        while (i < kept.length && ws(kept(i)) < w) i += 1 // off the grid
        val from = i
        while (i < kept.length && ws(kept(i)) == w) i += 1
        if (from == i) Iterator.single(w -> null)
        else (from until i).iterator.map(j => w -> kept(j).get(KeyCols.length + 1))
      }.map { case (w, value) => // value null: a missing slot
        val v = vote(Option(value).map(_.asInstanceOf[Number].doubleValue), op, threshold, policy)
        v.foreach { b =>
          votes += b
          if (b) breaches += 1
          if (votes.length > n && votes.dequeue()) breaches -= 1
        }
        sinceReal = if (value != null) 0 else math.min(sinceReal + 1, n)
        val s = state(policy, m, breaches, sinceReal < n)
        val row = Row.fromSeq(key ++ Seq(w, value, v.getOrElse(false), s, prev,
          prev != null && prev != s))
        prev = s
        row
      }
    }
  }
}
