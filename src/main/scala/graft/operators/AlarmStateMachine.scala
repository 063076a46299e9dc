package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}
import graft.model.{ComparisonOperator, TreatMissingData}
import graft.pipeline.DriverBounds
import graft.streaming.AlarmStream

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
 * The SLA side is collected once under [[DriverBounds.DefinitionRows]],
 * checked on the driver and broadcast as a local relation of the same
 * rows (the reference matches its small definition set in memory too).
 * Then one pass: the broadcast join, one hash repartition on the full
 * SLA key (a series may carry several SLAs, and two differing only in
 * `period` have separate grids and vote streams), a sort by key and
 * window_start within partitions, and one walk per key over its dense
 * slot grid. The walk folds the streaming pipeline's own per-slot
 * machine ([[graft.streaming.AlarmStream.stepSlot]], O(1) per slot)
 * over the grid, so batch and stream step one machine.
 *
 * The grid is CLAMPED to the key's last maxSlotsPerSeries slots: one
 * corrupt far-future timestamp (epoch-millis read as seconds) would
 * otherwise ask for ~1e10 slots and kill alarming for every healthy
 * series with it.
 */
object AlarmStateMachine {

  private[graft] val KeyCols = Seq("series_id", "period", "threshold",
    "comparison_operator", "datapoints_to_alarm", "evaluation_periods",
    "treat_missing_data")

  /** Fail fast on bad SLA config, for the batch machine and the
    * streaming pipeline alike: a positive period, known operator and
    * missing-data names, a threshold and datapoints_to_alarm, and
    * evaluation_periods of at least 1. A typo'd operator would
    * otherwise make every slot silently abstain — the alarm could
    * never fire and nothing would report it; a null threshold would
    * fail only once the first window is evaluated. `slas` are collected
    * SLA rows that start with the [[KeyCols]], in that order. */
  private[graft] def requireSlaConfig(slas: Seq[Row]): Unit = {
    // the walk reads period and evaluation_periods as numbers
    def atLeastOne(v: Any): Boolean = v match {
      case n: Number => n.doubleValue >= 1
      case _ => false
    }
    val configs = slas.map(r => (r.get(1), r.getString(3), r.getString(6),
      !r.isNullAt(2) && !r.isNullAt(4) && atLeastOne(r.get(5)))).distinct
    DriverBounds.requireBound(configs.length, 10000L,
      "AlarmStateMachine distinct SLA configs (definition metadata)")
    configs.foreach { case (period, op, policy, complete) =>
      require(atLeastOne(period), s"SLA period must be positive, got $period")
      ComparisonOperator.fromName(op)
      TreatMissingData.fromName(policy)
      require(complete, "SLA threshold and datapoints_to_alarm must " +
        "be set and evaluation_periods must be at least 1")
    }
  }

  /**
   * Evaluate alarm states over windowed series values.
   *
   * @param series (series_id, window_start:long, metricvalue:double) —
   *               output of StatWindowAgg
   * @param slas   (series_id, period, threshold, comparison_operator,
   *               datapoints_to_alarm, evaluation_periods,
   *               treat_missing_data) — collected once, with a bound,
   *               checked on the driver, and broadcast
   * @return one row per (SLA key, slot): the key columns, window_start,
   *         metricvalue (null when the slot was missing), breaching,
   *         statevalue, prev_state (null on the first slot), transitioned
   */
  def evaluate(series: DataFrame, slas: DataFrame,
      maxSlotsPerSeries: Long = 200000L): DataFrame = {
    val key = KeyCols.map(col)
    val (slaRows, slasLocal) = DriverBounds.collectDefinitions(slas.select(key: _*),
      "AlarmStateMachine SLA definitions")
    requireSlaConfig(slaRows)
    val rows = series
      .select(col("series_id"), col("window_start").cast("long").as("window_start"),
        col("metricvalue"))
      .filter(col("window_start").isNotNull)
      .join(broadcast(slasLocal), Seq("series_id"))
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
      var st = AlarmStream.EmptyState
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
        val v = AlarmStream.vote(Option(value).map(_.asInstanceOf[Number].doubleValue),
          op, threshold, policy)
        st = AlarmStream.stepSlot(st, w, value != null, v, m, n, policy)
        val row = Row.fromSeq(key ++ Seq(w, value, v.getOrElse(false), st.state, prev,
          prev != null && prev != st.state))
        prev = st.state
        row
      }
    }
  }
}
