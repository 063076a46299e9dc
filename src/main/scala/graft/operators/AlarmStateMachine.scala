package graft.operators

import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
import graft.model.{ComparisonOperator, TreatMissingData}
import graft.pipeline.DriverBounds
import graft.plans.{DefinitionLookup, DefinitionTable}
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
 * checked on the driver and shipped as one broadcast variable keyed by
 * series id ([[graft.plans.DefinitionLookup]]; the reference matches
 * its small definition set in memory too). Then one pass: one hash
 * repartition of the windows on series_id (series without an SLA are
 * dropped before it), a sort by series_id and window_start within
 * partitions, and per series one walk per SLA of that series (a series
 * may carry several SLAs, and two differing only in `period` have
 * separate grids and vote streams) over its dense slot grid. The walk
 * folds the streaming pipeline's own per-slot machine
 * ([[graft.streaming.AlarmStream.stepSlot]], O(1) per slot) over the
 * grid, so batch and stream step one machine.
 *
 * Each SLA's grid is CLAMPED to its last maxSlotsPerSeries slots: one
 * corrupt far-future timestamp (epoch-millis read as seconds) would
 * otherwise ask for ~1e10 slots and kill alarming for every healthy
 * series with it. The clamp spans maxSlotsPerSeries periods of that
 * SLA back from the series' newest window, so SLAs of different
 * periods on one series keep different spans.
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
   *               checked on the driver, and looked up by series id
   * @return one row per (SLA, slot): the key columns, window_start,
   *         metricvalue (null when the slot was missing), breaching,
   *         statevalue, prev_state (null on the first slot), transitioned
   */
  def evaluate(series: DataFrame, slas: DataFrame,
      maxSlotsPerSeries: Long = 200000L): DataFrame = {
    val slaCols = slas.select(KeyCols.map(col): _*)
    val slaRows = DriverBounds.collectDefinitions(slaCols,
      "AlarmStateMachine SLA definitions")
    requireSlaConfig(slaRows)
    val table = DefinitionLookup.table(series.sparkSession, slaRows.toSeq, slaCols.schema)
    val rows = series
      .select(col("series_id").cast("string").as("series_id"),
        col("window_start").cast("long").as("window_start"),
        col("metricvalue"))
      .filter(col("window_start").isNotNull &&
        DefinitionLookup.rowsFor(col("series_id"), table).isNotNull)
    val out = StructType(slaCols.schema.fields ++ Seq(
      StructField("window_start", LongType), rows.schema("metricvalue").copy(nullable = true),
      StructField("breaching", BooleanType), StructField("statevalue", StringType),
      StructField("prev_state", StringType), StructField("transitioned", BooleanType)))
    rows.repartition(col("series_id"))
      .sortWithinPartitions(col("series_id"), col("window_start"))
      .mapPartitions(walk(_, table, maxSlotsPerSeries))(Encoders.row(out))
  }

  /** Walks one partition, sorted by series_id then window_start, series
    * by series and, within a series, SLA by SLA: one output row per
    * slot, or per row where rows share a slot. Rows are (series_id,
    * window_start, metricvalue). */
  private def walk(rows: Iterator[Row], table: Broadcast[DefinitionTable],
      maxSlots: Long): Iterator[Row] = {
    val defs = table.value
    val in = rows.buffered
    def ws(r: Row): Long = r.getLong(1)
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val first = in.next()
      val sid = first.getString(0)
      val slas = defs.rowsOf(sid)
      val span = slas.map(_.getAs[Number](0).longValue).max * maxSlots
      // rows the widest SLA's clamp span behind the newest can hold no
      // slot of any SLA: drop them
      val kept = mutable.ArrayDeque(first)
      while (in.hasNext && in.head.getString(0) == sid) {
        kept += in.next()
        while (ws(kept.head) < ws(kept.last) - span) kept.removeHead()
      }
      // an SLA listed k times walks once with every row k times, as the
      // join gave its key k copies of the series
      slas.distinct.iterator.flatMap(sla =>
        walkSla(sid, sla, slas.count(_ == sla), ws(first), kept, maxSlots))
    }
  }

  /** One SLA's walk over its series' rows: the grid runs from the first
    * row, or a clamp span of this SLA's period behind the newest row if
    * that is later, to the newest row. `sla` holds the [[KeyCols]] after
    * series_id; each row counts `copies` times. */
  private def walkSla(sid: String, sla: Row, copies: Int, first: Long,
      kept: collection.IndexedSeq[Row], maxSlots: Long): Iterator[Row] = {
    def ws(r: Row): Long = r.getLong(1)
    val period = sla.getAs[Number](0).longValue
    val threshold = sla.getAs[Number](1).doubleValue
    val op = ComparisonOperator.fromName(sla.getString(2))
    val m = sla.getAs[Number](3).intValue
    val n = sla.getAs[Number](4).intValue
    val policy = TreatMissingData.fromName(sla.getString(5))
    val key = sid +: sla.toSeq
    var st = AlarmStream.EmptyState
    var prev: String = null
    var i = 0
    val hi = ws(kept.last)
    (math.max(first, hi - maxSlots * period) to hi by period).iterator.flatMap { w =>
      while (i < kept.length && ws(kept(i)) < w) i += 1 // off the grid
      val from = i
      while (i < kept.length && ws(kept(i)) == w) i += 1
      if (from == i) Iterator.single(w -> null)
      else (from until i).iterator.flatMap(j => Iterator.fill(copies)(w -> kept(j).get(2)))
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
