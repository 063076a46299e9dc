package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.model.{ComparisonOperator, TreatMissingData}
import graft.operators.AlarmStateMachine
import graft.streaming.AlarmStream
import graft.streaming.AlarmStream.{AlarmState, SlaConf, Transition}

/** Truth-table coverage of the M-of-N alarm machine (SURVEY §5.1):
  * operators × missing-data policies × window configs, batch and
  * streaming-core variants. */
class AlarmMachineSpec extends SparkTestBase {
  import spark.implicits._

  private def seriesDf(values: Seq[(Long, Option[Double])]) =
    values.map { case (ws, v) => ("s1", ws, v) }
      .toDF("series_id", "window_start", "metricvalue")
      .withColumn("metricvalue", col("metricvalue").cast("double"))

  private def slaDf(threshold: Double, op: String, m: Int, n: Int,
      missing: String = "NOT_BREACHING") =
    Seq(("s1", 60, threshold, op, m, n, missing))
      .toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")

  private def states(series: Seq[(Long, Option[Double])],
      threshold: Double, op: String, m: Int, n: Int,
      missing: String = "NOT_BREACHING"): Seq[(Long, String)] =
    AlarmStateMachine.evaluate(seriesDf(series), slaDf(threshold, op, m, n, missing))
      .select("window_start", "statevalue").orderBy("window_start")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  /** Folds explicit slots (a missing slot is None) through the
    * streaming per-slot machine; returns the final state and the
    * transitions in slot order. */
  private def foldSlots(st: AlarmState, conf: SlaConf,
      slots: (Long, Option[Double])*): (AlarmState, List[Transition]) =
    slots.foldLeft((st, List.empty[Transition])) { case ((s, out), (ws, v)) =>
      val (next, tr) = AlarmStream.applySlot(s, "s1", ws, v, conf)
      (next, out ++ tr)
    }

  test("M-of-N: 2 of 3 breaching alarms, 1 of 3 does not") {
    val s = Seq(0L -> Some(10.0), 60L -> Some(1.0), 120L -> Some(10.0))
    // breach when value >= 5; windows: [10] [10,1] [10,1,10]
    assert(states(s, 5.0, "GREATER_THAN_OR_EQUAL_TO_THRESHOLD", 2, 3)
      == Seq(0L -> "OK", 60L -> "OK", 120L -> "ALARM"))
  }

  test("M=N=1 follows each datapoint") {
    val s = Seq(0L -> Some(0.0), 60L -> Some(9.0), 120L -> Some(0.0))
    assert(states(s, 5.0, "GREATER_THAN_THRESHOLD", 1, 1)
      == Seq(0L -> "OK", 60L -> "ALARM", 120L -> "OK"))
  }

  test("missing slots NOT_BREACHING: gap votes non-breach") {
    // slots 0,60,120 with 60 missing; M2 N2 LESS_THAN 5 → values 1 breach
    val s = Seq(0L -> Some(1.0), 120L -> Some(1.0))
    assert(states(s, 5.0, "LESS_THAN_THRESHOLD", 2, 2)
      == Seq(0L -> "OK", 60L -> "OK", 120L -> "OK"))
  }

  test("missing slots BREACHING: gap votes breach") {
    val s = Seq(0L -> Some(1.0), 120L -> Some(1.0))
    assert(states(s, 5.0, "LESS_THAN_THRESHOLD", 2, 2, "BREACHING")
      == Seq(0L -> "OK", 60L -> "ALARM", 120L -> "ALARM"))
  }

  test("IGNORE: window spans last N real datapoints across gaps") {
    // values breach (<5): 1,1 with a gap between; M2 N2 IGNORE → the
    // second real datapoint sees both real breaches → ALARM at 120.
    val s = Seq(0L -> Some(1.0), 120L -> Some(1.0))
    assert(states(s, 5.0, "LESS_THAN_THRESHOLD", 2, 2, "IGNORE")
      == Seq(0L -> "OK", 60L -> "OK", 120L -> "ALARM"))
  }

  test("two SLAs on one series evaluate independently") {
    // warning (>=5, M1N1) and critical (>=9, M1N1) on the same series
    val series = seriesDf(Seq(0L -> Some(6.0), 60L -> Some(9.5), 120L -> Some(1.0)))
    val slas = Seq(
      ("s1", 60, 5.0, "GREATER_THAN_OR_EQUAL_TO_THRESHOLD", 1, 1, "NOT_BREACHING"),
      ("s1", 60, 9.0, "GREATER_THAN_OR_EQUAL_TO_THRESHOLD", 1, 1, "NOT_BREACHING"))
      .toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")
    val out = AlarmStateMachine.evaluate(series, slas)
      .select("threshold", "window_start", "statevalue")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set(
      (5.0, 0L, "ALARM"), (5.0, 60L, "ALARM"), (5.0, 120L, "OK"),
      (9.0, 0L, "OK"), (9.0, 60L, "ALARM"), (9.0, 120L, "OK")))
  }

  test("two SLAs differing only in PERIOD keep separate vote streams") {
    // same threshold/op/M/N — only the period differs; the partition
    // key must split them or both machines interleave votes
    val series = seriesDf(Seq(0L -> Some(9.0), 60L -> Some(9.0),
      120L -> Some(1.0), 180L -> Some(1.0)))
    val slas = Seq(
      ("s1", 60, 5.0, "GREATER_THAN_THRESHOLD", 2, 2, "NOT_BREACHING"),
      ("s1", 120, 5.0, "GREATER_THAN_THRESHOLD", 2, 2, "NOT_BREACHING"))
      .toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")
    val out = AlarmStateMachine.evaluate(series, slas)
      .select("period", "window_start", "statevalue")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    // 60s SLA: windows 0..180 at 60s steps — ALARM once two of the
    // last two vote breach (at 60), back to OK as 1.0s arrive.
    // 120s SLA: its own slot grid 0,120,... from the SAME series rows;
    // the two streams must not share running counts.
    assert(out.contains((60, 60L, "ALARM")), s"$out")
    assert(out.contains((60, 180L, "OK")), s"$out")
    // the 120s config densifies its OWN slot grid from the same rows
    assert(out.filter(_._1 == 120).map(_._2) == Set(0L, 120L), s"$out")
  }

  test("far-future window: the slot grid is clamped to the last maxSlotsPerSeries slots") {
    val rows = AlarmStateMachine.evaluate(
        seriesDf(Seq(0L -> Some(9.0), 60L -> Some(9.0), 6000000L -> Some(9.0))),
        slaDf(5.0, "GREATER_THAN_THRESHOLD", 1, 1), maxSlotsPerSeries = 3)
      .select("window_start", "metricvalue", "statevalue", "prev_state")
      .orderBy("window_start").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getString(2), Option(r.getString(3))))
    assert(rows.toSeq == Seq(
      (5999820L, None, "OK", None), (5999880L, None, "OK", Some("OK")),
      (5999940L, None, "OK", Some("OK")), (6000000L, Some(9.0), "ALARM", Some("OK"))))
  }

  test("NaN metricvalue breaches by Spark ordering, batch and stream alike") {
    // NaN sorts above every double: it breaches GREATER_*, never LESS_*
    val s = Seq(0L -> Some(1.0), 60L -> Some(Double.NaN), 120L -> None,
      180L -> Some(Double.NaN), 240L -> Some(9.0))
    for (op <- ComparisonOperator.all.map(_.name);
         missing <- TreatMissingData.all.map(_.name)) {
      val conf = SlaConf(60L, 5.0, op, 1, 2, missing)
      val stream = s.scanLeft(AlarmStream.EmptyState) { case (st, (ws, v)) =>
        AlarmStream.applySlot(st, "s1", ws, v, conf)._1 }.tail
        .map(st => st.lastWindow.get -> st.state)
      assert(states(s, 5.0, op, 1, 2, missing) == stream, s"$op $missing")
    }
    assert(states(s, 5.0, "GREATER_THAN_THRESHOLD", 1, 1)(1) == 60L -> "ALARM")
    assert(states(s, 5.0, "LESS_THAN_THRESHOLD", 1, 1)(1) == 60L -> "OK")
  }

  test("evaluation_periods 500 over 2,000 slots: batch equals the streaming fold") {
    val rnd = new scala.util.Random(7)
    // low, high and low breach rates around a 520-slot silence, so a
    // 250-of-500 window crosses M both ways and MISSING runs dry
    val slots = (0 until 2000).map { i =>
      val p = if (i >= 600 && i < 1200) 0.8 else 0.2
      (i * 60L, if (i >= 1200 && i < 1720 || rnd.nextDouble() < 0.15) None
        else Some(if (rnd.nextDouble() < p) 9.0 else 1.0))
    }
    for (missing <- TreatMissingData.all.map(_.name)) {
      val conf = SlaConf(60L, 5.0, "GREATER_THAN_THRESHOLD", 250, 500, missing)
      val fold = slots.scanLeft(AlarmStream.EmptyState) { case (st, (ws, v)) =>
        AlarmStream.applySlot(st, "s1", ws, v, conf)._1 }.tail
        .map(st => st.lastWindow.get -> st.state)
      val batch = states(slots, 5.0, "GREATER_THAN_THRESHOLD", 250, 500, missing)
      assert(batch == fold, missing)
      assert(batch.map(_._2).toSet.contains("ALARM") &&
        batch.map(_._2).toSet.contains("OK"), s"$missing never crossed M")
    }
    assert(states(slots, 5.0, "GREATER_THAN_THRESHOLD", 250, 500, "MISSING")
      .map(_._2).contains("INSUFFICIENT_DATA"))
  }

  test("streaming IGNORE matches batch across gaps") {
    val conf = SlaConf(60L, 5.0, "LESS_THAN_THRESHOLD", 2, 2, "IGNORE")
    // batch asserts ALARM at the second real breach despite the gap
    val (st, t) = foldSlots(AlarmStream.EmptyState.copy(state = "OK"), conf,
      0L -> Some(1.0), 60L -> None, 120L -> Some(1.0))
    assert(st.state == "ALARM", s"streaming IGNORE diverged: $st")
    assert(t.map(_.newState) == List("ALARM"))
  }

  test("transition flags fire on change only") {
    val s = Seq(0L -> Some(0.0), 60L -> Some(9.0), 120L -> Some(9.0), 180L -> Some(0.0))
    val rows = AlarmStateMachine.evaluate(seriesDf(s),
        slaDf(5.0, "GREATER_THAN_THRESHOLD", 1, 1))
      .select("window_start", "transitioned").orderBy("window_start")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(rows == Seq(0L -> false, 60L -> true, 120L -> false, 180L -> true))
  }

  test("streaming core: same truth table, incremental batches") {
    val conf = SlaConf(60L, 5.0, "GREATER_THAN_OR_EQUAL_TO_THRESHOLD", 2, 3,
      "NOT_BREACHING")
    val (st1, t1) = foldSlots(
      AlarmStream.EmptyState, conf,
      0L -> Some(10.0), 60L -> Some(1.0))
    assert(t1.map(_.newState) == List("OK"))
    val (st2, t2) = foldSlots(st1, conf, 120L -> Some(10.0))
    assert(t2.map(_.newState) == List("ALARM"))
    val (_, t3) = foldSlots(st2, conf, 180L -> Some(1.0), 240L -> Some(1.0))
    assert(t3.map(_.newState) == List("OK"))
  }

  test("streaming core: MISSING policy yields INSUFFICIENT_DATA on empty window") {
    val conf = SlaConf(60L, 5.0, "GREATER_THAN_THRESHOLD", 1, 2, "MISSING")
    val (_, t) = foldSlots(AlarmStream.EmptyState.copy(state = "OK"), conf,
      0L -> None, 60L -> None)
    assert(t.map(_.newState) == List("INSUFFICIENT_DATA"))
  }
}
