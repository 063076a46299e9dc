package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.model._
import graft.streaming.AlarmStream
import graft.streaming.AlarmStream.AlarmState

/** Property-based coverage (SURVEY §5.2): alarm monotonicity,
  * unique_id charset/stability invariants, ingest record round-trip. */
class PropertySpec extends AnyFunSuite {

  /** Minimal deterministic property driver (scalatestplus bridge is
    * not on the offline classpath): evaluate `f` over `n` samples. */
  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 200)(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb), n) { case (a, b) => f(a, b) }
  private def forAll3[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C], n: Int = 200)(
      f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc), n) { case (a, b, c) => f(a, b, c) }

  private val nameGen = Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(20))
  private val metricGen = for {
    ns <- nameGen; n <- nameGen
    f <- Gen.oneOf(Frequency.all)
    dims <- Gen.listOfN(2, Gen.zip(nameGen, nameGen)).map(_.map {
      case (a, b) => Dimension(a, b) })
  } yield Metric(ns, n, f, "Sum", Widget("d"), dimensions = dims)

  test("unique_id contains only word chars, is lowercase, and is stable") {
    forAll(metricGen) { m =>
      val id = m.uniqueId
      assert(id.matches("[a-z0-9_]*"))
      assert(id == m.uniqueId) // derivation is pure
      assert(id == id.toLowerCase)
    }
  }

  test("*Bucket dimensions never influence keys") {
    forAll2(metricGen, nameGen) { (m, v) =>
      val withBucket = m.copy(dimensions = m.dimensions :+ Dimension(v + "Bucket", "x"))
      assert(withBucket.uniqueId == m.uniqueId)
      assert(withBucket.alarmUniqueId == m.alarmUniqueId)
    }
  }

  test("alarm machine: more breaching datapoints never un-alarms (monotonicity)") {
    val valuesGen = Gen.listOfN(8, Gen.chooseNum(0.0, 10.0))
    forAll3(valuesGen, Gen.chooseNum(1, 4), Gen.chooseNum(1, 4)) { (vs, m0, n0) =>
      val n = math.max(m0, n0); val m = math.min(m0, n0)
      def run(values: List[Double]): String = {
        val conf = AlarmStream.SlaConf(60L, 5.0, "GREATER_THAN_THRESHOLD", m, n,
          "NOT_BREACHING")
        values.zipWithIndex.foldLeft(AlarmState(Nil, Nil, "OK", None, None)) {
          case (st, (v, i)) => AlarmStream.applySlot(st, "s", i * 60L, Some(v), conf)._1
        }.state
      }
      val base = run(vs)
      // raise every value above threshold → breach count can only grow
      val raised = run(vs.map(v => math.max(v, 6.0)))
      assert(!(base == "ALARM" && raised == "OK"),
        s"raising values un-alarmed: $vs")
    }
  }

  test("batch alarm machine equals a slot-by-slot replay of the streaming machine") {
    val spark = SparkTestBase.session
    import spark.implicits._
    import graft.operators.AlarmStateMachine
    import graft.streaming.AlarmStream.SlaConf
    // one random gapped series (absent slots are gaps, some values NaN)
    // per operator × policy × 1 ≤ M ≤ N ≤ 6, each under two SLAs that
    // differ only in period
    val valueGen = Gen.frequency(6 -> Gen.chooseNum(0.0, 10.0).map(Option(_)),
      1 -> Gen.const(Some(Double.NaN)), 3 -> Gen.const(None))
    val cases = (for (op <- ComparisonOperator.all; policy <- TreatMissingData.all;
        n <- 1 to 6; m <- 1 to n) yield (op.name, policy.name, m, n)).zipWithIndex.map {
      case ((op, policy, m, n), i) =>
        val values = Gen.listOfN(14, valueGen).apply(Gen.Parameters.default, Seed(i.toLong)).get
        val pts = values.zipWithIndex.collect { case (Some(v), j) => (j * 60L, v) }
        (s"s$i", pts, (p: Long) => SlaConf(p, 5.0, op, m, n, policy))
    }
    val periods = Seq(60L, 120L)
    val series = cases.flatMap { case (sid, pts, _) => pts.map { case (ws, v) => (sid, ws, v) } }
      .toDF("series_id", "window_start", "metricvalue")
    val slas = cases.flatMap { case (sid, _, conf) => periods.map(conf).map(c =>
        (sid, c.period, c.threshold, c.comparisonOperator, c.datapointsToAlarm,
          c.evaluationPeriods, c.treatMissingData)) }
      .toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")
    val got = AlarmStateMachine.evaluate(series, slas)
      .select("series_id", "period", "window_start", "statevalue", "prev_state", "transitioned")
      .collect().groupBy(r => (r.getString(0), r.getLong(1))).map { case (k, rs) =>
        k -> rs.toSeq.sortBy(_.getLong(2)).map(r =>
          (r.getLong(2), r.getString(3), Option(r.getString(4)), r.getBoolean(5))) }
    for ((sid, pts, conf) <- cases; p <- periods if pts.nonEmpty) {
      // the batch grid runs from the first window to the last, on the
      // SLA's own period; rows off the grid are not slots
      val byWs = pts.toMap
      var st = AlarmStream.EmptyState
      var prev = Option.empty[String]
      val want = (pts.head._1 to pts.last._1 by p).map { ws =>
        st = AlarmStream.applySlot(st, sid, ws, byWs.get(ws), conf(p))._1
        val row = (ws, st.state, prev, prev.exists(_ != st.state))
        prev = Some(st.state)
        row
      }
      assert(got((sid, p)) == want, s"$sid period $p ${conf(p)} over $pts")
    }
  }

  test("comparison operators are complementary at the boundary") {
    forAll2(Gen.chooseNum(-100.0, 100.0), Gen.chooseNum(-100.0, 100.0)) { (v, t) =>
      import ComparisonOperator._
      assert(GreaterThanThreshold.breaches(v, t) != LessThanOrEqualToThreshold.breaches(v, t))
      assert(GreaterThanOrEqualToThreshold.breaches(v, t) != LessThanThreshold.breaches(v, t))
    }
  }

  test("metrics records survive to_json -> from_json round-trip") {
    // the ingest contract: a record serialized by the producer parses
    // back against the fixed schema with no field loss
    val spark = SparkTestBase.session
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, from_json, to_json, struct}
    val df = Seq(("2024-01-02T03:00:00", "NS", "N", 3600, "hour", "Sum",
        """{"k": "v"}""", null.asInstanceOf[String], "acct",
        "2024-01-02T03:00:00", 7.5f, "u1", "N"))
      .toDF(graft.catalog.Schemas.metrics.fieldNames: _*)
    val back = df.select(from_json(to_json(struct(df.columns.map(col): _*)),
      graft.catalog.Schemas.metrics).as("r")).select("r.*")
    assert(back.collect().head == df.collect().head)
    assert(back.schema == graft.catalog.Schemas.metrics)
  }

  test("frequency round-trips by name") {
    forAll(Gen.oneOf(Frequency.all)) { f =>
      assert(Frequency.fromName(f.name) == f)
    }
  }

  // p90 exercises the sample-buffer/GK-sketch percentile state the same
  // batch-split way the decimal Sum path is exercised (advisor round 6).
  for (statistic <- Seq("Sum", "p90"))
  test(s"streaming pipeline step ($statistic): cursor monotone, windows bounded, batch-split invariant") {
    import graft.streaming.StreamingAlarmPipeline
    import graft.streaming.StreamingAlarmPipeline.{ConfiguredPoint, PipeState}
    val period = 60L
    def pt(sec: Long, v: Double) = ConfiguredPoint("s",
      new java.sql.Timestamp(sec * 1000), v, period, 5.0,
      "GREATER_THAN_THRESHOLD", 1, 2, "NOT_BREACHING", statistic)
    val pointsGen = Gen.listOfN(12,
      Gen.zip(Gen.chooseNum(600L, 3000L), Gen.chooseNum(0.0, 10.0)))
    forAll2(pointsGen, Gen.chooseNum(0, 12), n = 150) { (raw, splitAt) =>
      val pts = raw.map { case (s, v) => pt(s, v) }
      val empty = PipeState(Map.empty, AlarmStream.EmptyState, None)
      // one shot: absorb all, then watermark to the far future
      val (s1, out1, _) = StreamingAlarmPipeline.step("s", pts, empty, 0L, statistic)
      val (f1, o1b, _) = StreamingAlarmPipeline.step("s", Nil, s1, 10000L, statistic)
      // split across two micro-batches at an arbitrary point
      val (a, b) = pts.splitAt(splitAt)
      val (s2, out2, _) = StreamingAlarmPipeline.step("s", a, empty, 0L, statistic)
      val (s3, out3, _) = StreamingAlarmPipeline.step("s", b, s2, 0L, statistic)
      val (f2, o3b, _) = StreamingAlarmPipeline.step("s", Nil, s3, 10000L, statistic)
      // same final machine state and same transition stream regardless
      // of micro-batch boundaries (watermark held at 0 while data
      // arrives, so no window closes before all points are absorbed)
      assert(f1.alarm == f2.alarm, s"state diverged: ${f1.alarm} vs ${f2.alarm}")
      assert((out1 ++ o1b) == (out2 ++ out3 ++ o3b))
      // invariants: no open window at/below the evaluation cursor;
      // cursor monotone vs the pre-close state
      assert(f1.open.isEmpty)
      f2.alarm.lastWindow.foreach { lw =>
        assert(f2.open.keys.forall(_ > lw))
      }
    }
  }

  test("BPE greedy merge: string-replace on the separator form equals the " +
      "reference left-to-right fold for random symbol sequences") {
    // the identity graft.pipeline.Bpe builds on: SQL replace (non-
    // overlapping, continue-after-replacement) over
    // SEP s1 SEPSEP s2 ... SEP is EXACTLY the classic greedy merge
    val Sep = "\u001f"
    def wrap(syms: Seq[String]) = Sep + syms.mkString(Sep + Sep) + Sep
    def unwrap(s: String): Seq[String] =
      if (s.length <= 2) Seq.empty
      else s.substring(1, s.length - 1).split(Sep + Sep, -1).toSeq
    // reference greedy: scan left to right, merge (p1,p2) when current
    // element matches p1 and next matches p2, skip both
    def refMerge(syms: Seq[String], p1: String, p2: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == p1 && syms(i + 1) == p2) {
          out += (p1 + p2); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
    val symGen = Gen.oneOf("a", "b", "ab", "ba", "aa")
    val seqGen = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, symGen))
    val pairGen = Gen.zip(symGen, symGen)
    forAll2(seqGen, pairGen, n = 400) { case (syms, (p1, p2)) =>
      val viaReplace = unwrap(wrap(syms)
        .replace(Sep + p1 + Sep + Sep + p2 + Sep, Sep + p1 + p2 + Sep))
      assert(viaReplace == refMerge(syms, p1, p2),
        s"syms=$syms pair=($p1,$p2): $viaReplace vs ${refMerge(syms, p1, p2)}")
    }
  }
  test("ilog2fx: randomized int64 sweep — reference parity, error bound, monotone on sorted samples") {
    // the PipelineSpec pin covers 300+ curated values through the
    // SPARK expression; this drives the same static evaluator over
    // randomized magnitudes across the full positive int64 range
    // (uniform-in-exponent so high bits get as much coverage as low)
    def ref(x0: Long): Long = {
      var t = math.max(x0, 1L); var e = 0L
      for (sh <- Seq(32, 16, 8, 4, 2, 1))
        if (t >= (1L << (30 + sh))) { t >>= sh; e += sh }
      for (sh <- Seq(16, 8, 4, 2, 1))
        if (t < (1L << (31 - sh))) { t <<= sh; e -= sh }
      var f = 0L
      for (_ <- 1 to 20) {
        val sq = t * t
        if (sq >= (1L << 61)) { t = sq >> 31; f = f * 2 + 1 }
        else { t = sq >> 30; f = f * 2 }
      }
      (30L + e) * (1L << 20) + f
    }
    val magGen = for {
      bits <- Gen.chooseNum(0, 62)
      base <- Gen.chooseNum(0L, Long.MaxValue)
    } yield (base % (1L << bits)) + (1L << bits) // uniform exponent, random mantissa
    val samples = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    forAll(magGen, n = 5000) { x =>
      val got = graft.plans.Ilog2Fx.ilog2fx(x)
      assert(got == ref(x), s"x=$x")
      val real = math.log(x.toDouble) / math.log(2.0) * (1L << 20)
      assert(got <= real + 1e-6 && got >= real - 64.0, s"x=$x got=$got real=$real")
      samples += ((x, got))
    }
    // monotone non-decreasing over the sorted sample set
    samples.sortBy(_._1).sliding(2).foreach {
      case scala.collection.mutable.ArrayBuffer((_, a), (_, b)) => assert(a <= b)
      case _ => ()
    }
    // clamp contract: everything below 1 maps to ilog(1) = 0
    Seq(Long.MinValue, -5L, 0L, 1L).foreach(x =>
      assert(graft.plans.Ilog2Fx.ilog2fx(x) == (if (x < 1L) 0L else 0L)))
  }
}
