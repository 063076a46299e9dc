package graft

import java.sql.Timestamp
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.functions.{KeyFns, TextFns, TimeFns}
import graft.operators._
import graft.registry.{DefinitionExport, DefinitionRegistry}

class OperatorSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(epoch: Long) = new Timestamp(epoch * 1000)

  test("StatWindowAgg dispatches every standard statistic (O-12)") {
    val dp = Seq(
      ("a", ts(10), 1.0), ("a", ts(20), 3.0), ("a", ts(70), 5.0),
      ("b", ts(10), 2.0), ("b", ts(20), 4.0))
      .toDF("series_id", "ts", "value")
    def one(stat: String) =
      ComposedReferences.aggregateOne(dp, stat, 60)
        .orderBy("series_id", "window_start")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(one("Sum") == Seq(("a", 0L, 4.0), ("a", 60L, 5.0), ("b", 0L, 6.0)))
    assert(one("Average") == Seq(("a", 0L, 2.0), ("a", 60L, 5.0), ("b", 0L, 3.0)))
    assert(one("Minimum") == Seq(("a", 0L, 1.0), ("a", 60L, 5.0), ("b", 0L, 2.0)))
    assert(one("Maximum") == Seq(("a", 0L, 3.0), ("a", 60L, 5.0), ("b", 0L, 4.0)))
    assert(one("SampleCount") == Seq(("a", 0L, 2.0), ("a", 60L, 1.0), ("b", 0L, 2.0)))
    // percentile_approx returns a member datapoint (no interpolation)
    assert(one("p50") == Seq(("a", 0L, 1.0), ("a", 60L, 5.0), ("b", 0L, 2.0)))
  }

  test("aggregate() filters frequency and looks defs up without a join (O-14/O-20)") {
    val dp = Seq(("u1", ts(10), 1.0), ("u2", ts(10), 2.0))
      .toDF("series_id", "ts", "value")
    val defs = Seq(("u1", "Sum", 60, "minute"), ("u2", "Sum", 3600, "hour"))
      .toDF("unique_id", "statistic", "period", "frequency")
    val out = StatWindowAgg.aggregate(dp, defs, "minute").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("u1"))
    // the definitions enter through the lookup, not a join: the run
    // plan (query stages included) holds no Join and no
    // BroadcastExchange, and its one Exchange is the aggregate's, over
    // partial aggregates
    val all = StatWindowAgg.aggregate(dp, defs, null)
    all.collect()
    val plan = all.queryExecution.executedPlan
    val nodes = new AdaptiveSparkPlanHelper {}.collect(plan) { case p => p }
    assert(nodes.collect { case j: BaseJoinExec => j }.isEmpty, s"definitions joined:\n$plan")
    assert(nodes.collect { case b: BroadcastExchangeExec => b }.isEmpty,
      s"definitions broadcast as a relation:\n$plan")
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.length == 1, s"exchanges besides the aggregate's:\n$plan")
    val below = exchanges.head.child.collectFirst { case a: BaseAggregateExec => a }
    assert(below.exists(_.aggregateExpressions.forall(_.mode == Partial)),
      s"the exchange does not follow partial aggregation:\n$plan")
    assert(exchanges.head.child.collectFirst { case g: GenerateExec => g }.nonEmpty &&
      plan.toString.contains("definition_lookup"), s"no definition lookup:\n$plan")
  }

  test("StatWindowAgg: definition rows sharing a unique_id each get their windows") {
    // Metric.uniqueId omits the statistic, so one series id may carry
    // several statistics; each must come out, as a join would give
    val dp = Seq(("u1", ts(10), 1.0), ("u1", ts(20), 3.0), ("u1", ts(70), 5.0),
      ("u2", ts(10), 2.0)).toDF("series_id", "ts", "value")
    val defs = Seq(("u1", "Sum", 60, "minute"), ("u1", "Maximum", 60, "minute"),
      ("u1", "SampleCount", 3600, "hour"), ("u3", "Sum", 60, "minute"))
      .toDF("unique_id", "statistic", "period", "frequency")
    val got = StatWindowAgg.aggregate(dp, defs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(4), r.getDouble(5))).toSet
    assert(got == Set(("u1", "Sum", 0L, 4.0), ("u1", "Sum", 60L, 5.0),
      ("u1", "Maximum", 0L, 3.0), ("u1", "Maximum", 60L, 5.0),
      ("u1", "SampleCount", 0L, 3.0)), s"$got")
  }

  test("resolveSlas hash-joins on the dimension token and keeps every matching pair once (O-22)") {
    // tokens: (4th, 5th, 7th.. hyphen part of the name before "-SLA")
    val alarms = Seq("p-p-p-cpu-hour-p-host-a-SLA-1", "p-p-p-cpu-hour-p-cpu-SLA-2",
      "p-p-p-mem-day-p-host-b-SLA-3", "p-p-p-cpu-hour-p-HOST-A-SLA-4", "short-SLA-5", null)
      .toDF("alarmname")
    val slaDefs = Seq(("CPU", "hour", "Host-A", 1), ("cpu", "hour", "CPU", 2),
      ("mem", "day", "host-b", 3), ("mem", "hour", "host-b", 4), ("cpu", "hour", null, 5))
      .toDF("metric_name", "frequency", "dimension_value", "sla")
    val resolved = EnrichmentJoins.resolveSlas(alarms, slaDefs)
    // the membership test over every (alarm, SLA) pair
    val derived = KeyFns.alarmDerivedTokens(col("alarmname"))
    val pairs = alarms.crossJoin(slaDefs).filter(
      array_contains(derived, lower(col("metric_name"))) &&
      array_contains(derived, col("frequency")) &&
      array_contains(derived, lower(col("dimension_value"))))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(resolved.columns.toSeq == pairs.columns.toSeq)
    assert(rows(resolved) == rows(pairs))
    // "p-p-p-cpu-hour-p-cpu" derives cpu twice and still matches SLA 2
    // once; SLA 2's dimension value is cpu, so every cpu/hour alarm
    // matches it
    assert(rows(resolved).map(r => (r(0), r(4))) == Seq(("p-p-p-cpu-hour-p-HOST-A-SLA-4", 2),
      ("p-p-p-cpu-hour-p-cpu-SLA-2", 2), ("p-p-p-cpu-hour-p-host-a-SLA-1", 1),
      ("p-p-p-cpu-hour-p-host-a-SLA-1", 2), ("p-p-p-mem-day-p-host-b-SLA-3", 3)))
    val plan = resolved.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && plan.contains("BroadcastHashJoin"),
      s"resolveSlas must hash-join:\n$plan")
  }

  test("StatWindowAgg: NaN and ±Infinity datapoints are no-data") {
    // one series per statistic, each over the window [1, 3, NaN, ±Inf]
    val stats = Seq("Sum" -> 4.0, "Average" -> 2.0, "SampleCount" -> 2.0, "Maximum" -> 3.0)
    val values = Seq(1.0, 3.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val dp = (for ((s, _) <- stats; v <- values) yield (s, ts(10), v))
      .toDF("series_id", "ts", "value")
    val defs = stats.map { case (s, _) => (s, s, 60, "minute") }
      .toDF("unique_id", "statistic", "period", "frequency")
    val got = StatWindowAgg.aggregate(dp, defs).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(got == stats.toMap)
    stats.foreach { case (s, want) =>
      val one = ComposedReferences.aggregateOne(dp.filter(col("series_id") === s), s, 60)
        .collect().map(_.getDouble(2)).toSeq
      assert(one == Seq(want), s)
    }
  }

  test("10-minute end alignment (O-13)") {
    val df = Seq(ts(1234), ts(600), ts(599)).toDF("ts")
    assert(df.select(TimeFns.alignEnd10MinEpoch(col("ts"))).as[Long].collect().toSet
      == Set(1200L, 600L, 0L))
  }

  test("alarmNameToKey inverts alarmName for every registry metric (O-21/O-32)") {
    val metrics = DefinitionRegistry.allAccounts.flatMap(_.metricSets).flatMap(_.metrics)
    val df = metrics.map(m => (m.alarmName(DefinitionRegistry.DefaultRegion),
      m.alarmUniqueId.dropRight(1))).toDF("alarmname", "expected")
    val bad = df.filter(KeyFns.alarmNameToKey(col("alarmname"), 2) =!= col("expected"))
    assert(bad.isEmpty, bad.collect().mkString(","))
  }

  test("alarmDerivedTokens matches sla_parse.py slices (O-32)") {
    val df = Seq("data-gov-awslambda-invocations-day-functionname-hello_world-SLA-Alarm-us-east-1")
      .toDF("alarmname")
    val toks = df.select(KeyFns.alarmDerivedTokens(col("alarmname"))).as[Seq[String]]
      .head()
    assert(toks == Seq("invocations", "day", "hello_world"))
  }

  test("partition key parse: metrics vs sla key shapes (O-26)") {
    val df = Seq(
      "metrics/minute/us-east-1/2024/01/02/03/f.parquet",
      "slas/us-east-1/2024/01/02/03/f.parquet").toDF("key")
    val out = df.select(PartitionOps.parseKey(col("key")).as("p"))
      .select("p.table", "p.region", "p.year", "p.hour")
      .collect().map(r => (r.getString(0), r.getString(1), r.getShort(2), r.getShort(3)))
    assert(out.toSet == Set(
      ("metrics_minute", "us-east-1", 2024.toShort, 3.toShort),
      ("slas", "us-east-1", 2024.toShort, 3.toShort)))
  }

  test("retention TTLs match the reference lifecycle (O-28)") {
    assert(PartitionOps.retentionDays == Map("minute" -> 2, "hour" -> 30, "day" -> 90))
    val parts = Seq(("r", 2024.toShort, 1.toShort, 1.toShort, 0.toShort),
      ("r", 2024.toShort, 3.toShort, 1.toShort, 0.toShort))
      .toDF("region", "year", "month", "day", "hour")
    val asOf = java.time.Instant.parse("2024-03-02T00:00:00Z").getEpochSecond
    assert(PartitionOps.retain(parts, 30, asOf).count() == 1)
    assert(PartitionOps.expired(parts, 30, asOf).count() == 1)
  }

  test("jsonObject spells metadata/dimensions the way json.dumps does (O-33)") {
    // the encoder behind the lake records' metadata and dimensions
    // columns (seriesKeys -> enrichResults -> toMetricsRecords); each
    // expected string is Python's json.dumps of the same dict
    assert(DefinitionExport.jsonObject(Seq("b" -> "2", "a" -> "1"))
      == """{"b": "2", "a": "1"}""")
    assert(DefinitionExport.jsonObject(Nil) == "{}")
    assert(DefinitionExport.jsonObject(Seq(
        "q\"k" -> "back\\slash", "nl" -> "a\nb\r\tc"))
      == """{"q\"k": "back\\slash", "nl": "a\nb\r\tc"}""")
    // other control characters as lowercase four-digit u-escapes
    assert(DefinitionExport.jsonObject(Seq("ctl" -> "\u0001\u001f"))
      == "{\"ctl\": \"\\u0001\\u001f\"}")
  }

  test("arrayHead takes newest-first head with null fallback (O-34)") {
    val df = Seq(Seq(9.0, 1.0), Seq.empty[Double]).toDF("v")
    assert(df.select(RecordShape.arrayHead(col("v"))).as[Option[Double]]
      .collect().toSeq == Seq(Some(9.0), None))
  }

  test("metrics records derive partition columns before write (O-9/O-26)") {
    val enriched = Seq(("u1", "NS", "N", 3600, "hour", "Sum",
        """{"k": "v"}""", null.asInstanceOf[String], 1704164400L, 7.5))
      .toDF("series_id", "namespace", "name", "period", "frequency",
        "statistic", "metadata", "dimensions", "window_start", "metricvalue")
    val rec = RecordShape.toMetricsRecords(enriched, "acct", "eu-1", 0L).collect().head
    assert(rec.getAs[String]("metrictimestamp") == "2024-01-02T03:00:00")
    assert(rec.getAs[Short]("year") == 2024 && rec.getAs[Short]("hour") == 3)
    assert(rec.getAs[String]("collectiontime") == "1970-01-01T00:00:00")
    assert(rec.getAs[Float]("metricvalue") == 7.5f)
  }

  test("driver contract: entry() yields rows; queries and oracles align") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every oracle key must have a query, and names stay stable
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracles without queries: ${os -- qs}")
    assert(qs.size >= 45 && os.size >= 42)
  }

  test("MetricsJob suppresses null scalars and publishes the rest (O-19/O-7)") {
    val df = graft.metrics.MetricsJob.run(spark, sf0001)
    val names = df.select("name").as[String].collect().toSet
    assert(!names.contains("NeverPublished"))
    assert(names.contains("TotalRevenue"))
  }

  test("retention enforcement drops expired partition dirs (O-28)") {
    import java.nio.file.Files
    val lake = Files.createTempDirectory("ret").toString
    val df = Seq(
      ("r", 2024.toShort, 1.toShort, 1.toShort, 0.toShort, 1.0),
      ("r", 2024.toShort, 3.toShort, 1.toShort, 0.toShort, 2.0))
      .toDF("region", "year", "month", "day", "hour", "v")
    df.write.mode("overwrite").partitionBy("region", "year", "month", "day", "hour").parquet(lake)
    val asOf = java.time.Instant.parse("2024-03-02T00:00:00Z").getEpochSecond
    val dropped = PartitionOps.enforceRetention(spark, lake, 30, asOf)
    assert(dropped.size == 1 && dropped.head.contains("month=1"))
    assert(!new java.io.File(s"$lake/region=r/year=2024/month=1").exists()
      || new java.io.File(s"$lake/region=r/year=2024/month=1/day=1/hour=0").listFiles() == null
      || spark.read.parquet(lake).count() == 1)
    assert(spark.read.parquet(lake).select("month").distinct().count() == 1)
  }

  test("retention enforcement on an empty lake drops nothing (O-28)") {
    val lake = java.nio.file.Files.createTempDirectory("ret_empty").toString
    val asOf = java.time.Instant.parse("2024-03-02T00:00:00Z").getEpochSecond
    assert(PartitionOps.enforceRetention(spark, lake, 30, asOf).isEmpty)
  }

  test("job entry scheduling maps (O-37/O-38)") {
    import graft.metrics.MetricsMain
    import graft.model.Frequency
    assert(MetricsMain.cronFor(Frequency.Minute) == "cron(0/1 * * * ? *)")
    assert(MetricsMain.cronFor(Frequency.Day) == "cron(0 0 * * ? *)")
    assert(MetricsMain.triggerFor(Frequency.Minute).toString.contains("60000"))
  }

  test("O-37 scheduler loop fires minute runs without manual invocation") {
    import graft.model.Frequency
    val fires = new java.util.concurrent.atomic.AtomicInteger
    // compressed minute (50 ms) so the test observes multiple firings;
    // hour/day stay at production cadence and must not fire here. The
    // first callback throws to prove a failed run doesn't stop the
    // schedule (EventBridge keeps firing after a failed invocation).
    val seen = scala.collection.concurrent.TrieMap.empty[graft.model.Frequency, Int]
    val sched = new graft.metrics.FrequencyScheduler(
      f => {
        seen.updateWith(f) { c => Some(c.getOrElse(0) + 1) }
        if (f == Frequency.Minute && fires.incrementAndGet() == 1)
          throw new RuntimeException("transient failure")
      },
      periodMillisOverride = Map(Frequency.Minute -> 50L)).start()
    try {
      val deadline = System.currentTimeMillis() + 10000
      while (fires.get() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(fires.get() >= 3, s"minute schedule fired only ${fires.get()} times")
      assert(sched.fireCount(Frequency.Minute) >= 3)
      assert(!seen.contains(Frequency.Hour) && !seen.contains(Frequency.Day))
    } finally sched.close()
  }

  test("GraftExtensions injects xx_minhash; SQL resolves it") {
    // the extensions hook injects exactly the name table (builder-time
    // wiring)...
    val injected = scala.collection.mutable.Buffer.empty[String]
    new graft.plans.GraftExtensions()(
      new org.apache.spark.sql.SparkSessionExtensions {
        override def injectFunction(f: FunctionDescription): Unit = {
          injected += f._1.funcName
          super.injectFunction(f)
        }
      })
    assert(injected.toSeq ==
      graft.plans.GraftExtensions.functions.map(_._1.funcName))
    // ...and the same builders resolve through the registry in SQL form
    val out = sqlSession.sql("SELECT xx_minhash(array('a','b'), 4, 42) AS sig")
      .collect().head.getSeq[Long](0)
    assert(out.size == 4)
    // ilog2_fx resolves in SQL and is exact at powers of two
    assert(sqlSession.sql("SELECT ilog2_fx(1024L) AS lg")
      .collect().head.getLong(0) == 10L * (1L << 20))
  }

  test("multi-account definitions resolve independently (accounts config)") {
    val d2 = DefinitionRegistry.forAccount(DefinitionRegistry.SecondAccount)
    assert(d2.metricSets.map(_.name) == Seq("supplier_quality"))
    val df = graft.metrics.MetricsJob.run(spark, sf0001,
      DefinitionRegistry.SecondAccount, "supplier_quality")
    assert(df.count() == 1)
    assert(df.select("namespace").as[String].head() == "Lake/Quality")
    intercept[NoSuchElementException] {
      DefinitionRegistry.forAccount("999999999999")
    }
  }

  test("as-of join: inclusive ties, carry-forward, null before first quote") {
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(sec * 1000)
    val quotes = Seq(("a", t(10), Some(1.0)), ("a", t(20), Some(2.0)),
      ("a", t(30), None), ("b", t(15), Some(9.0)))
      .toDF("k", "ts", "v")
    val probes = Seq(("a", t(5), 100L), ("a", t(10), 101L), ("a", t(25), 102L),
      ("b", t(14), 103L), ("c", t(50), 104L), ("a", t(35), 105L))
      .toDF("k", "ts", "probe_id")
    val out = graft.operators.AsOfJoin.asOf(probes, quotes, "k", "ts", "v")
      .select("probe_id", "asof_v").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out(100L).isEmpty)          // before any quote
    assert(out(101L).contains(1.0))    // quote at exactly probe ts is visible
    assert(out(102L).contains(2.0))    // carry latest forward
    assert(out(103L).isEmpty)          // other key's quote not visible
    assert(out(104L).isEmpty)          // key with no quotes at all
    // the newest quote has a NULL value: it must NOT be skipped in
    // favor of the older non-null quote
    assert(out(105L).isEmpty)
  }

  test("sessionize: gap boundary is exclusive, ties ordered by tiebreak") {
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(sec * 1000)
    // gaps: 1800 exactly (same session), 1801 (new session)
    val e = Seq((1L, t(0), 1L), (1L, t(1800), 2L), (1L, t(3601), 3L),
      (2L, t(100), 4L)).toDF("user_id", "ts", "event_id")
    val s = graft.operators.Sessionize.sessions(e, "user_id", "ts", "event_id", 1800L)
      .orderBy("user_id", "session_index")
      .select("user_id", "session_index", "n_events", "duration_sec")
      .as[(Long, Long, Long, Long)].collect()
    assert(s.toSeq == Seq((1L, 1L, 2L, 1800L), (1L, 2L, 1L, 0L), (2L, 1L, 1L, 0L)))
  }

  test("binned range join matches the naive theta join, no duplicate pairs") {
    val points = (0L to 200L by 3).toDF("p").withColumn("point_id", col("p"))
    val ivs = Seq((1L, 0L, 10L), (2L, 5L, 5L), (3L, 9L, 120L), (4L, 150L, 40L))
      .toDF("interval_id", "s", "e") // (4) has s > e → dropped
    val binned = graft.operators.RangeJoin.binned(points, ivs, "p", "s", "e", 7L)
      .select("point_id", "interval_id")
      .as[(Long, Long)].collect().toSeq.sorted
    val naive = points.crossJoin(ivs)
      .filter(col("p") >= col("s") && col("p") <= col("e"))
      .select("point_id", "interval_id")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(binned == naive)
    assert(binned.size == binned.distinct.size)
    assert(naive.nonEmpty && !naive.exists(_._2 == 4L))
  }

  test("rollup state merges to the full aggregation regardless of split or order") {
    val e = graft.catalog.Tables.read(spark, sf0001, "events")
    val full = graft.operators.Rollups.finalize(
      graft.operators.Rollups.dayState(e, "event_type", "ts", "value"))
      .orderBy("series", "day").collect().toSeq
    val a = graft.operators.Rollups.dayState(
      e.filter(col("event_id") % 3 === 0), "event_type", "ts", "value")
    val b = graft.operators.Rollups.dayState(
      e.filter(col("event_id") % 3 === 1), "event_type", "ts", "value")
    val c = graft.operators.Rollups.dayState(
      e.filter(col("event_id") % 3 === 2), "event_type", "ts", "value")
    val m1 = graft.operators.Rollups.finalize(graft.operators.Rollups.merge(a, b, c))
      .orderBy("series", "day").collect().toSeq
    val m2 = graft.operators.Rollups.finalize(graft.operators.Rollups.merge(
      graft.operators.Rollups.merge(c, a), b))
      .orderBy("series", "day").collect().toSeq
    assert(m1 == full && m2 == full)
  }

  test("series math: rate between neighbors, integer-exact TWA weights") {
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(sec * 1000)
    val dp = Seq(("a", t(0), 1L, 10.0), ("a", t(10), 2L, 30.0),
      ("a", t(10), 3L, 30.0), // duplicate ts → zero gap, dropped by rate
      ("a", t(40), 4L, 15.0), ("b", t(5), 5L, 1.0))
      .toDF("event_type", "ts", "event_id", "value")
    val rates = graft.operators.SeriesMath.rate(dp, "event_type", "ts",
        "event_id", "value")
      .select("event_id", "rate_per_sec").as[(Long, Double)].collect().toMap
    assert(rates(2L) == 2.0)            // (30-10)/10
    assert(rates(4L) == -0.5)           // (15-30)/30
    assert(!rates.contains(3L) && !rates.contains(1L) && !rates.contains(5L))

    // TWA: values 10.0 (weight 10s), 30.0 (0s, dup ts), 30.0 (30s),
    // 15.0 (last point, no weight) → num = 1000*10 + 3000*30 = 100000,
    // den = 40, twa = 2500 cents
    val twa = graft.operators.SeriesMath.timeWeightedAvg(dp, "event_type",
        "ts", "event_id", "value")
      .filter(col("series") === "a")
      .select("twa_num", "twa_den", "twa_cents")
      .as[(Long, Long, Long)].head()
    assert(twa == ((100000L, 40L, 2500L)))
  }

  test("TWA quotient floors on negative numerators (DuckDB/Python // parity)") {
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(sec * 1000)
    // values negative: cents = floor(-1.25*100) = -125 (weight 30s),
    // floor(0.10*100) = 10 (weight 10s), last carries no weight →
    // num = -125*30 + 10*10 = -3650, den = 40 →
    // floor(-3650/40) = -92 (truncation toward zero would give -91)
    val dp = Seq(("n", t(0), 1L, -1.25), ("n", t(30), 2L, 0.10),
      ("n", t(40), 3L, 0.0)).toDF("event_type", "ts", "event_id", "value")
    val twa = graft.operators.SeriesMath.timeWeightedAvg(dp, "event_type",
        "ts", "event_id", "value")
      .select("twa_num", "twa_den", "twa_cents")
      .as[(Long, Long, Long)].head()
    assert(twa == ((-3650L, 40L, -92L)), s"got $twa")
  }

  test("anomaly z-score: flags a spike, respects min history, stable series quiet") {
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(sec * 1000)
    // series 'a': 20 points at 10.0 then a spike at 100.0; series 'b':
    // too short to ever flag
    val rows = (1L to 20L).map(i => ("a", t(i * 60), i, 10.0)) :+
      ("a", t(21 * 60), 21L, 100.0) :+ ("b", t(60), 50L, 999.0)
    val df = rows.toDF("event_type", "ts", "event_id", "value")
    val out = graft.operators.Anomaly.zScoreFlags(df, "event_type", "ts",
        "event_id", "value")
      .select("event_id", "is_anomaly").as[(Long, Boolean)].collect().toMap
    assert(out(21L), "spike not flagged")
    assert((1L to 20L).forall(i => !out(i)), "stable history flagged")
    assert(!out(50L), "flag without min history")
    // constant-history spike: variance 0 → any deviation flags, and
    // the division-free test cannot divide by zero
    val const = ((1L to 15L).map(i => ("c", t(i * 60), i, 5.0)) :+
      ("c", t(16 * 60), 16L, 5.01)).toDF("event_type", "ts", "event_id", "value")
    val cOut = graft.operators.Anomaly.zScoreFlags(const, "event_type", "ts",
        "event_id", "value")
      .select("event_id", "is_anomaly").as[(Long, Boolean)].collect().toMap
    assert(cOut(16L))
    // wide and long paths agree within the Long-safe envelope
    val both = Seq(true, false).map { wide =>
      graft.operators.Anomaly.zScoreFlags(df, "event_type", "ts",
          "event_id", "value", wide = wide)
        .select("event_id", "is_anomaly").as[(Long, Boolean)]
        .collect().toSeq.sorted
    }
    assert(both(0) == both(1))
    // the wide path survives magnitudes where Long arithmetic overflows
    val big = ((1L to 15L).map(i => ("d", t(i * 60), i, 2.0e7)) :+
      ("d", t(16 * 60), 16L, 9.0e7)).toDF("event_type", "ts", "event_id", "value")
    val wideOut = graft.operators.Anomaly.zScoreFlags(big, "event_type", "ts",
        "event_id", "value")
      .select("event_id", "is_anomaly").as[(Long, Boolean)].collect().toMap
    assert(wideOut(16L))
  }

  test("tf-idf: integer scores, deterministic top-k tie-breaks") {
    val d = Seq((1L, "apple apple banana"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    // positional binding against the documented (idCol, term, tf, df,
    // score) column order
    val scores = graft.pipeline.TfIdf.termScores(d)
      .as[(Long, String, Long, Long, Long)].collect()
      .map { case (id, term, tf, df, score) => (id, term) -> (tf, df, score) }.toMap
    assert(scores((1L, "apple")) == (2L, 1L, 2000000L))   // tf=2, df=1
    assert(scores((1L, "banana")) == (1L, 2L, 500000L))   // tf=1, df=2
    assert(scores((3L, "cherry")) == (3L, 2L, 1500000L))
    val top1 = graft.pipeline.TfIdf.topTerms(d, 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    assert(top1(1L) == "apple" && top1(2L) == "banana" && top1(3L) == "cherry")
  }

  test("table profile: one row per column with null/distinct/minmax; " +
      "key skew audit finds the hot key with smallest-key tie-break") {
    import spark.implicits._
    val d = Seq((1L, Some("a")), (2L, None), (3L, Some("a")), (4L, Some("b")))
      .toDF("id", "v")
    val prof = graft.operators.Profiling.profile(d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(prof("id") == ((4L, 0L, 4L, "1", "4")))
    assert(prof("v") == ((4L, 1L, 2L, "a", "b")))
    val sk = Seq("x", "x", "x", "y", "z", "w", "w", "w")
      .toDF("k")
    val row = graft.operators.Profiling.keySkew(sk, "k").collect().head
    // w and x tie at 3 -> smallest key wins; skew = 3 / (8/4) = 1.5
    assert(row.getAs[Long]("n_rows") == 8L && row.getAs[Long]("n_keys") == 4L)
    assert(row.getAs[String]("top_key") == "w" && row.getAs[Long]("top_cnt") == 3L)
    assert(row.getAs[Long]("skew_x1000") == 1500L)
  }

  test("histogram: equi-width bins, clamped outliers visible, zero rows emitted") {
    import spark.implicits._
    val d = Seq(5L, 15L, 15L, 25L, 99L, -3L).map(Some(_)).toDF("v")
      .unionByName(Seq(Option.empty[Long]).toDF("v"))
    // lo=0 hi=29 buckets=3 -> width 10; -3 clamps into bucket 0, 99 into 2
    val h = graft.operators.Profiling.histogram(d, "v", buckets = 3, lo = 0L, hi = 29L)
      .orderBy("bucket").as[(Int, Long, Long, Long)].collect().toSeq
    assert(h == Seq((0, 0L, 9L, 2L), (1, 10L, 19L, 2L), (2, 20L, 29L, 2L)), s"$h")
    // empty middle bucket emits an explicit zero
    val sparse = Seq(1L, 25L).toDF("v")
    val h2 = graft.operators.Profiling.histogram(sparse, "v", 3, 0L, 29L)
      .orderBy("bucket").select("cnt").as[Long].collect().toSeq
    assert(h2 == Seq(1L, 0L, 1L))
  }

  test("referential integrity: orphan counts exact, null FKs separate, hot orphan key") {
    import spark.implicits._
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(9L), Some(9L), Some(9L), None)
      .toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val row = graft.operators.Profiling.refIntegrity(child, parent, "fk", "pk")
      .collect().head
    assert(row.getAs[Long]("child_rows") == 7L)
    assert(row.getAs[Long]("null_key_rows") == 1L)
    assert(row.getAs[Long]("orphan_rows") == 3L && row.getAs[Long]("orphan_keys") == 1L)
    assert(row.getAs[String]("top_orphan_key") == "9"
      && row.getAs[Long]("top_orphan_rows") == 3L)
    assert(row.getAs[Long]("orphan_ppm") == 1000000L * 3 / 7)
    // clean child: zero row with null top key
    val clean = graft.operators.Profiling.refIntegrity(
      Seq(1L, 2L).toDF("fk"), parent, "fk", "pk").collect().head
    assert(clean.getAs[Long]("orphan_rows") == 0L
      && clean.getAs[String]("top_orphan_key") == null)
  }

  test("last-touch attribution: window eligibility, same-instant touch, dark conversion") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      (1L, ts(0), 10L, "view"),
      (2L, ts(50), 10L, "click"),
      (3L, ts(100), 10L, "purchase"),    // -> click 2 (last touch)
      (4L, ts(5000), 10L, "purchase"),   // touches too old (lookback 1000s) -> dark
      (5L, ts(6000), 10L, "view"),
      (6L, ts(6000), 10L, "purchase"),   // same-instant touch eligible -> view 5
      (7L, ts(0), 20L, "purchase"))      // no touches at all -> dark
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.operators.Attribution.lastTouch(ev, "purchase",
        Seq("view", "click"), lookbackSec = 1000L)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Long]), r.getString(3)))).toMap
    assert(got(3L) == ((Some(2L), "click")))
    assert(got(4L) == ((None, null)), "stale touch not attributed")
    assert(got(6L) == ((Some(5L), "view")), "same-instant touch eligible")
    assert(got(7L) == ((None, null)))
    assert(got.size == 4, "every conversion keeps a row")
  }

  test("debounce: anchor-based keep-set, boundary inclusive, per-(user,type) isolation") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      (1L, ts(0), 10L, "click"),   // keep, anchor 0
      (2L, ts(10), 10L, "click"),  // within 60s of anchor -> drop
      (3L, ts(30), 10L, "click"),  // still within anchor window -> drop
      (4L, ts(70), 10L, "click"),  // past anchor+60 -> keep, new anchor 70
      (5L, ts(130), 10L, "click"), // exactly anchor+60 -> keep (inclusive)
      (6L, ts(5), 10L, "view"),    // different type: independent, keep
      (7L, ts(20), 20L, "click"))  // different user: independent, keep
      .toDF("event_id", "ts", "user_id", "event_type")
    val kept = graft.operators.Debounce.debounce(ev, windowSec = 60L)
      .select("event_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L, 6L, 7L), s"got $kept")
    // drizzle: events every 30s for 5 minutes with a 60s window must
    // keep every other one, not only the first (anchor advances)
    val drizzle = (0 until 10).map(i => (100L + i, ts(i * 30L), 1L, "e"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val dKept = graft.operators.Debounce.debounce(drizzle, windowSec = 60L)
      .select("event_id").as[Long].collect().toSet
    assert(dKept == Set(100L, 102L, 104L, 106L, 108L), s"got $dKept")
  }

  test("robust stats: lower median, MAD, Hampel fence incl. zero-MAD degenerate") {
    import spark.implicits._
    val d = Seq(("a", 1L, 10L), ("a", 2L, 12L), ("a", 3L, 14L), ("a", 4L, 100L),
      ("b", 5L, 7L), ("b", 6L, 7L), ("b", 7L, 7L), ("b", 8L, 50L))
      .toDF("g", "id", "v")
    // group a: sorted 10,12,14,100 -> lower median (rank 2) = 12;
    // devs 2,0,2,88 -> sorted 0,2,2,88 -> MAD = 2; fence 3*2=6 -> 100 out
    // group b: median 7, devs 0,0,0,43 -> MAD 0 -> every non-median out
    val med = graft.operators.RobustStats.groupMedian(d, "g", "v")
      .as[(String, Long)].collect().toMap
    assert(med == Map("a" -> 12L, "b" -> 7L))
    val summary = graft.operators.RobustStats.madSummary(d, "g", "v", k = 3)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(summary("a") == ((4L, 12L, 2L, 1L)))
    assert(summary("b") == ((4L, 7L, 0L, 1L)), "zero MAD flags any deviation")
  }

  test("event transitions: per-user ordering, ppm normalization, no cross-user edge") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      (1L, ts(1), 10L, "view"), (2L, ts(2), 10L, "click"), (3L, ts(3), 10L, "buy"),
      (4L, ts(1), 20L, "view"), (5L, ts(2), 20L, "click"), (6L, ts(3), 20L, "view"),
      (7L, ts(9), 30L, "buy")) // single event: no transition
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.operators.Transitions.eventTransitions(ev)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // view->click x2 (only transition out of view), click->buy, click->view
    assert(got(("view", "click")) == ((2L, 1000000L)))
    assert(got(("click", "buy")) == ((1L, 500000L)))
    assert(got(("click", "view")) == ((1L, 500000L)))
    // user 10's buy never chains into user 20's view
    assert(!got.contains(("buy", "view")) && got.size == 3)
  }

  test("join cardinality pre-flight: exact product counts, null keys out, " +
      "match rates, empty-match row") {
    import spark.implicits._
    // left: a×3 b×2 null×1; right: a×2 c×1 -> join rows = 3*2 = 6
    val l = Seq(Some("a"), Some("a"), Some("a"), Some("b"), Some("b"), None)
      .toDF("k")
    val r = Seq("a", "a", "c").toDF("k")
    val row = graft.operators.Profiling.joinCardinality(l, r, "k").collect().head
    assert(row.getAs[Long]("join_rows") == 6L)
    assert(row.getAs[Long]("matched_keys") == 1L)
    assert(row.getAs[String]("top_key") == "a" && row.getAs[Long]("top_rows") == 6L)
    assert(row.getAs[Long]("left_match_ppm") == 500000L, "1 of 2 left keys")
    assert(row.getAs[Long]("right_match_ppm") == 500000L)
    // exactness: predicted rows equals the actual join output
    assert(l.filter(col("k").isNotNull).join(r, Seq("k")).count() == 6L)
    // disjoint keys -> one row of zeros, null top key
    val none = graft.operators.Profiling.joinCardinality(
      Seq("x").toDF("k"), Seq("y").toDF("k"), "k").collect().head
    assert(none.getAs[Long]("join_rows") == 0L
      && none.getAs[Long]("matched_keys") == 0L
      && none.getAs[String]("top_key") == null
      && none.getAs[Long]("top_rows") == 0L)
  }

  test("definition export round-trips through JSON schema (O-11/O-5)") {
    val out = java.nio.file.Files.createTempDirectory("defs").toString
    DefinitionExport.dump(spark, DefinitionRegistry.allAccounts, out)
    val back = spark.read.schema(graft.catalog.Schemas.metricDefs)
      .json(s"$out/metrics")
    assert(back.count() ==
      DefinitionRegistry.allAccounts.flatMap(_.metricSets).flatMap(_.metrics).size)
    val nBusiness = DefinitionRegistry.allAccounts.flatMap(_.metricSets)
      .flatMap(_.metrics).count(_.isInstanceOf[graft.model.BusinessMetric])
    assert(back.filter(col("query").isNotNull).count() == nBusiness)
  }

  test("cusumShift: sustained drift crosses at the hand-computed index; " +
      "negative shifts mirror; stable series never alarms") {
    // warmup 3, mu = 10; +3 drift from idx 5 with slack 0, threshold 5:
    // post-warmup sp walks 0 (idx4), 3, 6, 9 → crossing at absolute idx 6
    val up = (1 to 4).map(i => ("s", i.toLong, 10L)) ++
      (5 to 7).map(i => ("s", i.toLong, 13L))
    val r1 = Anomaly.cusumShift(up.toDF("series", "o", "x"), "series", "o",
      "x", warmup = 3, slack = 0L, threshold = 5L).collect().head
    assert(r1.getAs[Long]("mu") == 10L && r1.getAs[Long]("max_cusum") == 9L)
    assert(r1.getAs[Long]("first_shift_idx") == 6L)
    // mirrored negative shift: sn = 6 at the first dropped point
    val down = (1 to 3).map(i => ("s", i.toLong, 10L)) ++ Seq(("s", 4L, 4L))
    val r2 = Anomaly.cusumShift(down.toDF("series", "o", "x"), "series", "o",
      "x", warmup = 3, slack = 0L, threshold = 5L).collect().head
    assert(r2.getAs[Long]("max_cusum") == 6L &&
      r2.getAs[Long]("first_shift_idx") == 4L)
    // flat series: cusum never leaves zero, no alarm row value
    val flat = (1 to 6).map(i => ("s", i.toLong, 10L))
    val r3 = Anomaly.cusumShift(flat.toDF("series", "o", "x"), "series", "o",
      "x", warmup = 3, slack = 0L, threshold = 5L).collect().head
    assert(r3.getAs[Long]("max_cusum") == 0L && r3.isNullAt(r3.fieldIndex("first_shift_idx")))
    // series shorter than warmup produce no row
    val short = (1 to 3).map(i => ("t", i.toLong, 10L))
    assert(Anomaly.cusumShift(short.toDF("series", "o", "x"), "series", "o",
      "x", warmup = 3, slack = 0L, threshold = 5L).count() == 0L)
  }

  test("fdCheck: violation mass counted in rows and groups") {
    val d = Seq(("a", "x"), ("a", "y"), ("b", "z"), ("b", "z"))
      .toDF("det", "dep")
    val r = Profiling.fdCheck(d, "det", "dep").collect().head
    assert(r.getAs[Long]("n_groups") == 2L &&
      r.getAs[Long]("n_violating_groups") == 1L)
    assert(r.getAs[Long]("n_rows") == 4L &&
      r.getAs[Long]("n_violating_rows") == 2L)
    assert(r.getAs[Long]("violation_ppm") == 500000L)
  }

  test("orderInversions: backsteps counted per key, monotone keys absent") {
    val e = Seq(
      (1L, 1L, ts(10)), (1L, 2L, ts(5)), (1L, 3L, ts(20)),   // one backstep of 5s
      (2L, 1L, ts(1)), (2L, 2L, ts(2)))                       // monotone
      .toDF("user_id", "event_id", "ts")
    val got = Profiling.orderInversions(e, "user_id", "ts", "event_id")
      .select("user_id", "n_events", "n_inversions", "max_backstep_micros")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 1L, 5000000L)))
  }

  test("histogramEquiDepth: ~n/k rows per bucket, ties stay whole, " +
      "heavy tie can empty a bucket") {
    // 8 rows, 4 buckets → 2 per bucket
    val even = (1L to 8L).map(v => Tuple1(v)).toDF("v")
    val g1 = Profiling.histogramEquiDepth(even, "v", buckets = 4)
      .select("bucket", "lo", "hi", "cnt")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(g1 == Seq((0, 1L, 2L, 2L), (1, 3L, 4L, 2L), (2, 5L, 6L, 2L),
      (3, 7L, 8L, 2L)))
    // 6 copies of one value + 2 singles, 4 buckets: the tie group is
    // assigned by its LAST row (rank 6 → bucket 2), buckets 0-1 empty
    val tied = (Seq.fill(6)(5L) ++ Seq(7L, 9L)).map(Tuple1(_)).toDF("v")
    val g2 = Profiling.histogramEquiDepth(tied, "v", buckets = 4)
      .select("bucket", "lo", "hi", "cnt")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(g2 == Seq((2, 5L, 5L, 6L), (3, 7L, 9L, 2L)))
  }

  test("benfordDigits: leading digits counted, sub-1 values excluded, " +
      "schema-stable 9 rows") {
    val d = Seq(1.5, 19.0, 2.0, 300.0, 0.5).toDF("v")
    val got = Profiling.benfordDigits(d, "v")
      .select("digit", "cnt", "share_ppm")
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(got.length == 9)
    assert(got.take(3).toSeq == Seq((1, 2L, 500000L), (2, 1L, 250000L),
      (3, 1L, 250000L)))
    assert(got.drop(3).forall { case (_, c, s) => c == 0L && s == 0L })
  }

  test("ingestion manifest: order-free, multiset-faithful, diff verdicts") {
    import spark.implicits._
    import graft.operators.Profiling
    val a = Seq(("p1", 1L, "x"), ("p1", 2L, "y"), ("p2", 3L, "z"))
      .toDF("pt", "id", "v")
    // same multiset, different row order → identical manifest
    val sameShuffled = Seq(("p1", 2L, "y"), ("p2", 3L, "z"), ("p1", 1L, "x"))
      .toDF("pt", "id", "v")
    val m = Profiling.ingestionManifest(a, Seq("pt"), Seq("id", "v"))
      .orderBy("pt").collect().toSeq
    val m2 = Profiling.ingestionManifest(sameShuffled, Seq("pt"), Seq("id", "v"))
      .orderBy("pt").collect().toSeq
    assert(m == m2)
    // duplicated row (XOR-blind case), mutated value, missing partition
    val bad = Seq(("p1", 1L, "x"), ("p1", 1L, "x"), ("p1", 2L, "y"),
      ("p1", 1L, "x"), ("p1", 2L, "y"))
      .toDF("pt", "id", "v") // p1: rows duplicated (even AND odd), p2 gone
    val diff = Profiling.manifestDiff(
        Profiling.ingestionManifest(a, Seq("pt"), Seq("id", "v")),
        Profiling.ingestionManifest(bad, Seq("pt"), Seq("id", "v")), Seq("pt"))
      .orderBy("pt").as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(diff == Seq(("p1", 2L, 5L, 3L, false), ("p2", 1L, 0L, -1L, false)))
    // equal count, one mutated cell → checksum catches it
    val mut = Seq(("p1", 1L, "x"), ("p1", 2L, "Y"), ("p2", 3L, "z"))
      .toDF("pt", "id", "v")
    val diff2 = Profiling.manifestDiff(
        Profiling.ingestionManifest(a, Seq("pt"), Seq("id", "v")),
        Profiling.ingestionManifest(mut, Seq("pt"), Seq("id", "v")), Seq("pt"))
      .orderBy("pt").as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(diff2 == Seq(("p1", 2L, 2L, 0L, false), ("p2", 1L, 1L, 0L, true)))
  }
}
