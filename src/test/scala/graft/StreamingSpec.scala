package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.LakeIngest

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("lake ingest lands partitioned parquet + corrupt side-output (O-9)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val out = Files.createTempDirectory("lake").toString
    val err = Files.createTempDirectory("lakeerr").toString
    val ckpt = Files.createTempDirectory("ckpt").toString

    val good =
      """{"collectiontime":"2024-01-02T03:00:00","namespace":"NS","name":"N",
        |"period":3600,"frequency":"hour","statistic":"Sum","metadata":null,
        |"dimensions":null,"accountid":"a","metrictimestamp":"2024-01-02T03:00:00",
        |"metricvalue":7.5,"id":"u1","label":"N"}""".stripMargin.replace("\n", "")
    // valid JSON that merely omits the nullable id field: must LAND in
    // the lake, not be diverted to the error prefix (corrupt = the
    // line failed to parse, not "a nullable field is absent")
    val goodNoId =
      """{"collectiontime":"2024-01-02T03:00:00","namespace":"NS","name":"N2",
        |"period":3600,"frequency":"hour","statistic":"Sum","metadata":null,
        |"dimensions":null,"accountid":"a","metrictimestamp":"2024-01-02T03:00:00",
        |"metricvalue":1.5,"label":"N2"}""".stripMargin.replace("\n", "")
    mem.addData(good, "{ this is not json }", goodNoId)

    val q = LakeIngest.start(mem.toDF(), out, err, ckpt,
      trigger = Trigger.ProcessingTime("1 second"))
    try { q.processAllAvailable() } finally q.stop()

    val landed = spark.read.parquet(out)
    assert(landed.count() == 2, "the id-less valid record was dropped")
    assert(landed.filter(col("id").isNull).count() == 1)
    val row = landed.filter(col("id") === "u1").collect().head
    assert(row.getAs[String]("region") == "local-1")
    // partition cols come back as Int from directory-name inference
    assert(row.getAs[Int]("year") == 2024 && row.getAs[Int]("hour") == 3)
    // Hive-style partition dirs actually exist on disk
    assert(new java.io.File(s"$out/region=local-1/year=2024/month=1/day=2/hour=3")
      .exists())
    assert(spark.read.text(err).count() == 1)
  }

  test("streaming stat agg: watermarked windows emit on watermark pass (O-12)") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    val mem = MemoryStream[(String, Timestamp, Double)]
    val dp = mem.toDF().toDF("series_id", "ts", "value")
    val agg = graft.streaming.StreamingStatAgg.aggregate(dp, "Sum", 60, "1 minute")
    val q = agg.writeStream.format("memory").queryName("stat_out")
      .outputMode("append").start()
    def t(e: Long) = new Timestamp(e * 1000)
    try {
      mem.addData(("s1", t(10), 1.0), ("s1", t(20), 3.0))
      q.processAllAvailable()
      // advance watermark well past the first window
      mem.addData(("s1", t(300), 5.0))
      q.processAllAvailable()
      mem.addData(("s1", t(600), 7.0))
      q.processAllAvailable()
      val out = spark.table("stat_out")
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
      assert(out.get(0L).contains(4.0)) // first window emitted after watermark passed
    } finally q.stop()
  }

  test("streaming stat agg applies the batch statistic rule: non-finite values are no-data") {
    import java.sql.Timestamp
    def t(e: Long) = new Timestamp(e * 1000)
    // NaN / ±Infinity beside finite values, and a window holding only NaN
    val points = Seq(
      ("s1", t(10), 1.0), ("s1", t(20), Double.NaN),
      ("s1", t(70), 2.0), ("s1", t(75), Double.PositiveInfinity), ("s1", t(80), 3.0),
      ("s1", t(130), Double.NegativeInfinity), ("s1", t(140), 4.0),
      ("s2", t(10), Double.NaN), ("s2", t(70), 5.0))
    for (stat <- graft.operators.StatWindowAgg.standardStats :+ "p90") {
      val streamed = graft.streaming.PipelineReplay
        .replayStatAgg(spark, points, stat, 60).toSet
      val batch = graft.operators.StatWindowAgg
        .aggregateOne(points.toDF("series_id", "ts", "value"), stat, 60)
        .as[(String, Long, Double)].collect().toSet
      assert(streamed == batch, s"$stat: stream $streamed vs batch $batch")
    }
  }

  test("lake ingest resumes from checkpoint without duplicating rows (O-9)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val out = Files.createTempDirectory("lake2").toString
    val err = Files.createTempDirectory("lakeerr2").toString
    val ckpt = Files.createTempDirectory("ckpt2").toString
    def rec(id: String) =
      s"""{"collectiontime":"2024-01-02T03:00:00","namespace":"NS","name":"N","period":3600,"frequency":"hour","statistic":"Sum","metadata":null,"dimensions":null,"accountid":"a","metrictimestamp":"2024-01-02T03:00:00","metricvalue":7.5,"id":"$id","label":"N"}"""
    mem.addData(rec("u1"), rec("u2"))
    val q1 = LakeIngest.start(mem.toDF(), out, err, ckpt,
      trigger = Trigger.ProcessingTime("1 second"))
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() == 2)
    // restart on the SAME checkpoint: already-committed batches must
    // not land again; the new record must.
    mem.addData(rec("u3"))
    val q2 = LakeIngest.start(mem.toDF(), out, err, ckpt,
      trigger = Trigger.ProcessingTime("1 second"))
    try { q2.processAllAvailable() } finally q2.stop()
    val ids = spark.read.parquet(out).select("id")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(ids == Seq("u1", "u2", "u3"), s"got $ids")
  }

  test("streaming dedup drops repeated content within the watermark") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    val mem = MemoryStream[(Timestamp, String, Long)]
    val df = mem.toDF().toDF("ts", "text", "doc_id")
    val q = graft.streaming.StreamDedup.dedupStream(df)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def t(e: Long) = new Timestamp(e * 1000)
    try {
      mem.addData((t(10), "hello world", 1L), (t(20), "hello world", 2L),
        (t(30), "other doc", 3L))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("streaming near-dup flags minhash-band matches across batches") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val q = graft.streaming.StreamNearDup.candidateStream(df, threshold = 0.3)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    def t(e: Long) = new Timestamp(e * 1000)
    val body = "the quick brown fox jumps over the lazy dog again and again today"
    try {
      mem.addData((t(10), 1L, body),
        (t(20), 2L, "completely unrelated text about spark physical plans and shuffles"))
      q.processAllAvailable()
      // near-copy arrives in a LATER batch: must match doc 1 from state
      mem.addData((t(30), 3L, body + " extra tail"))
      q.processAllAvailable()
      val pairs = spark.table("neardup_out").select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 3L)), s"got $pairs")
      assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), s"got $pairs")
      // at-least-once replay: doc 3 delivered again must not re-emit
      // the (1,3) pair or inflate bucket state
      val before = spark.table("neardup_out").count()
      mem.addData((t(31), 3L, body + " extra tail"))
      q.processAllAvailable()
      assert(spark.table("neardup_out").count() == before,
        "replayed doc_id re-emitted candidate pairs")
    } finally q.stop()
  }

  test("streaming session_window matches batch sessionization on closed sessions") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    val mem = MemoryStream[(Timestamp, Long, Long, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "event_id", "value")
    val q = graft.streaming.StreamSessions.sessionStats(df,
        gap = "10 minutes", watermark = "1 minute")
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    def t(sec: Long) = new Timestamp(sec * 1000)
    try {
      // user 1: two events 5 min apart (one session), then a 20-min gap
      // (new session); user 2: one event
      mem.addData((t(0), 1L, 1L, 1.0), (t(300), 1L, 2L, 2.0),
        (t(100), 2L, 3L, 5.0))
      q.processAllAvailable()
      // advance the watermark far past everything so sessions close
      mem.addData((t(100000), 9L, 99L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions_out")
        .select("user_id", "session_start", "n_events", "sum_value")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(rows.contains((1L, 0L, 2L, 3.0)), s"got $rows")
      assert(rows.contains((2L, 100L, 1L, 5.0)), s"got $rows")
      // batch twin agrees on the same events
      val batch = graft.operators.Sessionize.sessions(
        Seq((t(0), 1L, 1L), (t(300), 1L, 2L), (t(100), 2L, 3L))
          .toDF("ts", "user_id", "event_id"),
        "user_id", "ts", "event_id", 600L)
        .select("user_id", "n_events").as[(Long, Long)].collect().toSet
      assert(batch == Set((1L, 2L), (2L, 1L)))
    } finally q.stop()
  }

  test("streaming interval union merges across batches, matches batch islands") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    val mem = MemoryStream[(Timestamp, Long, Timestamp)]
    val df = mem.toDF().toDF("start_ts", "key", "end_ts")
    val q = graft.streaming.StreamIntervals.islands(df)
      .writeStream.format("memory").queryName("islands_out")
      .outputMode("append").start()
    def t(sec: Long) = new Timestamp(sec * 1000)
    try {
      // batch 1 leaves key 1's island OPEN (watermark = max start = 40)
      mem.addData((t(0), 1L, t(100)), (t(40), 2L, t(60)))
      q.processAllAvailable()
      // batch 2 overlaps the open island (50 ≤ 100) → state merge;
      // touching case: key 2 starts exactly at its island end (60)
      mem.addData((t(50), 1L, t(150)), (t(60), 2L, t(70)))
      q.processAllAvailable()
      mem.addData((t(100000), -1L, t(100001))) // close everything
      q.processAllAvailable()
      val rows = spark.table("islands_out")
        .filter(col("key") >= 0)
        .select("key", "island_start", "island_end", "n_intervals",
          "covered_sec")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(rows == Set((1L, 0L, 150L, 2L, 150L), (2L, 40L, 70L, 2L, 30L)),
        s"got $rows")
      // batch twin agrees on the same intervals
      val batch = graft.operators.Intervals.mergeIslands(
        Seq((1L, 0L, 100L), (2L, 40L, 60L), (1L, 50L, 150L), (2L, 60L, 70L))
          .toDF("key", "start_epoch", "end_epoch"))
        .select("key", "island_start", "island_end", "n_intervals",
          "covered_sec")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(batch == rows, s"batch $batch vs stream $rows")
    } finally q.stop()
  }

  test("streaming alarm transitions via flatMapGroupsWithState (O-23)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Double)]
    // one datapoint per window under Maximum: each window's value is
    // its one point
    val q = graft.streaming.StreamingAlarmPipeline
      .evaluateStream(mem.toDF().toDF("series_id", "ts", "value"),
        alarmSlas("s1", 2, 3, "NOT_BREACHING"), "Maximum", watermark = "0 seconds")
      .writeStream.format("memory").queryName("alarm_out")
      .outputMode("append").start()
    def pt(ws: Long, v: Double) = ("s1", new java.sql.Timestamp(ws * 1000), v)
    try {
      mem.addData(pt(600, 9.0), pt(660, 9.0))
      q.processAllAvailable()
      mem.addData(pt(720, 1.0), pt(780, 1.0), pt(840, 1.0))
      q.processAllAvailable()
      val out = spark.table("alarm_out")
        .select("windowStart", "prevState", "newState")
        .orderBy("windowStart")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      // batch 1: first point settles to OK, second breach → ALARM;
      // batch 2: breaches age out of the 3-window at ws=780 → OK (the
      // window at 840 is still open: the watermark sits at its start).
      assert(out == Seq(
        (600L, "INSUFFICIENT_DATA", "OK"),
        (660L, "OK", "ALARM"),
        (780L, "ALARM", "OK")))
    } finally q.stop()
  }

  /** One SLA on `sid`: period 60, Maximum > 5.0, M of N. */
  private def alarmSlas(sid: String, m: Int, n: Int, missing: String) =
    Seq((sid, 60L, 5.0, "GREATER_THAN_THRESHOLD", m, n, missing))
      .toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")

  test("end-to-end stream: datapoints → stat windows → alarm transitions") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    val mem = MemoryStream[(String, Timestamp, Double)]
    val dp = mem.toDF().toDF("series_id", "ts", "value")
    val slas = Seq(("s1", 60L, 5.0, "GREATER_THAN_THRESHOLD", 1, 1, "NOT_BREACHING"))
      .toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")
    val q = graft.streaming.StreamingAlarmPipeline
      .evaluateStream(dp, slas, "Sum", watermark = "0 seconds")
      .writeStream.format("memory").queryName("e2e_alarm")
      .outputMode("append").start()
    def t(e: Long) = new Timestamp(e * 1000)
    try {
      // window [600,660): sum 9 > 5 breaches; [660,720): sum 1 → OK
      mem.addData(("s1", t(610), 4.0), ("s1", t(620), 5.0), ("s1", t(670), 1.0))
      q.processAllAvailable()
      mem.addData(("s1", t(1000), 1.0)) // watermark closes both windows
      q.processAllAvailable()
      mem.addData(("s1", t(2000), 1.0)) // …and flushes them through the machine
      q.processAllAvailable()
      val out = spark.table("e2e_alarm")
        .select("windowStart", "prevState", "newState").orderBy("windowStart")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(out.take(2) == Seq(
        (600L, "INSUFFICIENT_DATA", "ALARM"),
        (660L, "ALARM", "OK")), s"got $out")
    } finally q.stop()
  }

  test("one stream evaluates SLAs with different statistics side by side") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    val mem = MemoryStream[(String, Timestamp, Double)]
    val dp = mem.toDF().toDF("series_id", "ts", "value")
    // same threshold, opposite outcomes by statistic: window [600,660)
    // carries values 2,4 → Sum 6 breaches >5, Maximum 4 does not.
    // def_series has a NULL statistic → falls back to the stream-wide
    // default (SampleCount: 2 points ≤ 5 → OK)
    val slas = Seq(
      ("sum_series", 60L, 5.0, "GREATER_THAN_THRESHOLD", 1, 1, "NOT_BREACHING", "Sum"),
      ("max_series", 60L, 5.0, "GREATER_THAN_THRESHOLD", 1, 1, "NOT_BREACHING", "Maximum"),
      ("def_series", 60L, 5.0, "GREATER_THAN_THRESHOLD", 1, 1, "NOT_BREACHING",
        null.asInstanceOf[String]))
      .toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data",
        "statistic")
    val q = graft.streaming.StreamingAlarmPipeline
      .evaluateStream(dp, slas, statistic = "SampleCount", // null rows only
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("e2e_multi_stat")
      .outputMode("append").start()
    def t(e: Long) = new Timestamp(e * 1000)
    try {
      mem.addData(("sum_series", t(610), 2.0), ("sum_series", t(620), 4.0),
        ("max_series", t(610), 2.0), ("max_series", t(620), 4.0),
        ("def_series", t(610), 2.0), ("def_series", t(620), 4.0))
      q.processAllAvailable()
      mem.addData(("sum_series", t(1000), 0.0), ("max_series", t(1000), 0.0),
        ("def_series", t(1000), 0.0))
      q.processAllAvailable()
      val out = spark.table("e2e_multi_stat")
        .filter(col("windowStart") === 600L)
        .select("seriesId", "newState")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(out == Set(("sum_series", "ALARM"), ("max_series", "OK"),
        ("def_series", "OK")), s"got $out")
    } finally q.stop()
  }

  test("end-to-end stream: silent series reaches INSUFFICIENT_DATA through the pipeline") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    val mem = MemoryStream[(String, Timestamp, Double)]
    val dp = mem.toDF().toDF("series_id", "ts", "value")
    val slas = Seq(
      ("s1", 60L, 5.0, "GREATER_THAN_THRESHOLD", 1, 2, "MISSING"),
      ("s2", 60L, 5.0, "GREATER_THAN_THRESHOLD", 1, 2, "MISSING"))
      .toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")
    val q = graft.streaming.StreamingAlarmPipeline
      .evaluateStream(dp, slas, "Sum", watermark = "0 seconds")
      .writeStream.format("memory").queryName("e2e_silent")
      .outputMode("append").start()
    def t(e: Long) = new Timestamp(e * 1000)
    try {
      // s1 breaches in window 600 then goes silent; s2 keeps reporting
      // so the watermark advances and fires s1's timer
      mem.addData(("s1", t(610), 9.0), ("s2", t(610), 1.0))
      q.processAllAvailable()
      mem.addData(("s2", t(1300), 1.0))
      q.processAllAvailable()
      mem.addData(("s2", t(2000), 1.0))
      q.processAllAvailable()
      val out = spark.table("e2e_silent")
        .filter(col("seriesId") === "s1")
        .select("windowStart", "prevState", "newState").orderBy("windowStart")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      // window 600 closes → ALARM; slots 660, 720 pass unreported →
      // the N=2 slot window empties → INSUFFICIENT_DATA at 720
      assert(out == Seq(
        (600L, "INSUFFICIENT_DATA", "ALARM"),
        (720L, "ALARM", "INSUFFICIENT_DATA")), s"got $out")
    } finally q.stop()
  }

  test("streaming alarm: multi-window gap casts one missing vote per slot (BREACHING)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Double)]
    // M=3 of N=3, BREACHING: only ≥3 consecutive missing slots alarm
    val q = graft.streaming.StreamingAlarmPipeline
      .evaluateStream(mem.toDF().toDF("series_id", "ts", "value"),
        alarmSlas("g1", 3, 3, "BREACHING"), "Maximum", watermark = "0 seconds")
      .writeStream.format("memory").queryName("alarm_gap")
      .outputMode("append").start()
    def pt(ws: Long, v: Double) = ("g1", new java.sql.Timestamp(ws * 1000), v)
    try {
      // gap of exactly 3 windows (720, 780, 840 missing) between 660
      // and 900; the point at 960 moves the watermark to 900's end,
      // which closes that window
      mem.addData(pt(600, 1.0), pt(660, 1.0), pt(900, 1.0), pt(960, 1.0))
      q.processAllAvailable()
      val out = spark.table("alarm_gap")
        .select("windowStart", "prevState", "newState")
        .orderBy("windowStart")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      // densified gap: votes at 720/780 are missing→breaching but only
      // 2 of 3; at 840 all three window slots are missing → ALARM; the
      // real point at 900 breaks the streak → OK. Identical to the
      // batch variant on the densified timeline.
      assert(out == Seq(
        (600L, "INSUFFICIENT_DATA", "OK"),
        (840L, "OK", "ALARM"),
        (900L, "ALARM", "OK")), s"got $out")

      // batch twin on the same densified timeline
      val series = Seq(("g1", 600L, 1.0), ("g1", 660L, 1.0), ("g1", 900L, 1.0))
        .toDF("series_id", "window_start", "metricvalue")
      val slas = Seq(("g1", 60L, 5.0, "GREATER_THAN_THRESHOLD", 3, 3, "BREACHING"))
        .toDF("series_id", "period", "threshold", "comparison_operator",
          "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")
      val batch = graft.operators.AlarmStateMachine.evaluate(series, slas)
        .filter(col("transitioned"))
        .select("window_start", "prev_state", "statevalue")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(batch == Set((840L, "OK", "ALARM"), (900L, "ALARM", "OK")),
        s"batch got $batch")
    } finally q.stop()
  }

  test("lake ingest compacts a closed partition after the lag elapses (O-9 + compaction)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val out = Files.createTempDirectory("lakec").toString
    val err = Files.createTempDirectory("lakecerr").toString
    val ckpt = Files.createTempDirectory("ckptc").toString
    def rec(id: String, hour: Int): String =
      s"""{"collectiontime":"2024-01-02T0$hour:00:00","namespace":"NS","name":"N",
         |"period":3600,"frequency":"hour","statistic":"Sum","metadata":null,
         |"dimensions":null,"accountid":"a","metrictimestamp":"2024-01-02T0$hour:00:00",
         |"metricvalue":7.5,"id":"$id","label":"N"}""".stripMargin.replace("\n", "")

    val q = LakeIngest.start(mem.toDF(), out, err, ckpt,
      trigger = Trigger.ProcessingTime("1 second"), compactLagBatches = 2)
    try {
      // three micro-batches land three files in the hour=3 partition
      (1 to 3).foreach { i =>
        mem.addData(rec(s"h3-$i", 3)); q.processAllAvailable()
      }
      val part3 = new java.io.File(s"$out/region=local-1/year=2024/month=1/day=2/hour=3")
      def parquets(d: java.io.File) =
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
      assert(parquets(part3).length == 3, s"expected 3 pre-compaction files")
      // event time moves to hour=4; after 2 batches without touching
      // hour=3 the lag elapses and the partition is rewritten
      (1 to 2).foreach { i =>
        mem.addData(rec(s"h4-$i", 4)); q.processAllAvailable()
      }
      assert(parquets(part3).length == 1,
        s"hour=3 not compacted: ${parquets(part3).length} files")
      // identical rows survive the rewrite and the open partition is untouched
      val landed = spark.read.parquet(out)
      assert(landed.filter(col("hour") === 3).count() == 3)
      assert(landed.filter(col("hour") === 4).count() == 2)
      assert(landed.filter(col("hour") === 3)
        .select("id").collect().map(_.getString(0)).sorted.toSeq ==
        Seq("h3-1", "h3-2", "h3-3"))
    } finally q.stop()
  }

  test("streaming percentile statValue crosses the sample fold and matches batch percentile_approx") {
    import graft.streaming.StreamingAlarmPipeline
    // 10,000 values in one window: crosses the 4096-sample foldSamples
    // compaction twice, so both the raw-buffer path and the
    // reconstruct-GK-then-insert path are exercised. Deterministic
    // pseudo-shuffle (LCG) so insertion order is adversarial, not sorted.
    val n = 10000
    var seed = 1L
    val values = (1 to n).map { i =>
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % 1000000) / 100.0
    }
    for (stat <- Seq("p50", "p90", "p99", "p99.9")) {
      val win = values.foldLeft(StreamingAlarmPipeline.EmptyWin)(
        StreamingAlarmPipeline.absorb(_, _, keepSamples = true))
      val streamed = StreamingAlarmPipeline.statValue(stat, win)
      val batch = graft.operators.StatWindowAgg.aggregateOne(
        values.map(v => ("s", new java.sql.Timestamp(0L), v))
          .toDF("series_id", "ts", "value"),
        stat, periodSeconds = 60)
        .collect().head.getAs[Double]("metricvalue")
      // below 100k samples both sides are the exact rank statistic —
      // bit-equal, not approximately equal (the scaladoc's claim)
      assert(streamed == batch, s"$stat: streamed $streamed != batch $batch")
      // and the exact rank statistic is a member of the input
      assert(values.contains(streamed), s"$stat result not a member datapoint")
    }
  }

  test("streaming p90 SLA alarms identically to the batch machine on the same fixture") {
    import graft.streaming.StreamingAlarmPipeline
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Double)]
    val slas = Seq(("p1", 60L, 50.0, "GREATER_THAN_THRESHOLD", 2, 3, "NOT_BREACHING"))
      .toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")
    val q = StreamingAlarmPipeline.evaluateStream(
        mem.toDF().toDF("series_id", "ts", "value"), slas,
        statistic = "p90", watermark = "0 seconds")
      .writeStream.format("memory").queryName("p90_alarm")
      .outputMode("append").start()
    def pts(winStart: Long, vs: Seq[Double]) = vs.zipWithIndex.map {
      case (v, i) => ("p1", new java.sql.Timestamp((winStart + i) * 1000), v) }
    try {
      // window 600: p90 of 1..10*10 = 100 > 50 breach; 660: low; 720:
      // breach; 780: breach → M=2 of N=3 satisfied at 720
      mem.addData(pts(600, (1 to 10).map(_ * 10.0)): _*)
      mem.addData(pts(660, Seq.fill(10)(1.0)): _*)
      mem.addData(pts(720, (1 to 10).map(_ * 10.0)): _*)
      mem.addData(pts(780, (1 to 10).map(_ * 10.0)): _*)
      mem.addData(("p1", new java.sql.Timestamp(900 * 1000), 1.0)) // closes 780
      q.processAllAvailable()
      val streamed = spark.table("p90_alarm")
        .select("windowStart", "prevState", "newState").orderBy("windowStart")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

      val points = (pts(600, (1 to 10).map(_ * 10.0)) ++
        pts(660, Seq.fill(10)(1.0)) ++ pts(720, (1 to 10).map(_ * 10.0)) ++
        pts(780, (1 to 10).map(_ * 10.0)))
        .toDF("series_id", "ts", "value")
      val series = graft.operators.StatWindowAgg.aggregateOne(points, "p90", 60)
      val batch = graft.operators.AlarmStateMachine.evaluate(series, slas)
        .filter(col("transitioned"))
        .select("window_start", "prev_state", "statevalue").orderBy("window_start")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(streamed.exists(_._3 == "ALARM"), s"no ALARM in $streamed")
      // the batch machine's first window has no lag() predecessor so it
      // never emits the initial INSUFFICIENT_DATA→OK transition; the
      // streaming machine does. Drop it, then the streams must be equal.
      assert(streamed.filterNot(_._2 == "INSUFFICIENT_DATA") == batch,
        s"streamed $streamed != batch $batch")
    } finally q.stop()
  }

  test("alarm pipeline state survives a query restart from checkpoint") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    val ckpt = Files.createTempDirectory("alarm_ckpt").toString
    val outDir = Files.createTempDirectory("alarm_out").toString
    val mem = MemoryStream[(String, Timestamp, Double)]
    val dp = mem.toDF().toDF("series_id", "ts", "value")
    // M=2 of N=3 so the ALARM transition REQUIRES state carried across
    // the restart: one breaching window lands before the stop, the
    // second after — a machine that lost its ring buffer on restore
    // would stay OK
    val slas = Seq(("s1", 60L, 5.0, "GREATER_THAN_THRESHOLD", 2, 3, "NOT_BREACHING"))
      .toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")
    // parquet sink: the memory sink is not fault-tolerant and refuses
    // checkpoint recovery — a file sink is the restart-capable shape
    def start() = graft.streaming.StreamingAlarmPipeline
      .evaluateStream(dp, slas, "Sum", watermark = "0 seconds")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def t(e: Long) = new Timestamp(e * 1000)
    val q1 = start()
    try {
      // [600,660): 9 breaches; point at 700 advances the watermark to
      // 700, closing ONLY window 600 → machine state now holds one
      // breach vote (1 of 3 < M → OK) and an open [660,720) at 0.0
      mem.addData(("s1", t(610), 9.0), ("s1", t(700), 0.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from checkpoint; [720,780) breaches, watermark moves to
    // 790 closing 660 (ok) then 720 (breach) → ring = [breach@600,
    // ok@660, breach@720] = 2 of 3 → ALARM, possible ONLY if the
    // pre-restart breach vote survived the state-store round trip
    val q2 = start()
    try {
      mem.addData(("s1", t(730), 9.0), ("s1", t(790), 0.0))
      q2.processAllAvailable()
      val out = spark.read.parquet(outDir)
        .select("windowStart", "prevState", "newState").orderBy("windowStart")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(out.exists { case (w, _, s) => w == 720L && s == "ALARM" },
        s"no post-restart ALARM from carried state: $out")
      // no duplicated or reset transitions: windowStarts strictly increase
      assert(out.map(_._1) == out.map(_._1).distinct.sorted, s"replayed/reset: $out")
    } finally q2.stop()
  }

  test("bad SLA config and statistics fail at stream construction, not mid-stream") {
    import graft.streaming.StreamingAlarmPipeline
    val dp = spark.range(0).selectExpr("'s' as series_id",
      "current_timestamp() as ts", "0.0 as value")
    def slasWith(period: Long, op: String, tmd: String) =
      Seq(("s1", period, 5.0, op, 1, 1, tmd))
        .toDF("series_id", "period", "threshold", "comparison_operator",
          "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")
    val okSlas = slasWith(60L, "GREATER_THAN_THRESHOLD", "NOT_BREACHING")
    // period must be positive — floorDiv(ts, 0) would kill the stream
    intercept[IllegalArgumentException] {
      StreamingAlarmPipeline.evaluateStream(
        dp, slasWith(0L, "GREATER_THAN_THRESHOLD", "NOT_BREACHING"), "Sum")
    }
    // typo'd enum names die here with the bad name, not on first close
    intercept[IllegalArgumentException] {
      StreamingAlarmPipeline.evaluateStream(
        dp, slasWith(60L, "greaterthan", "NOT_BREACHING"), "Sum")
    }
    intercept[IllegalArgumentException] {
      StreamingAlarmPipeline.evaluateStream(
        dp, slasWith(60L, "GREATER_THAN_THRESHOLD", "missng"), "Sum")
    }
    // the batch machine's SLA check: evaluation_periods below 1 and a
    // null threshold or datapoints_to_alarm die here, not when the
    // first window is evaluated
    for (bad <- Seq(okSlas.withColumn("evaluation_periods", lit(0)),
        okSlas.withColumn("threshold", lit(null).cast("double")),
        okSlas.withColumn("datapoints_to_alarm", lit(null).cast("int"))))
      intercept[IllegalArgumentException] {
        StreamingAlarmPipeline.evaluateStream(dp, bad, "Sum")
      }
    // out-of-range and malformed percentiles are "unsupported", not a
    // deferred QuantileSummaries/NumberFormat crash
    for (bad <- Seq("p200", "p1.2.3", "p.", "p0"))
      intercept[IllegalArgumentException] {
        StreamingAlarmPipeline.evaluateStream(dp, okSlas, bad)
      }
  }

  test("non-finite datapoints are no-data, and a far-future point cannot suppress missing-data evaluation") {
    import graft.streaming.StreamingAlarmPipeline.{ConfiguredPoint, PipeState}
    import graft.streaming.StreamingAlarmPipeline
    val period = 60L
    def pt(sec: Long, v: Double) = ConfiguredPoint("s",
      new java.sql.Timestamp(sec * 1000), v, period, 5.0,
      "GREATER_THAN_THRESHOLD", 1, 2, "MISSING", "Sum")
    val empty = PipeState(Map.empty, graft.streaming.AlarmStream.EmptyState, None)
    // NaN/Infinity absorb as no-data instead of NumberFormatException
    val (s1, _, _) = StreamingAlarmPipeline.step("s",
      Seq(pt(610, Double.NaN), pt(615, Double.PositiveInfinity), pt(620, 9.0)),
      empty, 0L, "Sum")
    assert(s1.open(600L).count == 1 && s1.open(600L).sum.toDouble == 9.0,
      s"non-finite values leaked into the aggregate: ${s1.open}")
    // a corrupt year-56k timestamp opens a window the watermark will
    // never pass; missing-data slots below the watermark must still
    // evaluate (the machine reaches INSUFFICIENT_DATA, not silence)
    val farFuture = 1742000000000L // epoch-millis misparsed as seconds
    val (s2, _, _) = StreamingAlarmPipeline.step("s",
      Seq(pt(610, 9.0), pt(farFuture, 1.0)), empty, 0L, "Sum")
    val (s3, out3, _) = StreamingAlarmPipeline.step("s", Nil, s2, 2000L, "Sum")
    assert(s3.open.contains(math.floorDiv(farFuture, period) * period))
    assert(s3.alarm.lastWindow.exists(_ >= 1800L),
      s"cursor stuck at ${s3.alarm.lastWindow} with an open far-future window")
    // the machine left INSUFFICIENT_DATA despite the stuck window:
    // window 600 evaluated (ALARM) and the silent MISSING slots after
    // it kept voting — evaluation did not freeze
    assert(s3.alarm.state != "INSUFFICIENT_DATA" || out3.nonEmpty,
      s"machine never evaluated: ${s3.alarm}")
  }

  test("idle TTL retires a silent series' state; fresh data restarts a new machine") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    val mem = MemoryStream[(String, Timestamp, Double)]
    val dp = mem.toDF().toDF("series_id", "ts", "value")
    // s2 exists to advance the GLOBAL watermark while s1 is silent —
    // with one series, the watermark stalls with its data and the TTL
    // timer can never fire
    val slas = Seq(
      ("s1", 60L, 5.0, "GREATER_THAN_THRESHOLD", 1, 1, "NOT_BREACHING"),
      ("s2", 60L, 5.0, "GREATER_THAN_THRESHOLD", 1, 1, "NOT_BREACHING"))
      .toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")
    val q = graft.streaming.StreamingAlarmPipeline
      .evaluateStream(dp, slas, "Sum", watermark = "0 seconds",
        idleTtlPeriods = 3)
      .writeStream.format("memory").queryName("e2e_ttl")
      .outputMode("append").start()
    def t(e: Long) = new Timestamp(e * 1000)
    try {
      mem.addData(("s1", t(610), 9.0), ("s2", t(610), 1.0))
      q.processAllAvailable()
      mem.addData(("s1", t(700), 0.0), ("s2", t(700), 1.0)) // closes 600 → s1 ALARM
      q.processAllAvailable()
      // s1 silent; s2 pushes the watermark 3+ periods past s1's last
      // datapoint (700 + 180) → s1's timer fires, state retires
      mem.addData(("s2", t(5000), 1.0))
      q.processAllAvailable()
      mem.addData(("s1", t(9000), 9.0)) // fresh s1 data after retirement
      q.processAllAvailable()
      mem.addData(("s2", t(12000), 1.0)) // close s1's 9000-era window
      q.processAllAvailable()
      val out = spark.table("e2e_ttl")
        .filter(col("seriesId") === "s1")
        .select("windowStart", "prevState", "newState").orderBy("windowStart")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(out.exists { case (w, _, s) => w == 600L && s == "ALARM" }, s"$out")
      // the 8940-era evaluation starts from a FRESH machine: its first
      // transition leaves INSUFFICIENT_DATA, proving the retired state
      // (which ended in OK after the 660 window) was dropped
      val late = out.filter(_._1 >= 8000L)
      assert(late.nonEmpty && late.head._2 == "INSUFFICIENT_DATA",
        s"state survived retirement: $late")
    } finally q.stop()
  }

  test("state restore fails fast on a checkpoint from a different state version") {
    import graft.streaming.StreamingAlarmPipeline
    import graft.streaming.StreamingAlarmPipeline.PipeState
    val current = PipeState(Map.empty, graft.streaming.AlarmStream.EmptyState, None)
    assert(current.stateVersion == StreamingAlarmPipeline.StateVersion)
    // same restore guard the flatMapGroupsWithState function applies
    assert(StreamingAlarmPipeline.requireStateVersion(current) eq current)
    val stale = current.copy(stateVersion = StreamingAlarmPipeline.StateVersion - 1)
    val ex = intercept[IllegalStateException] {
      StreamingAlarmPipeline.requireStateVersion(stale)
    }
    assert(ex.getMessage.contains("state version"))
    assert(ex.getMessage.contains("new checkpoint directory"))
  }

  test("streaming funnel chains stages across batches and matches batch depth") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    def t(m: Int) = new Timestamp(m * 60000L)
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("user_id", "ts", "event_type")
    val stages = Seq("view", "click", "purchase")
    val q = graft.streaming.StreamFunnel.funnelStream(df, stages)
      .toDF("user_id", "stage_reached")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    try {
      // batch 1: user 1 views+clicks; user 2 views; user 3's click
      // arrives out of order WITHIN the batch (before its view) and
      // must still chain; user 4 clicks with no view (no progress)
      mem.addData((1L, t(0), "view"), (1L, t(1), "click"),
        (2L, t(0), "view"),
        (3L, t(2), "click"), (3L, t(1), "view"),
        (4L, t(0), "click"))
      q.processAllAvailable()
      // batch 2: user 1 purchases (chains across batches); user 2
      // purchases WITHOUT a click (stays at depth 1)
      mem.addData((1L, t(5), "purchase"), (2L, t(5), "purchase"))
      q.processAllAvailable()
      val depth = spark.table("funnel_out")
        .groupBy("user_id").agg(max("stage_reached").as("d"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(depth == Map(1L -> 3, 2L -> 1, 3L -> 2), s"got $depth")
      // parity: batch funnel over the full log sees the same stage
      // populations (stage i counts users with depth >= i)
      val log = Seq((1L, t(0), "view"), (1L, t(1), "click"),
        (2L, t(0), "view"), (3L, t(2), "click"), (3L, t(1), "view"),
        (4L, t(0), "click"), (1L, t(5), "purchase"), (2L, t(5), "purchase"))
        .toDF("user_id", "ts", "event_type")
      val batch = graft.operators.Funnel.funnel(log, stages)
        .select("stage", "users").as[(Int, Long)].collect().toMap
      val fromStream = (1 to 3)
        .map(i => i -> depth.values.count(_ >= i).toLong).toMap
      assert(batch == fromStream, s"batch $batch vs stream $fromStream")
    } finally q.stop()
  }

  test("streaming heavy hitters: cross-batch MG accumulation, bounded state, " +
      "superset of exact qualifiers") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val df = mem.toDF().toDF("token")
    // capture each micro-batch's emission separately: Update mode
    // re-emits a touched bucket's FULL current summary, so a batch's
    // per-bucket token count IS that bucket's state size. A memory
    // sink would accumulate rows for tokens evicted in LATER batches
    // (and last() without ordering is nondeterministic), measuring
    // sink history instead of state.
    val emissions =
      scala.collection.mutable.ArrayBuffer[Seq[(Int, String, Long)]]()
    val q = graft.streaming.StreamHeavyHitters.candidates(df,
        buckets = 4, capacity = 3)
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[
           graft.streaming.StreamHeavyHitters.Candidate], _: Long) =>
          val rows = b.collect().toSeq.map(c => (c.bucket, c.token, c.mg_count))
          emissions.synchronized { emissions += rows }
          ()
      }
      .start()
    try {
      val b1 = Seq.fill(10)("hot") ++ Seq.fill(4)("warm") ++
        (0 until 6).map(i => s"t$i")
      val b2 = Seq.fill(8)("hot") ++ (6 until 12).map(i => s"t$i")
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val batches = emissions.synchronized { emissions.toSeq }
        .filter(_.nonEmpty)
      assert(batches.size == 2, s"expected 2 non-empty batches: $batches")
      // 'hot' (18 of 34 rows) must survive with a cross-batch count:
      // MG in its bucket can shed at most bucketN/capacity. Latest
      // state = the LAST batch that emitted hot's bucket.
      val lastHot = batches.reverse.iterator
        .flatMap(_.find(_._2 == "hot")).toSeq.headOption
      assert(lastHot.isDefined, s"superset violated: $batches")
      assert(lastHot.get._3 > 10L, s"cross-batch accumulation: $lastHot")
      // state boundedness PER BATCH: every emitted summary (the full
      // state of its bucket at that batch) holds ≤ capacity tokens
      batches.foreach { rows =>
        val perBucket = rows.groupBy(_._1).view.mapValues(_.size)
        assert(perBucket.values.forall(_ <= 3),
          s"capacity exceeded in a batch: $perBucket")
      }
    } finally q.stop()
  }

  test("stream cusum: cross-batch fold equals the batch operator bit-exactly") {
    // two series: one clean +5 shift after warmup, one flat
    val pts = (1L to 4L).map(o => ("up", o, 10L)) ++
      (5L to 9L).map(o => ("up", o, 15L)) ++
      (1L to 9L).map(o => ("flat", o, 10L))
    val batch = graft.operators.Anomaly.cusumShift(
        pts.toDF("series", "o", "x"), "series", "o", "x",
        warmup = 3, slack = 2L, threshold = 6L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    // 4 micro-batches: state must survive and fold identically
    val stream = graft.streaming.PipelineReplay.replayCusum(spark,
        pts, batches = 4, warmup = 3, slack = 2L, threshold = 6L)
      .map { case (s, n, mu, mx, fi) => s -> ((n, mu, mx, fi)) }.toMap
    assert(stream == batch, s"stream $stream != batch $batch")
    // sanity on the walk itself: +3 net drift per point from idx 5
    // (sp = 3, 6, 9 — strictly exceeds 6 at idx 7)
    assert(batch("up")._4.contains(7L), "crossing at the hand-computed index")
    assert(batch("flat")._3 == 0L && batch("flat")._4.isEmpty)
  }

  test("stream-stream interval join: window-bounded, key-scoped, inner-exact") {
    def ts(epoch: Long) = new java.sql.Timestamp(epoch * 1000L)
    // key 1: left@100 matches right@50 (in [-100,+60]) and right@160
    // (boundary: +60 exactly); right@161 is out. key 2 never matches
    // key 1; lone left on key 3 matches nothing.
    val lefts = Seq((1L, ts(100), 10L), (2L, ts(100), 20L), (3L, ts(500), 30L))
    val rights = Seq((1L, ts(50), 11L), (1L, ts(160), 12L), (1L, ts(161), 13L),
      (2L, ts(90), 21L))
    val out = graft.streaming.PipelineReplay.replayIntervalJoin(spark,
      lefts, rights, beforeSec = 100L, afterSec = 60L, watermarkSec = 30L)
    assert(out.toSet == Set((1L, 10L, Some(11L)), (1L, 10L, Some(12L)),
      (2L, 20L, Some(21L))))
    // left outer: the lone key-3 left emits with a null match once the
    // watermark clears its window; matched rows are identical
    val outer = graft.streaming.PipelineReplay.replayIntervalJoin(spark,
      lefts, rights, beforeSec = 100L, afterSec = 60L, watermarkSec = 30L,
      joinType = "left_outer")
    assert(outer.toSet == Set((1L, 10L, Some(11L)), (1L, 10L, Some(12L)),
      (2L, 20L, Some(21L)), (3L, 30L, None)))
  }

  test("stream-stream join state PLATEAUS at window-span x rate, " +
      "independent of stream length") {
    // the eviction contract the intervalJoin scaladoc claims, proven:
    // 1 event/sec/side on one key, window ±60s, watermark 30s, fed in
    // 60s micro-batches. State may hold at most the rows still inside
    // (window span + watermark + one batch of slack) on each side —
    // model bound (60+60+30+60) x 2 sides = 420 rows — and a 3x
    // longer stream must peak at the SAME plateau, not 3x higher.
    def ts(epoch: Long) = new java.sql.Timestamp(epoch * 1000L)
    def mk(n: Long) = (
      (0L until n).map(i => (1L, ts(1000000L + i), 2L * i)),
      (0L until n).map(i => (1L, ts(1000000L + i), 2L * i + 1L)))
    val (l1, r1) = mk(600L)
    val s1 = graft.streaming.PipelineReplay.measureIntervalJoinState(
      spark, l1, r1, beforeSec = 60L, afterSec = 60L,
      watermarkSec = 30L, chunkSec = 60L)
    val (l3, r3) = mk(1800L)
    val s3 = graft.streaming.PipelineReplay.measureIntervalJoinState(
      spark, l3, r3, beforeSec = 60L, afterSec = 60L,
      watermarkSec = 30L, chunkSec = 60L)
    assert(s1.nonEmpty && s3.nonEmpty)
    val (p1, p3) = (s1.max, s3.max)
    assert(p1 <= 600L, s"peak state $p1 exceeds the window-span model")
    assert(p3 <= 600L, s"peak state $p3 exceeds the window-span model")
    // plateau: tripling the stream moves the peak < 20%, i.e. state
    // scales with the WINDOW, never the stream
    assert(p3 <= (p1 * 12L) / 10L, s"3x stream peak $p3 vs 1x peak $p1")
    // eviction is live: mid-stream state sits well below total input
    assert(s3.last < 3600L, "final state must not hold the whole stream")
  }
}
