package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Deterministic MemoryStream replays of the streaming operators
 * ([[StreamingAlarmPipeline]], [[StreamDedup]], [[StreamSessions]],
 * [[StreamFunnel]], [[StreamingStatAgg]], [[StreamHeavyHitters]],
 * [[StreamNearDup]], ...) — the verification bridge that puts each
 * streaming path under the same DuckDB oracle as its batch twin. The
 * reference has no streaming analytics surface at all (ingest only,
 * cdk_constructs/kinesis_construct.py:121-146), and the alarm
 * evaluation it wires (cw_alarm.py) must emit the same transition
 * timeline on the stream as on the batch machine.
 *
 * VERIFICATION harnesses, not production operators: feeding a
 * MemoryStream requires the fixture on the driver, so callers collect
 * the bounded declared-query fixture (≤ ~100k tuples at sf0.1).
 * Production streams use the operators on a real source.
 *
 * Shared determinism mechanics (per-operator notes at each method):
 *  - all real rows land in ONE micro-batch (or a fixed explicit batch
 *    split) so cross-engine comparison never depends on Spark's batch
 *    slicing; operators that fold state sort each group's slice, so
 *    intra-batch order is canonical;
 *  - append-mode window operators get SENTINEL rows (filtered from the
 *    result) whose event time advances the global watermark strictly
 *    past every real window's close, forcing emission — Spark fires an
 *    event-time timer only once the watermark strictly exceeds it, so
 *    a sentinel at exactly the close would leave the last window open;
 *  - every replay runs on a CHILD session with 2 shuffle partitions
 *    (state groups are few; the parent's 32 partitions would only
 *    multiply empty state-store tasks per micro-batch, measured ~3×
 *    the whole alarm replay) and registers its query in a live set.
 *    `StreamingQueryManager` is per-session, so a leaked replay never
 *    shows in the parent's `spark.streams.active`; [[activeReplays]]
 *    is how Bench's residue drain sees it.
 */
object PipelineReplay {
  private val runId = new java.util.concurrent.atomic.AtomicInteger(0)

  private val live: java.util.Set[StreamingQuery] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[StreamingQuery]()

  /** Replay queries still running (empty unless a replay leaked).
    * Prunes entries whose query has since stopped — e.g. a leaked
    * replay a harness drain stopped from outside — so a past leak
    * can't keep reporting residue after the JVM is quiet again. */
  def activeReplays: Seq[StreamingQuery] = {
    import scala.jdk.CollectionConverters._
    live.removeIf(q => !q.isActive)
    live.asScala.toSeq
  }

  private def child(spark: SparkSession): SparkSession = {
    val c = spark.newSession()
    c.conf.set("spark.sql.shuffle.partitions", "2")
    c
  }

  /** Start `df` into a named memory sink, run `feed` (addData +
    * processAllAvailable), return the collected sink rows; always
    * stops the query and drops the sink view. The query leaves the
    * live set only once it is actually down — a failed stop() leaves
    * it registered so a harness-level drain can see and retry it. */
  private def runToMemory(sess: SparkSession, df: DataFrame, mode: String)(
      feed: StreamingQuery => Unit): Seq[org.apache.spark.sql.Row] = {
    val name = s"pipeline_replay_${runId.incrementAndGet()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    live.add(q)
    try {
      feed(q)
      sess.table(name).collect().toSeq
    } finally {
      try q.stop() finally {
        if (!q.isActive) live.remove(q)
        sess.catalog.dropTempView(name)
      }
    }
  }

  /** Replay every series' raw datapoints through ONE
    * [[StreamingAlarmPipeline.evaluateStream]] run; returns the
    * transition stream over each series' windows (lo_s, hi_s], sorted
    * by (series, window).
    *
    * @param points all series' (series_id, ts, value) fixture rows
    * @param slas   static SLA config WITH a `statistic` column (the
    *               statistic is an alarm property, so all SLAs share
    *               one stream); one row per series — a series with
    *               several SLAs needs per-(series, period) bounds,
    *               which this replay does not model
    *
    * Determinism notes:
    *  - all real points land in ONE micro-batch (the watermark is
    *    still at its initial value, so nothing closes before every
    *    point is absorbed);
    *  - then one sentinel point per series at its own hi+period+1s
    *    advances the watermark one second PAST every series' window hi
    *    end, closing it;
    *  - the GLOBAL watermark (max across sentinels) may run past an
    *    early-ending series' fixture — the machine then evaluates that
    *    series' sentinel window and synthesizes silent slots beyond its
    *    hi. Those evaluations are strictly after hi, cannot affect any
    *    transition at or before it, and are dropped by the per-series
    *    (lo, hi] output filter;
    *  - the transition at window lo is dropped per series: the batch
    *    machine's lag() has no predecessor row there, so it reports
    *    transitioned=false for its first window by construction. */
  def replayTransitions(spark: SparkSession,
      points: Seq[(String, Timestamp, Double)],
      slas: DataFrame): Seq[AlarmStream.Transition] = {
    if (points.isEmpty) return Seq.empty
    val sess = child(spark)
    import sess.implicits._
    implicit val sq = sess.sqlContext
    // rebuild the (tiny) SLA config frame on the child session — a
    // parent-session plan must not leak into the child's stream
    val childSlas = sess.createDataFrame(
      java.util.Arrays.asList(slas.collect(): _*), slas.schema)
    // period may arrive as int or long depending on the caller's
    // config frame — normalize before the driver-side read
    val periodRows = childSlas.select(col("series_id"),
        col("period").cast("long")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // ONE SLA row per series: two same-series rows — even with equal
    // periods — make evaluateStream emit interleaved transition
    // streams that a (series, window)-keyed parity join fans out into
    // a silently wrong verdict
    periodRows.groupBy(_._1).foreach { case (sid, ps) =>
      require(ps.length == 1,
        s"series $sid carries ${ps.length} SLA rows; the parity " +
          "harness models exactly one SLA per series")
    }
    val periods = periodRows.toMap
    // every fixture series needs its SLA row — a bare Map miss later
    // would be an undiagnosable key-not-found
    val orphans = points.iterator.map(_._1).toSet -- periods.keySet
    require(orphans.isEmpty,
      s"fixture series with no SLA row: ${orphans.toSeq.sorted.mkString(", ")}")
    // per-series fixture bounds at that series' own period
    val bounds: Map[String, (Long, Long)] = points.groupBy(_._1).map {
      case (sid, pts) =>
        val p = periods(sid)
        val secs = pts.map(_._2.getTime / 1000)
        sid -> (math.floorDiv(secs.min, p) * p, math.floorDiv(secs.max, p) * p)
    }
    val mem = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingAlarmPipeline.evaluateStream(
      mem.toDF().toDF("series_id", "ts", "value"),
      childSlas, statistic = "Sum", // default unused: every row has one
      watermark = "0 seconds")
    runToMemory(sess, out.toDF(), "append") { q =>
      mem.addData(points: _*)
      q.processAllAvailable()
      mem.addData(bounds.toSeq.map { case (sid, (_, hi)) =>
        (sid, new Timestamp((hi + periods(sid)) * 1000 + 1000), 0.0)
      }: _*)
      q.processAllAvailable()
    }.map(r => AlarmStream.Transition(r.getString(0), r.getLong(1),
        r.getString(2), r.getString(3)))
      .filter { t =>
        val (lo, hi) = bounds(t.seriesId)
        t.windowStart > lo && t.windowStart <= hi
      }
      .sortBy(t => (t.seriesId, t.windowStart))
  }

  /** Replay documents through [[StreamDedup.dedupStream]] in the
    * given explicit batches (cross-batch duplicates exercise the
    * state path, not just per-batch dropDuplicates); returns the
    * surviving (doc_id, text) rows. WHICH row of a duplicate group
    * survives inside one batch is engine-scheduling-dependent, so
    * parity is graded on the deterministic survivor-set shape (one
    * survivor per distinct content hash), not survivor identity. */
  def replayDedup(spark: SparkSession,
      batches: Seq[Seq[(Timestamp, Long, String)]]): Seq[(Long, String)] = {
    if (batches.forall(_.isEmpty)) return Seq.empty
    val sess = child(spark)
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamDedup.dedupStream(
      mem.toDF().toDF("ts", "doc_id", "text"))
    runToMemory(sess, out, "append") { q =>
      batches.filter(_.nonEmpty).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
    }.map(r => (r.getLong(r.fieldIndex("doc_id")),
      r.getString(r.fieldIndex("text"))))
  }

  /** Replay (ts, user_id, event_id, cents) events through
    * [[StreamSessions.sessionStats]] and return each CLOSED session as
    * (user_id, start_epoch, end_epoch, n_events, cents).
    *
    * Timestamps must be whole seconds (callers truncate): the batch
    * twin and the oracle compare at `floor(epoch)` granularity.
    * session_window merges at exactly-gap spacing (windows merge when
    * the new start equals the open session's end — measured against
    * Spark 4.1: a 1801 s gap at gap="1801 seconds" MERGES), the same
    * inclusive rule as the batch `dt > gapSec` split, so the gap maps
    * across unchanged. The value column is integer cents so the
    * per-session sum is order-independent and exact. */
  def replaySessions(spark: SparkSession,
      events: Seq[(Timestamp, Long, Long, Long)],
      gapSec: Long): Seq[(Long, Long, Long, Long, Long)] = {
    if (events.isEmpty) return Seq.empty
    val sess = child(spark)
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Long, Long)]
    val out = StreamSessions.sessionStats(
      mem.toDF().toDF("ts", "user_id", "event_id", "cents"),
      valueCol = "cents", gap = s"$gapSec seconds",
      watermark = "0 seconds")
    runToMemory(sess, out, "append") { q =>
      mem.addData(events: _*)
      q.processAllAvailable()
      val maxTs = events.iterator.map(_._1.getTime).max
      // sentinel user -1: watermark lands strictly past every real
      // session's close (≤ maxTs + gap + 1s)
      mem.addData((new Timestamp(maxTs + (gapSec + 120) * 1000L), -1L, 0L, 0L))
      q.processAllAvailable()
    }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)))
      .filter(_._1 >= 0L)
      // session_window end = last event + gap: map back to the
      // batch twin's end_epoch = last event epoch
      .map { case (u, ws, we, n, c) => (u, ws, we - gapSec, n, c) }
  }

  /** Replay (user_id, ts, event_type) events through
    * [[StreamFunnel.funnelStream]] (single batch: the group fold
    * sorts by event time, and each user emits exactly its final
    * depth); returns (user_id, depth) rows. Whole-second timestamps
    * required: the stream chains at millisecond precision while the
    * oracle chains at DuckDB's microsecond precision — truncation
    * makes the strict-inequality guards agree. */
  def replayFunnel(spark: SparkSession,
      events: Seq[(Long, Timestamp, String)],
      stages: Seq[String]): Seq[(Long, Int)] = {
    if (events.isEmpty) return Seq.empty
    val sess = child(spark)
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = StreamFunnel.funnelStream(
      mem.toDF().toDF("user_id", "ts", "event_type"), stages)
    runToMemory(sess, out.toDF("user_id", "depth"), "update") { q =>
      mem.addData(events: _*); q.processAllAvailable()
    }.map(r => (r.getLong(0), r.getInt(1)))
  }

  /** Replay (series_id, ts, value) datapoints through
    * [[StreamingStatAgg.aggregate]]; returns the closed
    * (series_id, window_start, metricvalue) windows. A value and a
    * statistic may be null, as in the batch aggregate: a window of
    * null values keeps its row, and its statistic is null. */
  def replayStatAgg(spark: SparkSession,
      points: Seq[(String, Timestamp, Option[Double])],
      statistic: String, periodSeconds: Int): Seq[(String, Long, Option[Double])] = {
    if (points.isEmpty) return Seq.empty
    val sess = child(spark)
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val mem = MemoryStream[(String, Timestamp, Option[Double])]
    val out = StreamingStatAgg.aggregate(
      mem.toDF().toDF("series_id", "ts", "value"), statistic, periodSeconds,
      watermark = "0 seconds")
    runToMemory(sess, out, "append") { q =>
      mem.addData(points: _*)
      q.processAllAvailable()
      val maxTs = points.iterator.map(_._2.getTime).max
      mem.addData(("__sentinel__",
        new Timestamp(maxTs + 2L * periodSeconds * 1000L), Some(0.0)))
      q.processAllAvailable()
    }.map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .filter(_._1 != "__sentinel__")
  }

  /** Replay a pre-bucketed series through [[StreamCusum.cusumStream]]
    * in `batches` chronological slices (cross-batch state is the
    * point — a single batch would reduce to the batch fold trivially);
    * returns each series' FINAL summary (the update-mode sink keeps
    * every batch's refresh; the max-n_points row per series is the
    * last). Buckets are globally sorted before slicing so the
    * chronological-delivery contract holds. */
  def replayCusum(spark: SparkSession, points: Seq[(String, Long, Long)],
      batches: Int, warmup: Int, slack: Long, threshold: Long)
      : Seq[(String, Long, Long, Long, Option[Long])] = {
    if (points.isEmpty) return Seq.empty
    val sess = child(spark)
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val mem = MemoryStream[StreamCusum.Point]
    val out = StreamCusum.cusumStream(mem.toDS(), warmup, slack, threshold)
    val sorted = points.sortBy(p => (p._2, p._1))
      .map { case (s, b, x) => StreamCusum.Point(s, b, x) }
    val slice = math.max(1, (sorted.size + batches - 1) / batches)
    val rows = runToMemory(sess, out.toDF(), "update") { q =>
      sorted.grouped(slice).foreach { chunk =>
        mem.addData(chunk: _*); q.processAllAvailable()
      }
    }.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      if (r.isNullAt(4)) None else Some(r.getLong(4))))
    rows.groupBy(_._1).values.map(_.maxBy(_._2)).toSeq
  }

  /** Replay (start_ts, key, end_ts) intervals through
    * [[StreamIntervals.islands]] (single batch + a sentinel key −1
    * whose event time pushes the watermark strictly past every real
    * island's close, forcing append-mode emission — the
    * replaySessions pattern); returns (key, island_start, island_end,
    * n_intervals, covered_sec). */
  def replayIntervals(spark: SparkSession,
      intervals: Seq[(Timestamp, Long, Timestamp)])
      : Seq[(Long, Long, Long, Long, Long)] = {
    if (intervals.isEmpty) return Seq.empty
    val sess = child(spark)
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Timestamp)]
    val out = StreamIntervals.islands(
      mem.toDF().toDF("start_ts", "key", "end_ts"))
    runToMemory(sess, out, "append") { q =>
      mem.addData(intervals: _*)
      q.processAllAvailable()
      val maxEnd = intervals.iterator.map(_._3.getTime).max
      mem.addData((new Timestamp(maxEnd + 120000L), -1L,
        new Timestamp(maxEnd + 121000L)))
      q.processAllAvailable()
    }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)))
      .filter(_._1 >= 0L)
  }

  /** Replay two event sequences through [[StreamJoin.intervalJoin]]
    * (both sides MemoryStreams with watermarks); returns matched
    * (key, l_id, r_id) triples. Inner stream-stream joins emit when
    * the second side arrives — no timers, so no sentinel rows; a
    * second empty-advance batch is still processed so late-arriving
    * state-store flushes land before the sink is read. */
  def replayIntervalJoin(spark: SparkSession,
      lefts: Seq[(Long, Timestamp, Long)],
      rights: Seq[(Long, Timestamp, Long)],
      beforeSec: Long, afterSec: Long,
      watermarkSec: Long,
      joinType: String = "inner"): Seq[(Long, Long, Option[Long])] = {
    if (lefts.isEmpty || rights.isEmpty) return Seq.empty
    val sess = child(spark)
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val lMem = MemoryStream[(Long, Timestamp, Long)]
    val rMem = MemoryStream[(Long, Timestamp, Long)]
    val out = StreamJoin.intervalJoin(
        lMem.toDF().toDF("l_key", "l_ts", "l_id"),
        rMem.toDF().toDF("r_key", "r_ts", "r_id"),
        "l_key", "r_key", "l_ts", "r_ts",
        beforeSec, afterSec, watermarkSec, joinType)
      .select("l_key", "l_id", "r_id")
    runToMemory(sess, out, "append") { q =>
      if (joinType == "inner") {
        lMem.addData(lefts: _*)
        rMem.addData(rights: _*)
        q.processAllAvailable()
      } else {
        // outer nulls emit only once the GLOBAL watermark (min over
        // both streams) clears every left row's match window: one
        // sentinel per stream on a never-matching key, far enough
        // that T_max + afterSec + watermarkSec is strictly passed.
        // The sentinels ride the DATA batch (round 18): a batch's
        // watermark is computed from its max event time but applies
        // only from the NEXT batch, so batch 1 (data + horizon
        // sentinels) still joins everything under the initial
        // watermark — inner matches are unaffected — and the flush
        // batch then evicts under the horizon watermark, emitting
        // every unmatched left row. Two processAllAvailable rounds
        // instead of three (each round is multiple state-store
        // commit cycles across both join sides).
        val tMax = (lefts.iterator ++ rights.iterator)
          .map(_._2.getTime).max
        val horizon = new Timestamp(
          tMax + (afterSec + watermarkSec + 10L) * 1000L)
        lMem.addData(lefts :+ ((-1L, horizon, -1L)): _*)
        rMem.addData(rights :+ ((-1L, horizon, -1L)): _*)
        q.processAllAvailable()
        // the advance batch makes the horizon watermark take effect,
        // flushing evictions (outer-null emission)
        lMem.addData((-1L, new Timestamp(horizon.getTime + 1000L), -2L))
        rMem.addData((-1L, new Timestamp(horizon.getTime + 1000L), -2L))
        q.processAllAvailable()
      }
    }.map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .filter(_._1 >= 0L)
  }

  /** Drive [[StreamJoin.intervalJoin]] in TIME-ORDERED micro-batches
    * of `chunkSec` event-time seconds and return the state-store row
    * count after each batch — the eviction-contract probe: with both
    * sides watermarked and the time bound in the join condition,
    * state must PLATEAU at (window span + watermark + batch slack) ×
    * arrival rate, independent of stream LENGTH. A state curve that
    * keeps climbing with the stream means eviction is broken and a
    * 100 TB/day stream eventually OOMs its state stores. */
  def measureIntervalJoinState(spark: SparkSession,
      lefts: Seq[(Long, Timestamp, Long)],
      rights: Seq[(Long, Timestamp, Long)],
      beforeSec: Long, afterSec: Long, watermarkSec: Long,
      chunkSec: Long): Seq[Long] = {
    if (lefts.isEmpty && rights.isEmpty) return Seq.empty
    val sess = child(spark)
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val lMem = MemoryStream[(Long, Timestamp, Long)]
    val rMem = MemoryStream[(Long, Timestamp, Long)]
    val out = StreamJoin.intervalJoin(
        lMem.toDF().toDF("l_key", "l_ts", "l_id"),
        rMem.toDF().toDF("r_key", "r_ts", "r_id"),
        "l_key", "r_key", "l_ts", "r_ts",
        beforeSec, afterSec, watermarkSec, "inner")
      .select("l_key", "l_id", "r_id")
    val states = scala.collection.mutable.ArrayBuffer.empty[Long]
    runToMemory(sess, out, "append") { q =>
      val t0 = (lefts.iterator ++ rights.iterator).map(_._2.getTime).min
      val chunks = (lefts.map((_, true)) ++ rights.map((_, false)))
        .groupBy { case (row, _) => (row._2.getTime - t0) / (chunkSec * 1000L) }
        .toSeq.sortBy(_._1)
      chunks.foreach { case (_, rows) =>
        val (ls, rs) = rows.partition(_._2)
        if (ls.nonEmpty) lMem.addData(ls.map(_._1): _*)
        if (rs.nonEmpty) rMem.addData(rs.map(_._1): _*)
        q.processAllAvailable()
        Option(q.lastProgress).foreach { p =>
          if (p.stateOperators.nonEmpty)
            states += p.stateOperators.map(_.numRowsTotal).sum
        }
      }
    }
    states.toSeq
  }

  /** Replay a token stream through [[StreamHeavyHitters.candidates]]
    * (single batch → the sink holds exactly the final per-bucket
    * Misra-Gries summaries); returns (bucket, token, mg_count).
    * Summary COUNTS depend on fold order (inherent to MG), so parity
    * is graded on the order-independent MG guarantees — superset
    * membership and the count sandwich — never on raw mg_count. */
  def replayHeavyHitters(spark: SparkSession, tokens: Seq[String],
      buckets: Int, capacity: Int): Seq[(Int, String, Long)] = {
    if (tokens.isEmpty) return Seq.empty
    val sess = child(spark)
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val mem = MemoryStream[String]
    val out = StreamHeavyHitters.candidates(
      mem.toDF().toDF("token"), buckets, capacity)
    runToMemory(sess, out.toDF(), "update") { q =>
      mem.addData(tokens: _*); q.processAllAvailable()
    }.map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
  }

  /** Replay documents through [[StreamNearDup.candidateStream]] in
    * explicit batches (later batches must match state from earlier
    * ones); returns the distinct (id_a, id_b, est_jaccard) hits. */
  def replayNearDup(spark: SparkSession,
      batches: Seq[Seq[(Timestamp, Long, String)]],
      shingleN: Int, k: Int, bands: Int,
      threshold: Double): Seq[(Long, Long, Double)] = {
    if (batches.forall(_.isEmpty)) return Seq.empty
    val sess = child(spark)
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamNearDup.candidateStream(
      mem.toDF().toDF("ts", "doc_id", "text"),
      shingleN = shingleN, k = k, bands = bands, threshold = threshold)
    runToMemory(sess, out.toDF(), "append") { q =>
      batches.filter(_.nonEmpty).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
    }.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).distinct
  }
}
