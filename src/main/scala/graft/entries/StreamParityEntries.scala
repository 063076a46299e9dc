package graft.entries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.entries.Fixtures._
import graft.streaming.PipelineReplay

/**
 * Oracle-board rows for the LLM-pipeline STREAMING operators — each
 * replays a deterministic fixture through the streaming path
 * ([[graft.streaming.PipelineReplay]]) and is graded against the
 * batch semantics recomputed by DuckDB, the same batch/stream parity
 * contract as `q_alarm_stream_parity`. Four queries compare the
 * stream's output DIRECTLY (sessions, funnel, stat windows, dedup
 * survivor shape); two grade order-independent guarantees via
 * pinned-true columns (Misra-Gries count sandwich; MinHash candidate
 * set equality vs a batch twin on identical signatures), because
 * their raw outputs are fold-order- or hash-engine-dependent.
 */
private[graft] object StreamParityEntries {

  private val T0 = 1704067200L // 2024-01-01T00:00:00Z, fixture epoch
  private val NearDupIdOffset = 10000000L // past any sf's doc_id range

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // StreamDedup replay: every distinct content hash must survive
    // EXACTLY once, duplicates dropped both within a batch and across
    // the two fixture batches (even doc_ids land first, odds 60s
    // later, so odd-batch copies of even-batch content exercise the
    // state-store path). Survivor IDENTITY within one batch is
    // engine-scheduling-dependent, so the row is the deterministic
    // (hash, input-group-size, survivor-count) shape.
    "q_dedup_stream_parity" -> { (s, dir) =>
      import s.implicits._
      val fixture = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      val (evens, odds) = fixture.partition(_._1 % 2 == 0)
      def rows(b: Seq[(Long, String)], off: Long) =
        b.map { case (id, t) => (new Timestamp((T0 + off) * 1000L), id, t) }
      val survivors = PipelineReplay
        .replayDedup(s, Seq(rows(evens, 0L), rows(odds, 60L)))
      val sv = survivors.toDF("doc_id", "text")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("n_stream"))
      docs(s, dir).groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("n_docs"))
        .join(sv, Seq("content_hash"), "full_outer")
        .select(col("content_hash"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_stream"), lit(0L)).as("n_stream"))
        .orderBy("content_hash")
    },

    // StreamSessions replay: closed session_window sessions must be
    // the batch gap-split sessions bit-for-bit — bounds, size, and the
    // exact integer-cents value sum. Whole-second fixture + gap+1s
    // mapping per the StreamSessions boundary contract.
    "q_sessions_stream_parity" -> { (s, dir) =>
      import s.implicits._
      val fx = ev(s, dir).select(
          date_trunc("second", col("ts")).cast("timestamp").as("ts"),
          col("user_id"), col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .as[(Timestamp, Long, Long, Long)].collect().toSeq
      val sessions = PipelineReplay.replaySessions(s, fx, gapSec = 1800L)
      sessions.toDF("user_id", "start_epoch", "end_epoch", "n_events", "cents")
        .withColumn("session_index", row_number()
          .over(Window.partitionBy("user_id").orderBy("start_epoch"))
          .cast("long"))
        .select("user_id", "session_index", "start_epoch", "end_epoch",
          "n_events", "cents")
        .orderBy("user_id", "session_index")
    },

    // StreamFunnel replay: each user's emitted final depth must equal
    // the batch chained-earliest-stage depth (strict forward chain).
    "q_funnel_stream_parity" -> { (s, dir) =>
      import s.implicits._
      val fx = ev(s, dir).select(col("user_id"),
          date_trunc("second", col("ts")).cast("timestamp").as("ts"),
          col("event_type"))
        .as[(Long, Timestamp, String)].collect().toSeq
      PipelineReplay.replayFunnel(s, fx, Seq("view", "click", "purchase"))
        .toDF("user_id", "depth")
        .orderBy("user_id")
    },

    // StreamCusum replay: the SAME shifted hourly fixture as q_cusum,
    // delivered in 3 chronological micro-batches so state crosses
    // batch boundaries; each series' final streaming summary must
    // equal the batch fold bit-exactly (the oracle IS q_cusum's
    // recursive CTE). The final filter mirrors the batch operator's
    // `size(ps) > warmup` emission gate: the streaming operator
    // reports warmup progress per micro-batch (its update-mode
    // contract), but the PARITY comparison is over series that have
    // a batch row at all — a series shorter than warmup has none
    // (latent sf0.001-only mismatch found and fixed in round 17:
    // 'view' has 166 < 168 hourly points there, so the replay emitted
    // a warmup-progress row the batch fold never produces; no-op at
    // sf0.01+ where every series exceeds warmup).
    "q_cusum_stream_parity" -> { (s, dir) =>
      import s.implicits._
      val hourly = ev(s, dir).groupBy(col("event_type").as("series"),
          (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long")
            .as("hour"))
        .agg(sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("x0"))
      val w = Window.partitionBy("series").orderBy("hour")
      val fx = hourly
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy("series")))
        .select(col("series"), col("hour"),
          (col("x0") + when(col("rn") > expr("nn div 2"), 50000L)
            .otherwise(0L)).as("x"))
        .as[(String, Long, Long)].collect().toSeq
      PipelineReplay.replayCusum(s, fx, batches = 3, warmup = 168,
          slack = 25000L, threshold = 200000L)
        .toDF("series", "n_points", "mu", "max_cusum", "first_shift_idx")
        .filter(col("n_points") > 168)
        .orderBy("series")
    },

    // StreamingStatAgg replay: closed hourly Sum windows across ALL
    // ops series must match the batch hourly aggregation exactly
    // (decimal-exact sums, so fold order cannot drift the double).
    "q_statagg_stream_parity" -> { (s, dir) =>
      import s.implicits._
      val fx = datapoints(s, dir)
        .as[(String, Timestamp, Option[Double])].collect().toSeq
      PipelineReplay.replayStatAgg(s, fx, "Sum", periodSeconds = 3600)
        .toDF("series_id", "window_start", "metricvalue")
        .orderBy("series_id", "window_start")
    },

    // StreamHeavyHitters replay: the Misra-Gries guarantees, graded
    // order-independently (raw mg_count depends on fold order —
    // inherent to MG). Fixture = document word tokens plus 25
    // injected copies of hot_{0,1,2} per document, so the injected
    // tokens each hold ~10% of the stream while every natural token
    // stays under ~3.5% — the qualifying set is {hot_0,hot_1,hot_2}
    // at EVERY scale factor, far from the floor(N/(cap+1)) ≈ 5.9%
    // bound. Pins per qualifier: present in the summary (superset
    // guarantee), mg_count ≤ true count, mg_count ≥ true − bound.
    "q_heavy_stream_parity" -> { (s, dir) =>
      import s.implicits._
      val capacity = 16
      val base = docs(s, dir)
      val toks = base.select(explode(
          graft.plans.WordShingles.shingles(col("text"), 1)).as("token"))
        .unionByName(base.select(explode(array_repeat(
          concat(lit("hot_"), (col("doc_id") % 3).cast("string")), 25))
          .as("token")))
      val tokSeq = toks.as[String].collect().toSeq
      val summary = PipelineReplay.replayHeavyHitters(s, tokSeq,
        buckets = 1, capacity = capacity)
      val mg = summary.map { case (_, t, c) => (t, c) }.toMap
      val n = tokSeq.size.toLong
      val bound = n / (capacity + 1L)
      val trueCounts = tokSeq.groupBy(identity).map { case (t, g) =>
        (t, g.size.toLong) }
      trueCounts.filter(_._2 > bound).toSeq.sorted.map { case (t, c) =>
        val got = mg.get(t)
        (t, c, got.isDefined, got.exists(_ <= c), got.exists(_ >= c - bound))
      }.toDF("token", "true_cnt", "present_in_mg", "count_le_true",
        "count_ge_bound")
        .orderBy("token")
    },

    // StreamNearDup replay: injected exact copies (doc_id + 10^7,
    // identical text, arriving one batch LATER so they must match
    // from state) are each recovered with est_jaccard exactly 1.0
    // (identical shingle sets → identical signatures → all bands
    // collide → 12/12 slots match — guaranteed, not empirical), AND
    // the stream's full distinct hit set equals a batch twin computed
    // on the identical XxMinHash signatures (banded self-join +
    // slot-match estimate). The signature family has no external SQL
    // oracle, so the set equality rides in as a pinned-true column —
    // the q_dedup_simhash grading pattern.
    "q_neardup_stream_parity" -> { (s, dir) =>
      import s.implicits._
      val (k, bands, shingleN, threshold) = (12, 4, 3, 0.5)
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val injected = base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + NearDupIdOffset).as("doc_id"), col("text"))
      def rows(df: DataFrame, off: Long) = df.as[(Long, String)].collect()
        .toSeq.map { case (id, t) =>
          (new Timestamp((T0 + off) * 1000L), id, t) }
      val hits = PipelineReplay.replayNearDup(s,
        Seq(rows(base, 0L), rows(injected, 60L)),
        shingleN = shingleN, k = k, bands = bands, threshold = threshold)

      // batch twin over the same corpus and the same signatures
      val rowsPerBand = k / bands
      val signed = base.unionByName(injected)
        .select(col("doc_id"), graft.plans.WordShingles
          .shingles(col("text"), shingleN, distinct = true).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"),
          graft.plans.XxMinHash.minhash(col("sh"), k).as("sig"))
      val banded = signed.select(col("doc_id").as("id"), col("sig"),
          posexplode(transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(slice(col("sig"), b * rowsPerBand + 1,
              lit(rowsPerBand))))))
        .select(col("pos").as("band"), col("col").as("band_key"),
          col("id"), col("sig"))
      val batchPairs = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
        .distinct()
        .select(col("id_a"), col("id_b"),
          (aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v) / k.toDouble).as("est"))
        .filter(col("est") >= threshold)
        .as[(Long, Long, Double)].collect().toSet
      val setsMatch = batchPairs == hits.toSet

      val hitMap = hits.map(h => ((h._1, h._2), h._3)).toMap
      val expected = base
        .filter(col("doc_id") % 7 === 0 &&
          size(graft.plans.WordShingles.shingles(col("text"), shingleN,
            distinct = true)) > 0)
        .select(col("doc_id")).as[Long].collect().toSeq.sorted
      expected.map { id =>
        val est = hitMap.get((id, id + NearDupIdOffset))
        (id, id + NearDupIdOffset, est.contains(1.0), est.getOrElse(-1.0),
          setsMatch)
      }.toDF("id_a", "id_b", "found_by_stream", "est_jaccard",
        "stream_matches_batch")
        .orderBy("id_a")
    },

    // StreamIntervals replay: the session-window island union must be
    // the batch mergeIslands output bit-for-bit — the inclusive
    // merge-on-touch boundary matches `start > prevMax` exactly, so
    // the SAME q_interval_merge fixture grades against the SAME
    // island SQL. island_index is re-derived by start order (islands
    // are disjoint, so start order IS the batch numbering).
    // Stream-stream interval JOIN (the watermarked two-stream state
    // surface): even-id events join odd-id events of the same user
    // within ±12h; inner-join output is exactly the batch theta-join,
    // graded by the same SQL.
    "q_sjoin_stream_parity" -> { (s, dir) =>
      import s.implicits._
      val base = ev(s, dir).select(col("user_id"),
          date_trunc("second", col("ts")).cast("timestamp").as("ts"),
          col("event_id"))
        .as[(Long, Timestamp, Long)].collect().toSeq
      val lefts = base.filter(_._3 % 2 == 0)
      val rights = base.filter(_._3 % 2 == 1)
      PipelineReplay.replayIntervalJoin(s, lefts, rights,
          beforeSec = 43200L, afterSec = 43200L, watermarkSec = 3600L)
        .toDF("user_id", "l_id", "r_id")
        .orderBy("user_id", "l_id", "r_id")
    },

    // LEFT-OUTER stream-stream join: unmatched even-id events emit a
    // null partner only after the global watermark clears their
    // window — replayed with horizon sentinels, graded by the batch
    // LEFT JOIN. A tighter ±2h window leaves a real unmatched tail.
    "q_sjoin_outer_stream_parity" -> { (s, dir) =>
      import s.implicits._
      val base = ev(s, dir).select(col("user_id"),
          date_trunc("second", col("ts")).cast("timestamp").as("ts"),
          col("event_id"))
        .as[(Long, Timestamp, Long)].collect().toSeq
      val lefts = base.filter(_._3 % 2 == 0)
      val rights = base.filter(_._3 % 2 == 1)
      PipelineReplay.replayIntervalJoin(s, lefts, rights,
          beforeSec = 7200L, afterSec = 7200L, watermarkSec = 3600L,
          joinType = "left_outer")
        .toDF("user_id", "l_id", "r_id")
        .orderBy("user_id", "l_id", "r_id")
    },

    "q_interval_stream_parity" -> { (s, dir) =>
      import s.implicits._
      val fx = ev(s, dir).filter(col("user_id") % 5 === 0)
        .select(unix_timestamp(col("ts")).as("s0"), col("user_id"),
          (unix_timestamp(col("ts")) + lit(600L) +
            pmod(col("event_id"), lit(240L)) * 600L).as("e0"))
        .as[(Long, Long, Long)].collect().toSeq
        .map { case (s0, u, e0) =>
          (new Timestamp(s0 * 1000L), u, new Timestamp(e0 * 1000L)) }
      val islands = PipelineReplay.replayIntervals(s, fx)
      islands.toDF("key", "island_start", "island_end", "n_intervals",
          "covered_sec")
        .withColumn("island_index", row_number()
          .over(Window.partitionBy("key").orderBy("island_start"))
          .cast("long"))
        .select("key", "island_index", "island_start", "island_end",
          "n_intervals", "covered_sec")
        .orderBy("key", "island_index")
    }
  )

  def oracles: Map[String, String] = Map(

    // identical island semantics → the batch oracle verbatim
    "q_interval_stream_parity" -> SqlSeriesEntries.oracles("q_interval_merge"),

    // the batch LEFT theta-join IS the outer parity oracle
    "q_sjoin_outer_stream_parity" ->
      """WITH e AS (SELECT user_id, event_id,
        |epoch_us(date_trunc('second', ts)) // 1000000 AS t FROM events),
        |l AS (SELECT * FROM e WHERE event_id % 2 = 0),
        |r AS (SELECT * FROM e WHERE event_id % 2 = 1)
        |SELECT l.user_id AS user_id, l.event_id AS l_id, r.event_id AS r_id
        |FROM l LEFT JOIN r ON r.user_id = l.user_id
        |AND r.t BETWEEN l.t - 7200 AND l.t + 7200
        |ORDER BY l.user_id, l_id, r_id""".stripMargin,

    // the batch theta-join IS the parity oracle
    "q_sjoin_stream_parity" ->
      """WITH e AS (SELECT user_id, event_id,
        |epoch_us(date_trunc('second', ts)) // 1000000 AS t FROM events),
        |l AS (SELECT * FROM e WHERE event_id % 2 = 0),
        |r AS (SELECT * FROM e WHERE event_id % 2 = 1)
        |SELECT l.user_id AS user_id, l.event_id AS l_id, r.event_id AS r_id
        |FROM l JOIN r ON r.user_id = l.user_id
        |AND r.t BETWEEN l.t - 43200 AND l.t + 43200
        |ORDER BY l.user_id, l_id, r_id""".stripMargin,

    "q_dedup_stream_parity" ->
      """SELECT md5(text) AS content_hash,
        |CAST(COUNT(*) AS BIGINT) AS n_docs,
        |CAST(1 AS BIGINT) AS n_stream
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sessions_stream_parity" ->
      """WITH e AS (SELECT user_id, event_id,
        |CAST(floor(epoch(ts)) AS BIGINT) AS ts,
        |CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |l AS (SELECT user_id, event_id, ts, cents,
        |lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
        |f AS (SELECT user_id, ts, cents,
        |CASE WHEN prev IS NULL OR ts - prev > 1800 THEN 1 ELSE 0 END AS is_new,
        |event_id FROM l),
        |s AS (SELECT user_id, ts, cents, CAST(SUM(is_new) OVER (PARTITION BY user_id
        |ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_index FROM f)
        |SELECT user_id, session_index, MIN(ts) AS start_epoch, MAX(ts) AS end_epoch,
        |COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS cents
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_index""".stripMargin,

    "q_funnel_stream_parity" ->
      """WITH e AS (SELECT user_id, date_trunc('second', ts) AS ts,
        |event_type FROM events),
        |s1 AS (SELECT user_id, MIN(ts) AS t FROM e
        |WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM e
        |JOIN s1 ON e.user_id = s1.user_id
        |WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM e
        |JOIN s2 ON e.user_id = s2.user_id
        |WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        |SELECT s1.user_id AS user_id,
        |CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
        |WHEN s2.user_id IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS depth
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY user_id""".stripMargin,

    "q_cusum_stream_parity" -> SqlSeriesEntries.oracles("q_cusum"),

    "q_statagg_stream_parity" ->
      s"""WITH sm(event_type, series_id, statistic, period, frequency) AS
         |(VALUES $seriesMapValues),
         |dp AS (SELECT sm.series_id, e.ts, e.value
         |FROM events e JOIN sm USING(event_type))
         |SELECT series_id,
         |CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS window_start,
         |CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS metricvalue
         |FROM dp GROUP BY 1, 2 ORDER BY series_id, window_start""".stripMargin,

    "q_heavy_stream_parity" ->
      """WITH t AS (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '')) AS token FROM documents
        |UNION ALL SELECT 'hot_' || CAST(doc_id % 3 AS VARCHAR) AS token
        |FROM documents, range(25)),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
        |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1)
        |SELECT token, cnt AS true_cnt, true AS present_in_mg,
        |true AS count_le_true, true AS count_ge_bound
        |FROM c, tot WHERE cnt > n // 17 ORDER BY token""".stripMargin,

    // Ground-truth injected later-batch exact copies: guaranteed
    // est 1.0 recovery plus the pinned batch-twin set equality.
    "q_neardup_stream_parity" ->
      """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b,
        |true AS found_by_stream, CAST(1.0 AS DOUBLE) AS est_jaccard,
        |true AS stream_matches_batch
        |FROM documents
        |WHERE doc_id % 7 = 0
        |AND len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) >= 3
        |ORDER BY id_a""".stripMargin
  )
}
