package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators.{Debounce, Profiling}
import graft.pipeline.{Bpe, Corpus, PhraseSearch, RecordLinkage}

/** Edge-case hardening for the round-11 second-session operators:
  * unicode boundaries, degenerate inputs, and idempotence/partition
  * invariants that the oracle fixtures do not reach. */
class RobustnessSpec extends SparkTestBase {
  import spark.implicits._

  test("bpe: astral (non-BMP) characters split per codepoint, merges stay sane") {
    // pinned cross-engine contract: Spark's split(w, "") and DuckDB's
    // string_split(w, '') BOTH split per codepoint (probed: a|😀|b),
    // so surrogate pairs never split and the oracle replay holds for
    // emoji-bearing corpora
    val docs = Seq((1L, "a😀b a😀b")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, numMerges = 2)
      .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq
    // word "a😀b" x2: pairs (a,😀)=2, (😀,b)=2 -> tie breaks to p1 asc:
    // "a" < "😀" (codepoint order)
    assert(merges.head == ((1, "a", "😀", 2L)), s"$merges")
    val enc = Bpe.encode(docs, merges.map(m => (m._2, m._3)))
      .as[(Long, Long, Long)].collect().head
    assert(enc == ((1L, 2L, 2L)), "two words, one unit each after both merges")
  }

  test("bpe: supplementary-plane pair-count TIE breaks in UTF-8 byte order " +
      "(the DuckDB ORDER BY collation), not UTF-16 code-unit order") {
    // "ﬀ" U+FB00 (UTF-8 EF AC 80) vs "😀" U+1F600 (UTF-8 F0 9F 98 80):
    // codepoint/UTF-8 order puts ﬀ FIRST, while raw UTF-16 code units
    // put the surrogate pair (D83D DE00) first — the one corpus shape
    // where the two collations disagree. The oracle replays training
    // with DuckDB's ORDER BY p1, p2 (UTF-8 bytes); Spark's asc("p1")
    // compares UTF8String bytes (UTF8_BINARY), so both pick (ﬀ, x).
    // A UTF-16 comparator would pick (😀, x) and diverge the replay.
    val docs = Seq((1L, "ﬀx 😀x")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, numMerges = 1)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(merges == Seq((1, "ﬀ", "x", 1L)), s"$merges")
  }

  test("bpe: learnMerges equals a driver-side reference trainer " +
      "(codepoint split, UTF-8-byte tie-break) on mixed-plane corpora") {
    // full-algorithm pin of the oracle contract: symbol splitting per
    // CODEPOINT, pair counts weighted by word frequency, argmax by
    // (cnt desc, p1 asc, p2 asc) under UTF-8 byte order, greedy
    // non-overlapping replace — any divergence in any component shows
    // up as a different merge table on some sample
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    def syms(w: String): Seq[String] =
      w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))
    def refMerge(s: Seq[String], p1: String, p2: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == p1 && s(i + 1) == p2) {
          out += (p1 + p2); i += 2
        } else { out += s(i); i += 1 }
      }
      out.toSeq
    }
    def refTrain(words: Seq[String], k: Int): Seq[(Int, String, String, Long)] = {
      var vocab = words.groupBy(identity).toSeq
        .map { case (w, g) => (syms(w), g.size.toLong) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var r = 1
      var done = false
      while (r <= k && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (s, c) =>
          s.sliding(2).filter(_.size == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c }
        }
        if (counts.isEmpty) done = true
        else {
          val ((p1, p2), cnt) = counts.reduceLeft { (a, b) =>
            val ((a1, a2), ac) = a; val ((b1, b2), bc) = b
            val bWins = bc > ac || (bc == ac && (utf8Lt(b1, a1) ||
              (b1 == a1 && utf8Lt(b2, a2))))
            if (bWins) b else a
          }
          out += ((r, p1, p2, cnt))
          vocab = vocab.map { case (s, c) => (refMerge(s, p1, p2), c) }
          r += 1
        }
      }
      out.toSeq
    }
    val alphabet = Seq("a", "b", "ﬀ", "😀", "√",
      "𝄞") // BMP letters, U+FB00, U+1F600, U+221A, U+1D11E
    val rnd = new scala.util.Random(7)
    (0 until 8).foreach { _ =>
      val words = Seq.fill(2 + rnd.nextInt(4))(
        Seq.fill(1 + rnd.nextInt(3))(alphabet(rnd.nextInt(alphabet.size)))
          .mkString)
      val docText = (words ++ words.take(1 + rnd.nextInt(words.size)))
        .mkString(" ") // duplicate a prefix so counts are non-uniform
      val docs = Seq((1L, docText)).toDF("doc_id", "text")
      val got = Bpe.learnMerges(docs, numMerges = 3)
        .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq
      val want = refTrain(docText.split(" ").toSeq.filter(_.nonEmpty), 3)
      assert(got == want, s"corpus='$docText': $got vs $want")
    }
  }

  test("debounce is idempotent and keeps everything at window zero") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = (1 to 50).map(i => (i.toLong, ts(i * 13L % 97), (i % 3).toLong, s"t${i % 4}"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val once = Debounce.debounce(ev, windowSec = 30L)
    val twice = Debounce.debounce(once, windowSec = 30L)
    assert(once.select("event_id").as[Long].collect().toSet ==
      twice.select("event_id").as[Long].collect().toSet, "idempotent")
    assert(Debounce.debounce(ev, windowSec = 0L).count() == 50L, "zero window keeps all")
  }

  test("curriculum partitions the corpus: every doc exactly once, bins in range") {
    val docs = (1L to 300L).map(i => (i, (i * 7919 % 100).toInt)).toDF("doc_id", "s")
    val out = Corpus.curriculum(docs, col("s"), bins = 5, shards = 3, seed = 2L)
      .as[(Long, Int, Int, Long)].collect()
    assert(out.map(_._1).toSet == (1L to 300L).toSet && out.length == 300)
    assert(out.forall(r => r._2 >= 0 && r._2 < 5 && r._3 >= 0 && r._3 < 3))
    // quantile property: bin sizes within one tie-group of n/bins
    val sizes = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(sizes.values.sum == 300)
  }

  test("canonical URL degenerate inputs: padding, empty path+query, userinfo untouched") {
    val got = Seq(
      (1L, "  http://example.com  "),          // trimmed
      (2L, "http://example.com"),               // no path at all
      (3L, "http://example.com?"),              // empty query
      (4L, "http://user:pw@example.com/x"),     // userinfo stays in authority
      (5L, "ftp://Example.com:21/file"))        // non-http scheme: port kept
      .toDF("doc_id", "url")
      .select(col("doc_id"), TextFns.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "http://example.com" && got(2L) == "http://example.com")
    assert(got(3L) == "http://example.com")
    assert(got(4L) == "http://user:pw@example.com/x")
    assert(got(5L) == "ftp://example.com:21/file", "only http/https default ports strip")
  }

  test("phrase search: single-token phrase counts occurrences; whole-doc phrase") {
    val docs = Seq((1L, "x y x z x"), (2L, "y z")).toDF("doc_id", "text")
    val single = PhraseSearch.search(docs, Seq("x"))
      .as[(Long, Long, Int)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(single == Map(1L -> ((3L, 0))))
    // "y z" is adjacent only in doc 2 (doc 1 has x between) — and a
    // phrase spanning an ENTIRE two-token doc matches at position 0
    val whole = PhraseSearch.search(docs, Seq("y", "z"))
      .as[(Long, Long, Int)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(whole == Map(2L -> ((1L, 0))))
  }

  test("record linkage: empty and whitespace-only names produce no candidates") {
    val left = Seq((1L, "", "US"), (2L, "   ", "US"), (3L, "real name", "US"))
      .toDF("id", "name", "nation")
    val right = Seq((11L, "real name two", "US")).toDF("id", "name", "nation")
    val got = RecordLinkage.link(left, right, "name",
        Seq("nation" -> 500L), "id", maxDf = 10, minScore = 0L)
      .select("left_id").as[Long].collect().toSet
    assert(got == Set(3L), s"token-less rows must not pair: $got")
  }

  test("fdDiscoverL2: composite key holds, implied RHS pruned, noise violates") {
    // c12 = c1*5 + c2: {c1,c2}->c12 exactly; c12->c1 and c12->c2 hold
    // at level 1 so every (c12, *) pair-RHS arm must be TANE-pruned
    val d = spark.range(200).toDF("id").selectExpr(
      "CAST(id % 7 AS LONG) AS c1", "CAST((id div 7) % 5 AS LONG) AS c2",
      "CAST((id % 7) * 5 + (id div 7) % 5 AS LONG) AS c12",
      "CAST(id % 3 AS LONG) AS noise")
    val out = Profiling.fdDiscoverL2(d, Seq("c1", "c2", "c12", "noise"))
      .orderBy("lhs1", "lhs2", "rhs")
      .as[(String, String, String, Long, Long, Long, Boolean)]
      .collect().toSeq
    val byKey = out.map(r => (r._1, r._2, r._3) -> r._7).toMap
    assert(byKey(("c1", "c2", "c12")) === true, "composite key must hold")
    assert(!byKey.contains(("c1", "c12", "c2")) &&
      !byKey.contains(("c12", "noise", "c1")),
      "implied pair-RHS combinations must be pruned, not counted")
    assert(byKey(("c1", "c2", "noise")) === false, "noise never determined")
  }

  test("textrank/pagerank: empty co-occurrence graph fails loudly") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Corpus.textRankKeywords(empty, iters = 1, k = 5).collect()
    }
    assert(e.getMessage.contains("non-empty edge set"))
  }

  test("dsir: empty target degrades to pure smoothing, never crashes") {
    val raw = Seq((1L, "a b c")).toDF("doc_id", "text")
    val target = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = graft.pipeline.Corpus.dsirScore(raw, target)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // t=0 everywhere: ratio = floor(1e6*1*(R+B)/((r+1)*B)), R=2, B=1e4
    // r=1 per gram -> floor(1e6*10002/(2*10000)) = 500100
    assert(out == Seq((1L, 2L, 1000200L, 500100L)), s"$out")
  }

  test("Lineage.cycle: superseded checkpoint blocks are released deterministically") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    // The registry is shared with every suite, and the ContextCleaner
    // unpersists other suites' dead RDDs whenever GC runs. So the
    // assertions name this test's checkpoint RDDs by id, and count
    // only the ids registered since `before`; the cleaner can remove
    // ids but never adds one.
    val before = sc.getPersistentRDDs.keySet.toSet
    def added = sc.getPersistentRDDs.keySet.toSet -- before
    def checkpointId(df: org.apache.spark.sql.DataFrame): Int = {
      val lp = df.queryExecution.logical
      lp.getClass.getMethod("rdd").invoke(lp)
        .asInstanceOf[org.apache.spark.rdd.RDD[_]].id
    }
    val a = spark.range(100).toDF("v").localCheckpoint()
    val aId = checkpointId(a)
    assert(added == Set(aId), "localCheckpoint registers one persistent RDD")
    val b = graft.pipeline.Lineage.cycle(a.withColumn("w", col("v") * 2), a)
    val bId = checkpointId(b)
    // the new checkpoint replaced the old in the registry — release
    // is deterministic, not GC-dependent (the round-14 ADVICE fix)
    assert(!sc.getPersistentRDDs.contains(aId) && added == Set(bId),
      "cycle releases the superseded checkpoint as the new one lands")
    assert(b.count() == 100, "the new frame is readable after release")
    graft.pipeline.Lineage.release(b)
    assert(!sc.getPersistentRDDs.contains(bId) && added.isEmpty)
    // release of a non-checkpoint frame is a silent no-op
    graft.pipeline.Lineage.release(spark.range(3).toDF("v"))
  }

  test("fdDiscover: empty input profiles to an empty report, not NULL garbage") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.LongType))))
    assert(graft.operators.Profiling.fdDiscover(empty, Seq("a", "b", "c"))
      .count() == 0)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Profiling.fdDiscoverL2(empty, Seq("a", "b", "c"))
    }
    assert(e.getMessage.contains("non-empty input"))
  }

  test("boundedCollect: over-cap input fails loudly, never materializes") {
    val five = Seq(1L, 2L, 3L, 4L, 5L).toDF("v")
    val ok = graft.pipeline.DriverBounds.boundedCollect(five, 5L, "probe")
    assert(ok.length == 5)
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.DriverBounds.boundedCollect(five, 3L, "probe")
    }
    assert(e.getMessage.contains("documented bound of 3 rows"))
  }

  test("StatWindowAgg: a definitions table past the metadata bound fails loudly") {
    // 10001 distinct statistic strings exceed the documented 10k
    // metadata cap — the guard fires BEFORE validation or the join,
    // naming the contract, instead of materializing an unbounded
    // driver array (round-14 DriverBounds migration)
    val defs = spark.range(10001)
      .selectExpr("concat('u', id) AS unique_id",
        "concat('p0.', id) AS statistic", "60 AS period",
        "'minute' AS frequency")
    val dps = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("series_id", "ts", "value")
    val e = intercept[IllegalArgumentException] {
      graft.operators.StatWindowAgg.aggregate(dps, defs)
    }
    assert(e.getMessage.contains("StatWindowAgg distinct statistics"))
  }

  test("a null statistic fails as unsupported, and a null per-SLA statistic streams the default") {
    val dps = Seq(("u1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("series_id", "ts", "value")
    val defs = Seq(("u1", null.asInstanceOf[String], 60, "minute"))
      .toDF("unique_id", "statistic", "period", "frequency")
    val slas = Seq(("u1", 60L, 0.5, "GREATER_THAN_THRESHOLD", 1, 1, "MISSING",
        null.asInstanceOf[String]))
      .toDF("series_id", "period", "threshold", "comparison_operator",
        "datapoints_to_alarm", "evaluation_periods", "treat_missing_data", "statistic")
    for (run <- Seq(() => graft.operators.StatWindowAgg.aggregate(dps, defs),
        () => graft.streaming.StreamingAlarmPipeline.evaluateStream(dps, slas, null))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("unsupported statistic: null"), e.getMessage)
    }
    graft.streaming.StreamingAlarmPipeline.evaluateStream(dps, slas, "Sum")
  }

  test("AlarmStateMachine: an SLA table past the metadata bound fails loudly") {
    val slas = spark.range(10001)
      .selectExpr("id AS series_id", "id + 1 AS period", "0.5 AS threshold",
        "'GreaterThanThreshold' AS comparison_operator",
        "1 AS datapoints_to_alarm", "1 AS evaluation_periods",
        "'missing' AS treat_missing_data")
    val series = Seq((1L, 0L, 1.0))
      .toDF("series_id", "window_start", "metricvalue")
    val e = intercept[IllegalArgumentException] {
      graft.operators.AlarmStateMachine.evaluate(series, slas)
    }
    assert(e.getMessage.contains("AlarmStateMachine distinct SLA configs"))
  }

  test("definition sides past the row bound fail loudly, before any join") {
    // one row per series (or SLA) past DriverBounds.DefinitionRows:
    // every operator stops at its construction-time collect, naming
    // its definition side and the bound
    val over = graft.pipeline.DriverBounds.DefinitionRows + 1
    val slas = spark.range(over)
      .selectExpr("concat('u', id) AS series_id", "60 AS period", "0.5 AS threshold",
        "'GREATER_THAN_THRESHOLD' AS comparison_operator",
        "1 AS datapoints_to_alarm", "1 AS evaluation_periods",
        "'MISSING' AS treat_missing_data")
    val defs = spark.range(over)
      .selectExpr("concat('u', id) AS unique_id", "'Sum' AS statistic",
        "60 AS period", "'minute' AS frequency")
    val dps = Seq(("u1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("series_id", "ts", "value")
    val series = Seq(("u1", 0L, 1.0)).toDF("series_id", "window_start", "metricvalue")
    val cases = Seq[(String, () => Any)](
      "StatWindowAgg definitions" -> (() =>
        graft.operators.StatWindowAgg.aggregate(dps, defs)),
      "AlarmStateMachine SLA definitions" -> (() =>
        graft.operators.AlarmStateMachine.evaluate(series, slas)),
      "StreamingAlarmPipeline SLA definitions" -> (() =>
        graft.streaming.StreamingAlarmPipeline.evaluateStream(dps, slas, "Sum")))
    cases.foreach { case (what, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(what) &&
        e.getMessage.contains(s"documented bound of ${over - 1} rows"), e.getMessage)
    }
  }

  test("StreamingAlarmPipeline: per-SLA statistics past the metadata bound fail loudly") {
    val slas = spark.range(10001)
      .selectExpr("id AS series_id", "60 AS period", "0.5 AS threshold",
        "'GreaterThanThreshold' AS comparison_operator",
        "1 AS datapoints_to_alarm", "1 AS evaluation_periods",
        "'missing' AS treat_missing_data",
        "concat('p0.', id) AS statistic")
    val dps = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("series_id", "ts", "value")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingAlarmPipeline.evaluateStream(dps, slas, "Sum")
    }
    assert(e.getMessage.contains("StreamingAlarmPipeline distinct statistics"))
  }

  test("mmrTopK: a query load past the driver-row budget fails loudly") {
    // 2 queries x poolSize 4 = 8 candidate rows > maxDriverRows 3 —
    // the out-of-regime caller gets the contract error, not an OOM
    val e = Seq(
      (1L, Array(10.0f, 0.0f)), (2L, Array(0.0f, 10.0f)),
      (3L, Array(9.0f, 1.0f)), (4L, Array(1.0f, 9.0f)),
      (8L, Array(1.0f, 2.0f)), (9L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      graft.pipeline.Similarity.mmrTopK(
        e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8),
        select = 2, poolSize = 4, maxDriverRows = 3L).collect()
    }
    assert(ex.getMessage.contains("mmrTopK"))
  }

  test("histogram degenerate: single bucket swallows the domain; all-null column") {
    val one = Profiling.histogram(Seq(1L, 2L, 3L).toDF("v"), "v", 1, 0L, 100L)
      .collect().head
    assert(one.getAs[Long]("cnt") == 3L && one.getAs[Long]("lo") == 0L)
    val nulls = Profiling.histogram(
      Seq(Option.empty[Long], Option.empty[Long]).toDF("v"), "v", 2, 0L, 10L)
      .orderBy("bucket").select("cnt").as[Long].collect().toSeq
    assert(nulls == Seq(0L, 0L), "null-only column keeps the zero spine")
  }
}
