package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{langMarkers, tokens}
import graft.operators.StatWindowAgg
import graft.pipeline.{Classifier, Lineage, UnigramLm, Wordpiece}

/** The second renditions of production operators, kept only as
  * references: the composed built-in-function forms the native
  * expressions replaced, the staged-projection and staged-join chains
  * the codegen'd DPs replaced, the driver loop the native greedy walk
  * replaced, and the single-statistic window aggregation, plus the
  * int8 dequantizer the quantize round trip checks against. Each is an
  * independent reference (it shares no code with the native
  * digest/fold/DP path it checks), and the PipelineSpec, OperatorSpec
  * and StreamingSpec parity pins compare the production operator
  * against it. `src/main` keeps one rendition per operator
  * (GlobalWindowLintSpec). */
object ComposedReferences {

  /** [[graft.pipeline.Similarity]]'s squared-L2 fold, natively
    * [[graft.plans.VecDist2]]. */
  def dist2FoldComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** Reconstruct a quantized embedding (array<double>): the inverse of
    * [[graft.pipeline.Corpus.quantize]] that its round-trip test checks
    * the codes against. */
  def dequantize(q: Column): Column = {
    val lo = q.getField("vmin")
    val hi = q.getField("vmax")
    val scale = when(hi > lo, (hi - lo) / 255.0).otherwise(lit(1.0))
    transform(q.getField("codes"), c => lo + c.cast("double") * scale)
  }

  /** [[graft.pipeline.Corpus.hashFold]], natively
    * [[graft.plans.Md5Fold31]] (straight off the digest bytes — no
    * 32-char hex string, no four substring/ascii passes). */
  def hashFoldComposed(c: Column): Column = {
    val h = md5(c)
    ascii(substring(h, 1, 1)) * 31 * 31 * 31 +
      ascii(substring(h, 2, 1)) * 31 * 31 +
      ascii(substring(h, 3, 1)) * 31 +
      ascii(substring(h, 4, 1))
  }

  /** The DSIR gram hashing of the fused [[graft.plans.HashedGrams]]:
    * per word bigram, the salted md5-ascii fold mod `buckets` — built
    * from WordShingles + concat + the fully composed fold. */
  def dsirGramBucketsComposed(text: Column, buckets: Int): Column =
    transform(graft.plans.WordShingles.shingles(text, 2),
      g => hashFoldComposed(concat(lit("dsir:"), g)) % buckets)

  /** [[graft.pipeline.Classifier.hashedTokens]], natively
    * [[graft.plans.HashedFeats]]. */
  def hashedTokensComposed(textCol: Column, buckets: Int,
      n: Int = 3): Column = {
    require(buckets > 0, "buckets must be positive")
    require(n >= 1 && n <= 3, "char n-gram order must be in [1, 3]")
    val words = graft.plans.WordShingles.shingles(textCol, 1)
    val feats = flatten(transform(words, w => {
      val padded = concat(lit("<"), w, lit(">"))
      val grams = transform(
        sequence(lit(1), length(padded) - lit(n - 1)),
        i => concat(lit("c:"), padded.substr(i, lit(n))))
      concat(array(concat(lit("w:"), w)), grams)
    }))
    transform(feats, f =>
      pmod(graft.operators.Sampling.hash48(f), lit(buckets.toLong))
        .cast("string"))
  }

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(_.asInstanceOf[Any]): _*)))

  /** The pre-round-11 [[graft.functions.TextFns.langId]] — five scans
    * of the document through interpreted higher-order functions; the
    * shape external SQL oracles replicate. */
  def langIdComposed(text: Column): Column = {
    val toks = tokens(lower(text))
    val order = Seq("en", "fr", "de", "es")
    val counts = order.map(l => l -> countIn(toks, langMarkers(l)))
    val maxCount = greatest(counts.map(_._2): _*)
    val pick = counts.foldRight(lit("und")) { case ((l, c), acc) =>
      when(c === maxCount && c > 0, l).otherwise(acc) }
    when(regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]")) > 0, "zh").otherwise(pick)
  }

  /** The pre-round-11 [[graft.functions.TextFns.qualityScore]]. */
  def qualityScoreComposed(text: Column): Column = {
    val chars = length(text).cast("double")
    val lenScore = least(chars / 500.0, lit(1.0))
    val alpha = regexp_count(text, lit("[A-Za-z]")).cast("double")
    val alphaRatio = when(chars > 0, alpha / chars).otherwise(0.0)
    val toks = tokens(lower(text))
    val stop = countIn(toks, langMarkers.values.flatten.toSeq.distinct).cast("double")
    val stopScore = least(stop * 10.0 / greatest(size(toks), lit(1)).cast("double"), lit(1.0))
    round((lenScore + alphaRatio + stopScore) / 3.0, 6)
  }

  /** The aggregate/zip_with rendition of [[graft.functions.VectorFns.dot]]
    * (natively [[graft.plans.VecDot]]): the same sequential
    * left-to-right double fold, one interpreted lambda per element. */
  def foldDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Word n-grams as space-joined strings, composed from split, slice
    * and array_join — the form [[graft.plans.WordShingles]] replaced and
    * the SQL oracles replicate. Empty when the document has fewer than
    * n tokens. */
  def wordNgrams(text: Column, n: Int): Column = {
    val w = tokens(text)
    // guard: sequence(1, 0) would generate a DESCENDING sequence in
    // Spark, so short docs return an empty array explicitly.
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => array_join(slice(w, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Single-statistic window aggregation with an explicit period — the
    * direct engine form of one MetricDataQuery (stream.py:33-43), and
    * the batch side the streaming [[graft.streaming.StreamingStatAgg]]
    * is checked against. The statistic rule is
    * [[StatWindowAgg.statColumn]] over [[StatWindowAgg.finite]]. */
  def aggregateOne(datapoints: DataFrame, statistic: String, periodSeconds: Int,
      valueCol: String = "value", tsCol: String = "ts"): DataFrame = {
    val windowStart =
      (floor(unix_timestamp(col(tsCol)) / periodSeconds) * periodSeconds).cast("long")
    StatWindowAgg.finite(datapoints, valueCol)
      .groupBy(col("series_id"), windowStart.as("window_start"))
      .agg(StatWindowAgg.statColumn(statistic, valueCol).as("metricvalue"))
  }

  /**
   * Staged-projection rendition of [[Classifier.withIlog2Fx]]
   * (natively [[graft.plans.Ilog2Fx]]) — one plan node per step (never
   * one nested expression: each of the 31 steps reads its predecessor
   * twice, and a single substituted tree would be 2³¹ nodes).
   *
   * Algorithm, all int64 and branch-free per row: normalize
   * `x = m·2^e` with `m ∈ [2³⁰, 2³¹)` by constant-power-of-two
   * multiply/divide steps (6 down, 5 up — covers 1 ≤ x < 2⁶²), then
   * 20 square-and-shift iterations extract the fractional bits
   * (`m² ∈ [2⁶⁰, 2⁶²)` — inside int64). Result
   * `(30+e)·2²⁰ + frac ∈ [0, 62·2²⁰]`.
   */
  def withIlog2FxStaged(df: DataFrame, xCol: String, outCol: String): DataFrame = {
    var cur = df
      .withColumn("__t", greatest(col(xCol).cast("long"), lit(1L)))
      .withColumn("__e", lit(0L))
    // normalize down: while t >= 2^31, in power-of-two jumps
    for (s <- Seq(32, 16, 8, 4, 2, 1)) {
      val thr = 1L << (30 + s)
      val d = 1L << s
      cur = cur
        .withColumn("__c", col("__t") >= lit(thr))
        .withColumn("__e",
          when(col("__c"), col("__e") + lit(s.toLong)).otherwise(col("__e")))
        .withColumn("__t",
          when(col("__c"), expr(s"__t div ${d}L")).otherwise(col("__t")))
    }
    // normalize up: while t < 2^30 (inputs >= 1 need at most 30 doublings)
    for (s <- Seq(16, 8, 4, 2, 1)) {
      val thr = 1L << (31 - s)
      val m = 1L << s
      cur = cur
        .withColumn("__c", col("__t") < lit(thr))
        .withColumn("__e",
          when(col("__c"), col("__e") - lit(s.toLong)).otherwise(col("__e")))
        .withColumn("__t",
          when(col("__c"), col("__t") * lit(m)).otherwise(col("__t")))
    }
    // fractional bits: square, compare to 2^61, renormalize
    cur = cur.withColumn("__f", lit(0L))
    for (_ <- 1 to Classifier.FracBits) {
      cur = cur
        .withColumn("__sq", col("__t") * col("__t"))
        .withColumn("__c", col("__sq") >= lit(1L << 61))
        .withColumn("__t",
          when(col("__c"), expr(s"__sq div ${1L << 31}L"))
            .otherwise(expr(s"__sq div ${1L << 30}L")))
        .withColumn("__f",
          col("__f") * 2L + when(col("__c"), 1L).otherwise(0L))
    }
    cur
      .withColumn(outCol,
        (lit(30L) + col("__e")) * lit(1L << Classifier.FracBits) + col("__f"))
      .drop("__t", "__e", "__c", "__sq", "__f")
  }

  /**
   * The staged-join rendition of [[UnigramLm.viterbi]] (natively
   * [[graft.plans.ViterbiSeg]]) — state j is a DataFrame, step j joins
   * states j-maxPieceLen..j-1 with the piece table on the connecting
   * substring, the per-step best is a struct-min aggregation
   * (top-nBest window when `nBest` > 1).
   */
  def viterbiStaged(words: DataFrame, pieces: DataFrame,
      maxWordLen: Int, maxPieceLen: Int, nBest: Int = 1): DataFrame = {
    require(nBest >= 1, "nBest must be positive")
    val pc = pieces.select(col("piece"), col("w").cast("long").as("__w"))
    val dp0 = words
      .filter(length(col("word")).between(1, maxWordLen))
      .select(col("word"), col("cnt"), lit(0L).as("np"),
        lit(0L).as("ws"), lit("").as("seg"))
      .withColumn("j", lit(0))
      // eager checkpoints: an A/B against lazy (eager = false) showed
      // no win from collapsing the per-step barriers — the DP frames
      // are small and the joins dominate — and eager keeps each
      // step's cost attributable in profiles
      .localCheckpoint()
    val perJ = scala.collection.mutable.ArrayBuffer[DataFrame](dp0)
    for (j <- 1 to maxWordLen) {
      val from = (math.max(0, j - maxPieceLen) until j).map(perJ(_))
        .reduce(_ unionByName _)
      val cand = from
        .filter(length(col("word")) >= j)
        .withColumn("k", lit(j) - col("j"))
        .withColumn("piece", expr("substring(word, j + 1, k)"))
        .join(pc, Seq("piece"), "left")
        .filter(col("k") === 1 || col("__w").isNotNull)
        .select(col("word"), col("cnt"),
          (col("np") + 1L).as("np"),
          (col("ws") + coalesce(col("__w"), lit(0L))).as("ws"),
          concat(col("seg"), lit(UnigramLm.Sep), col("piece")).as("seg"),
          col("k"))
      // unique best state per word: lexicographic struct-min =
      // (np asc, ws desc, k desc); k differs across candidates of the
      // same word (one candidate per predecessor state), so the order
      // is total and seg is payload, never a comparator
      val best =
        if (nBest == 1)
          cand
            .groupBy("word", "cnt")
            .agg(min(struct(col("np"), (-col("ws")).as("nws"),
              (-col("k")).as("nk"), col("seg"), col("ws"))).as("b"))
            .select(col("word"), col("cnt"), col("b.np").as("np"),
              col("b.ws").as("ws"), col("b.seg").as("seg"))
        else {
          // n-best: keep the top states under the SAME order extended
          // by seg — with >1 survivor per predecessor, candidates of
          // one word can tie on (np, ws, k), and seg (which encodes
          // the full segmentation, hence is distinct by construction)
          // restores totality. The window partitions by word — a
          // per-word top-n, never a global sort.
          val byState = Window.partitionBy("word")
            .orderBy(col("np"), col("ws").desc, col("k").desc, col("seg"))
          cand.withColumn("__rn", row_number().over(byState))
            .filter(col("__rn") <= nBest)
            .select("word", "cnt", "np", "ws", "seg")
        }
      perJ += best.withColumn("j", lit(j)).localCheckpoint()
    }
    val out = perJ.toSeq.reduce(_ unionByName _)
      .filter(col("j") === length(col("word")))
      .select(col("word"), col("cnt"), col("np"), col("ws"),
        expr("substring(seg, 2)").as("seg"))
      .localCheckpoint()
    perJ.foreach(Lineage.release)
    out
  }

  /** The driver-loop rendition of [[Wordpiece.encode]] (natively
    * [[graft.plans.WpGreedy]]) — cursor state advanced one greedy
    * match per round over the settled/live split. */
  def encodeLooped(docs: DataFrame, pieces: DataFrame,
      maxWordLen: Int = 16, maxPieceLen: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(maxWordLen >= 1 && maxPieceLen >= 1, "positive length caps")
    val p = pieces.select(col("piece").as("__pc"), col("is_initial").as("__pi"),
      length(col("piece")).as("__pl"))
    val occurrences = docs.select(col(idCol), explode(
        graft.plans.WordShingles.shingles(col(textCol), 1)).as("word"))
      .filter(!col("word").contains(Wordpiece.Sep))
    val words0 = occurrences.select("word").distinct()
      .withColumn("__len", length(col("word")))
      .withColumn("__unk", col("__len") > maxWordLen)
      .withColumn("__pos", lit(0))
      .withColumn("__n", lit(0L))
    // loop invariant: rows with __unk or __pos = __len are settled
    var state = words0.localCheckpoint()
    var remaining = state.filter(!col("__unk") && col("__pos") < col("__len")).count()
    while (remaining > 0) {
      val live = state.filter(!col("__unk") && col("__pos") < col("__len"))
      val settled = state.filter(col("__unk") || col("__pos") >= col("__len"))
      val stepped = live
        .select(col("word"), col("__len"), col("__pos"), col("__n"),
          explode(sequence(lit(1),
            least(lit(maxPieceLen), col("__len") - col("__pos")))).as("__l"))
        .withColumn("__sub", expr("substring(word, __pos + 1, __l)"))
        .join(p, col("__sub") === col("__pc") &&
          col("__pi") === (col("__pos") === 0), "left")
        .groupBy("word", "__len", "__pos", "__n")
        .agg(max(when(col("__pl").isNotNull, col("__pl"))).as("__best"))
        .select(col("word"), col("__len"),
          col("__best").isNull.as("__unk"),
          (col("__pos") + coalesce(col("__best"), lit(0))).cast("int").as("__pos"),
          (col("__n") + 1L).as("__n"))
      state = Lineage.cycle(settled.unionByName(stepped), state)
      remaining = state.filter(!col("__unk") && col("__pos") < col("__len")).count()
    }
    val perWord = state.select(col("word"),
      when(col("__unk"), 1L).otherwise(col("__n")).as("__units"),
      col("__unk").cast("long").as("__u"))
    val counted = occurrences.join(perWord, Seq("word"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum("__units").cast("long").as("n_pieces"),
        sum("__u").cast("long").as("n_unk_words"))
    docs.select(col(idCol)).join(counted, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("n_unk_words"), lit(0L)).as("n_unk_words"))
  }
}
