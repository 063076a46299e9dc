package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Unigram-LM subword tokenizer TRAINING and application — the other
 * tokenizer family next to [[Bpe]] (Kudo 2018, "Subword
 * Regularization"; the SentencePiece unigram model): seed a large
 * candidate piece inventory from substring statistics, alternate
 * segmentation (E) and piece re-weighting + pruning (M) rounds, and
 * keep the best `vocabSize` pieces.
 *
 * Integer-exact deviation from the paper, documented like
 * [[graft.pipeline.Corpus.dsirScore]]'s: the reference algorithm is
 * soft-EM over float log-probabilities, which is not bit-stable
 * across engines or reduce orders. This implementation is HARD-EM
 * with an integer objective: the E-step Viterbi-segments each word
 * to (1) the fewest pieces, tie-broken by (2) the largest sum of
 * piece weights, then (3) the longest final piece — a total order,
 * so every word has exactly one segmentation and training replays
 * bit-identically (the DuckDB oracle hand-unrolls the same DP). The
 * M-step re-weights pieces by Viterbi usage (weighted by word
 * frequency) and prunes low-usage multi-char pieces on the
 * SentencePiece shrink schedule (keep `shrinkPermille` of the
 * inventory per round, floored at the final target); single
 * characters are never pruned, so every word stays segmentable —
 * the paper's character-coverage guarantee.
 *
 * Distributed shape (the 100 TB story, same as [[Bpe]]): training
 * never touches the corpus after ONE tokenize+count pass — the
 * word-vocabulary table is vocabulary-bounded, the seed inventory is
 * bounded by vocab × word-length × `maxPieceLen`, and every E-step
 * is ONE equi-join between the per-word substring-candidate
 * explosion (≤ maxWordLen·maxPieceLen rows per distinct word) and
 * the piece table, followed by the per-word codegen'd DP
 * ([[graft.plans.ViterbiSeg]]; the piece lookup is an equi-join on
 * the substring, NEVER a broadcast of the unpruned seed inventory,
 * which at corpus scale exceeds broadcast limits). Words longer than
 * `maxWordLen` are excluded from TRAINING (rare giants contribute
 * little to the inventory) and fall back to character segmentation
 * in [[encode]] — a coverage policy, not a crash.
 *
 * Ranking (usage rank, final vocab rank) runs on the
 * vocabulary-bounded piece table, never the corpus — and since round
 * 15 through [[usageRank]]'s two-phase distributed prefix scan
 * (the [[Packing.streamPacks]] idiom), never through a
 * single-partition global window: a 100 TB multilingual corpus has
 * tens of millions of distinct ≤4-char pieces, and the shrink
 * schedule keeps 80% per round, so the pre-prune trick the engine's
 * other global windows use (BM25 top-k, the 64-bucket pre-rank)
 * does not apply here.
 */
object UnigramLm {

  val Sep = "\u001f"

  /**
   * Deterministic Viterbi segmentation of every word in `words`
   * (word, cnt) under piece inventory `pieces` (piece, w).
   * Single characters are always admissible (weight 0 when absent
   * from the inventory) so the DP never strands.
   *
   * Round-17 optimization (the Ilog2Fx lesson applied to the
   * next-heaviest staged chain): the per-prefix-length staged join
   * chain (`ComposedReferences.viterbiStaged` in test scope,
   * `maxWordLen` sequential union + join + struct-min + eager
   * localCheckpoint steps — ~13 Spark jobs per call, and the unigram
   * family runs ELEVEN calls per board sweep)
   * is replaced by ONE substring equi-join that materializes each
   * word's admissible candidate set `(s, k, w)` and ONE codegen'd
   * per-word DP expression ([[graft.plans.ViterbiSeg]], parity-pinned
   * against the staged form in PipelineSpec). The piece lookup stays
   * an equi-join — never a broadcast of the inventory, which at
   * corpus scale exceeds broadcast limits — so the 100 TB shape is
   * unchanged: everything here is vocabulary-bounded, and the
   * candidate explosion is ≤ maxWordLen·maxPieceLen rows per
   * DISTINCT word.
   *
   * The returned frame is localCheckpoint-ed when `checkpoint` (the
   * default — callers that consume it twice need one materialization);
   * single-consumer callers pass `checkpoint = false` and save the
   * materializing job. Callers release a checkpointed frame via
   * [[Lineage.release]] once its consumer materializes (a no-op on
   * un-checkpointed frames).
   *
   * @return (word, cnt, np, ws, seg) — piece count, weight sum, and
   *         the segmentation as pieces joined by [[Sep]]; one row per
   *         word when `nBest` = 1, up to `nBest` otherwise
   */
  private[graft] def viterbi(words: DataFrame, pieces: DataFrame,
      maxWordLen: Int, maxPieceLen: Int, nBest: Int = 1,
      checkpoint: Boolean = true): DataFrame = {
    require(nBest >= 1, "nBest must be positive")
    val pc = pieces.select(col("piece"), col("w").cast("long").as("__w"))
    val cands = words
      .filter(length(col("word")).between(1, maxWordLen))
      .select(col("word"), col("cnt"),
        explode(sequence(lit(1), length(col("word")))).as("s"))
      .select(col("word"), col("cnt"), col("s"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - col("s") + 1))).as("k"))
      .withColumn("piece", expr("substring(word, s, k)"))
      .join(pc, Seq("piece"), "left")
      .filter(col("k") === 1 || col("__w").isNotNull)
      .groupBy("word", "cnt")
      .agg(collect_list(struct(col("s"), col("k"),
        coalesce(col("__w"), lit(0L)).as("w"))).as("cands"))
    val out = cands
      .select(col("word"), col("cnt"),
        explode(graft.plans.ViterbiSeg.seg(col("word"), col("cands"),
          nBest)).as("st"))
      .select(col("word"), col("cnt"), col("st.np").as("np"),
        col("st.ws").as("ws"), col("st.seg").as("seg"))
    if (checkpoint) out.localCheckpoint() else out
  }

  /**
   * row_number over (w desc, piece) on a (piece, w) table as a
   * two-phase distributed prefix scan — the [[Packing.streamPacks]]
   * idiom: range-partition on the rank key, per-partition counts
   * (P rows) prefix-scanned on the driver, broadcast back as
   * offsets, then a per-partition window. Output ranks are identical
   * to a global `Window.orderBy` (the key (w, piece) is total —
   * piece is unique — so no tie can straddle a range boundary); only
   * the parallelism differs. The result is localCheckpoint-ed (the
   * two phases must see one physical partitioning, and the caller
   * gets a frame it can [[Lineage.release]]) and the intermediate
   * cache is dropped before returning.
   *
   * @return the input plus `rk` (long, 1-based)
   */
  private[graft] def usageRank(df: DataFrame): DataFrame =
    usageRankWithCount(df)._1

  /** [[usageRank]] plus the table's ROW COUNT, read off the phase-1
    * per-partition counts that the rank computes anyway — callers that
    * need both (the shrink schedule counts the table it ranks) save
    * one counting job per round (round-17). */
  private[graft] def usageRankWithCount(df: DataFrame): (DataFrame, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    val part = df
      .repartitionByRange(parts, col("w").desc, col("piece"))
      .withColumn("__pid", spark_partition_id())
      .persist()
    // no separate materializing count(): the phase-1 aggregation's
    // shuffle map stage reads (and therefore caches) every partition
    // of `part` itself — an extra count is one redundant job per
    // rank call (round-15 review)
    val counts = DriverBounds.boundedCollect(
        part.groupBy("__pid").agg(count(lit(1)).as("c")),
        parts.toLong, "usageRank partition counts (one row per partition)")
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until parts).scanLeft(0L) {
      case (acc, pid) => acc + counts.getOrElse(pid, 0L)
    }
    val offsetDf = (0 until parts).map(pid => (pid, offsets(pid)))
      .toDF("__pid", "__offset")
    val w = Window.partitionBy("__pid")
      .orderBy(col("w").desc, col("piece"))
    val out = part.join(broadcast(offsetDf), Seq("__pid"))
      .withColumn("rk", (col("__offset") + row_number().over(w)).cast("long"))
      .drop("__pid", "__offset")
      .localCheckpoint()
    part.unpersist(blocking = false)
    (out, offsets(parts))
  }

  /**
   * Train a unigram-LM vocabulary of `vocabSize` pieces over `rounds`
   * hard-EM rounds.
   *
   * @return (piece, piece_len, usage, rank) ordered by rank — usage
   *         is the final round's Viterbi usage count
   */
  def train(docs: DataFrame, vocabSize: Int, rounds: Int,
      maxPieceLen: Int = 4, maxWordLen: Int = 12, minFreq: Long = 2L,
      shrinkPermille: Long = 800L, textCol: String = "text"): DataFrame = {
    require(vocabSize >= 1 && rounds >= 1, "positive vocab size and rounds")
    require(maxPieceLen >= 1 && maxWordLen >= maxPieceLen,
      "piece length within word length")
    val words = docs.select(explode(
        graft.plans.WordShingles.shingles(col(textCol), 1)).as("word"))
      .filter(!col("word").contains(Sep))
      .filter(length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).cast("long").as("cnt"))
      .localCheckpoint()
    // seed inventory: every substring occurrence up to maxPieceLen,
    // weighted by word frequency; chars exempt from the freq floor
    val seeds = words
      .select(col("cnt"), explode(expr(
        s"flatten(transform(sequence(1, length(word)), s -> " +
          s"transform(sequence(1, least($maxPieceLen, length(word) - s + 1)), " +
          "k -> substring(word, s, k))))")).as("piece"))
      .groupBy("piece").agg(sum("cnt").cast("long").as("w"))
      .filter(length(col("piece")) === 1 || col("w") >= minFreq)
      .localCheckpoint()
    val chars = seeds.filter(length(col("piece")) === 1)
      .select("piece").localCheckpoint()
    val nChars = chars.count()
    val multiTarget = math.max(0L, vocabSize.toLong - nChars)
    var pieces = seeds
    for (_ <- 1 to rounds) {
      val segs = viterbi(words, pieces, maxWordLen, maxPieceLen,
        checkpoint = false)
      val usage = segs
        .select(col("cnt"), explode(split(col("seg"), Sep)).as("piece"))
        .groupBy("piece").agg(sum("cnt").cast("long").as("w"))
        .localCheckpoint()
      Lineage.release(segs)
      // shrink schedule on the vocabulary-bounded usage table: the
      // rank pass's per-partition counts also yield the multi-piece
      // count, so the schedule costs no extra job (round-17)
      val (rankedMulti, multiCount) =
        usageRankWithCount(usage.filter(length(col("piece")) > 1))
      val keep = math.max(multiTarget, multiCount * shrinkPermille / 1000L)
      val keptMulti = rankedMulti.filter(col("rk") <= keep)
        .select("piece", "w")
      val next = chars.join(usage, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("w"), lit(0L)).as("w"))
        .unionByName(keptMulti)
        .localCheckpoint()
      Lineage.release(rankedMulti)
      Lineage.release(usage)
      Lineage.release(pieces)
      pieces = next
    }
    val rankedFinal = usageRank(pieces.filter(length(col("piece")) > 1))
    val full = pieces.filter(length(col("piece")) === 1)
      .unionByName(rankedFinal.filter(col("rk") <= multiTarget)
        .select("piece", "w"))
    val rankedAll = usageRank(full)
    Lineage.release(rankedFinal)
    Lineage.release(pieces)
    Lineage.release(words)
    Lineage.release(seeds)
    Lineage.release(chars)
    rankedAll
      .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
        col("w").as("usage"), col("rk").as("rank"))
  }

  /**
   * Encode a corpus with a trained vocabulary: per-doc word and piece
   * counts (the fertility shape [[Bpe.encode]] reports, so the two
   * tokenizer families compare directly). Segmentation runs the same
   * deterministic Viterbi on the DISTINCT words (vocabulary-bounded),
   * under the final piece weights; words longer than `dpMaxLen` fall
   * back to character segmentation (documented coverage policy).
   *
   * @param vocab [[train]] output (piece, piece_len, usage, rank)
   * @return (idCol, n_words, n_pieces) — zero-word docs report 0/0
   */
  def encode(docs: DataFrame, vocab: DataFrame, maxPieceLen: Int = 4,
      dpMaxLen: Int = 12, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val docWords = docs.select(col(idCol),
      explode(graft.plans.WordShingles.shingles(col(textCol), 1)).as("word"))
    // checkpoint: BOTH branches (DP words, char-fallback words) read
    // this vocabulary-bounded table — uncached, each would re-run the
    // corpus tokenize+explode+count (round-15 review)
    val distinctW = docWords.groupBy("word")
      .agg(count(lit(1)).cast("long").as("cnt"))
      .localCheckpoint()
    val pieces = vocab.select(col("piece"), col("usage").as("w"))
    val short = viterbi(distinctW.filter(length(col("word")) <= dpMaxLen),
        pieces, dpMaxLen, maxPieceLen, checkpoint = false)
      .select(col("word"), col("np"))
    val long = distinctW.filter(length(col("word")) > dpMaxLen)
      .select(col("word"), length(col("word")).cast("long").as("np"))
    val perDoc = docWords
      .join(short.unionByName(long), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum("np").cast("long").as("n_pieces"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }

  /**
   * Subword-regularization sampling (the reason the Kudo paper
   * exists): for each distinct word, enumerate its `nBest` best
   * segmentations via the n-best Viterbi DP and DRAW one
   * deterministically — alternative `1 + hashFold(seedTag:word) mod
   * n_alt` under the engine's md5 fold ([[Corpus.hashFold]]), so the
   * draw replays bit-identically and the DuckDB oracle replicates it
   * (`Fixtures.foldSql`). Deviation from the paper's
   * alpha-smoothed soft sampling, documented like [[train]]'s
   * hard-EM: the draw is uniform over the n-best list rather than
   * weighted by segmentation probability — float log-probs are not
   * bit-stable, and the augmentation value lives in the VARIETY of
   * segmentations, which the uniform draw preserves.
   *
   * Alternatives are ranked by the DP's own total order
   * (np asc, ws desc, seg asc). Words longer than `dpMaxLen` fall
   * back to character segmentation with a single alternative —
   * [[encode]]'s coverage policy.
   *
   * Scale shape: the DP runs on DISTINCT words (vocabulary-bounded)
   * with per-word windows; nothing here is corpus-linear except the
   * one tokenize+count pass.
   *
   * @param vocab [[train]] output (piece, piece_len, usage, rank)
   * @return (word, cnt, n_alt, alt, np, seg) — the drawn
   *         segmentation per distinct word; cnt is the corpus
   *         occurrence count, alt the drawn alternative's rank
   */
  def sample(docs: DataFrame, vocab: DataFrame, nBest: Int = 3,
      maxPieceLen: Int = 4, dpMaxLen: Int = 12,
      seedTag: String = "subword-reg", textCol: String = "text"): DataFrame = {
    require(nBest >= 1, "nBest must be positive")
    // checkpoint: the DP branch and the char-fallback branch both
    // read this table — uncached, the corpus tokenize+count would
    // run twice, contradicting the one-corpus-pass claim above
    val distinctW = docs.select(explode(
        graft.plans.WordShingles.shingles(col(textCol), 1)).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("long").as("cnt"))
      .localCheckpoint()
    val pieces = vocab.select(col("piece"), col("usage").as("w"))
    val fin = viterbi(distinctW.filter(length(col("word")) <= dpMaxLen),
      pieces, dpMaxLen, maxPieceLen, nBest)
    val byAlt = Window.partitionBy("word")
      .orderBy(col("np"), col("ws").desc, col("seg"))
    val ranked = fin
      .withColumn("alt", row_number().over(byAlt).cast("long"))
    val nAlt = ranked.groupBy("word").agg(max("alt").as("n_alt"))
    val draw = pmod(Corpus.hashFold(
      concat(lit(seedTag + ":"), col("word"))), col("n_alt")) + 1L
    val short = ranked.join(nAlt, Seq("word"))
      .filter(col("alt") === draw)
      .select("word", "cnt", "n_alt", "alt", "np", "seg")
    val long = distinctW.filter(length(col("word")) > dpMaxLen)
      .select(col("word"), col("cnt"), lit(1L).as("n_alt"),
        lit(1L).as("alt"), length(col("word")).cast("long").as("np"),
        array_join(expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          Sep).as("seg"))
    short.unionByName(long)
  }

  /**
   * Incremental vocabulary maintenance: re-weight and re-prune an
   * existing trained vocabulary against a NEW corpus slice without
   * retraining — the tokenizer-family member of the engine's
   * incremental discipline (`pageRankIncremental`, `ivfIncremental`,
   * `dedupIncremental`). One Viterbi pass segments the slice under
   * the existing piece weights; each piece's weight becomes
   * `old usage + slice usage` (cumulative evidence); multi-char
   * pieces are re-pruned to `vocabSize` and the whole vocabulary
   * re-ranked. Single-char pieces keep the character-coverage
   * guarantee (never pruned). Out-of-vocabulary CHARACTERS in the
   * slice still segment (the DP admits any single char at weight 0)
   * but are NOT added to the vocabulary — additions require retrain;
   * this is maintenance, and keeping the piece set closed is what
   * makes it cheap (no seed-inventory pass over the slice).
   *
   * @param vocab [[train]] output (piece, piece_len, usage, rank)
   * @return (piece, piece_len, usage, rank) — same shape as
   *         [[train]], usable wherever the original vocabulary was
   */
  def refresh(docs: DataFrame, vocab: DataFrame, vocabSize: Int,
      maxPieceLen: Int = 4, maxWordLen: Int = 12,
      textCol: String = "text"): DataFrame = {
    require(vocabSize >= 1, "positive vocab size")
    val words = docs.select(explode(
        graft.plans.WordShingles.shingles(col(textCol), 1)).as("word"))
      .filter(!col("word").contains(Sep))
      .filter(length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).cast("long").as("cnt"))
    val pieces = vocab.select(col("piece"), col("usage").as("w"))
    val segs = viterbi(words, pieces, maxWordLen, maxPieceLen,
      checkpoint = false)
    val sliceUsage = segs
      .select(col("cnt"), explode(split(col("seg"), Sep)).as("piece"))
      .groupBy("piece").agg(sum("cnt").cast("long").as("__wn"))
    val combined = pieces.join(sliceUsage, Seq("piece"), "left")
      .select(col("piece"),
        (col("w") + coalesce(col("__wn"), lit(0L))).as("w"))
      .localCheckpoint()
    Lineage.release(segs)
    val chars = combined.filter(length(col("piece")) === 1)
    val nChars = chars.count()
    val multiTarget = math.max(0L, vocabSize.toLong - nChars)
    val rankedMulti = usageRank(combined.filter(length(col("piece")) > 1))
    val full = chars.unionByName(
      rankedMulti.filter(col("rk") <= multiTarget).select("piece", "w"))
    val rankedAll = usageRank(full)
    Lineage.release(rankedMulti)
    Lineage.release(combined)
    rankedAll
      .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
        col("w").as("usage"), col("rk").as("rank"))
  }
}
