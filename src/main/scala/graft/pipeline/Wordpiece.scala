package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * WordPiece tokenizer TRAINING and application — the third tokenizer
 * family next to [[Bpe]] (frequency-argmax merges) and [[UnigramLm]]
 * (prune-down Viterbi): WordPiece (Schuster & Nakajima 2012; the BERT
 * tokenizer) merges like BPE but picks the pair maximizing the
 * LIKELIHOOD ratio score(a,b) = count(ab) / (count(a) · count(b)) —
 * preferring pairs that co-occur more than their unit frequencies
 * predict — and encodes by greedy longest-match-first against the
 * learned piece vocabulary with word-initial vs continuation piece
 * classes and whole-word UNK fallback.
 *
 * Shares [[Bpe]]'s symbol-string representation contract (SEP-wrapped
 * unit sequences; `replace` left-to-right non-overlap IS the greedy
 * merge rule — see Bpe's scaladoc for the alignment argument) so the
 * DuckDB oracle replays training exactly.
 *
 * Integer-exact deviation, the [[graft.pipeline.Corpus.dsirScore]]
 * discipline: the likelihood ratio is compared as the fixed-point
 * floor score_fp = (2⁴⁰ · pair_cnt) div (cnt(a) · cnt(b)) computed in
 * DECIMAL(38,0) (counts at corpus scale overflow int64 when
 * multiplied; the quotient is ≤ 2⁴⁰ since pair_cnt ≤ cnt(a), so the
 * floored score always fits a BIGINT). Rationals within 2⁻⁴⁰ tie and
 * break lexicographically (p1 asc, p2 asc) — deterministic and
 * replayable in any engine with 128-bit integers.
 *
 * Distributed shape (identical to [[Bpe]], the part that matters at
 * 100 TB): ONE corpus tokenize+count pass reduces everything to the
 * vocabulary-bounded (word, cnt, seq) table; each merge round is a
 * pair-count + unit-count aggregation over that table and a single-row
 * argmax collect. Encoding is a driver loop of ≤ maxWordLen rounds,
 * each one equi-join between the distinct-word cursor state and the
 * piece table (both vocabulary-bounded) — the corpus is touched once
 * to build word counts and once to join the per-word result back.
 */
object Wordpiece {

  /** MUST equal [[Bpe.Sep]]: [[Bpe.wordVocab]] builds the wrapped
    * symbol strings this object's replaces and splits operate on. */
  val Sep: String = Bpe.Sep
  private val SepSep = Sep + Sep

  private def replaceAll(c: Column, pat: Column, rep: Column): Column =
    call_function("replace", c, pat, rep)

  /** Adjacent-pair counts + the two unit counts + the fixed-point
    * likelihood score over the current symbol state. */
  private def pairScores(state: DataFrame): DataFrame = {
    val us = split(expr("substring(seq, 2, length(seq)-2)"), SepSep)
    val unitCnt = state.select(col("cnt"), explode(us).as("u"))
      .groupBy("u").agg(sum("cnt").as("ucnt"))
    val pairs = state.select(col("cnt"), us.as("us"))
      .filter(size(col("us")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(col("us")) - 1),
        i => struct(element_at(col("us"), i).as("p1"),
          element_at(col("us"), i + 1).as("p2")))).as("p"))
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(sum("cnt").as("pair_cnt"))
    pairs
      .join(unitCnt.select(col("u").as("p1"), col("ucnt").as("__c1")), Seq("p1"))
      .join(unitCnt.select(col("u").as("p2"), col("ucnt").as("__c2")), Seq("p2"))
      .withColumn("score_fp", expr(
        "(CAST(pair_cnt AS DECIMAL(38,0)) * CAST(1099511627776 AS DECIMAL(38,0)))" +
          " div (CAST(__c1 AS DECIMAL(38,0)) * CAST(__c2 AS DECIMAL(38,0)))"))
      .select("p1", "p2", "pair_cnt", "score_fp")
  }

  /** Learn `numMerges` WordPiece merges. Returns (rank, p1, p2,
    * pair_cnt, score_fp) in learning order. Same loop discipline as
    * [[Bpe.learnMerges]]: per-round single-row argmax collect,
    * localCheckpoint-cycled vocabulary-bounded state. */
  def learnMerges(docs: DataFrame, numMerges: Int,
      textCol: String = "text"): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = docs.sparkSession
    var state = Bpe.wordVocab(docs, textCol).localCheckpoint()
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      val best = pairScores(state)
        .orderBy(desc("score_fp"), asc("p1"), asc("p2")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (p1, p2) = (best.head.getString(0), best.head.getString(1))
        merges += ((r, p1, p2, best.head.getLong(2), best.head.getLong(3)))
        state = Lineage.cycle(state.withColumn("seq", replaceAll(col("seq"),
          lit(Sep + p1 + SepSep + p2 + Sep), lit(Sep + p1 + p2 + Sep))),
          state)
        r += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "p1", "p2", "pair_cnt", "score_fp")
  }

  /** The learned piece vocabulary with position classes, derived from
    * the trained corpus state: a unit is a WORD-INITIAL piece where it
    * opens some word's final segmentation and a CONTINUATION piece
    * where it appears later — plus every single character of every
    * training word in BOTH classes (the alphabet guarantee, mirroring
    * [[UnigramLm]]'s never-pruned single characters), so only words
    * with characters unseen in training can become UNK.
    *
    * @param docs   the TRAINING corpus (re-tokenized; one pass)
    * @param merges (p1, p2) pairs in learning order from [[learnMerges]]
    * @return (piece, is_initial) distinct rows
    */
  def pieceVocab(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame = {
    val vocab = Bpe.wordVocab(docs, textCol)
    val merged = merges.foldLeft(col("seq")) { case (c, (p1, p2)) =>
      replaceAll(c, lit(Sep + p1 + SepSep + p2 + Sep), lit(Sep + p1 + p2 + Sep))
    }
    val us = split(expr("substring(__m, 2, length(__m)-2)"), SepSep)
    val fromState = vocab.withColumn("__m", merged)
      .select(posexplode(us).as(Seq("pos", "piece")))
      .select(col("piece"), (col("pos") === 0).as("is_initial"))
    // split(word, "") keeps a trailing empty string (Java split with
    // limit -1); drop it or the vocabulary gains a spurious ("", *)
    // piece — inert in encode (candidate lengths start at 1) but a
    // contract violation in the public piece table.
    val alphabet = vocab
      .select(explode(split(col("word"), "")).as("piece"))
      .filter(length(col("piece")) > 0)
      .crossJoin(broadcast(
        vocab.sparkSession.range(2).select((col("id") === 0).as("is_initial"))))
    fromState.unionByName(alphabet).distinct()
  }

  /**
   * Greedy longest-match-first WordPiece encoding (the BERT
   * algorithm): per word, repeatedly take the LONGEST piece in the
   * vocabulary matching at the cursor (word-initial pieces at cursor
   * 0, continuation pieces after); a cursor with no matching piece —
   * or a word longer than `maxWordLen` — makes the WHOLE word [UNK]
   * (counted as one unit), exactly BERT's max_input_chars_per_word
   * policy.
   *
   * Round-17 optimization (the [[graft.plans.ViterbiSeg]] treatment
   * applied to the greedy tokenizer): the former driver loop of
   * ≤ maxWordLen rounds (each an explode + piece equi-join + argmax
   * aggregation + checkpoint cycle + a counting ACTION — ~2 fixed-cost
   * Spark jobs per round) is replaced by ONE substring equi-join that
   * materializes each distinct word's class-filtered piece matches
   * `(pos, l)` and ONE codegen'd cursor walk
   * ([[graft.plans.WpGreedy]], parity-pinned against the loop in
   * PipelineSpec). The piece lookup stays an equi-join — never a
   * broadcast of the vocabulary — and the match explosion is
   * ≤ maxWordLen·maxPieceLen rows per DISTINCT word, so the 100 TB
   * shape is unchanged: the corpus is touched once to build word
   * counts and once to join the per-word result back.
   *
   * @return (idCol, n_words, n_pieces, n_unk_words) per document;
   *         UNK words contribute 1 to n_pieces
   */
  def encode(docs: DataFrame, pieces: DataFrame, maxWordLen: Int = 16,
      maxPieceLen: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(maxWordLen >= 1 && maxPieceLen >= 1, "positive length caps")
    val p = pieces.select(col("piece").as("__pc"), col("is_initial").as("__pi"))
    val occurrences = docs.select(col(idCol), explode(
        graft.plans.WordShingles.shingles(col(textCol), 1)).as("word"))
      .filter(!col("word").contains(Sep))
    val words0 = occurrences.select("word").distinct()
      .withColumn("__len", length(col("word")))
    // one candidate explosion + class-filtered equi-join; words over
    // maxWordLen never enter (BERT's max_input_chars_per_word policy:
    // they walk with no matches and come out UNK)
    val matches = words0.filter(col("__len") <= maxWordLen)
      .select(col("word"), col("__len"),
        explode(sequence(lit(0), col("__len") - 1)).as("__pos"))
      .select(col("word"), col("__pos"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), col("__len") - col("__pos")))).as("__l"))
      .withColumn("__sub", expr("substring(word, __pos + 1, __l)"))
      .join(p, col("__sub") === col("__pc") &&
        col("__pi") === (col("__pos") === 0))
      .groupBy("word")
      .agg(collect_list(struct(col("__pos").as("pos"),
        col("__l").as("l"))).as("__ms"))
    // the (-1, 0) sentinel stands in for "no matches at all" (match-
    // less words drop out of the inner join): pos -1 is ignored by the
    // walk, which then finds no match at cursor 0 — UNK, exactly the
    // loop's verdict
    val walked = words0.join(matches, Seq("word"), "left")
      .withColumn("__st", graft.plans.WpGreedy.walk(col("__len"),
        coalesce(col("__ms"),
          array(struct(lit(-1).as("pos"), lit(0).as("l"))))))
      .select(col("word"),
        when(col("__st.unk"), 1L).otherwise(col("__st.np")).as("__units"),
        col("__st.unk").cast("long").as("__u"))
    val counted = occurrences.join(walked, Seq("word"))
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
