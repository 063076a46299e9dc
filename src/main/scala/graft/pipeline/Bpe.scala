package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding tokenizer TRAINING and application as Spark
 * jobs — the step between corpus curation and the model: learn the
 * merge table on the cleaned corpus, then encode the corpus with it
 * (token counts for budget selection, packing, mixture weights all
 * shift once real merges replace the whitespace proxy).
 *
 * Distributed shape (the part that matters at 100 TB): BPE merges
 * never cross word boundaries, so training operates on the DISTINCT
 * WORD vocabulary weighted by occurrence counts — one corpus-wide
 * tokenize+count (map-side combinable) reduces the 100 TB text to a
 * vocabulary-bounded (word, cnt) table, and every one of the k merge
 * iterations is a pair-count aggregation over that small table.
 * The corpus is read ONCE no matter how many merges are learned.
 * Encoding is the opposite regime: embarrassingly parallel narrow
 * column expressions (k literal replaces per token), no shuffle until
 * the final per-doc count aggregation.
 *
 * Greedy-merge representation: a word's symbol sequence is one string
 * `SEP sym SEP SEP sym SEP … SEP` (SEP = U+001F, absent from
 * whitespace-split tokens; words containing it are dropped
 * defensively). Applying merge (p1,p2) is then literally
 * `replace(seq, SEP p1 SEP SEP p2 SEP, SEP p1p2 SEP)`: SQL replace
 * scans left-to-right and continues AFTER each replacement, which IS
 * BPE's greedy non-overlapping rule — a run "a a a" merges to
 * "aa a", never "a aa" (verified against DuckDB, whose replace has
 * identical semantics, so the oracle can replay training exactly).
 * The double separator at internal boundaries makes misaligned
 * matches impossible: a pattern match must start at `SEP p1` whose
 * SEP is the second of a boundary pair (or the string head), which
 * only occurs at true unit starts since symbols cannot contain SEP.
 *
 * Pair counting follows the classic formulation (Sennrich et al.,
 * "Neural Machine Translation of Rare Words with Subword Units" —
 * public paper): every adjacent position counts, weighted by the
 * word's corpus frequency; ties on count break lexicographically
 * (p1 asc, p2 asc) so training is deterministic and replayable.
 */
object Bpe {

  val Sep = "\u001f"
  private val SepSep = Sep + Sep

  /** word → wrapped char-level symbol string. */
  private def wrap(word: Column): Column =
    concat(lit(Sep), array_join(split(word, ""), SepSep), lit(Sep))

  private def replaceAll(c: Column, pat: Column, rep: Column): Column =
    call_function("replace", c, pat, rep)

  /** Corpus → (word, cnt, seq) training vocabulary. One full-volume
    * pass; everything downstream is vocabulary-bounded. */
  def wordVocab(docs: DataFrame, textCol: String = "text"): DataFrame = {
    docs.select(explode(
        graft.plans.WordShingles.shingles(col(textCol), 1)).as("word"))
      .filter(!col("word").contains(Sep))
      .groupBy("word").agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("seq", wrap(col("word")))
  }

  /** Adjacent-pair counts over the current symbol state, weighted by
    * word frequency. Vocabulary-bounded input and output. */
  private def pairCounts(state: DataFrame): DataFrame = {
    val units = split(expr("substring(seq, 2, length(seq)-2)"), SepSep)
    state.select(col("cnt"), units.as("us"))
      .filter(size(col("us")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(col("us")) - 1),
        i => struct(element_at(col("us"), i).as("p1"),
          element_at(col("us"), i + 1).as("p2")))).as("p"))
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(sum("cnt").as("pair_cnt"))
  }

  /** Learn `numMerges` merges. Returns (rank, p1, p2, pair_cnt) in
    * learning order. The per-iteration argmax is a single-row collect
    * (bounded scalar fetch — the model update every iterative trainer
    * performs); each iteration's state is a vocabulary-bounded frame,
    * persisted so iteration r+1 does not replay r's replaces. */
  def learnMerges(docs: DataFrame, numMerges: Int,
      textCol: String = "text"): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = docs.sparkSession
    // localCheckpoint (round 13): each round chains one replaceAll
    // onto the state plan, so persist-only iteration re-analyzes an
    // O(r)-deep plan every round (O(r²) total) — harmless at 20
    // merges, compounding at a production merge count; truncating
    // per round makes every round's plan constant-size (the
    // Graphs.kCore lesson applied before it costs anything).
    var state = wordVocab(docs, textCol).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      val best = pairCounts(state)
        .orderBy(desc("pair_cnt"), asc("p1"), asc("p2")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (p1, p2, cnt) = (best.head.getString(0), best.head.getString(1),
          best.head.getLong(2))
        merges += ((r, p1, p2, cnt))
        // cycle, not bare localCheckpoint (round 14): the superseded
        // round's checkpoint blocks are released as soon as the new
        // state materializes — without it a production merge count
        // accumulates O(rounds x vocab) dead blocks until driver GC
        state = Lineage.cycle(state.withColumn("seq", replaceAll(col("seq"),
          lit(Sep + p1 + SepSep + p2 + Sep), lit(Sep + p1 + p2 + Sep))),
          state)
        r += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "p1", "p2", "pair_cnt")
  }

  /** Apply a learned merge list (training order) to a corpus: per
    * document, the whitespace word count and the BPE unit count after
    * all merges. Narrow k-replace chain per token — codegen'd string
    * ops, zero shuffle before the final per-doc aggregation. Unit
    * count is separator arithmetic: units = #SepSep + 1 =
    * (len(seq) − len(replace(seq, SepSep, Sep))) + 1. */
  def encode(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val words = docs.select(col(idCol), explode(
        graft.plans.WordShingles.shingles(col(textCol), 1)).as("word"))
      .filter(!col("word").contains(Sep))
    val merged = merges.foldLeft(wrap(col("word"))) { case (c, (p1, p2)) =>
      replaceAll(c, lit(Sep + p1 + SepSep + p2 + Sep), lit(Sep + p1 + p2 + Sep))
    }
    val unitCount =
      length(merged) - length(replaceAll(merged, lit(SepSep), lit(Sep))) + 1
    val counted = words
      .select(col(idCol), unitCount.cast("long").as("__u"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum("__u").cast("long").as("n_bpe_units"))
    docs.select(col(idCol)).join(counted, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_units"), lit(0L)).as("n_bpe_units"))
  }

  /**
   * Per-group tokenizer fertility report over [[encode]] output —
   * BPE units per word in integer ppm, rolled up by a grouping
   * attribute (typically language). Fertility is THE cross-lingual
   * tokenizer-quality number: a vocabulary trained on English
   * over-fragments other scripts, and this report is how that bias
   * is measured before committing a merge table to a multilingual
   * run. With an empty merge table fertility degenerates to mean
   * word length (every character its own unit) — the upper bound
   * training merges push down from.
   *
   * Scale: one id-keyed equi-join of two narrow tables (the encode
   * output is 3 longs per doc) followed by a group-cardinality
   * aggregation — map-side combinable, no hot keys beyond the group
   * sizes themselves.
   */
  def fertilityByGroup(encoded: DataFrame, groups: DataFrame,
      groupCol: String = "lang", idCol: String = "doc_id"): DataFrame =
    encoded.join(groups.select(col(idCol), col(groupCol)), Seq(idCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n_words").cast("long").as("n_words"),
        sum("n_bpe_units").cast("long").as("n_bpe_units"))
      .withColumn("fertility_ppm",
        expr("(1000000 * n_bpe_units) div greatest(n_words, 1L)")
          .cast("long"))
}
