package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Exact phrase search over a positional posting list — the retrieval
 * capability [[Bm25]]'s bag-of-words scoring cannot express: "these
 * words, adjacent, in this order". The classic inverted-index
 * formulation (public IR textbook material; the same shape Lucene's
 * PhraseQuery executes per segment) rendered as Spark equi-joins.
 *
 * Scale shape: the posting build is one tokenize/posexplode pass —
 * at 100 TB the postings land in a term-partitioned lake table and
 * queries PRUNE TO THE PHRASE'S TERMS at the scan (partition
 * pruning + pushed `term IN (...)` filter; asserted in the spec).
 * The phrase match itself is k−1 equi-joins on (doc, adjusted
 * position): term i's postings join term 0's on `pos_i = pos_0 + i`,
 * so each join input is one term's postings, never the corpus. Join
 * order starts from the RAREST phrase term (computed from the
 * pruned postings themselves — a k-row count, not a corpus pass):
 * every subsequent join is bounded by the rarest term's df, which is
 * the textbook trick that makes "the big apple" cost apple-sized,
 * not the-sized, work.
 *
 * Overlapping matches are separate matches ("x x x" contains
 * "x x" twice) — positional semantics, pinned in the spec.
 *
 * Output: (idCol, n_matches, first_pos) per matching document.
 */
object PhraseSearch {

  /** (term, idCol, pos) positional postings, 0-based positions. */
  def positionalPostings(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    docs.select(col(idCol), posexplode(
        graft.plans.WordShingles.shingles(col(textCol), 1))
      .as(Seq("pos", "term")))
      .select(col("term"), col(idCol), col("pos"))
  }

  /** Search `phrase` (ordered tokens) against a postings frame. */
  def phraseSearch(postings: DataFrame, phrase: Seq[String],
      idCol: String = "doc_id"): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    // prune to the phrase's terms FIRST: this is the filter that
    // reaches the posting scan
    val pruned = postings.filter(col("term").isin(phrase: _*))
    // rarest-first join order from the pruned postings' term counts
    // (k rows; a driver-side scalar fetch like every planner stat —
    // bounded by the phrase's own distinct-term count; asserted)
    val dfs = DriverBounds.boundedCollect(
        pruned.groupBy("term").agg(count(lit(1)).as("__df")),
        phrase.distinct.size.toLong, "phraseSearch term stats")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a phrase term with no postings at all -> no matches anywhere.
    // The empty frame derives its id column from the POSTINGS schema
    // (not a hardcoded LongType) so both return paths of this method
    // stay union/cache-compatible whatever the caller's id type is.
    if (phrase.exists(t => !dfs.contains(t))) {
      return pruned.select(col(idCol), lit(0L).as("n_matches"),
        lit(0).as("first_pos")).limit(0)
    }
    val order = phrase.zipWithIndex.sortBy { case (t, _) => (dfs(t), t) }
    def side(term: String, offset: Int) = pruned
      .filter(col("term") === term)
      .select(col(idCol), (col("pos") - offset).as("__p"))
    val (t0, i0) = order.head
    val anchored = order.tail.foldLeft(side(t0, i0)) { case (acc, (t, i)) =>
      acc.join(side(t, i), Seq(idCol, "__p"))
    }
    anchored.groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_matches"),
        min("__p").cast("int").as("first_pos"))
  }

  /** Convenience: build postings and search in one call. */
  def search(docs: DataFrame, phrase: Seq[String], textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    phraseSearch(positionalPostings(docs, textCol, idCol), phrase, idCol)
}
