package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * BM25 ranked retrieval over the document corpus — the standard
 * keyword-search relevance model (Robertson/Spärck Jones), the query
 * side of the text-analytics family whose indexing side is
 * [[TfIdf]]. A training-data pipeline uses it to pull topical slices
 * out of a 100 TB corpus ("all docs relevant to these probe terms")
 * without an embedding pass.
 *
 * Arithmetic is integer-exact end to end, the same trade
 * [[TfIdf]] and `Corpus.unigramDfScore` document: float `ln()` idf
 * is not guaranteed to round identically across libm
 * implementations, so the operator would stop being externally
 * oracle-checkable. Instead:
 *
 *   - idf: the classic BM25 idf `(N - df + 0.5) / (df + 0.5)`
 *     rendered rationally as `(2(N - df) + 1) / (2 df + 1)` and
 *     scaled to parts-per-million integer (floor division).
 *   - tf saturation (k1 = 1.2, b = 0.75): per-doc length norm
 *     `1 + 3 dl N / L` (= 4(1 - b + b · dl/avgdl), avgdl = L/N)
 *     pre-scaled to ppm once per document, then
 *     `score = idf_ppm * 22 tf · 10^6 div (10 tf · 10^6 + 3 norm_ppm)`
 *     — exactly `idf · tf(k1+1)/(tf + k1(1-b+b·dl/avgdl))` up to the
 *     two documented floor divisions, bit-identical in any engine
 *     with integer division.
 *
 * Overflow: every product is bounded by `10^6 · 22 · tf · idf_ppm`
 * ≲ 2^60 for tf ≤ 10^4 — safe in int64 for any corpus size because
 * corpus totals (N, L) only ever appear inside the pre-reduced
 * per-doc `norm_ppm` ratio, never as raw multiplicands in the score.
 * (`norm_ppm` itself computes `10^6(L + 3 dl N)` — switch that one
 * expression to decimal(38,0) beyond ~10^9 documents.)
 *
 * Plan shape (all map-side combinable, no cartesian):
 *   one explode → per-(doc, term) counts filtered to the query terms
 *   at the scan (the filter commutes with the count and prunes the
 *   posting shuffle to query-term rows only) → df per term (tiny:
 *   ≤ |query| rows, broadcast) → per-doc length from the SAME
 *   tokenization → corpus totals as a single-row broadcast. The only
 *   big-data shuffles are keyed by doc id; the final top-k is a
 *   bounded window over per-doc scores.
 */
object Bm25 {

  /** Per-(doc, term) BM25 partial scores for `terms`, integer ppm.
    * Columns: (idCol, term, tf, df, score). */
  def termScores(docs: DataFrame, terms: Seq[String],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol),
      graft.plans.WordShingles.shingles(col(textCol), 1).as("__toks"))
    // per-doc length + corpus totals from the same tokenization
    val dl = toks.select(col(idCol), size(col("__toks")).cast("long").as("dl"))
    val totals = dl.agg(count(lit(1)).cast("long").as("__n"),
      sum("dl").cast("long").as("__l"))
    // posting list pruned to query terms BEFORE the (doc, term) shuffle
    val tf = toks.select(col(idCol), explode(col("__toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
    // df per query term over the full corpus (distinct docs per term)
    val df = tf.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(totals))
      .withColumn("__norm_ppm",
        expr("(1000000 * (__l + 3 * dl * __n)) div __l"))
      .withColumn("__idf_ppm",
        expr("((2 * (__n - df) + 1) * 1000000) div (2 * df + 1)"))
      .withColumn("score", expr(
        "(__idf_ppm * (22 * tf * 1000000)) div (10 * tf * 1000000 + 3 * __norm_ppm)"))
    scored.select(col(idCol), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Top-k documents by summed BM25 score over `terms`; ties broken
    * by doc id — deterministic and replicable in any SQL engine.
    * Columns: (idCol, n_terms, score, rank). */
  def topDocs(docs: DataFrame, terms: Seq[String], k: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val perDoc = termScores(docs, terms, textCol, idCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_terms"),
        sum("score").cast("long").as("score"))
    val w = Window.orderBy(col("score").desc, col(idCol))
    // rank over a global window: bounded input — at most one row per
    // matching doc and the window reads only (id, score); acceptable
    // for top-k result sizes. For huge candidate sets, pre-prune with
    // a per-partition top-k before the global window.
    val pruned = topKPrune(perDoc, k, idCol)
    pruned.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("n_terms"), col("score"), col("rank"))
  }

  /** Two-phase top-k pre-prune: keeps ≤ k rows per deterministic
    * hash bucket by (score desc, id asc), so the single-partition
    * ranking window sees at most k · 64 rows instead of every
    * matching document — the standard distributed top-k shape.
    * Bit-neutral: any row it drops is beaten by k rows in its own
    * bucket, hence ranked > k globally. */
  private def topKPrune(perDoc: DataFrame, k: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy(pmod(hash(col(idCol)), lit(64)))
      .orderBy(col("score").desc, col(idCol))
    perDoc.withColumn("__pr", row_number().over(w))
      .filter(col("__pr") <= k)
      .drop("__pr")
  }
}
