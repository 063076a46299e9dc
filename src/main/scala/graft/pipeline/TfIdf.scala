package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * TF-IDF-style term weighting over the document corpus — the text-
 * analytics primitive behind keyword extraction and cheap relevance
 * ranking in a training-data pipeline.
 *
 * Scores stay in integer arithmetic (`tf * 1_000_000 div df`) instead
 * of floating log-idf: the ranking it induces for a fixed corpus is
 * the same as tf/df, and integer division is bit-identical across
 * engines, which keeps the operator externally oracle-checkable —
 * float `ln()` is not guaranteed to round identically between libm
 * implementations.
 *
 * Plan shape: one explode + two hash aggregations (term counts per
 * doc, document frequency per term) + one shuffle join on the term —
 * all map-side combinable. The df side is orders of magnitude smaller
 * than the posting list, and the per-doc top-k is a bounded window.
 */
object TfIdf {

  /** (idCol, term, tf, df, score) — one row per distinct (doc, term). */
  def termScores(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val posting = docs.select(col(idCol),
        explode(graft.plans.WordShingles.shingles(col(textCol), 1)).as("term"))
    val tf = posting.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, Seq("term"))
      .withColumn("score", expr("tf * 1000000 div df"))
      // the USING join surfaces `term` first — reorder to the
      // documented (idCol, term, tf, df, score) contract so positional
      // consumers bind correctly
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Top-k highest-scored terms per document, ties broken by term —
    * deterministic and replicable in any SQL engine. */
  def topTerms(docs: DataFrame, k: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    termScores(docs, textCol, idCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }
}
