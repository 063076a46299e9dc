package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Trained quality classifier — the fastText/CCNet-style pipeline stage
 * (Joulin et al. 2017; Wenzek et al. 2020 train a classifier on a
 * high-quality reference corpus and score the crawl with it): a
 * multinomial Naive Bayes over whitespace token counts, trained on a
 * labeled document set and applied corpus-wide. Deterministic and
 * integer-exact end to end, like every scorer in this engine
 * ([[Corpus.dsirScore]] is the un-trained member of the family — a
 * likelihood-ratio model with no labels; this one fits per-class
 * token distributions from supervision).
 *
 * No float logs (the engine-wide rule — see dsirScore / UnigramLm
 * scaladocs): NB's log-probabilities are rendered in FIXED-POINT
 * BASE-2 LOGS computed by an all-integer shift-and-square algorithm,
 * [[withIlog2Fx]]. `ilog2_fx(x) ≈ 2²⁰·log2(x)` with deterministic
 * truncation — the same integer on any partitioning, any engine with
 * 64-bit integer arithmetic, and in the DuckDB oracle (which unrolls
 * the identical iteration in CTEs). Each fixed-point term is within
 * 2⁻¹⁴ of the real log2 (31 truncating steps of ≤2⁻²⁰ each), so
 * class scores track true NB scores to ~10⁻⁴ per token — ranking
 * flips vs real-log NB are confined to genuine near-ties, and the
 * argmax is still a deterministic total order (score desc, label asc).
 *
 * Weights are add-one (Laplace) smoothed: `w(c,t) = ilog(cnt_{c,t}+1)
 * − ilog(T_c + V)` with T_c the class token total and V the training
 * vocabulary size; prior `= ilog(docs_c) − ilog(docs)`. Scoring is
 * `score(d,c) = prior_c + Σ_{occurrences t∈d∩V} w(c,t)` — tokens
 * outside the training vocabulary are ignored (the standard
 * multinomial NB treatment), in-vocabulary tokens unseen in class c
 * contribute the smoothed floor `−ilog(T_c+V)`.
 *
 * Scale shape (the 100 TB story): training is one explode →
 * (label, token) count — map-side combinable — and everything after
 * operates on VOCABULARY-BOUNDED tables (the ilog chain runs over
 * |V|·C + 2C + 1 rows, never the corpus). Scoring joins the exploded
 * corpus against the BROADCAST weight matrix and aggregates
 * (doc, label) partials map-side — the corpus never shuffles except
 * the per-doc rollup. The per-doc argmax window partitions by doc_id
 * (C rows per partition), never globally.
 */
object Classifier {

  /** Fractional bits of the fixed-point log2. */
  val FracBits: Int = 20

  /**
   * Appends `outCol = ilog2_fx(greatest(xCol, 1))` — the fixed-point
   * base-2 log — as ONE native codegen'd expression
   * ([[graft.plans.Ilog2Fx]]: the 31-iteration int64 loop runs inside
   * whole-stage codegen). Bit-identical to the staged-projection
   * reference `ComposedReferences.withIlog2FxStaged` (test scope) the
   * parity spec pins against.
   */
  def withIlog2Fx(df: DataFrame, xCol: String, outCol: String): DataFrame = {
    df.withColumn(outCol, graft.plans.Ilog2Fx.ilog2(
      greatest(col(xCol).cast("long"), lit(1L))))
  }

  private def tokens(textCol: Column): Column =
    explode(graft.plans.WordShingles.shingles(textCol, 1))

  /**
   * Hashed-feature tokens — the fastText/CCNet feature scheme (Joulin
   * et al. 2017 hash word and character n-grams into a fixed bucket
   * space): per whitespace word `w`, one word feature `w:w` plus one
   * `c:g` feature per character n-gram `g` of the boundary-padded
   * `<w>`; every feature lands in `pmod(md5_48(feature), buckets)`
   * and the BUCKET ID (as a string) is the NB token. Deterministic
   * and engine-replayable: the 48-bit-md5-prefix bucket is the same
   * integer in DuckDB (`('0x' || substr(md5(f),1,12))::BIGINT %
   * buckets`), and counts stay integer-exact, so the whole trained
   * model remains oracle-checkable. Collisions are the scheme's
   * standard tradeoff (features sharing a bucket pool their counts),
   * bounded by `buckets` exactly as in fastText.
   *
   * Scale shape: the feature space is BUCKET-bounded regardless of
   * corpus vocabulary — the weight matrix is ≤ buckets·C rows even on
   * an open-vocabulary 100 TB crawl, which is the reason fastText
   * hashes in the first place (and why [[nbScore]]'s broadcast
   * default stays safe under growth).
   *
   * n is capped at 3 because the padded word `<w>` is at least 3
   * chars, keeping `sequence(1, len-n+1)` ascending for every word.
   *
   * Round-17 optimization: rendered as ONE native codegen'd
   * expression ([[graft.plans.HashedFeats]] — one pass over the
   * document bytes, a reused MessageDigest, no intermediate hex/conv
   * strings), replacing the composed higher-order-function chain
   * (`ComposedReferences.hashedTokensComposed` in the test tree, the
   * parity reference the spec pins both renditions against):
   * transform/flatten/sequence are
   * CodegenFallback, and the hashed family md5-hashes every char
   * 3-gram of the corpus — the board's heaviest remaining
   * featurization.
   */
  def hashedTokens(textCol: Column, buckets: Int, n: Int = 3): Column = {
    require(buckets > 0, "buckets must be positive")
    require(n >= 1 && n <= 3, "char n-gram order must be in [1, 3]")
    graft.plans.HashedFeats.feats(textCol, buckets.toLong, n)
  }

  /**
   * Train: fit the add-one-smoothed per-class token model on labeled
   * documents. Returns the FULL weight matrix — one row per
   * (label, vocabulary token), vocabulary-bounded — which is the
   * model [[nbScore]] consumes:
   * (label, token, cnt, w_fx, prior_fx) with `cnt` the raw class
   * count (0 for in-vocab tokens the class never saw), `w_fx` the
   * fixed-point log-likelihood weight, `prior_fx` the class's
   * fixed-point log prior (repeated per row). localCheckpointed —
   * vocabulary-bounded — so scoring plans reference a materialized
   * table, not the training lineage.
   */
  def nbTrain(docs: DataFrame, labelCol: String = "label",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    trainTok(docs, tokens(col(textCol)), labelCol)

  /** [[nbTrain]] over [[hashedTokens]] features instead of raw word
    * tokens — the fastText/CCNet-fidelity variant: the model's
    * `token` column holds bucket ids, everything downstream
    * (weights, priors, [[nbUpdate]], scoring) is unchanged. Score
    * with [[nbScoreHashed]] at the SAME (buckets, n). */
  def nbTrainHashed(docs: DataFrame, buckets: Int, n: Int = 3,
      labelCol: String = "label", textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    trainTok(docs, explode(hashedTokens(col(textCol), buckets, n)), labelCol)

  private def trainTok(docs: DataFrame, tokenOf: Column,
      labelCol: String): DataFrame = {
    val tok = docs.select(col(labelCol).cast("string").as("label"),
      tokenOf.as("token"))
    val tc = tok.groupBy("label", "token")
      .agg(count(lit(1)).cast("long").as("cnt"))
    val dc = docs.groupBy(col(labelCol).cast("string").as("label"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    fromCounts(tc, dc)
  }

  /**
   * Incremental model maintenance — the `*_incr` member of the
   * classifier family (next to dedup/PageRank/IVF/unigram-vocab
   * maintenance): fold a NEW labeled batch into a trained model
   * WITHOUT re-reading the original corpus. Multinomial NB's
   * sufficient statistics are plain counts, so the update is exact:
   * summed token counts + summed per-class doc counts re-enter the
   * same weight derivation, and the result is BIT-IDENTICAL to
   * [[nbTrain]] over the union corpus (asserted by the spec and the
   * oracle, which IS the full retrain). New tokens and entirely new
   * classes in the batch enter the vocabulary/label set naturally.
   *
   * @param model          a [[nbTrain]]/[[nbUpdate]] weight matrix
   *                       (its `cnt` column carries the sparse token
   *                       counts — zero rows are smoothing artifacts
   *                       and are dropped before summing)
   * @param classDocCounts (label, n_docs) for the corpus the model
   *                       was trained on — the one statistic the
   *                       matrix doesn't carry (priors are already
   *                       log-rendered); any production setup persists
   *                       this C-row table alongside the model
   * @param newDocs        the new labeled batch
   */
  def nbUpdate(model: DataFrame, classDocCounts: DataFrame,
      newDocs: DataFrame, labelCol: String = "label",
      textCol: String = "text"): DataFrame = {
    val newTc = newDocs.select(col(labelCol).cast("string").as("label"),
        tokens(col(textCol)).as("token"))
      .groupBy("label", "token").agg(count(lit(1)).cast("long").as("cnt"))
    val tc = model.select(col("label"), col("token"), col("cnt"))
      .filter(col("cnt") > 0)
      .unionByName(newTc)
      .groupBy("label", "token").agg(sum("cnt").cast("long").as("cnt"))
    val newDc = newDocs.groupBy(col(labelCol).cast("string").as("label"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val dc = classDocCounts.select(col("label").cast("string").as("label"),
        col("n_docs").cast("long").as("n_docs"))
      .unionByName(newDc)
      .groupBy("label").agg(sum("n_docs").cast("long").as("n_docs"))
    fromCounts(tc, dc)
  }

  /** The weight derivation from NB's sufficient statistics: `tc` the
    * sparse observed (label, token, cnt) token counts, `dc` the
    * per-class (label, n_docs) document counts. Vocabulary = distinct
    * tokens of `tc`, total docs = Σ `dc` — identical to deriving both
    * from the corpus, so [[nbTrain]] and [[nbUpdate]] share one code
    * path bit-exactly. */
  private def fromCounts(tc: DataFrame, dc0: DataFrame): DataFrame = {
    val vocab = tc.select("token").distinct()
    val vn = vocab.agg(count(lit(1)).cast("long").as("__v"))
    val tt = tc.groupBy("label").agg(sum("cnt").cast("long").as("__tc"))
    val dc = dc0.select(col("label"), col("n_docs").as("__dc"))
    val nd = dc.agg(sum("__dc").cast("long").as("__nd"))
    // one ilog chain over the union of every log argument — all
    // vocabulary-bounded rows (|V|·C token counts, C denominators,
    // C prior numerators, 1 prior denominator)
    val stats = tc.select(lit("tc").as("kind"), col("label"), col("token"),
        (col("cnt") + 1L).as("x"))
      .unionByName(tt.crossJoin(broadcast(vn)).select(lit("den").as("kind"),
        col("label"), lit("").as("token"), (col("__tc") + col("__v")).as("x")))
      .unionByName(dc.select(lit("pn").as("kind"), col("label"),
        lit("").as("token"), col("__dc").as("x")))
      .unionByName(nd.select(lit("pd").as("kind"), lit("").as("label"),
        lit("").as("token"), col("__nd").as("x")))
    val lg = withIlog2Fx(stats, "x", "lg")
    val tcLg = lg.filter(col("kind") === "tc")
      .select(col("label"), col("token"), (col("x") - 1L).as("cnt"),
        col("lg").as("__wn"))
    val denLg = lg.filter(col("kind") === "den")
      .select(col("label"), col("lg").as("__den"))
    val pdLg = lg.filter(col("kind") === "pd").select(col("lg").as("__pd"))
    val labels = lg.filter(col("kind") === "pn")
      .crossJoin(broadcast(pdLg))
      .select(col("label"), (col("lg") - col("__pd")).as("prior_fx"))
      .join(denLg, Seq("label"))
    vocab.crossJoin(broadcast(labels))
      .join(tcLg, Seq("label", "token"), "left")
      .select(col("label"), col("token"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        (coalesce(col("__wn"), lit(0L)) - col("__den")).as("w_fx"),
        col("prior_fx"))
      .localCheckpoint()
  }

  /**
   * Score: classify every document under a [[nbTrain]] model. Returns
   * (idCol, label_pred, score_fx, margin_fx) — the argmax class under
   * the deterministic total order (score desc, label asc), its
   * fixed-point score, and the gap to the runner-up (0 when the model
   * has a single class). The corpus side never shuffles before the
   * map-side-combinable (doc, label) rollup; the weight matrix rides
   * a broadcast.
   *
   * Sizing (`broadcastModel`): the default broadcasts the |V|·C
   * weight matrix — right whenever the model fits executor memory
   * (a 1M-token × 10-class matrix is ~3 long columns × 10M rows ≈
   * a few hundred MB; fine). At fastText-scale vocabularies
   * (millions of hashed n-gram features × many classes) the matrix
   * can exceed broadcast limits — pass `broadcastModel = false` and
   * the weight join degrades to a token-keyed shuffle equi-join
   * (same results; the corpus pays one shuffle on `token`). The
   * C-row prior table broadcasts unconditionally either way.
   */
  def nbScore(docs: DataFrame, model: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      broadcastModel: Boolean = true): DataFrame =
    scoreTok(docs, tokens(col(textCol)), model, idCol, broadcastModel)

  /** [[nbScore]] under a [[nbTrainHashed]] model: documents are
    * featurized with the SAME (buckets, n) so feature buckets line up
    * with the model's token ids. */
  def nbScoreHashed(docs: DataFrame, model: DataFrame, buckets: Int,
      n: Int = 3, textCol: String = "text", idCol: String = "doc_id",
      broadcastModel: Boolean = true): DataFrame =
    scoreTok(docs, explode(hashedTokens(col(textCol), buckets, n)),
      model, idCol, broadcastModel)

  private def scoreTok(docs: DataFrame, tokenOf: Column, model: DataFrame,
      idCol: String, broadcastModel: Boolean): DataFrame = {
    val labels = model.select("label", "prior_fx").distinct()
    val weights = model.select("token", "label", "w_fx")
    val contrib = docs.select(col(idCol), tokenOf.as("token"))
      .join(if (broadcastModel) broadcast(weights) else weights, Seq("token"))
      .groupBy(col(idCol), col("label"))
      .agg(sum("w_fx").cast("long").as("__sw"))
    val scores = docs.select(col(idCol))
      .crossJoin(broadcast(labels))
      .join(contrib, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        (coalesce(col("__sw"), lit(0L)) + col("prior_fx")).as("score_fx"))
    // per-doc argmax: C rows per window partition, never global
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score_fx").desc, col("label"))
    scores
      .withColumn("__rn", row_number().over(w))
      .withColumn("__nxt", lead(col("score_fx"), 1).over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("label").as("label_pred"), col("score_fx"),
        (col("score_fx") - coalesce(col("__nxt"), col("score_fx")))
          .as("margin_fx"))
  }

  /**
   * Evaluate: confusion matrix of a [[nbTrain]] model on a LABELED
   * held-out set — the per-class quality readout a classifier stage
   * ships with. One row per observed (true label, predicted label)
   * pair with its count plus both marginals, so precision
   * (`n/n_pred` on diagonal rows) and recall (`n/n_true`) are exact
   * rationals read directly off the row — no float metrics stored.
   *
   * Scale: the scoring pass is [[nbScore]]; everything after operates
   * on the C²-bounded confusion table (map-side-combinable count,
   * then two C-row marginal joins).
   */
  def nbEval(docs: DataFrame, model: DataFrame, labelCol: String = "label",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val scored = nbScore(docs, model, textCol, idCol)
      .join(docs.select(col(idCol),
        col(labelCol).cast("string").as("label")), Seq(idCol))
    val conf = scored.groupBy("label", "label_pred")
      .agg(count(lit(1)).cast("long").as("n"))
    val truth = conf.groupBy("label")
      .agg(sum("n").cast("long").as("n_true"))
    val pred = conf.groupBy("label_pred")
      .agg(sum("n").cast("long").as("n_pred"))
    conf.join(truth, Seq("label")).join(pred, Seq("label_pred"))
      .select(col("label"), col("label_pred"), col("n"), col("n_true"),
        col("n_pred"))
  }
}
