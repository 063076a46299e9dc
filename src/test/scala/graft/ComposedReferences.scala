package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{langMarkers, tokens}

/** The composed built-in-function renditions the native expressions
  * replaced. Each is an independent reference (it shares no code with
  * the native digest/fold path), and the PipelineSpec parity pins
  * compare the production operator against it. */
object ComposedReferences {

  /** [[graft.pipeline.Similarity]]'s squared-L2 fold, natively
    * [[graft.plans.VecDist2]]. */
  def dist2FoldComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

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
}
