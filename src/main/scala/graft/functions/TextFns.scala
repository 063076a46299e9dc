package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis functions for large-scale training-data pipelines:
 * tokenization, token counting, language-ID heuristic, quality
 * scoring, fingerprinting, and word n-grams. All are compositions of
 * codegen'd built-ins (no UDFs) and all are deterministic, so results
 * are independent of partitioning — the property that makes them safe
 * at 100 TB and lets a SQL oracle replicate them exactly.
 */
object TextFns {

  /** Whitespace tokens, empties dropped (leading/trailing whitespace
    * would otherwise produce "" tokens). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Token count on whitespace tokens. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token — the usual cheap
    * stand-in for a byte-pair-encoded length estimate. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Normalized form used by fingerprints: lowercase, all non-word
    * characters removed. */
  def normalized(text: Column): Column =
    lower(regexp_replace(text, "\\W+", ""))

  /** Document fingerprint: md5 of the normalized text — byte-stable
    * across engines and partitions. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  private val accentSrc = "áàâäãåéèêëíìîïóòôöõúùûüçñý"
  private val accentDst = "aaaaaaeeeeiiiiooooouuuucny"

  /** Dedup-key normalization: lowercase, fold common Latin accents via
    * an explicit translate table (deterministic and replicable in any
    * engine, unlike locale/ICU-dependent folding), collapse every
    * non-alphanumeric run to one space, trim. The precursor that turns
    * "Crème  Brûlée!" and "creme brulee" into the same exact-dedup
    * key. */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(translate(lower(text), accentSrc, accentDst),
      "[^a-z0-9]+", " "))

  /** Rolling-hash-style shingle fingerprint: the minimum md5 over the
    * document's word n-grams (a 1-hash MinHash), null for very short
    * docs. Shingles come from the native single-pass
    * [[graft.plans.WordShingles]] (byte-identical to the composed
    * `ComposedReferences.wordNgrams` in test scope, whose interpreted
    * transform/slice chain re-split the text per gram). */
  def shingleFingerprint(text: Column, n: Int = 3): Column =
    array_min(transform(graft.plans.WordShingles.shingles(text, n), s => md5(s)))

  /** Marker stopwords per language for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny: language ID at pipeline scale is a
    * cheap first-pass router, not a classifier. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "fr" -> Seq("le", "la", "les", "et", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  /** Language-ID heuristic: CJK characters → "zh"; otherwise the
    * language with the most marker-stopword hits (ties broken by the
    * fixed order en→fr→de→es); no hits at all → "und". */
  def langId(text: Column): Column = {
    // Native single-pass marker counter (round 11): the composed form
    // (kept in test scope as ComposedReferences.langIdComposed, the
    // oracle-replicable reference)
    // ran four interpreted ArrayFilter lambdas — each re-tokenizing
    // the document — plus a regex pass for the CJK probe; one row of
    // q_lang_id paid ~5 full scans. lang_marker_counts returns
    // [cjk, en, fr, de, es] from one compiled byte scan,
    // bit-identical (parity pinned in PipelineSpec against the
    // composed form over adversarial unicode/case/tie inputs).
    val c = graft.plans.LangMarkerCounts.counts(text)
    val order = Seq("en", "fr", "de", "es")
    val counts = order.zipWithIndex.map { case (l, i) =>
      l -> c.getItem(i + 1) }
    val maxCount = greatest(counts.map(_._2): _*)
    // foldRight so the first language in `order` wins ties.
    val pick = counts.foldRight(lit("und")) { case ((l, cc), acc) =>
      when(cc === maxCount && cc > 0, l).otherwise(acc) }
    when(c.getItem(0) > 0, "zh").otherwise(pick)
  }

  /** Gopher-style repetition/shape signals (public Gopher &
    * RefinedWeb-era filtering rules): repeated-n-gram ratio, mean word
    * length, symbol-to-word ratio. Integer counts + single divisions →
    * deterministic and oracle-replicable. */
  def docSignals(text: Column, n: Int = 2): Column = {
    // Native WordShingles for token/gram counts (round 10): the
    // composed tokens/wordNgrams (ComposedReferences.wordNgrams)
    // chained interpreted higher-order functions (CodegenFallback),
    // which both run per-element lambdas AND defeat
    // common-subexpression elimination — through the
    // 3-field struct projection every document was re-tokenized up to
    // a dozen times and q_doc_signals alone cost 16 s of the sf0.1
    // bench. Results are bit-identical (WordShingles is byte-for-byte
    // the composed form; distinct=true folds array_distinct into the
    // same pass).
    val grams = graft.plans.WordShingles.shingles(text, n)
    val gramsDistinct = graft.plans.WordShingles.shingles(text, n, distinct = true)
    val nToks = size(graft.plans.WordShingles.shingles(text, 1))
    val rep = when(size(grams) > 0,
      lit(1.0) - size(gramsDistinct).cast("double") / size(grams))
      .otherwise(0.0)
    // sum of token lengths without a per-token fold: tokens partition
    // the non-whitespace characters exactly (same \s class as the
    // tokenizer), so it equals length(text) minus the whitespace-char
    // count — two codegen'd scalar ops replacing the interpreted
    // `aggregate` lambda, same integers, bit-identical quotient.
    val tokChars = (length(text) - regexp_count(text, lit("\\s"))).cast("long")
    val meanLen = when(nToks > 0,
      tokChars.cast("double") / nToks).otherwise(0.0)
    val symbols = regexp_count(text, lit("[#@/\\\\{}\\[\\]<>|~^]")).cast("double")
    val symbolRatio = symbols / greatest(nToks, lit(1)).cast("double")
    struct(round(rep, 6).as("rep_ratio"),
      round(meanLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_ratio"))
  }

  /** PII-style redaction: mask email addresses and long digit runs —
    * the standard pre-training scrub pass, pure regexp_replace chain. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "\\d{7,}", "<NUM>")

  /** Quality score in [0,1]: average of a length score (chars/500
    * capped at 1), an alpha ratio, and a stopword-presence score.
    * Integer counts + one final division keep it bit-identical across
    * engines. */
  def qualityScore(text: Column): Column = {
    val chars = length(text).cast("double")
    val lenScore = least(chars / 500.0, lit(1.0))
    val alpha = regexp_count(text, lit("[A-Za-z]")).cast("double")
    val alphaRatio = when(chars > 0, alpha / chars).otherwise(0.0)
    // stopword hits via the native counter (round 11): the 20 marker
    // sets are pairwise disjoint, so the union count the composed
    // form filtered for equals the SUM of the per-language counts —
    // same integers, same doubles, hash-identical score (parity
    // pinned in PipelineSpec). Token count from the native tokenizer
    // (lowercasing never changes whitespace, so counting tokens of
    // `text` equals counting tokens of `lower(text)`).
    val c = graft.plans.LangMarkerCounts.counts(text)
    val stop = (c.getItem(1) + c.getItem(2) + c.getItem(3) + c.getItem(4))
      .cast("double")
    val nToks = size(graft.plans.WordShingles.shingles(text, 1))
    val stopScore = least(stop * 10.0 / greatest(nToks, lit(1)).cast("double"), lit(1.0))
    round((lenScore + alphaRatio + stopScore) / 3.0, 6)
  }

  /**
   * Canonical URL key for crawl deduplication: two crawl records of
   * the same page routinely differ only in case, default ports,
   * trailing slashes, tracking parameters, parameter order, and
   * fragments — six variants of one page survive an exact-URL dedup
   * and then burn six near-dup comparisons. Canonicalizing FIRST
   * collapses them in the cheap exact pass.
   *
   * Steps (all engine-portable regex/array ops — deliberately not
   * `parse_url`, the [[graft.pipeline.Corpus.urlFeatures]] contract):
   * lowercase scheme and host; strip the scheme's default port
   * (http:80, https:443); strip trailing slashes from the path; drop
   * the fragment; drop tracking parameters (`utm_*`, `fbclid`,
   * `gclid`); SORT surviving parameters (order-insensitive key).
   * Non-URL strings (no `scheme://`) return null — the caller
   * decides whether null keys group or pass through.
   */
  def canonicalUrl(url: Column): Column = {
    val u = trim(url)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1))
    val hostport = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val path = regexp_replace(
      regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)", 1),
      "/+$", "")
    val query = regexp_extract(u, "\\?([^#]*)", 1)
    val params = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)")))
    val queryNorm = array_join(params, "&")
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(queryNorm === "", lit("")).otherwise(concat(lit("?"), queryNorm))))
  }
}
