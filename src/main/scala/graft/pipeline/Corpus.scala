package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/**
 * Corpus-preparation operators for training-data pipelines: chunking,
 * deterministic stratified sampling, embedding quantization, and the
 * composed filter→dedup→stats flow. Everything is a narrow columnar
 * pass or a hash-bucket decision — deterministic, partition-order
 * independent, and oracle-replicable (md5-based buckets, integer
 * arithmetic).
 */
object Corpus {

  /**
   * Split documents into token-window chunks with overlap — the
   * standard prep for fixed-context training. One output row per
   * chunk: (idCol, chunk_index, chunk_text, n_chunk_tokens).
   * Stride = chunkTokens - overlapTokens; the last window keeps its
   * tail remainder.
   */
  def chunk(docs: DataFrame, chunkTokens: Int, overlapTokens: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(overlapTokens < chunkTokens, "overlap must be below chunk size")
    // a negative overlap makes stride exceed the chunk size and
    // silently DROPS the tokens between consecutive windows
    require(overlapTokens >= 0, "overlap must be non-negative")
    val stride = chunkTokens - overlapTokens
    val toks = graft.plans.WordShingles.shingles(col(textCol), 1)
    val nChunks = greatest(
      ceil((size(col("__toks")) - lit(overlapTokens)).cast("double") / stride)
        .cast("int"), lit(1))
    docs.select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => slice(col("__toks"), i * stride + 1, lit(chunkTokens)))))
      .select(col(idCol), col("pos").as("chunk_index"),
        array_join(col("col"), " ").as("chunk_text"),
        size(col("col")).cast("long").as("n_chunk_tokens"))
  }

  /** The ONE definition of the engine's deterministic md5 bucket fold
    * (ascii codes of the first four md5 hex chars, base-31 Horner,
    * mod `mod`) — replicable in any engine with md5, unlike
    * rand()/xxhash sampling. Every bucketing caller (samplers,
    * cappers, DSIR feature hashing) and the DuckDB-side
    * `Fixtures.bucketSql` must stay in lockstep with this fold; a
    * second inline copy is how a salt/fold tweak silently breaks
    * Spark/DuckDB bucket parity (round-13 review). */
  def hashBucketN(c: Column, mod: Int): Column = hashFold(c) % mod

  /** The un-modded fold — for callers whose modulus is data-dependent
    * (a column, not a literal), e.g. [[UnigramLm.sample]]'s draw over
    * a per-word alternative count. Non-negative (≤ 102·(31³+31²+31+1);
    * hex-digit ascii max is 'f' = 102), so `%` equals `pmod` on it. */
  def hashFold(c: Column): Column = graft.plans.Md5Fold31.fold(c)

  /** Deterministic content-hash bucket in [0, 100). */
  def hashBucket(c: Column): Column = hashBucketN(c, 100)

  /**
   * Stratified sampling for data mixing: per-stratum keep-percentages
   * (e.g. lang → %), decided by the content-hash bucket so the sample
   * is stable across runs, partitions, and engines — rand() sampling
   * is not reproducible and not oracle-checkable.
   *
   * The bucket input is SALTED with an operator tag: each sampler /
   * capper hashes a different string, so composing them keeps every
   * stage's keep rate calibrated. Unsalted, a capPerGroup survivor set
   * IS the low-bucket tail, and a downstream `bucket < rate` filter
   * would keep ~100% of it instead of the computed rate.
   */
  def stratifiedSample(docs: DataFrame, strataCol: String,
      quotas: Map[String, Int], textCol: String = "text"): DataFrame = {
    val quota = quotas.foldLeft(lit(0)) { case (acc, (k, pct)) =>
      when(col(strataCol) === k, pct).otherwise(acc) }
    docs.filter(hashBucket(concat(lit("sample:"), col(textCol))) < quota)
  }

  /** Finer deterministic bucket in [0, 10000) for permyriad rates. */
  def hashBucket10k(c: Column): Column = hashBucketN(c, 10000)

  /**
   * Resample a corpus toward a target source mixture — the "data
   * recipe" step of a training pipeline (N tokens at weights w_s per
   * source). Per-source keep rate (permyriad, integer-exact):
   * min(10000, (10000 · totalTarget · w_s) div (Σw · n_s)), where n_s
   * is the source's actual doc count; sources absent from `weights`
   * are dropped. A source whose supply is below its target quota
   * keeps everything (rate caps at 10000) — oversampling/duplication
   * is a separate, explicit decision, not something a sampler should
   * do silently.
   *
   * Scale: one tiny per-source count aggregation broadcast back onto
   * the corpus, then a stateless hash-bucket filter — no shuffle of
   * the corpus itself, deterministic under replay/retry.
   */
  def mixToTarget(docs: DataFrame, strataCol: String,
      weights: Map[String, Long], totalTarget: Long,
      textCol: String = "text"): DataFrame = {
    require(weights.values.forall(_ > 0), "weights must be positive")
    require(totalTarget > 0, "target must be positive")
    val wsum = weights.values.sum
    val wCol = weights.foldLeft(lit(0L)) { case (acc, (k, w)) =>
      when(col(strataCol) === k, w).otherwise(acc) }
    val counts = docs.groupBy(strataCol).agg(count(lit(1)).as("__n"))
    docs.join(broadcast(counts), Seq(strataCol))
      .withColumn("__w", wCol)
      // DECIMAL(38) arithmetic: token-scale weights (1e11) times a
      // token-scale target (1e9) overflow Long (9.2e18) and a wrapped
      // NEGATIVE rate silently empties the source; decimals keep the
      // rate integer-exact to 38 digits
      .withColumn("__keep_pm", least(lit(10000L),
        expr(s"CAST((CAST(10000 AS DECIMAL(38,0)) * " +
          s"CAST(${totalTarget} AS DECIMAL(38,0)) * __w) div " +
          s"(CAST(${wsum} AS DECIMAL(38,0)) * __n) AS BIGINT)")))
      .filter(col("__w") > 0 &&
        hashBucket10k(concat(lit("mix:"), col(textCol))) < col("__keep_pm"))
      .drop("__n", "__w", "__keep_pm")
  }

  /**
   * Boilerplate n-grams: word n-grams appearing in at least `minDf`
   * DISTINCT documents — repeated headers/footers/disclaimers that
   * inflate near-dup rates and waste training tokens. Distinct-per-doc
   * shingling makes the count a document frequency.
   *
   * Scale: explode → map-side-combinable count; the surviving
   * high-df set is vocabulary-bounded and small.
   */
  def boilerplateNgrams(docs: DataFrame, n: Int, minDf: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    docs.select(col(idCol),
        explode(graft.plans.WordShingles.shingles(col(textCol), n,
          distinct = true)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
  }

  /**
   * Per-document boilerplate coverage: how many of the doc's n-gram
   * OCCURRENCES (positions, duplicates counted) are boilerplate, as
   * an integer permille — the quality signal that drives
   * drop-or-strip decisions. Docs shorter than n tokens have no
   * n-grams and don't appear.
   */
  def boilerplateCoverage(docs: DataFrame, n: Int, minDf: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val grams = docs.select(col(idCol),
      explode(graft.plans.WordShingles.shingles(col(textCol), n)).as("gram"))
    val boiler = boilerplateNgrams(docs, n, minDf, textCol, idCol)
      .select(col("gram"), lit(true).as("__b"))
    grams.join(boiler, Seq("gram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("total_grams"), count(col("__b")).as("boiler_grams"))
      .withColumn("boiler_permille",
        expr("(1000L * boiler_grams) div total_grams"))
  }

  /**
   * URL features for web-crawl corpora: scheme, host, a registered-
   * domain HEURISTIC (last two dot-labels — right for .com/.org,
   * wrong for two-level public suffixes like .co.uk; production joins
   * a public-suffix TABLE, which is data, not engine logic — the
   * column is named `domain_guess` so nobody mistakes it for PSL
   * truth), path depth, and query-parameter count. Pure codegen'd
   * regexp/split arithmetic, deliberately NOT parse_url: its
   * authority/query semantics differ between engines, which would
   * break hash-exact verification. Linear, no shuffle.
   */
  def urlFeatures(df: DataFrame, urlCol: String = "url"): DataFrame = {
    val u = col(urlCol)
    val auth = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]+)", 1)
    // authority = [userinfo@]host[:port] — strip both ends
    val host = lower(regexp_replace(
      regexp_replace(auth, "^[^@]*@", ""), ":[0-9]+$", ""))
    val labels = split(host, "\\.")
    val domain = when(size(labels) >= 2,
      concat_ws(".", element_at(labels, -2), element_at(labels, -1)))
      .otherwise(host)
    val path = regexp_extract(u,
      "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]+(/[^?#]*)", 1)
    val query = regexp_extract(u, "\\?([^#]*)", 1)
    df.withColumn("scheme",
        lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1)))
      .withColumn("host", host)
      .withColumn("domain_guess", domain)
      .withColumn("path_depth",
        size(filter(split(path, "/"), s => s =!= "")).cast("int"))
      .withColumn("n_params",
        size(filter(split(query, "&"), s => s =!= "")).cast("int"))
  }

  /**
   * Unigram document-frequency scoring — the integer-exact core of
   * the CCNet-style LM-quality signal: documents whose tokens are
   * common across the corpus read as fluent/in-domain, documents made
   * of rare tokens as noise/OOD. Emits per doc: `n_tokens` and
   * `df_sum` (sum over token OCCURRENCES of that token's corpus
   * document frequency). Consumers derive mean-df (df_sum/n_tokens)
   * or compare two docs rationally (df_sum_a·n_b vs df_sum_b·n_a)
   * without touching floats — a log-prob formulation would drift in
   * the last ulp between engines and break hash-exact verification.
   *
   * Scale: token explode → per-doc-distinct df count (both aggs
   * map-side combinable) → df rejoin on the token (stopword-hot keys
   * are AQE skew-join territory) → per-doc sum. All linear; the df
   * table is vocabulary-bounded.
   */
  def unigramDfScore(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(TextFns.tokens(col(textCol))).as("tok"))
    val df = toks.distinct()
      .groupBy("tok").agg(count(lit(1)).as("__df"))
    toks.join(df, Seq("tok"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum("__df").cast("long").as("df_sum"))
  }

  /**
   * Top n-gram coverage — the Gopher-family repetition filter the
   * scalar docSignals can't express: the share of a document's n-gram
   * OCCURRENCES held by its single most frequent n-gram, as an
   * integer permille. A document dominated by one repeated phrase
   * scores near 1000 and gets dropped before training. Ties on the
   * max count don't affect the result (the count, not the gram, is
   * reported).
   *
   * Scale: explode → per-(doc, gram) count (map-side combinable) →
   * per-doc sum/max — two shuffles keyed by doc id, group size
   * bounded by document length. Docs shorter than n tokens have no
   * n-grams and don't appear.
   */
  def topNgramCoverage(docs: DataFrame, n: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    docs.select(col(idCol),
        explode(graft.plans.WordShingles.shingles(col(textCol), n)).as("gram"))
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("__c"))
      .groupBy(idCol)
      .agg(sum("__c").as("total_grams"), max("__c").as("top_count"))
      .withColumn("top_permille", expr("(1000L * top_count) div total_grams"))
  }

  /** Scalar-quantize an embedding to int8-range ints with per-vector
    * min/max (the usual 4× storage cut for ANN corpora). Returns
    * (codes:array<int>, vmin, vmax) for reconstruction.
    *
    * The bounds are bound ONCE per row by routing them through a
    * single-element array's `transform` lambda: a naive formulation
    * that references `array_min(v)` inside the codes lambda
    * re-evaluates the O(d) min/max for EVERY element (O(d²) per row —
    * measured 8× slower at d=64, and quadratically worse for real
    * 1k-dim embeddings). Catalyst has no let-binding and its
    * subexpression elimination does not reach inside higher-order-
    * function lambdas, so the lambda variable is the one place an
    * intermediate can be pinned within a single Column. */
  def quantize(vec: Column): Column = {
    val v = transform(vec, x => x.cast("double"))
    element_at(
      transform(
        array(struct(v.as("v"), array_min(v).as("lo"), array_max(v).as("hi"))),
        b => {
          val lo = b.getField("lo")
          val hi = b.getField("hi")
          val scale = when(hi > lo, (hi - lo) / 255.0).otherwise(lit(1.0))
          struct(
            transform(b.getField("v"),
              x => round((x - lo) / scale).cast("int")).as("codes"),
            lo.as("vmin"), hi.as("vmax"))
        }), 1)
  }

  /** Reconstruct a quantized embedding (array<double>). */
  def dequantize(q: Column): Column = {
    val lo = q.getField("vmin")
    val hi = q.getField("vmax")
    val scale = when(hi > lo, (hi - lo) / 255.0).otherwise(lit(1.0))
    transform(q.getField("codes"), c => lo + c.cast("double") * scale)
  }

  /**
   * Benchmark decontamination: drop training documents that share any
   * word n-gram with a benchmark/eval set — the standard leakage guard
   * before training. The benchmark side collapses to a distinct set of
   * 16-byte gram hashes (tiny → broadcast); the corpus side is one
   * explode + anti-join, so the cost is linear in corpus tokens no
   * matter how large the training side is.
   *
   * Blind spot, by construction: a benchmark item SHORTER than n
   * tokens produces no n-gram and is never matched — pick n at or
   * below the shortest eval item you must guard, or route short items
   * through [[semanticDecontaminate]] (embedding match has no length
   * floor).
   */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val benchGrams = benchmark
      .select(explode(graft.plans.WordShingles.shingles(col(textCol), n)).as("g"))
      .select(md5(col("g")).as("gh")).distinct()
    val contaminated = docs
      .select(col(idCol), explode(graft.plans.WordShingles.shingles(col(textCol), n)).as("g"))
      .select(col(idCol), md5(col("g")).as("gh"))
      .join(broadcast(benchGrams), Seq("gh"), "left_semi")
      .select(idCol).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /**
   * [[decontaminate]] for benchmark sets past the broadcast regime.
   * The plain guard broadcasts the bench gram-hash set as a
   * HashedRelation — every 32-byte md5 key verbatim, which caps the
   * bench side at broadcast-budget / ~32B. A large eval union (every
   * benchmark's train/dev/test splits, 10⁸+ distinct grams) blows
   * that budget; this variant broadcasts a Bloom filter over the
   * bench grams instead (~1.2 bytes/key at 1% fpp — an
   * order-of-magnitude larger guard set under the same budget) and
   * prunes the corpus gram stream AT THE SCAN, before any exchange.
   * Survivors (true hits + the fpp sliver) are then CONFIRMED against
   * the exact bench gram set in an equi-join — so the result is
   * IDENTICAL to [[decontaminate]] (no false negatives; false
   * positives lose the confirm join), which the oracle checks. The
   * confirm join shuffles only the pruned sliver plus the bench gram
   * hashes — a plain O(bench) exchange, fine at 10⁸ rows; it is the
   * broadcast that was impossible.
   *
   * Eager work at plan-build time: building the filter is one job
   * over the bench side (same documented contract as
   * [[graft.pipeline.Dedup.exactDedupAgainstIndex]]). Bench grams are
   * NOT pre-distincted for the bloom build — putting a duplicate is a
   * no-op, and skipping the distinct saves a full bench shuffle;
   * `expectedBenchGrams` therefore sizes by OCCURRENCES when left at
   * 0 (auto-count), which only oversizes the filter, never breaks it.
   *
   * Same blind spot as [[decontaminate]]: bench items shorter than n
   * tokens produce no gram and are never guarded.
   */
  def decontaminateBloom(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
      textCol: String = "text", idCol: String = "doc_id",
      fpp: Double = 0.01, expectedBenchGrams: Long = 0L): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val benchGrams = benchmark
      .select(explode(graft.plans.WordShingles.shingles(col(textCol), n,
        distinct = true)).as("g"))
      .select(md5(col("g")).as("gh"))
    val items =
      if (expectedBenchGrams > 0) expectedBenchGrams
      else math.max(1L, benchGrams.count())
    val bloom = benchGrams.stat.bloomFilter(col("gh"), items, fpp)
    val bytes = graft.plans.BloomMightContain.serialize(bloom)
    val contaminated = docs
      .select(col(idCol),
        explode(graft.plans.WordShingles.shingles(col(textCol), n)).as("g"))
      .select(col(idCol), md5(col("g")).as("gh"))
      // scan-side prune: the overwhelming majority of corpus grams
      // exit here, before any exchange
      .filter(graft.plans.BloomMightContain.mightContain(col("gh"), bytes))
      .join(benchGrams.distinct(), Seq("gh"), "left_semi")
      .select(idCol).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /**
   * Contamination AUDIT — the report [[decontaminate]] doesn't give
   * you: per benchmark item, how much of it leaks into the training
   * corpus (distinct shared n-grams) and how widely (distinct corpus
   * docs sharing at least one gram). Dropping contaminated docs is
   * one policy; knowing WHICH eval items are compromised — and
   * whether a benchmark is salvageable at all — needs the per-item
   * view. Items with zero leakage appear with zeros (that's the
   * attestation), and items shorter than n tokens appear with
   * n_grams = 0: they produce no gram, were never guarded, and a
   * silent absence would read as "clean" — the [[decontaminate]]
   * blind spot made visible instead of inherited.
   *
   * Scale: the benchmark's (item, gram-hash) set is tiny by the same
   * contract as [[decontaminate]] and broadcasts; the corpus is one
   * explode + broadcast inner join — only LEAKED occurrences survive
   * into the aggregation, so the corpus never shuffles and the
   * groupBy state is bounded by benchmark size, not corpus size.
   * No pre-distinct on the corpus grams: count(DISTINCT) in the final
   * agg absorbs within-doc repetition without a corpus-wide shuffle.
   */
  def contaminationReport(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val benchGrams = benchmark
      .select(col(idCol).as("bench_id"),
        explode(graft.plans.WordShingles.shingles(col(textCol), n, distinct = true))
          .as("g"))
      .select(col("bench_id"), md5(col("g")).as("gh"))
    val totals = benchmark.select(col(idCol).as("bench_id"),
      size(graft.plans.WordShingles.shingles(col(textCol), n, distinct = true))
        .cast("long").as("n_grams"))
    val leaked = docs
      .select(col(idCol), explode(graft.plans.WordShingles.shingles(col(textCol), n)).as("g"))
      .select(col(idCol), md5(col("g")).as("gh"))
      .join(broadcast(benchGrams), Seq("gh"))
      .groupBy("bench_id")
      .agg(countDistinct(col("gh")).as("grams_leaked"),
        countDistinct(col(idCol)).as("docs_hit"))
    totals.join(leaked, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_grams"),
        coalesce(col("grams_leaked"), lit(0L)).as("grams_leaked"),
        coalesce(col("docs_hit"), lit(0L)).as("docs_hit"))
  }

  /**
   * Semantic decontamination: drop corpus members whose EMBEDDING is
   * near a benchmark embedding — catches paraphrased/reworded eval
   * leakage that the n-gram [[decontaminate]] cannot see (no shared
   * 8-gram survives a paraphrase; the embedding does). Candidates are
   * generated by shared sign-random-projection bands, verified by
   * exact cosine at `threshold`.
   *
   * Scale: the benchmark side is tiny by definition — its banded form
   * broadcasts — so the corpus takes ONE narrow pass (signature +
   * band explode + broadcast semi-join + anti-join); the corpus is
   * never shuffled, cost linear in corpus size like the n-gram guard.
   *
   * Size guard: "tiny by definition" is a contract, not a property the
   * planner can verify — a caller handing a million-vector "benchmark"
   * would force-broadcast gigabytes past AQE's judgment. A BOUNDED
   * count (`limit(max+1).count()`) enforces it — each scan partition
   * stops at the limit, so the guard never pays a full pass over an
   * oversized benchmark: past `maxBroadcastBench` rows the hint is
   * dropped and the band join becomes a plain equi-join whose strategy
   * AQE picks at runtime. The count is an EAGER job at plan-build time
   * — the one departure from the engine's lazy-builder convention, and
   * opt-out-able: `maxBroadcastBench = Long.MaxValue` means "I know
   * it's small, always broadcast" and `0` means "never broadcast"; both
   * skip the job entirely.
   * The default (100k rows ≈ a large eval union, ~110 MB banded at
   * dim-64 float) errs broadcast-side; callers with fat embeddings
   * (dim ≥ 1024) should lower it.
   */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.95, bits: Int = 16, bands: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id",
      maxBroadcastBench: Long = 100000L): DataFrame = {
    import graft.functions.VectorFns
    def banded(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v),
          explode(VectorFns.srpBands(
            VectorFns.srpSignature(col(vecCol), bits), bands, bits)).as("bk"))
        .select(col(id), col(v),
          col("bk.band").as("band"), col("bk.key").as("band_key"))
    val bench = banded(benchmark, "__bid", "__bv")
    val benchSide =
      if (maxBroadcastBench == Long.MaxValue) broadcast(bench)
      else if (maxBroadcastBench <= 0L) bench
      else {
        val boundedMax = math.min(maxBroadcastBench, Int.MaxValue - 1L).toInt
        if (benchmark.limit(boundedMax + 1).count() <= maxBroadcastBench)
          broadcast(bench)
        else bench
      }
    val contaminated = banded(corpus, "__cid", "__cv")
      .join(benchSide, Seq("band", "band_key"))
      .filter(VectorFns.cosine(col("__cv"), col("__bv")) >= threshold)
      .select(col("__cid").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /**
   * [[semanticDecontaminate]] for benchmark sets past the broadcast
   * regime — the embedding-side analogue of [[decontaminateBloom]].
   *
   * Two things break at a 100k+ vector benchmark union, and this
   * variant fixes both:
   *
   * 1. **Bucket selectivity.** The plain guard's default geometry
   *    (bits=16, bands=4 → 4-bit band keys, 16 values per band) is
   *    fine for a tiny eval set but collapses at scale: a 100k bench
   *    side puts ~6k vectors in EVERY band bucket, so the band join
   *    emits ~#corpusBands × bench/16 candidate pairs — hundreds of
   *    millions of exact-cosine confirms (the profiled 21.8 s at the
   *    100k row). This variant defaults to bits=64 / bands=8 (8-bit
   *    keys, 256 values per band): candidate recall at threshold 0.9
   *    is nearly unchanged (P[candidate] 0.935 vs 0.954 for a 0.9-
   *    cosine pair; 1.0 for verbatim leaks, which share every band),
   *    but bucket occupancy — and with it confirm-join fan-out —
   *    drops 16×.
   * 2. **Broadcast budget.** A 100k×dim-64 banded bench side is
   *    ~100 MB as a HashedRelation — at or past the budget the plain
   *    guard's row-count guard enforces. Here the corpus-side prune
   *    broadcasts only a Bloom filter over the bench composite band
   *    keys (~1.2 bytes/key at 1% fpp — sub-MB for a million keys);
   *    corpus band rows that can't match any bench band exit AT THE
   *    SCAN, before any exchange. Survivors (true candidates + the
   *    fpp sliver) are CONFIRMED by the exact band equi-join and the
   *    exact cosine threshold, so the result is IDENTICAL to
   *    [[semanticDecontaminate]] at the same (bits, bands) geometry —
   *    false positives lose the confirm join, and the Bloom admits no
   *    false negatives.
   *
   * Eager work at plan-build time: building the filter is one job
   * over the bench side (same documented contract as
   * [[decontaminateBloom]]). Bench band keys are not pre-distincted —
   * duplicate puts are no-ops — so `expectedBenchBands` sizes by
   * occurrences (bench rows × bands) when left at 0, which only
   * oversizes the filter.
   */
  def semanticDecontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.95, bits: Int = 64, bands: Int = 8,
      vecCol: String = "embedding", idCol: String = "vec_id",
      fpp: Double = 0.01, expectedBenchBands: Long = 0L): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    import graft.functions.VectorFns
    // squared norm rides along from BEFORE the band explode: one
    // dot(v,v) per VECTOR instead of two norm recomputes per candidate
    // PAIR — the confirm join's flop count drops 3× while every
    // compared value stays bit-identical to VectorFns.cosine (same
    // dot fold, same sqrt, same operand order).
    def banded(df: DataFrame, id: String, v: String, n2: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v),
          VectorFns.dot(col(vecCol), col(vecCol)).as(n2),
          explode(VectorFns.srpBands(
            VectorFns.srpSignature(col(vecCol), bits), bands, bits)).as("bk"))
        .select(col(id), col(v), col(n2),
          col("bk.band").as("band"), col("bk.key").as("band_key"))
    def compositeKey = concat_ws(":", col("band"), col("band_key"))
    // NO persist, deliberately: the banded bench feeds two consumers
    // (Bloom build + confirm join) and caching it looks like it would
    // save the second signature pass — measured, it LOSES: 8.8 s →
    // 17.9-20.6 s at the profiled 100k row, because the confirm join
    // then reads InMemoryTableScan rows (deserialized wide arrays,
    // outside whole-stage codegen) instead of re-running the compiled
    // scan→SrpSig pipeline. Recomputing the native signature is
    // cheaper than caching around it.
    val bench = banded(benchmark, "__bid", "__bv", "__bn2")
    val items =
      if (expectedBenchBands > 0) expectedBenchBands
      else math.max(1L, benchmark.count() * bands)
    val bloom = bench.stat.bloomFilter(compositeKey, items, fpp)
    val bytes = graft.plans.BloomMightContain.serialize(bloom)
    val pairNorm = sqrt(col("__cn2")) * sqrt(col("__bn2"))
    val pairCosine = when(pairNorm > 0,
      VectorFns.dot(col("__cv"), col("__bv")) / pairNorm)
    val contaminated = banded(corpus, "__cid", "__cv", "__cn2")
      // scan-side prune: a corpus band row whose composite key hits no
      // bench band exits here, before any exchange
      .filter(graft.plans.BloomMightContain.mightContain(compositeKey, bytes))
      .join(bench, Seq("band", "band_key"))
      .filter(pairCosine >= threshold)
      .select(col("__cid").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /**
   * Composed corpus-prep flow: language allowlist → minimum quality →
   * exact dedup → per-language stats. The shape every training-data
   * pipeline ends with; one narrow pass + one dedup shuffle + one
   * stats shuffle.
   */
  def prepare(docs: DataFrame, langs: Seq[String], minQuality: Double,
      textCol: String = "text", idCol: String = "doc_id",
      langCol: String = "lang"): DataFrame = {
    val filtered = docs
      .filter(col(langCol).isin(langs.map(_.asInstanceOf[Any]): _*))
      .filter(TextFns.qualityScore(col(textCol)) >= minQuality)
    val deduped = Dedup.exactDedup(filtered, textCol, idCol)
    deduped.groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFns.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        // explicit floor: double→long CAST truncates in Spark but
        // rounds in other engines — floor is unambiguous everywhere
        floor(avg(length(col(textCol)))).cast("long").as("avg_chars"))
  }

  /**
   * Leakage-safe train/val/test split: the split decision is made per
   * near-dup CLUSTER, not per document, so near-duplicates can never
   * straddle a split boundary — the classic eval-contamination bug
   * where a near-copy of a held-out document survives in train.
   * `clusters` is a (idCol, cluster_id) table (e.g.
   * [[Dedup.nearDupClusters]] output); documents outside any cluster
   * use their own id as the group key. The bucket is the same
   * deterministic md5 permyriad fold the samplers use
   * ([[hashBucket10k]] over the group key), so the assignment is
   * stateless, partition-order independent, reproducible under retry,
   * and oracle-replicable.
   *
   * Scale: a plain left equi-join on the id, NO broadcast hint — at
   * web scale the near-dup cluster table is a sizable fraction of the
   * corpus (30–50% dup rates are normal for crawl data), far past any
   * broadcast threshold, and a forced broadcast would OOM the driver.
   * AQE still picks a broadcast join at runtime whenever the cluster
   * side actually measures small, so the sf0.1 plan loses nothing.
   */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame,
      valPermyriad: Int, testPermyriad: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(valPermyriad >= 0 && testPermyriad >= 0 &&
      valPermyriad + testPermyriad <= 10000, "split fractions exceed 1")
    val groupKey = coalesce(col("cluster_id"), col(idCol))
    val b = hashBucket10k(groupKey.cast("string"))
    docs.join(clusters.select(col(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .withColumn("split",
        when(b < testPermyriad, "test")
          .when(b < testPermyriad + valPermyriad, "val")
          .otherwise("train"))
      .drop("cluster_id")
  }

  /**
   * Cap the number of documents kept per group (source / domain /
   * host) — the anti-domination guard that stops one crawl host from
   * swamping a mixture. Survivors are the lowest-ranked members by
   * (content-hash bucket, id), so the kept subset is a deterministic
   * pseudo-random sample of the group: stable across runs, partitions,
   * and engines (rand() is none of those), and oracle-replicable.
   *
   * Scale: two-phase. Phase 1 pre-caps per (group, hash-of-id bucket):
   * each of the [[CapFanout]] buckets keeps its own maxDocs best rows,
   * so a dominant group (one crawl source holding half the corpus)
   * sorts as CapFanout independent partitions instead of one giant
   * one. Phase 2 ranks the ≤ CapFanout·maxDocs survivors per group
   * exactly. Correct because the true top-maxDocs rows of a group by
   * (bucket, id) are each within their OWN bucket's top-maxDocs —
   * phase 1 can never evict a final survivor. The bucket key is
   * Murmur3 over the id — intermediate only, so engine-specific
   * hashing never reaches the output.
   */
  private[graft] val CapFanout = 64

  def capPerGroup(docs: DataFrame, groupCol: String, maxDocs: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxDocs > 0, "cap must be positive")
    // "cap:" salt: see stratifiedSample — composed samplers must not
    // share one hash or downstream keep rates decalibrate
    val rank = Seq(hashBucket10k(concat(lit("cap:"), col(textCol))), col(idCol))
    val pre = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), pmod(hash(col(idCol)), lit(CapFanout)))
      .orderBy(rank: _*)
    val exact = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(rank: _*)
    docs.withColumn("__pre", row_number().over(pre))
      .filter(col("__pre") <= maxDocs)
      .withColumn("__rn", row_number().over(exact))
      .filter(col("__rn") <= maxDocs).drop("__pre", "__rn")
  }

  /**
   * Token-budget corpus selection: keep documents in quality order
   * (`scoreCol` DESC, `idCol` ASC) while the running token total stays
   * within `budget` — "the best N tokens of this corpus", the curation
   * step between quality scoring and training.
   *
   * The naive form — one global sort + running-sum window — is a
   * single-partition window at any scale, so selection buckets first:
   * score-range buckets whose sums the driver walks in descending
   * score order (a bounded metadata collect, like this engine's other
   * driver-side scalars); buckets strictly better than the cut bucket
   * are kept wholesale, strictly worse dropped wholesale, and the
   * EXACT running-sum window runs only inside the cut bucket against
   * the remaining budget. Bit-identical to the global window because
   * bucket score ranges are disjoint and ordered, and the
   * within-bucket window continues the same (score DESC, id ASC)
   * order.
   *
   * ONE Spark job before the cut decision (round 10; previously a
   * min/max bounds pass then an affine bucketing pass — two eager
   * driver jobs per call, which made this the most scheduler-latency-
   * sensitive query on the bench): buckets are the top 16 bits of the
   * score's order-preserving IEEE-754 bit image
   * ([[graft.plans.SortableDoubleBits]]) — at most 65536 disjoint
   * ordered ranges (16 per power-of-two binade) needing NO prior
   * bounds, so bucket sums + counts come from a single aggregation.
   * When the cut bucket is small (≤ [[BudgetDirectWindowRows]] —
   * always, at moderate scale) the window runs inside it directly and
   * the cut cost one job total. Only when the cut bucket is still
   * huge (a 100 TB corpus concentrated in one binade sixteenth) does
   * a second job refine it with [[BudgetBuckets]] affine sub-buckets
   * over the bucket's exact bit-derived bounds — bounding the final
   * window at corpus/16/10000 rows without ever paying the second
   * job at ordinary scale.
   *
   * Prefix semantics (cum ≤ budget stops at the crossing document,
   * like the SQL window form), deterministic ties by id — two runs, or
   * Spark vs an external oracle, select the same set. NaN/null scores
   * AND null token counts are dropped up front (see below). Degenerate
   * constant-score corpus: one bucket, the refinement can't split it
   * (dHi == dLo), so the window is global (correct, just not
   * distributed — there is no quality order to exploit anyway).
   */
  private[graft] val BudgetBuckets = 10000

  /** Cut-bucket row count above which a refinement pass sub-buckets it
    * before the exact window: 2M rows sort in one task comfortably;
    * anything bigger gets the second (affine) bucketing job. */
  private[graft] val BudgetDirectWindowRows = 2000000L

  def tokenBudgetSelect(docs: DataFrame, budget: Long,
      scoreCol: String = "score", tokenCol: String = "n_tokens",
      idCol: String = "doc_id",
      directWindowMaxRows: Long = BudgetDirectWindowRows): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    // NaN/null scores are unrankable and DROPPED up front: Spark's
    // ordering puts NaN ABOVE every double, so one NaN-scored doc
    // would outrank the whole corpus and silently eat the budget.
    // Null token counts are dropped with them — a document of unknown
    // cost cannot be budgeted, and a null would otherwise poison the
    // bucket sums (an all-null bucket sums to null → driver NPE).
    val ranked = docs.filter(col(scoreCol).isNotNull &&
      !isnan(col(scoreCol).cast("double")) && col(tokenCol).isNotNull)
    val sbits = graft.plans.SortableDoubleBits
      .sortableBits(col(scoreCol).cast("double"))
    val withP = ranked.withColumn("__pb",
      shiftrightunsigned(sbits, 48).cast("int"))
    // the single pre-cut job: ≤65536 rows of (bucket, sum, count) —
    // bounded by the 16-bit bucket domain; asserted, not assumed
    val sums = DriverBounds.boundedCollect(
        withP.groupBy("__pb")
          .agg(sum(col(tokenCol).cast("long")).as("t"), count(lit(1)).as("c")),
        65536L, "tokenBudgetSelect bucket sums")
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      // prefix buckets order by score when compared as 16-bit
      // sign-flipped ints (negative doubles land in [32768,65535],
      // positives in [0,32767]); XOR 0x8000 makes the walk key
      // monotone in score. Descending = best first.
      .sortBy { case (p, _, _) => -(p ^ 0x8000) }
    if (sums.isEmpty) return withP.drop("__pb") // no rankable docs
    var cum = 0L
    var cutBucket = -1 // sentinel: real buckets are 0..65535
    var cutRows = 0L
    var remaining = 0L
    sums.foreach { case (p, t, c) =>
      if (cutBucket == -1) {
        if (cum + t <= budget) cum += t
        else { cutBucket = p; cutRows = c; remaining = budget - cum }
      }
    }
    if (cutBucket == -1) return withP.drop("__pb") // whole corpus fits
    val keepWhole = withP.filter(
      col("__pb").bitwiseXOR(lit(0x8000)) > lit(cutBucket ^ 0x8000))
    val inCut = withP.filter(col("__pb") === cutBucket)
    def prefixWindow(df: DataFrame, rem: Long): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(scoreCol).cast("double").desc, col(idCol))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      df.withColumn("__cum", sum(col(tokenCol).cast("long")).over(w))
        .filter(col("__cum") <= rem)
        .drop("__cum")
    }
    // the cut bucket's exact score range, decoded from its bit prefix
    // on the driver — no data pass needed
    val sLo = cutBucket.toLong << 48
    val dLo = graft.plans.SortableDoubleBits.fromSortable(sLo)
    val dHi = graft.plans.SortableDoubleBits.fromSortable(sLo | 0xFFFFFFFFFFFFL)
    val boundary =
      if (cutRows <= directWindowMaxRows ||
          !java.lang.Double.isFinite(dLo) || !java.lang.Double.isFinite(dHi) ||
          dHi <= dLo) {
        // common path: window directly inside the cut bucket — the
        // non-finite guard covers prefixes overlapping the ±Inf bit
        // patterns, where an affine rescale is meaningless (all
        // infinite scores compare equal anyway)
        prefixWindow(inCut, remaining)
      } else {
        // refinement (second job, huge cut bucket only): affine
        // sub-buckets over the bucket's exact range, same walk
        val bucket = least(lit(BudgetBuckets - 1),
          floor((col(scoreCol).cast("double") - dLo) / (dHi - dLo) * BudgetBuckets))
          .cast("int")
        val withB = inCut.withColumn("__bk", bucket)
        val sums2 = DriverBounds.boundedCollect(
          withB.groupBy("__bk")
            .agg(sum(col(tokenCol).cast("long")).as("t")),
          BudgetBuckets.toLong,
          "token-budget refinement bucket sums (one row per sub-bucket)")
          .map(r => (r.getInt(0), r.getLong(1))).sortBy(-_._1)
        var cum2 = 0L
        var cut2 = Int.MinValue
        var rem2 = 0L
        sums2.foreach { case (b, t) =>
          if (cut2 == Int.MinValue) {
            if (cum2 + t <= remaining) cum2 += t
            else { cut2 = b; rem2 = remaining - cum2 }
          }
        }
        if (cut2 == Int.MinValue) withB.drop("__bk") // cannot happen: t(cut) > remaining
        else withB.filter(col("__bk") > cut2).drop("__bk")
          .unionByName(prefixWindow(
            withB.filter(col("__bk") === cut2).drop("__bk"), rem2))
      }
    keepWhole.unionByName(boundary).drop("__pb")
  }

  /**
   * Per-group score calibration — exact percentile rank of every
   * document WITHIN its source (rank 1 = best score, `permyriad` 0 =
   * best, 10000 = worst; singleton groups rank 0). Raw quality scores
   * are not comparable across sources — a crawl dump's score
   * distribution shifts with its boilerplate mix — so per-source
   * percentile thresholds ("keep each source's top 30%") are the
   * calibrated form of a global score cut, the role per-dump
   * percentile filtering plays in public web-corpus pipelines
   * (FineWeb-era recipes). Integer permyriad from integer ranks —
   * hash-exact, no float percentile drift.
   *
   * The naive form — `row_number` over a per-source window — sorts
   * each source in ONE task, and a dominant source (half the corpus
   * behind one crawl) becomes a single-task sort at any cluster size.
   * Two-phase instead, the [[tokenBudgetSelect]] bucket trick turned
   * into exact ranking: order-preserving 16-bit score-range buckets
   * ([[graft.plans.SortableDoubleBits]], no bounds pass needed), a
   * bucket-level descending prefix sum per group (rows = occupied
   * buckets per group, ≤65536 — never document-granularity), and the
   * exact (score DESC, id) window only WITHIN each (group, bucket)
   * partition — bounded by bucket occupancy ≈ |group|/65536.
   * rank = buckets-above prefix + within-bucket row number; equal
   * scores share identical bits, so a tie class never straddles a
   * bucket boundary and the composed rank equals the global window's.
   *
   * Skew caveat (same class as [[capPerGroup]]'s fanout note): a
   * degenerate score distribution — one VALUE carried by a large
   * fraction of a group — collapses into one (group, bucket)
   * partition, because ranking equal keys requires a total order
   * decision in one place. Score functions with real spread (content
   * hashes, df sums, familiarity permilles) occupy the bucket space;
   * constant-score corpora should rank on a composite score instead.
   *
   * NaN scores are dropped (unrankable — Spark orders NaN above every
   * double, DuckDB below; the one row would shift every rank in its
   * group and break cross-engine verification), mirroring
   * [[tokenBudgetSelect]]'s guard. Null scores drop with them.
   */
  def groupPercentile(docs: DataFrame, groupCol: String,
      scoreCol: String, idCol: String = "doc_id"): DataFrame = {
    val ranked = docs.filter(col(scoreCol).isNotNull &&
      !isnan(col(scoreCol).cast("double")))
    val sbits = graft.plans.SortableDoubleBits
      .sortableBits(col(scoreCol).cast("double"))
    // bucket XOR 0x8000 is monotone ascending in score (sign-flipped
    // 16-bit prefix — see tokenBudgetSelect's walk key)
    val withB = ranked.withColumn("__bord",
      shiftrightunsigned(sbits, 48).cast("int").bitwiseXOR(lit(0x8000)))
    val bucketCounts = withB.groupBy(col(groupCol), col("__bord"))
      .agg(count(lit(1)).as("__bc"))
    // per group: rows in strictly BETTER (higher-score) buckets
    val wAbove = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("__bord").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val above = bucketCounts.withColumn("__above",
      coalesce(sum(col("__bc")).over(wAbove), lit(0L)))
      .select(col(groupCol), col("__bord"), col("__above"))
    val nPerGroup = withB.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__bord"))
      .orderBy(col(scoreCol).cast("double").desc, col(idCol))
    withB
      .join(above, Seq(groupCol, "__bord"))
      // no broadcast hint: sources are typically few, but the group
      // column can be host-granular (millions) — AQE measures and
      // picks broadcast only when the group table is actually small
      .join(nPerGroup, Seq(groupCol))
      .withColumn("rank", (col("__above") + row_number().over(wIn)).cast("long"))
      .withColumn("permyriad",
        when(col("__n") > 1,
          expr("((rank - 1) * 10000) div (__n - 1)")).otherwise(0L)
          .cast("long"))
      .drop("__bord", "__above", "__n")
  }

  /**
   * Fixed-size uniform sample per stratum: the `n` records with the
   * smallest deterministic md5 draw in each group — the third classic
   * sampling mode next to per-stratum Bernoulli ([[stratifiedSample]]:
   * exact RATE, approximate count) and weighted-without-replacement
   * (priority sampling): exact per-group COUNTS, uniform within the
   * group, reproducible by any engine with md5. Minwise order makes
   * the sample COORDINATED: re-running over a grown stratum keeps
   * prior picks unless displaced, and two engines' samples of
   * overlapping strata agree on the overlap.
   *
   * The rank window is per-stratum and n-bounded; no global sort.
   *
   * @return input columns + draw_rank (1..n within each stratum)
   */
  def minwiseSample(df: DataFrame, strataCol: String, n: Int,
      seedTag: String, idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(strataCol)
      .orderBy(col("__draw"), col(idCol))
    df.withColumn("__draw",
        md5(concat(lit(seedTag + ":"), col(idCol).cast("string"))))
      .withColumn("draw_rank", row_number().over(w).cast("long"))
      .filter(col("draw_rank") <= n)
      .drop("__draw")
  }

  /**
   * Longest-prefix URL rule filter — robots.txt / blocklist
   * semantics: each URL takes the action of the LONGEST rule prefix
   * that matches it at a path-segment boundary, falling back to
   * `defaultAction` when nothing matches. The crawl-curation
   * gatekeeper (per-site allow with deeper deny carve-outs, or the
   * reverse) that a plain equi-join can't express and a LIKE-join
   * would turn into a scan per rule.
   *
   * Matching explodes each URL into its segment-boundary prefixes
   * (query string stripped first, so rules never need to anticipate
   * parameters) — bounded by path DEPTH, not rule count — and
   * equi-joins the rule table: longest-match is then a per-URL
   * struct-max, map-side combinable. Segment boundaries prevent the
   * classic substring false match (`…/site1` never matches
   * `…/site10`). Rules broadcast (rule tables are small by nature);
   * swap the hint for a shuffle join past broadcast scale.
   *
   * @param rules (prefix, action) — prefixes unique, in the same
   *              canonical form as `urlCol` (pass both through
   *              [[graft.functions.TextFns.canonicalUrl]])
   * @return input columns + (rule_prefix — null on default, action)
   */
  def urlRuleFilter(urls: DataFrame, rules: DataFrame, urlCol: String,
      idCol: String = "doc_id", defaultAction: String = "allow"): DataFrame = {
    val pfx = urls
      .withColumn("__m", regexp_replace(col(urlCol), "\\?.*$", ""))
      // greatest(..., 3): sequence(3, 2) DESCENDS in Spark, so a
      // malformed URL with fewer than three '/'-segments (one that
      // skipped canonicalUrl) would otherwise emit bogus whole-string
      // prefixes instead of deterministically falling through to
      // defaultAction; the floor makes the sequence 3..3 → the single
      // (sub-3-segment, hence unmatched) prefix (round-12 advice).
      .withColumn("__pfx", explode(expr(
        "transform(sequence(3, greatest(size(split(__m, '/')), 3)), " +
          "i -> array_join(slice(split(__m, '/'), 1, i), '/'))")))
    val matched = pfx
      .join(broadcast(rules.select(col("prefix").as("__pfx"),
        col("action").as("__a"))), Seq("__pfx"))
      .groupBy(idCol)
      .agg(max(struct(length(col("__pfx")).as("l"), col("__pfx").as("p"),
        col("__a").as("a"))).as("r"))
      .select(col(idCol), col("r.p").as("rule_prefix"), col("r.a").as("__a"))
    urls.join(matched, Seq(idCol), "left")
      .withColumn("action", coalesce(col("__a"), lit(defaultAction)))
      .drop("__a")
  }

  /**
   * Blocklist PHRASE filter — the C4-style "bad words" content gate
   * (Raffel et al. 2020 drop any page containing a listed word or
   * phrase; reference pipelines keep curated multi-word lists): flag
   * every document containing any blocklisted token sequence, with
   * hit counts for threshold policies ("drop on any hit" vs "flag
   * above k"). The phrase member of the filter family next to
   * [[urlRuleFilter]] (URL side) and `TextFns.redact` (rewrite side).
   *
   * Matching is EXACT token-sequence containment under the engine's
   * one tokenizer (`WordShingles`): for each distinct phrase LENGTH n
   * present in the list (a handful — lists are 1–4 tokens a phrase),
   * one corpus n-gram explode equi-joins the length-n phrases. Scale
   * shape: the explode is corpus-linear per distinct length (bounded
   * by `maxPhraseTokens`, asserted), the join side is the blocklist
   * (small by nature — Spark broadcasts it; past broadcast scale it
   * stays an equi-join), hot phrases ride AQE skew-join, and the
   * per-doc rollup is map-side combinable. Never a regex-per-rule
   * scan, never a LIKE join.
   *
   * @param phrases one column `phrase`: tokens joined by single
   *                spaces, each 1..`maxPhraseTokens` tokens
   * @return (idCol, n_hits, n_phrases, min_phrase, blocked) —
   *         n_hits counts OCCURRENCES, n_phrases distinct matched
   *         phrases, min_phrase the lexicographically first matched
   *         phrase (deterministic exemplar), blocked = any hit
   */
  def blocklistFilter(docs: DataFrame, phrases: DataFrame,
      maxPhraseTokens: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // distinct FIRST (round-15 ADVICE): a duplicated list entry would
    // double n_hits per occurrence (n_phrases is countDistinct and
    // unaffected), silently skewing hit-count threshold policies, and
    // would count twice against the boundedCollect budget below.
    val pl = phrases.select(col("phrase")).distinct()
      .withColumn("__n", size(split(col("phrase"), " ")))
      .localCheckpoint()
    val ns = DriverBounds.boundedCollect(
        pl.select("__n").distinct(), maxPhraseTokens.toLong,
        s"blocklistFilter distinct phrase lengths (1..$maxPhraseTokens " +
          "— longer phrases are a list-curation bug, not a scan job)")
      .map(_.getInt(0)).sorted
    require(ns.forall(n => n >= 1 && n <= maxPhraseTokens),
      s"blocklist phrases must be 1..$maxPhraseTokens tokens, " +
        s"got lengths ${ns.mkString(",")}")
    val hits = ns.map { n =>
      docs.select(col(idCol), explode(
          graft.plans.WordShingles.shingles(col(textCol), n)).as("phrase"))
        .join(pl.filter(col("__n") === n).select("phrase"), Seq("phrase"))
        .select(col(idCol), col("phrase"))
    }.reduceOption(_ unionByName _)
      .getOrElse(docs.select(col(idCol), lit("").as("phrase")).limit(0))
    val perDoc = hits.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_hits"),
        countDistinct(col("phrase")).cast("long").as("n_phrases"),
        min(col("phrase")).as("min_phrase"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_phrases"), lit(0L)).as("n_phrases"),
        col("min_phrase"),
        (coalesce(col("n_hits"), lit(0L)) > 0L).as("blocked"))
  }

  /**
   * Cross-source quantile normalization: map every document's score
   * onto the POOLED score distribution at the same within-source
   * quantile — the remedy when heterogeneous sources' quality scores
   * aren't comparable (one scorer's 0.8 is another's 0.5) but a
   * single mixing threshold must apply to all. The classic
   * quantile-normalization recipe (Bolstad et al. 2003) restated for
   * corpus scores: after mapping, every source has the same score
   * distribution, so "top 20% overall" means top 20% of EACH source.
   *
   * Exact type-1 (floor-index) quantiles, all integer: the doc's
   * within-source permyriad comes from [[groupPercentile]], and the
   * mapped value is the pooled score at descending rank
   * `1 + (permyriad · (N−1)) div 10000`. Both rank passes ride
   * groupPercentile's two-phase bucket form — no single-task global
   * sort — and the rank-indexed pooled lookup is a plain equi-join.
   *
   * @return input columns + (rank, permyriad, norm_score)
   */
  def quantileNormalize(scored: DataFrame, groupCol: String,
      scoreCol: String, idCol: String = "doc_id"): DataFrame = {
    val src = groupPercentile(scored, groupCol, scoreCol, idCol)
    val pooled = groupPercentile(
        scored.withColumn("__all", lit("all")), "__all", scoreCol, idCol)
      .select(col("rank").as("__prank"), col(scoreCol).as("__pscore"))
    val n = scored.agg(count(lit(1)).as("__N"))
    src.crossJoin(broadcast(n))
      .withColumn("__idx",
        expr("1L + (permyriad * (__N - 1)) div 10000").cast("long"))
      .join(pooled, col("__idx") === col("__prank"))
      .withColumn("norm_score", col("__pscore"))
      .drop("__N", "__idx", "__prank", "__pscore")
  }

  /**
   * Bigram familiarity — the contextual member of the LM-proxy family
   * ([[unigramDfScore]] is the unigram member): the share of a
   * document's word BIGRAMS that a reference corpus has seen at least
   * `minCount` times, as an integer permille, plus the exact sum of
   * reference counts over the doc's bigram occurrences. Low
   * familiarity ≈ high perplexity under a bigram LM — the CCNet-style
   * filter signal — but rendered entirely in integers: a log-prob
   * perplexity would drift in the last ulp between engines and break
   * hash-exact verification (the same trade [[unigramDfScore]]
   * documents). Consumers threshold `familiar_permille` directly or
   * compare docs rationally via (`count_sum`, `n_bigrams`).
   *
   * Self-training (`reference` = the corpus itself) scores every doc
   * against collective usage; a curated reference gives the classic
   * in-domain filter. A doc with fewer than 2 tokens has no bigram
   * and does not appear — route short docs through a length floor.
   *
   * Scale: the reference collapses to a (bigram, n_docs) count table
   * (map-side combinable; vocabulary-bounded but much wider than the
   * unigram vocab — it stays a shuffle join, never a broadcast), and
   * the corpus side is one explode + left join on the bigram, where
   * stopword-pair hot keys ("of the") are AQE skew-join territory,
   * then one per-doc sum. All linear in corpus tokens.
   */
  def bigramFamiliarity(docs: DataFrame, reference: DataFrame,
      minCount: Long = 2L, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // document frequency, not occurrence frequency: a single spammy
    // doc repeating one bigram 10^6 times must not make it "familiar"
    val refCounts = reference
      .select(col(idCol).as("__rid"),
        explode(graft.plans.WordShingles.shingles(col(textCol), 2, distinct = true))
          .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("__rc"))
    val docBigrams = docs.select(col(idCol),
      explode(graft.plans.WordShingles.shingles(col(textCol), 2)).as("bigram"))
    docBigrams.join(refCounts, Seq("bigram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(when(col("__rc") >= minCount, 1L).otherwise(0L)).as("familiar"),
        sum(coalesce(col("__rc"), lit(0L))).cast("long").as("count_sum"))
      .withColumn("familiar_permille",
        expr("(1000L * familiar) div n_bigrams").cast("long"))
      .drop("familiar")
  }

  /**
   * Per-document language-model score under a reference-trained
   * word-bigram MLE — the integer-exact analog of perplexity-based
   * quality filtering (CCNet / Wenzek et al. 2020: score each doc
   * with an LM trained on a trusted corpus, drop the tail). Where
   * [[bigramFamiliarity]] thresholds document frequency ("has anyone
   * written this"), this scores CONDITIONAL probability
   * P(w₂|w₁) = C(w₁w₂)/C(w₁·) ("how predictable is each next word"),
   * the actual LM quantity — low average probability ≈ high
   * perplexity ≈ boilerplate-free but also gibberish-prone text.
   *
   * Fixed-point per-bigram score `(10⁶·C(w₁w₂)) div C(w₁·)` keeps
   * every value an exact BIGINT: no log/float, so results hash
   * bit-identically across engines (the [[unigramDfScore]] trade —
   * a monotone surrogate, which is all a rank-and-threshold filter
   * consumes). Self-training (reference = corpus) guarantees every
   * doc bigram has counts ≥ 1, so no smoothing branch is needed.
   *
   * Plan: doc bigrams pre-aggregate per (doc, bigram) before joining
   * the LM (shrinks the join input to distinct bigrams per doc), the
   * bigram table is vocabulary-bounded, and the prefix table derives
   * from it by one more map-side-combinable agg — three shuffles
   * total, all on bounded-cardinality keys.
   *
   * @return (idCol, n_bigrams, sum_p_ppm, avg_p_ppm)
   */
  /** @param uniPermille Jelinek-Mercer interpolation weight on the
    *        UNIGRAM term, in permille: per-bigram score becomes
    *        `((1000−λ)·P(w₂|w₁) + λ·P(w₂)) div 1000` with unigram
    *        MLE `P(w₂) = C(w₂)/T` over the reference's token
    *        occurrences. 0 (default) is the pure-conditional form —
    *        exactly the un-interpolated score, since
    *        `(1000·p) div 1000 = p`. Interpolation is what keeps the
    *        score robust when w₁ is rare (a one-occurrence prefix
    *        makes every continuation look certain); self-trained
    *        corpora have no unseen bigrams, so λ here is smoothing
    *        BETWEEN estimates, not smoothing over zeros. */
  def lmDocScore(docs: DataFrame, reference: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      uniPermille: Long = 0L): DataFrame = {
    require(uniPermille >= 0 && uniPermille <= 1000, "permille weight")
    // occurrence counts, not document frequency: MLE conditionals
    val lm = reference
      .select(explode(
        graft.plans.WordShingles.shingles(col(textCol), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("__bc"))
    val prefix = lm
      .groupBy(expr("element_at(split(bigram, ' ', 2), 1)").as("__w1"))
      .agg(sum("__bc").as("__pc"))
    val unigrams = reference
      .select(explode(
        graft.plans.WordShingles.shingles(col(textCol), 1)).as("__w2"))
      .groupBy("__w2").agg(count(lit(1)).as("__uc"))
    val total = unigrams.agg(sum("__uc").as("__T"))
    val docBigrams = docs.select(col(idCol),
        explode(graft.plans.WordShingles.shingles(col(textCol), 2)).as("bigram"))
      .groupBy(idCol, "bigram").agg(count(lit(1)).as("__n"))
    docBigrams
      .join(lm, Seq("bigram"))
      .withColumn("__w1", expr("element_at(split(bigram, ' ', 2), 1)"))
      .withColumn("__w2", expr("element_at(split(bigram, ' ', 2), 2)"))
      .join(prefix, Seq("__w1"))
      .join(unigrams, Seq("__w2"))
      .crossJoin(broadcast(total))
      .withColumn("__p_ppm", expr(
        s"((${1000L - uniPermille} * ((1000000L * __bc) div __pc) + " +
          s"$uniPermille * ((1000000L * __uc) div __T)) div 1000)"))
      .groupBy(idCol)
      .agg(sum("__n").cast("long").as("n_bigrams"),
        sum(col("__n") * col("__p_ppm")).cast("long").as("sum_p_ppm"))
      .withColumn("avg_p_ppm", expr("sum_p_ppm div n_bigrams").cast("long"))
  }

  /**
   * Gopher-style structural repetition filter (Rae et al. 2021,
   * Table A1) — the line/paragraph members of the repetition family
   * that the scalar `TextFns.docSignals` (n-gram repetition ratio)
   * and [[topNgramCoverage]] (occurrence share) can't express:
   *
   *   - duplicate LINE fraction and duplicate-line CHARACTER fraction
   *     (a duplicate = every occurrence of a line past its first),
   *   - the same two for paragraphs (split on blank lines),
   *   - top-bigram character coverage (chars of the most frequent
   *     word bigram over total chars; ties resolved to the
   *     lexicographically smallest gram — deterministic),
   *   - a composite `keep` decision at the published thresholds
   *     (dup-line ≤ 0.30, dup-line-chars ≤ 0.20, dup-para ≤ 0.30,
   *     dup-para-chars ≤ 0.20, top-bigram-chars ≤ 0.20).
   *
   * All fractions are integer parts-per-million (floor division) so
   * the operator stays hash-exact across engines — same trade as
   * [[unigramDfScore]].
   *
   * Plan: three per-doc aggregates (lines, paragraphs, bigrams), each
   * explode → (doc, unit) count → per-doc sum, all map-side
   * combinable and keyed by doc id; the bigram argmax is a per-doc
   * window whose group is bounded by document length. The three
   * aggregates then join on the id — co-partitioned by the same key,
   * so AQE folds the exchanges. No corpus-wide state: every row of
   * every shuffle belongs to one document.
   */
  def gopherRepetition(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val base = docs.select(col(idCol), col(textCol).as("__text"))

    // per-doc duplicate stats over one split unit (lines/paragraphs)
    def dupStats(splitPattern: String, prefix: String): DataFrame = {
      val units = base.select(col(idCol),
          explode(split(col("__text"), splitPattern)).as("__u"))
        .filter(length(col("__u")) > 0)
      units.groupBy(col(idCol), col("__u"))
        .agg(count(lit(1)).cast("long").as("__c"))
        .withColumn("__len", length(col("__u")).cast("long"))
        .groupBy(idCol)
        .agg(sum("__c").as("__n"),
          sum(expr("__c - 1")).as("__dup"),
          sum(expr("__c * __len")).as("__chars"),
          sum(expr("(__c - 1) * __len")).as("__dupChars"))
        .select(col(idCol),
          col("__n").cast("long").as(s"n_$prefix"),
          expr("(1000000 * __dup) div __n").cast("long")
            .as(s"dup_${prefix.dropRight(1)}_ppm"),
          expr("(1000000 * __dupChars) div greatest(__chars, 1)").cast("long")
            .as(s"dup_${prefix.dropRight(1)}_char_ppm"))
    }

    val lines = dupStats("\n", "lines")
    val paras = dupStats("\n{2,}", "paras")

    // most frequent bigram's character coverage, ties to smallest gram
    val bigrams = base.select(col(idCol),
        explode(graft.plans.WordShingles.shingles(col("__text"), 2)).as("__g"))
      .groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).cast("long").as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__c").desc, col("__g"))
    val topBigram = bigrams.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col(idCol), (col("__c") * length(col("__g"))).as("__topChars"))

    base.select(col(idCol), length(col("__text")).cast("long").as("__nchars"))
      .join(lines, Seq(idCol))
      .join(paras, Seq(idCol))
      .join(topBigram, Seq(idCol), "left")
      .withColumn("top_bigram_char_ppm",
        expr("(1000000 * coalesce(__topChars, 0L)) div greatest(__nchars, 1)")
          .cast("long"))
      .withColumn("keep",
        col("dup_line_ppm") <= 300000 && col("dup_line_char_ppm") <= 200000 &&
        col("dup_para_ppm") <= 300000 && col("dup_para_char_ppm") <= 200000 &&
        col("top_bigram_char_ppm") <= 200000)
      .select(col(idCol), col("n_lines"), col("dup_line_ppm"),
        col("dup_line_char_ppm"), col("n_paras"), col("dup_para_ppm"),
        col("dup_para_char_ppm"), col("top_bigram_char_ppm"), col("keep"))
  }

  /**
   * Vocabulary coverage — the top-N corpus tokens by occurrence count
   * with each prefix's cumulative share of ALL token occurrences, as
   * integer ppm. This is the tokenizer-prep step before vocabulary
   * induction: "how small a vocab still covers 95% of the stream?"
   * reads straight off the coverage column. Ties rank
   * lexicographically — deterministic in any engine.
   *
   * Plan: explode → per-token count (map-side combinable; the only
   * full-corpus shuffle, keyed by token) → two-phase top-N (≤ N
   * survivors per 64-way hash bucket, then one bounded global window
   * over ≤ 64·N rows — never a corpus-wide sort) → running sum over
   * the ranked N rows. The denominator is a single-row broadcast.
   * Bit-neutral prune: a row dropped by its bucket is beaten by N
   * rows of that bucket, hence ranked > N globally.
   */
  def vocabCoverage(docs: DataFrame, topN: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val counts = docs.select(
        explode(graft.plans.WordShingles.shingles(col(textCol), 1)).as("token"))
      .groupBy("token").agg(count(lit(1)).cast("long").as("cnt"))
    val total = counts.agg(sum("cnt").cast("long").as("__total"))
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(hash(col("token")), lit(64)))
      .orderBy(col("cnt").desc, col("token"))
    val pruned = counts.withColumn("__br", row_number().over(bucketW))
      .filter(col("__br") <= topN).drop("__br")
    val rankW = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    pruned.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= topN)
      .withColumn("__cum", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.orderBy("rank")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(total))
      .withColumn("coverage_ppm",
        expr("(1000000 * __cum) div greatest(__total, 1L)").cast("long"))
      .select(col("token"), col("cnt"), col("rank"), col("coverage_ppm"))
  }

  /**
   * Duplicated n-gram character fractions — the remaining members of
   * the Gopher repetition family ([[gopherRepetition]] covers lines/
   * paragraphs/top-bigram): for each n in `ns`, the share of n-gram
   * occurrence CHARACTERS belonging to repeat occurrences (every
   * occurrence of a gram past its first), integer ppm. This is the
   * documented occurrence-weighted rendering of Gopher's "fraction of
   * characters in duplicated n-grams" (the published union-of-
   * positions form is not expressible as a per-gram aggregate; the
   * occurrence-weighted variant is monotone in the same signal and
   * exactly replicable in SQL).
   *
   * Plan: one explode + (doc, gram) count + per-doc sum PER n — all
   * map-side combinable, keyed by doc id, joined on the id at the
   * end. Cost is ns.length token-stream passes; callers pick the ns
   * their filter thresholds actually use.
   */
  def dupNgramCharPpm(docs: DataFrame, ns: Seq[Int],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(ns.nonEmpty, "need at least one n")
    val perN = ns.map { n =>
      docs.select(col(idCol),
          explode(graft.plans.WordShingles.shingles(col(textCol), n)).as("__g"))
        .groupBy(col(idCol), col("__g"))
        .agg(count(lit(1)).cast("long").as("__c"))
        .withColumn("__len", length(col("__g")).cast("long"))
        .groupBy(idCol)
        .agg(sum(expr("__c * __len")).as("__chars"),
          sum(expr("(__c - 1) * __len")).as("__dupChars"))
        .select(col(idCol),
          expr("(1000000 * __dupChars) div greatest(__chars, 1)").cast("long")
            .as(s"dup${n}_ppm"))
    }
    // docs shorter than n tokens have no n-grams: keep the row, 0 ppm
    val base = docs.select(col(idCol))
    perN.foldLeft(base)((acc, d) => acc.join(d, Seq(idCol), "left"))
      .select(col(idCol) +: ns.map(n =>
        coalesce(col(s"dup${n}_ppm"), lit(0L)).as(s"dup${n}_ppm")): _*)
  }

  /**
   * Vocabulary shift between two corpus slices — the domain-drift
   * monitor for mixture management: per token, its occurrence share
   * in slice A vs slice B (integer ppm), ranked by absolute share
   * difference. A crawl source going spammy, a distribution shifting
   * between two releases, or a domain over-represented after
   * resampling all surface as top shifted tokens. Shares use each
   * slice's OWN total, so differently-sized slices compare fairly.
   *
   * Plan: one tokenize+count per slice keyed by token (map-side
   * combinable), a full-outer token join (absent = share 0), slice
   * totals as a single-row broadcast, then the same two-phase
   * rank-neutral top-N as [[vocabCoverage]] — never a vocabulary-wide
   * single-partition sort.
   */
  def vocabShift(docsA: DataFrame, docsB: DataFrame, topN: Int,
      textCol: String = "text"): DataFrame = {
    def counts(d: DataFrame, cn: String) = d.select(
        explode(graft.plans.WordShingles.shingles(col(textCol), 1)).as("token"))
      .groupBy("token").agg(count(lit(1)).cast("long").as(cn))
    val a = counts(docsA, "cnt_a")
    val b = counts(docsB, "cnt_b")
    val joined = a.join(b, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val totals = joined.agg(sum("cnt_a").cast("long").as("__ta"),
      sum("cnt_b").cast("long").as("__tb"))
    val scored = joined.crossJoin(broadcast(totals))
      .withColumn("share_a_ppm",
        expr("(1000000 * cnt_a) div greatest(__ta, 1L)").cast("long"))
      .withColumn("share_b_ppm",
        expr("(1000000 * cnt_b) div greatest(__tb, 1L)").cast("long"))
      .withColumn("shift_ppm", abs(col("share_a_ppm") - col("share_b_ppm")))
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(hash(col("token")), lit(64)))
      .orderBy(col("shift_ppm").desc, col("token"))
    val rankW = org.apache.spark.sql.expressions.Window
      .orderBy(col("shift_ppm").desc, col("token"))
    scored.withColumn("__br", row_number().over(bucketW))
      .filter(col("__br") <= topN)
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= topN)
      .select(col("token"), col("cnt_a"), col("cnt_b"), col("share_a_ppm"),
        col("share_b_ppm"), col("shift_ppm"), col("rank"))
  }

  /**
   * Temperature-sampling mix plan (α = 0.5): per-source sampling
   * targets ∝ √n — the standard multilingual/multi-source rebalance
   * (raw proportions starve small sources; uniform over-trains tiny
   * ones; the square-root temperature is the published middle
   * ground). Returns, per source: its count, √-weight, integer
   * document target out of `totalTarget`, and the keep-rate in
   * permyriad that [[mixToTarget]]-style hash sampling would apply —
   * scarce sources cap at keep-all.
   *
   * Integer-exact: weight = ⌊√n⌋ (floor of the correctly-rounded
   * IEEE sqrt — the same value in any engine), target = ⌊T·w/Σw⌋,
   * rate = min(10⁴, ⌊10⁴·target/n⌋). One count aggregation; the
   * weight table is source-bounded and never leaves one partition's
   * worth of rows.
   */
  def temperatureMixPlan(docs: DataFrame, groupCol: String,
      totalTarget: Long): DataFrame = {
    require(totalTarget >= 1, "totalTarget must be >= 1")
    val counts = docs.groupBy(groupCol).agg(count(lit(1)).cast("long").as("n"))
      .withColumn("weight", floor(sqrt(col("n").cast("double"))).cast("long"))
    val tot = counts.agg(sum("weight").cast("long").as("__tw"))
    counts.crossJoin(broadcast(tot))
      .withColumn("target",
        expr(s"($totalTarget * weight) div greatest(__tw, 1L)").cast("long"))
      .withColumn("keep_permyriad",
        least(lit(10000L), expr("(10000 * target) div greatest(n, 1L)"))
          .cast("long"))
      .select(groupCol, "n", "weight", "target", "keep_permyriad")
  }

  /**
   * Token-level snapshot churn — [[snapshotDiff]] says WHICH docs
   * changed between releases; this says HOW MUCH: per changed doc,
   * the multiset token counts added and removed ("doc 42: +120/−3
   * tokens" is a content update, "+2/−2" is a typo fix — release
   * review treats them differently, and corpus-wide churn totals are
   * the drift metric a retraining decision reads).
   *
   * Multiset semantics via per-(doc, token) counts: each side
   * reduces to (id, token, cnt) — map-side combinable — and one
   * full-outer join per doc-token key yields added = Σ max(0,
   * new−old), removed = Σ max(0, old−new). Only CHANGED docs emit
   * rows (unchanged/added/removed docs are [[snapshotDiff]]'s job;
   * the md5 pre-filter means identical texts never even tokenize).
   * Shuffle is keyed by (id, token) — fine-grained, no hot key
   * possible.
   */
  def snapshotChurn(oldDocs: DataFrame, newDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // changed ids only: (id, md5) join — 48-byte rows, text stays put
    val changed = oldDocs.select(col(idCol), md5(col(textCol)).as("__oh"))
      .join(newDocs.select(col(idCol), md5(col(textCol)).as("__nh")), Seq(idCol))
      .filter(col("__oh") =!= col("__nh"))
      .select(idCol)
    def counts(df: DataFrame, cn: String) = df
      .join(changed, Seq(idCol), "left_semi")
      .select(col(idCol), explode(
        graft.plans.WordShingles.shingles(col(textCol), 1)).as("token"))
      .groupBy(idCol, "token").agg(count(lit(1)).cast("long").as(cn))
    counts(oldDocs, "__oc")
      .join(counts(newDocs, "__nc"), Seq(idCol, "token"), "full_outer")
      .select(col(idCol),
        greatest(coalesce(col("__nc"), lit(0L)) - coalesce(col("__oc"), lit(0L)),
          lit(0L)).as("__add"),
        greatest(coalesce(col("__oc"), lit(0L)) - coalesce(col("__nc"), lit(0L)),
          lit(0L)).as("__rem"))
      .groupBy(idCol)
      .agg(sum("__add").cast("long").as("tokens_added"),
        sum("__rem").cast("long").as("tokens_removed"))
  }

  /**
   * Curriculum ordering: bin every document into `bins` exact
   * score-quantile bands (easy→hard), then give each bin a
   * deterministic internal shuffle (shard + position) — the ordering
   * pass of curriculum training ("serve quartile 3 before quartile
   * 0"), fully replayable.
   *
   * Binning without a global sort: scores aggregate to (value, count)
   * rows; a cumulative walk over the DISTINCT VALUES (domain-bounded
   * — a 6-decimal score has ≤10⁶+1 possible values no matter the
   * corpus size) yields each value's preceding-row count, and
   * bin = bins·cum_before div n. Value ties share a bin by
   * construction (the only order-free choice, and what curriculum
   * semantics want — equal difficulty must not straddle phases).
   * Within a bin, order = [[deterministicShuffle]]'s (seed, id) md5
   * permutation, sharded so no sort task exceeds bin/shards rows.
   */
  def curriculum(docs: DataFrame, score: Column, bins: Int, shards: Int,
      seed: Long, idCol: String = "doc_id"): DataFrame = {
    require(bins >= 1 && shards >= 1, "bins and shards must be >= 1")
    val scored = docs.select(col(idCol), score.as("__s"))
    val counts = scored.groupBy("__s").agg(count(lit(1)).as("__cnt"))
    val wv = org.apache.spark.sql.expressions.Window.orderBy("__s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val n = scored.agg(count(lit(1)).cast("long").as("__n"))
    val binByValue = counts
      .withColumn("__cb", coalesce(sum("__cnt").over(wv), lit(0L)))
      .crossJoin(broadcast(n))
      .select(col("__s"),
        expr(s"($bins * __cb) div greatest(__n, 1L)").cast("int").as("bin"))
    val key = md5(concat(lit(seed.toString), lit(":"), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bin", "shard").orderBy(col("__k"), col(idCol))
    scored.join(binByValue, Seq("__s"))
      .withColumn("__k", key)
      .withColumn("shard",
        (conv(substring(col("__k"), 1, 6), 16, 10).cast("long") % shards)
          .cast("int"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select(idCol, "bin", "shard", "pos")
  }

  /**
   * Deterministic corpus shuffle — the global random-order pass every
   * pretraining run needs ("shuffle the corpus, split into shards,
   * fix the within-shard order"), made REPLAYABLE: position is a pure
   * function of (seed, id), so a re-run, a resumed job, or another
   * engine produces the identical order, and changing the seed is a
   * fresh permutation. The permutation key is md5(seed || ':' || id)
   * — uniform, engine-portable, and uncorrelated with ingest order.
   *
   * Scale shape: this is the two-phase form of "ORDER BY random()":
   * shard = first 6 hex digits of the key mod `shards` (uniform),
   * position = row_number within the shard ordered by (key, id) —
   * one hash-partition exchange plus per-shard local sorts, never a
   * corpus-wide single-task sort. Shard sizes concentrate tightly
   * (multinomial) so the local sorts stay balanced.
   */
  def deterministicShuffle(docs: DataFrame, shards: Int, seed: Long,
      idCol: String = "doc_id"): DataFrame = {
    require(shards >= 1, "shards must be >= 1")
    val key = md5(concat(lit(seed.toString), lit(":"), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("__k"), col(idCol))
    docs.select(col(idCol), key.as("__k"))
      .withColumn("shard",
        (conv(substring(col("__k"), 1, 6), 16, 10).cast("long") % shards)
          .cast("int"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select(idCol, "shard", "pos")
  }

  /**
   * Hierarchical host-suffix rollup for crawl analytics: document
   * counts at EVERY registrable level of the host hierarchy — "com",
   * "example.com", "cdn.example.com" — in one pass, the domain
   * analogue of a date rollup. This is how a crawl curation run
   * answers "which domains dominate?" at whatever granularity the
   * mixture policy operates on, without re-aggregating per level.
   *
   * Each host of n labels fans out to its n suffixes (level = label
   * count of the suffix), a ≤~6× explode bounded by DNS depth, then
   * one map-side-combinable count keyed by suffix. A hot TLD like
   * "com" folds to one row per partition before its exchange — the
   * same reason the common-line strip survives universal keys.
   */
  def hostSuffixRollup(hosts: DataFrame, hostCol: String = "host"): DataFrame = {
    val labels = split(col(hostCol), "\\.")
    val n = size(labels)
    val suffixes = transform(sequence(lit(1), n),
      i => struct(array_join(slice(labels, n - i + 1, i), ".").as("suffix"),
        i.as("level")))
    hosts.filter(col(hostCol).isNotNull && length(col(hostCol)) > 0)
      .select(explode(suffixes).as("s"))
      .groupBy(col("s.suffix").as("suffix"), col("s.level").as("level"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
  }

  /**
   * Collocation extraction — adjacent token pairs that co-occur far
   * more often than their member tokens' frequencies predict
   * ("new york", "machine learning"): PMI-family lift rendered
   * integer-exact. Feeds tokenizer vocabulary curation (multi-word
   * units worth a merged token) and phrase-aware dedup keys.
   *
   * Score: `lift_ppm = ⌊n_pair · Nt · 10⁶ / (n_a · n_b)⌋` where Nt is
   * the corpus token count — the pointwise-mutual-information ratio
   * p(ab)/(p(a)p(b)) up to the constant Nt/Nb (bigram positions vs
   * token positions), scaled to ppm. 10⁶ ppm ≈ independence; real
   * collocations score orders of magnitude above. The product is
   * computed in DECIMAL(38,0) and floor-divided, so the score is the
   * same integer under any partitioning and in the DuckDB oracle —
   * no log() and no float accumulation anywhere. (Result bound:
   * ≤ Nt·10⁶/minPairCount, inside int64 for any corpus below ~10¹²
   * tokens per count unit — document-scale corpora qualify.)
   *
   * `minPairCount` is the support floor (PMI is notoriously noisy on
   * hapax pairs — two singletons adjacent once score Nt·10⁶);
   * `minLiftPpm` the association floor.
   *
   * Plan: token and bigram counts are map-side-combinable aggregates
   * over one token-stream pass each; both tables are vocabulary-
   * bounded (counts, never positions), so the two member-token joins
   * shuffle vocab-sized inputs regardless of corpus size; Nt rides a
   * single-row broadcast. Stopword-pair hot keys cannot exist —
   * every key is a distinct token with exactly one count row per side.
   */
  def collocations(docs: DataFrame, minPairCount: Long = 5L,
      minLiftPpm: Long = 2000000L, textCol: String = "text"): DataFrame = {
    require(minPairCount >= 1, "minPairCount must be >= 1")
    val uni = docs.select(
        explode(graft.plans.WordShingles.shingles(col(textCol), 1)).as("token"))
      .groupBy("token").agg(count(lit(1)).cast("long").as("cnt"))
    val total = uni.agg(sum("cnt").cast("long").as("__nt"))
    val pairs = docs.select(
        explode(graft.plans.WordShingles.shingles(col(textCol), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).cast("long").as("n_pair"))
      .filter(col("n_pair") >= minPairCount)
      .withColumn("tok_a", element_at(split(col("gram"), " ", 2), 1))
      .withColumn("tok_b", element_at(split(col("gram"), " ", 2), 2))
    pairs
      .join(uni.select(col("token").as("tok_a"), col("cnt").as("n_a")), Seq("tok_a"))
      .join(uni.select(col("token").as("tok_b"), col("cnt").as("n_b")), Seq("tok_b"))
      .crossJoin(broadcast(total))
      .withColumn("lift_ppm",
        expr("CAST(n_pair AS DECIMAL(38,0)) * __nt * 1000000" +
          " div (CAST(n_a AS DECIMAL(38,0)) * n_b)").cast("long"))
      .filter(col("lift_ppm") >= minLiftPpm)
      .select("tok_a", "tok_b", "n_pair", "n_a", "n_b", "lift_ppm")
  }

  /**
   * Per-source vocabulary concentration audit — the Zipf-shape drift
   * signal between corpus versions and sources: token count, type
   * (distinct-token) count, type-token ratio, hapax share (types
   * seen exactly once — high hapax = noisy/OCR-ish text, near-zero
   * hapax = templated spam), and top-k token mass (how much of the
   * source one stopword-sized head covers). All integer ppm.
   *
   * Scale: one explode → (source, token) count (map-side
   * combinable), then per-source aggregates over the
   * vocabulary-bounded count table; the top-k mass rides a per-source
   * rank window on that same bounded table, never on raw tokens.
   *
   * @return (strataCol, n_tokens, n_types, type_token_ppm,
   *         hapax_types, hapax_ppm, topk_mass_ppm)
   */
  def vocabProfile(docs: DataFrame, topK: Int = 10,
      strataCol: String = "source", textCol: String = "text"): DataFrame = {
    require(topK >= 1, "positive topK")
    val counts = docs.select(col(strataCol).as("__s"),
        explode(graft.plans.WordShingles.shingles(col(textCol), 1))
          .as("__tok"))
      .groupBy("__s", "__tok").agg(count(lit(1)).cast("long").as("__c"))
    val ranked = counts.withColumn("__rk", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("__s")
        .orderBy(col("__c").desc, col("__tok"))))
    ranked.groupBy(col("__s").as(strataCol))
      .agg(sum("__c").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).cast("long")
          .as("hapax_types"),
        sum(when(col("__rk") <= topK, col("__c")).otherwise(0L)).cast("long")
          .as("__topk_mass"))
      .select(col(strataCol), col("n_tokens"), col("n_types"),
        expr("(1000000L * n_types) div greatest(n_tokens, 1L)").cast("long")
          .as("type_token_ppm"),
        col("hapax_types"),
        expr("(1000000L * hapax_types) div greatest(n_types, 1L)")
          .cast("long").as("hapax_ppm"),
        expr("(1000000L * __topk_mass) div greatest(n_tokens, 1L)")
          .cast("long").as("topk_mass_ppm"))
  }

  /**
   * DSIR-style importance scoring (Xie et al. 2023, "Data Selection
   * for Language Models via Importance Resampling") over HASHED
   * BIGRAM features: estimate add-one-smoothed bucket models of the
   * TARGET distribution (the high-quality corpus you want more of)
   * and the RAW distribution (the crawl you are selecting from),
   * then score every raw document by its grams' likelihood ratios —
   * the principled replacement for hand-tuned quality thresholds
   * when "quality" means "looks like this reference corpus".
   *
   * Integer-exact deviation from the paper, documented: DSIR scores
   * `log p_t(x) − log p_r(x) = Σ_g log(θt_g/θr_g)`; cross-engine
   * float logs are not bit-stable, so the score here is the
   * LINEAR-space sum `Σ_g ratio_ppm(g)` with
   * `ratio_ppm = min(10⁹, ⌊10⁶·(t_g+1)·(R+B) / ((r_g+1)·(T+B))⌋)`
   * (B = bucket count, T/R = total target/raw grams). Per-gram
   * integer, order-free sum, hash-exact in DuckDB; monotone per gram
   * in the same direction as the log form, with the clamp bounding
   * the one regime (a single never-in-raw gram) where linear and log
   * aggregation could rank differently. Resampling composes
   * downstream: feed `mean_ratio_ppm` to [[tokenBudgetSelect]] (best
   * N tokens by importance) or a threshold filter.
   *
   * Scale: two corpus-linear explode+count passes build
   * bucket-bounded (≤ B rows) model tables; the per-doc scoring pass
   * joins the raw grams against the BROADCAST ratio table — the
   * 100 TB side never shuffles. Deterministic: the md5 bucket fold is
   * the same [[hashBucket10k]] family every sampler uses.
   *
   * @return (idCol, n_grams, sum_ratio_ppm, mean_ratio_ppm) — one
   *         row per raw doc; gram-less docs score 0
   */
  def dsirScore(raw: DataFrame, target: DataFrame, buckets: Int = 10000,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(buckets >= 2 && buckets <= 1000000, "bucket count sanity")
    // fused gram hashing (round 18, r17 VERDICT #5): the former
    // explode(word_shingles) + concat("dsir:", g) + md5_fold31 chain
    // allocated a gram string AND a salted copy per n-gram on BOTH
    // corpus sides; hashed_grams streams salt + token byte slices
    // into one reused digest — value-identical buckets (md5 is
    // incremental over byte updates), no intermediate strings.
    // Composed rendition kept in test scope as
    // `ComposedReferences.dsirGramBucketsComposed`, parity-pinned in
    // PipelineSpec.
    def grams(df: DataFrame, cols: Column*) = df.select(cols :+
        explode(graft.plans.HashedGrams.grams(col(textCol), 2, "dsir:",
          buckets)).as("__b"): _*)
    val tC = grams(target).groupBy("__b")
      .agg(count(lit(1)).cast("long").as("__t"))
    val tTot = tC.agg(coalesce(sum("__t"), lit(0L)).as("__tn"))
    val rG = grams(raw, col(idCol))
    val rC = rG.groupBy(col("__b").as("__rb"))
      .agg(count(lit(1)).cast("long").as("__r"))
    val rTot = rC.agg(coalesce(sum("__r"), lit(0L)).as("__rn"))
    // bucket-bounded ratio table (≤ B rows): built from the raw-side
    // buckets (only those can be probed), target side left-joined
    val ratios = rC
      .join(tC.withColumnRenamed("__b", "__rb"), Seq("__rb"), "left")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      // clamp in DECIMAL, THEN cast: a target corpus concentrated in
      // one bucket against a huge raw corpus can push the pre-clamp
      // ratio past int64, and an ANSI BIGINT cast INSIDE the least()
      // would throw on exactly the degenerate input the clamp exists
      // to bound (round-13 review)
      .select(col("__rb"),
        expr(
          s"CAST(least((CAST(1000000 AS DECIMAL(38,0)) * (coalesce(__t, 0L) + 1) * (__rn + $buckets) - " +
          s"pmod(CAST(1000000 AS DECIMAL(38,0)) * (coalesce(__t, 0L) + 1) * (__rn + $buckets), " +
          s"CAST(__r + 1 AS DECIMAL(38,0)) * (__tn + $buckets))) / " +
          s"(CAST(__r + 1 AS DECIMAL(38,0)) * (__tn + $buckets)), " +
          "CAST(1000000000 AS DECIMAL(38,0))) AS BIGINT)")
          .as("__ratio_ppm"))
    val scored = rG
      .join(broadcast(ratios), rG("__b") === ratios("__rb"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum("__ratio_ppm").cast("long").as("sum_ratio_ppm"))
      .withColumn("mean_ratio_ppm",
        expr("sum_ratio_ppm div n_grams").cast("long"))
    raw.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("sum_ratio_ppm"), lit(0L)).as("sum_ratio_ppm"),
        coalesce(col("mean_ratio_ppm"), lit(0L)).as("mean_ratio_ppm"))
  }

  /**
   * DSIR importance-weighted resampling — the operator a real
   * pipeline runs right after [[dsirScore]]: draw `totalN` documents
   * from the raw corpus with inclusion probability proportional to
   * importance, integer-exact. The paper's resampler draws
   * categorically with probability ∝ weight; a bit-reproducible,
   * engine-portable rendition of that is TIERED exact-count
   * stratification: documents are binned into `tiers` fixed-width
   * score tiers, the budget is split across tiers PROPORTIONAL TO
   * TIER WEIGHT (sum of `mean_ratio_ppm`) by largest-remainder
   * apportionment (Σ allocations = totalN exactly — no float
   * probabilities, no rounding drift), and each tier's quota is
   * filled by the same coordinated minwise draw [[minwiseSample]]
   * uses (md5 order — uniform within tier, reproducible by any
   * engine with md5).
   *
   * Degenerate regimes, pinned: an all-zero-weight corpus (target
   * and raw share no buckets... impossible by construction since
   * ratios are ≥ 1, but an all-gramless corpus scores 0) falls back
   * to count-proportional apportionment — uniform sampling; a tier
   * allocated past its population returns its whole population and
   * the global sample runs short rather than silently re-weighting —
   * re-run on the residue to rebalance (documented, not hidden).
   *
   * Scale: the scoring pass is [[dsirScore]] (broadcast ratio table,
   * the 100 TB side never shuffles); tier stats are a ≤`tiers`-row
   * aggregate fetched through [[DriverBounds.boundedCollect]];
   * apportionment is O(tiers) driver arithmetic in BigInt (the
   * weight sums exceed int64 at corpus scale); the draw is one
   * per-tier rank window — partitionBy(tier), never a global sort —
   * against a broadcast `tiers`-row quota table.
   *
   * @return (idCol, tier, mean_ratio_ppm, draw_rank) — the sampled
   *         docs; draw_rank 1..quota within each tier
   */
  def dsirResample(raw: DataFrame, target: DataFrame, totalN: Long,
      tiers: Int = 10, buckets: Int = 10000, textCol: String = "text",
      idCol: String = "doc_id", seedTag: String = "dsir-sample"): DataFrame = {
    require(totalN >= 1, "positive sample size")
    require(tiers >= 1 && tiers <= 10000, "tier count sanity")
    val spark = raw.sparkSession
    // persist: three actions read the scoring DAG (max agg, tier
    // stats, the final draw) — without reuse the two corpus explodes
    // and the ratio build execute three times (measured 3x wall on
    // the bench cell). Narrow frame: one (id, long) row per doc.
    val scores = dsirScore(raw, target, buckets, textCol, idCol)
      .select(col(idCol), col("mean_ratio_ppm"))
      .persist()
    // tier width from the observed score range: one 1-row agg
    // (planner statistic, not data)
    val maxScore = DriverBounds.boundedCollect(
      scores.agg(coalesce(max("mean_ratio_ppm"), lit(0L)).as("m")),
      1L, "dsirResample max score (single-row aggregate)")
      .head.getLong(0)
    val width = maxScore / tiers + 1
    val tiered = scores.withColumn("tier",
      least(lit(tiers - 1L), expr(s"mean_ratio_ppm div ${width}L"))
        .cast("long"))
    // DECIMAL(38,0) tier weight (round-15 ADVICE): the BigInt driver
    // arithmetic protects nothing if the SPARK-side sum already
    // overflowed int64 — at the corpus scale the apportionment doc
    // cites (~9.2e9 max-score docs) a `.cast("long")` sum wraps (or
    // throws under ANSI) before the driver ever sees it. Same
    // decimal discipline as dsirScore's ratio math.
    val stats = DriverBounds.boundedCollect(
      tiered.groupBy("tier")
        .agg(sum(col("mean_ratio_ppm").cast("decimal(38,0)")).as("w"),
          count(lit(1)).cast("long").as("c")),
      tiers.toLong, "dsirResample tier stats (one row per tier)")
      .map(r => (r.getLong(0),
        BigInt(r.getDecimal(1).toBigIntegerExact), BigInt(r.getLong(2))))
    require(stats.nonEmpty,
      "dsirResample needs a non-empty raw corpus — zero tier rows")
    // largest-remainder apportionment, BigInt (tier weight sums pass
    // int64 at corpus scale): base share = floor(N*w/W); the leftover
    // goes to the largest fractional remainders, ties to the lower
    // tier — Σ quotas = totalN exactly
    val useCounts = stats.map(_._2).sum == 0
    val weights = stats.map { case (t, w, c) => (t, if (useCounts) c else w) }
    val wTot = weights.map(_._2).sum
    val base = weights.map { case (t, w) =>
      (t, BigInt(totalN) * w / wTot, BigInt(totalN) * w % wTot) }
    val leftover = (BigInt(totalN) - base.map(_._2).sum).toLong
    val extras = base.sortBy { case (t, _, rem) => (-rem, t) }
      .take(leftover.toInt).map(_._1).toSet
    val alloc = base.map { case (t, b, _) =>
      (t, b.toLong + (if (extras(t)) 1L else 0L)) }
    import spark.implicits._
    val allocDf = broadcast(alloc.toSeq.toDF("tier", "n_alloc"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("tier")
      .orderBy(col("__draw"), col(idCol))
    val out = tiered
      .withColumn("__draw",
        md5(concat(lit(seedTag + ":"), col(idCol).cast("string"))))
      .withColumn("draw_rank", row_number().over(w).cast("long"))
      .join(allocDf, Seq("tier"))
      .filter(col("draw_rank") <= col("n_alloc"))
      .select(col(idCol), col("tier"), col("mean_ratio_ppm"),
        col("draw_rank"))
    // materialize the draw (bounded by totalN rows — a tiny frame),
    // then release the persisted corpus-sized scores: the caller gets
    // a checkpointed result that no longer references the cache
    val cp = out.localCheckpoint()
    scores.unpersist(blocking = false)
    cp
  }

  /**
   * TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
   * over the word co-occurrence graph — adjacent-token edges in both
   * directions (the paper's undirected window-2 keyword graph),
   * duplicates collapsed (the unweighted formulation). Composes
   * [[collocations]]' bigram pass with
   * [[Graphs.pageRankFixedPoint]]'s integer-exact iteration, so the
   * extraction is deterministic to the bit and oracle-checkable like
   * every other score in the engine.
   *
   * Scale: the explode is the only corpus-linear pass; the graph it
   * leaves is VOCABULARY-sized (distinct adjacent pairs), and the
   * PageRank rounds run entirely on that vocab graph. Top-k is an
   * orderBy+limit — TakeOrderedAndProject per-partition heaps, no
   * global sort; the kw_rank window then orders k rows, not the
   * vocabulary.
   *
   * @return (node, rank, kw_rank) — the k highest-ranked tokens,
   *         kw_rank 1..k, rank ties broken to lexicographic token
   */
  def textRankKeywords(docs: DataFrame, iters: Int, k: Int,
      textCol: String = "text"): DataFrame = {
    require(iters >= 1 && k >= 1, "positive iterations and k")
    val bi = docs.select(
        explode(graft.plans.WordShingles.shingles(col(textCol), 2)).as("gram"))
      .select(element_at(split(col("gram"), " ", 2), 1).as("a"),
        element_at(split(col("gram"), " ", 2), 2).as("b"))
      .filter(col("a") =!= col("b"))
    // both edge directions from ONE shingle pass (round 18): the
    // former self-union re-ran the tokenize+shingle scan — the
    // operator's corpus-linear term — twice; exploding the two
    // directions per bigram emits the same multiset in one pass
    // (pageRank dedups to the identical edge set)
    val edges = bi.select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    Graphs.pageRankFixedPoint(edges, iters, srcCol = "a", dstCol = "b")
      .orderBy(col("rank").desc, col("node")).limit(k)
      .withColumn("kw_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rank").desc, col("node"))).cast("long"))
  }

  /**
   * Corpus snapshot diff — classify every document as added /
   * removed / changed / unchanged between two corpus versions, the
   * audit step between two training-data releases ("what actually
   * moved since v1?"). Content identity is md5 of the text, so a
   * rewritten doc under the same id is `changed`, not `unchanged`.
   *
   * Plan: each side reduces to (id, md5) — a narrow projection, no
   * shuffle — then ONE full-outer hash join on the id classifies
   * everything. At 100 TB this is the minimal shape: the join carries
   * 48-byte rows, never document text, and partitions by the id key.
   * Output: (idCol, status) with status ∈ {added, removed, changed,
   * unchanged}.
   */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val o = oldDocs.select(col(idCol).as("__oid"),
      md5(col(textCol)).as("__oh"))
    val n = newDocs.select(col(idCol).as("__nid"),
      md5(col(textCol)).as("__nh"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .select(coalesce(col("__oid"), col("__nid")).as(idCol),
        when(col("__oid").isNull, "added")
          .when(col("__nid").isNull, "removed")
          .when(col("__oh") =!= col("__nh"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /**
   * Pairwise corpus-overlap matrix between sources: for every source
   * pair that shares at least one word n-gram shingle, the EXACT
   * shingle-set Jaccard and both directional containments, integer
   * ppm — the "who overlaps whom" audit run before mixing sources
   * into a training corpus (a crawl that contains a mirror of
   * another source shows up as containment ≈ 1e6 long before doc-
   * level dedup would surface it).
   *
   * Plan shape, and why it survives 100 TB: the corpus reduces to
   * DISTINCT (source, shingle) — one aggregation keyed by the
   * shingle vocabulary, never by documents. Pair candidates come
   * from grouping that table BY SHINGLE and expanding each shingle's
   * source list into its (a < b) pairs: the fan-out per shingle is
   * bounded by the SOURCE cardinality squared (sources are tens to
   * hundreds), so the candidate volume is O(vocab · S²) — there is
   * no doc×doc or shingle×shingle term anywhere. Set sizes join back
   * by broadcast (S rows). Output: (src_a, src_b, n_a, n_b,
   * n_common, jaccard_ppm, contain_a_ppm, contain_b_ppm), ppm values
   * by integer floor division for cross-engine hash stability.
   * Source-pair order is UTF-16 `<` on the source names — identical
   * to a byte-order oracle for ASCII/BMP names.
   */
  /** DISTINCT (source, shingle) — the corpus collapsed to per-source
    * shingle SETS: one aggregation keyed by (source, vocabulary),
    * shared by the exact and minhash-estimated overlap operators. */
  private def srcShingleSets(docs: DataFrame, shingleN: Int,
      textCol: String, srcCol: String): DataFrame = {
    docs.select(col(srcCol).as("__src"),
        explode(graft.plans.WordShingles.shingles(col(textCol), shingleN,
          distinct = true)).as("__sh"))
      .distinct()
  }

  def sourceOverlap(docs: DataFrame, shingleN: Int = 3,
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    val sh = srcShingleSets(docs, shingleN, textCol, srcCol)
    val sizes = sh.groupBy("__src").agg(count(lit(1)).cast("long").as("__n"))
    val pairs = sh.groupBy("__sh")
      .agg(sort_array(collect_set("__src")).as("__srcs"))
      .filter(size(col("__srcs")) >= 2)
      // all (i < j) pairs of the shingle's sorted source list; the
      // list is capped by the source cardinality, so this explode is
      // O(S²) per shingle, not data-sized
      .select(explode(expr(
        "flatten(transform(__srcs, (x, i) -> transform(" +
          "slice(__srcs, i + 2, size(__srcs)), " +
          "y -> named_struct('a', x, 'b', y))))")).as("__p"))
      .groupBy(col("__p.a").as("src_a"), col("__p.b").as("src_b"))
      .agg(count(lit(1)).cast("long").as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("__src").as("src_a"),
        col("__n").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("__src").as("src_b"),
        col("__n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_common"),
        expr("(1000000 * n_common) div (n_a + n_b - n_common)")
          .cast("long").as("jaccard_ppm"),
        expr("(1000000 * n_common) div n_a").cast("long")
          .as("contain_a_ppm"),
        expr("(1000000 * n_common) div n_b").cast("long")
          .as("contain_b_ppm"))
  }

  /**
   * MinHash-ESTIMATED source-overlap matrix — the sketch path for
   * when even the distinct (source, shingle) table of
   * [[sourceOverlap]] is too hot to co-group exactly: each source
   * reduces to a k-slot md5 MinHash signature (the same
   * `md5(i + ":" + shingle)` family as [[graft.plans.Md5MinHash]],
   * aggregated as a distributed per-permutation MIN because a
   * source's shingle set never fits one row), and the estimated
   * Jaccard for a pair is the fraction of agreeing slots.
   *
   * The pairing is an EQUI-join on (permutation, signature value):
   * only slot agreements produce join hits, so no S² pair frame is
   * ever built — a pair that agrees on zero slots simply doesn't
   * appear (its estimate is 0, matching [[sourceOverlap]]'s
   * only-overlapping-pairs contract). Per source the signature is k
   * rows of 32 bytes regardless of corpus size; estimator stderr is
   * ~1/√k. Output: (src_a, src_b, n_matches, est_jaccard_ppm).
   */
  def sourceOverlapMinhash(docs: DataFrame, shingleN: Int = 3, k: Int = 16,
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    require(k > 0, "k must be positive")
    val sh = srcShingleSets(docs, shingleN, textCol, srcCol)
    // Per-shingle k-slot signature via the native Md5MinHash over a
    // 1-element array — one tight digest loop per row (reused
    // MessageDigest), byte-identical to k separate
    // md5(concat(i, ':', shingle)) expressions but ~2× faster than
    // evaluating them individually. The per-source signature is the
    // element-wise MIN of those row signatures, aggregated as k
    // min() columns (map-side combine keeps the shuffle at
    // S × k values per partition) and unpivoted back to
    // (source, perm, sig) rows for the equi-join.
    val rowSig = graft.plans.Md5MinHash.minhash(array(col("__sh")), k)
    val aggs = (0 until k).map(i => min(col("__sig")(i)).as(s"__s$i"))
    val sigs = sh
      .select(col("__src"), rowSig.as("__sig"))
      .groupBy("__src").agg(aggs.head, aggs.tail: _*)
      .selectExpr("__src",
        s"stack($k, ${(0 until k).map(i => s"$i, __s$i").mkString(", ")}) " +
          "as (__perm, __sig)")
    val a = sigs.select(col("__src").as("src_a"), col("__perm"), col("__sig"))
    val b = sigs.select(col("__src").as("src_b"), col("__perm"), col("__sig"))
    a.join(b, Seq("__perm", "__sig"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).cast("long").as("n_matches"))
      .select(col("src_a"), col("src_b"), col("n_matches"),
        expr(s"(1000000 * n_matches) div ${k}L").cast("long")
          .as("est_jaccard_ppm"))
  }

  /**
   * Source × language token-share matrix: per (source, language)
   * cell, document and token counts plus the cell's token share of
   * its source in integer ppm — the mixture report a multilingual
   * corpus prep reads before setting per-source sampling weights
   * ("which crawls actually carry the Spanish tokens?").
   *
   * Scale: the only data-sized pass is tokenize + the (source, lang)
   * hash aggregation (map-side combinable). The share window runs
   * over the aggregated S × L matrix — rows bounded by
   * sources × languages, not by the corpus.
   */
  def sourceLangMix(docs: DataFrame, srcCol: String = "source",
      langCol: String = "lang", textCol: String = "text"): DataFrame = {
    val cnt = docs.select(col(srcCol).as("source"), col(langCol).as("lang"),
        size(graft.plans.WordShingles.shingles(col(textCol), 1))
          .cast("long").as("__t"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("__t").cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
    cnt.withColumn("__tot", sum("n_tokens").over(w))
      .withColumn("share_ppm",
        expr("(1000000 * n_tokens) div greatest(__tot, 1L)").cast("long"))
      .drop("__tot")
  }

  /**
   * Per-group winsorization: clamp a numeric column to its group's
   * [lo, hi] order statistics — the outlier-taming step before
   * score-weighted sampling (one 10 GB page must not dominate a
   * length-weighted mixture). Ranks are defined in integer ppm:
   * lo rank = min(n, floor(n·loPpm/1e6) + 1), hi rank =
   * max(loRank, ceil(n·hiPpm/1e6)) — the first value strictly above
   * the lo quantile and the last value at or below the hi quantile;
   * both engines floor-divide identically.
   *
   * Scale shape: a naive per-group `row_number` sort would serialize
   * each group (one 60 TB language = one partition). Instead the
   * order statistics come from the per-(group, value) COUNT table —
   * data-sized work is one hash aggregation; the cumulative window
   * then runs over at most |value domain| rows per group, parallel
   * across groups, and the resulting S-row bounds table broadcasts
   * back for the clamp. No row ever sorts by value.
   */
  def winsorize(df: DataFrame, valCol: String, groupCol: String,
      loPpm: Long = 50000L, hiPpm: Long = 950000L): DataFrame = {
    require(0 <= loPpm && loPpm <= hiPpm && hiPpm <= 1000000L,
      "need 0 <= loPpm <= hiPpm <= 1e6")
    val cnts = df
      .select(col(groupCol).as("__g"), col(valCol).cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("__g")
    val bounds = cnts
      .withColumn("__cum", sum("__c").over(wOrd))
      .withColumn("__n", sum("__c").over(wAll))
      .withColumn("__loRank",
        least(col("__n"), expr(s"(${loPpm}L * __n) div 1000000L + 1L")))
      .withColumn("__hiRank", greatest(col("__loRank"),
        least(col("__n"), expr(s"(${hiPpm}L * __n + 999999L) div 1000000L"))))
      .groupBy("__g")
      .agg(min(when(col("__cum") >= col("__loRank"), col("__v"))).as("v_lo"),
        min(when(col("__cum") >= col("__hiRank"), col("__v"))).as("v_hi"))
    df.join(broadcast(bounds), df(groupCol) === bounds("__g"))
      .withColumn("v_winsorized",
        least(greatest(col(valCol).cast("long"), col("v_lo")), col("v_hi")))
      .drop("__g")
  }

  /**
   * Two-sample Kolmogorov–Smirnov distance over an integer-valued
   * column (doc length, token count, quality score…): the
   * distribution-shift gate between two corpus snapshots — "did the
   * length profile move?" — reported as one row (n_a, n_b, ks_ppm,
   * at_value) where ks_ppm = max over values of |ECDF_a − ECDF_b|
   * quantized to ppm by integer floor division (both engines
   * truncate identically on non-negative counts) and at_value is the
   * smallest value attaining the max.
   *
   * Plan shape: each side first collapses to per-value counts — the
   * only data-sized pass, a hash aggregation keyed by the VALUE
   * DOMAIN, so everything after is bounded by the number of distinct
   * values, not rows. The ECDFs need a global running sum over the
   * value order; a single-partition window would serialize that, so
   * it runs as the same two-phase distributed prefix scan
   * [[Packing.streamPacks]] uses: range-partition by value, P
   * per-partition totals collected (P longs — a planner statistic,
   * not data), partition offsets broadcast back, per-partition
   * window on top. The final max is a top-1 TakeOrdered, not a full
   * sort.
   */
  def ksShift(a: DataFrame, b: DataFrame, valCol: String): DataFrame = {
    val spark = a.sparkSession
    def cnts(df: DataFrame, out: String) =
      df.select(col(valCol).cast("long").as("__v"))
        .filter(col("__v").isNotNull)
        .groupBy("__v").agg(count(lit(1)).cast("long").as(out))
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    // persist so the totals pass and the scan pass see the same
    // physical range partitioning
    val u = cnts(a, "__c1").join(cnts(b, "__c2"), Seq("__v"), "full_outer")
      .select(col("__v"), coalesce(col("__c1"), lit(0L)).as("__c1"),
        coalesce(col("__c2"), lit(0L)).as("__c2"))
      .repartitionByRange(parts, col("__v"))
      .withColumn("__pid", spark_partition_id())
      .persist()
    u.count()
    val totals = DriverBounds.boundedCollect(
      u.groupBy("__pid")
        .agg(sum("__c1").as("t1"), sum("__c2").as("t2")),
      parts.toLong,
      "quantile-normalization partition totals (one row per range partition)")
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val off = (0 until parts).scanLeft((0L, 0L)) { case ((o1, o2), pid) =>
      val (t1, t2) = totals.getOrElse(pid, (0L, 0L)); (o1 + t1, o2 + t2)
    }
    val (n1, n2) = off(parts)
    val offsetDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until parts).map(pid =>
          org.apache.spark.sql.Row(pid, off(pid)._1, off(pid)._2)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__pid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__o1",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("__o2",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    u.join(broadcast(offsetDf), Seq("__pid"))
      .withColumn("__m1", col("__o1") + sum(col("__c1")).over(w))
      .withColumn("__m2", col("__o2") + sum(col("__c2")).over(w))
      .withColumn("__diff", abs(
        expr(s"(1000000 * __m1) div greatest(${n1}L, 1L)") -
          expr(s"(1000000 * __m2) div greatest(${n2}L, 1L)")))
      .orderBy(col("__diff").desc, col("__v"))
      .limit(1)
      .select(lit(n1).as("n_a"), lit(n2).as("n_b"),
        col("__diff").cast("long").as("ks_ppm"),
        col("__v").cast("long").as("at_value"))
  }

  /**
   * Provenance-aware duplicate attribution: for every exact-content
   * duplicate group, the group's keeper is its minimum-id member;
   * every OTHER member charges one duplicate to the ordered pair
   * (its own source → the keeper's source). The output matrix
   * answers "which sources are copying which" — the corpus-report
   * companion to exact dedup (a scraped mirror shows up as one hot
   * (mirror → origin) row, not as an undifferentiated dup count).
   *
   * Plan shape: one narrow projection to (id, source, md5(text)) —
   * text never shuffles — then the matrix builds from per-(hash,
   * source) PARTIALS (count + min id), never raw duplicate rows: the
   * first aggregation's map-side combine absorbs a viral text before
   * the exchange, so a hash carries at most S rows afterwards (a
   * window keyed by the hash would instead drag every copy of the
   * viral text into one task — measured and rejected). The keeper is
   * the per-hash min(struct(min id, source)) over those partials (id
   * unique → the struct min IS the global min-id member), the rejoin
   * fans out at most S rows per hash, and each (hash, source) cell
   * charges count − (1 if it owns the keeper) duplicates to its
   * (source → keeper source) pair.
   */
  def dupAttribution(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", srcCol: String = "source"): DataFrame = {
    val h = docs.select(col(idCol).cast("long").as("__id"),
      col(srcCol).as("__src"), md5(col(textCol)).as("__h"))
    val perSrc = h.groupBy("__h", "__src")
      .agg(count(lit(1)).as("__c"), min("__id").as("__minId"))
    val keep = perSrc.groupBy("__h")
      .agg(min(struct(col("__minId"), col("__src"))).as("__k"))
    perSrc.join(keep, Seq("__h"))
      .select(col("__src"), col("__k.__src").as("__ksrc"),
        (col("__c") - when(col("__src") === col("__k.__src"), 1L)
          .otherwise(0L)).as("__n"))
      .filter(col("__n") > 0)
      .groupBy(col("__src").as("dup_source"),
        col("__ksrc").as("keeper_source"))
      .agg(sum("__n").cast("long").as("n_dups"))
  }

  /**
   * C4-style line-level structural cleaning (Raffel et al. 2020,
   * "Exploring the Limits of Transfer Learning…", §2.2 — the public
   * C4 cleaning recipe; complements [[blocklistFilter]], which covers
   * the same paper's bad-words gate). Per LINE, keep only lines that
   *   - end in a terminal punctuation mark (`.` `!` `?` `"`, checked
   *     on the right-trimmed line),
   *   - contain at least `minWordsPerLine` whitespace-separated words,
   *   - do not mention "javascript" (case-insensitive — the classic
   *     "enable javascript" boilerplate),
   * then drop the whole DOCUMENT when the ORIGINAL text contains
   * "lorem ipsum" (case-insensitive) or a curly brace `{` (code), or
   * when the cleaned text retains fewer than `minSentences` sentences
   * (counted as terminal-mark characters `.!?` in the cleaned text —
   * a line can hold several sentences, so this is NOT a kept-line
   * count; the quote mark ends a line but is not a sentence terminal,
   * matching the paper's sentence-based page floor).
   *
   * Every rule is a narrow per-row expression over the doc's own line
   * array — no shuffle, no join, no state; at 100 TB this is a
   * map-only pass that whole-stage-codegens around the scan (the
   * line-array lambdas are CodegenFallback like every higher-order
   * function, but there is one array traversal per rule, all
   * vocabulary-free). Emits per-doc audit counts alongside the
   * decision so threshold policies and drop-reason dashboards read
   * off the same pass:
   * (idCol, n_lines, n_kept_lines, n_sentences, keep, drop_reason,
   * clean_text) — clean_text is always the kept-lines join, defined
   * for dropped docs too (drop reasons are doc-level, the line pass
   * is still well-defined).
   */
  def c4LineClean(docs: DataFrame, minWordsPerLine: Int = 3,
      minSentences: Int = 5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val keepLine = (l: Column) =>
      substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"") &&
        size(split(trim(l), "\\s+")) >= minWordsPerLine &&
        !lower(l).contains("javascript")
    val kept = filter(lines, l => keepLine(l))
    val clean = array_join(kept, "\n")
    val nSent = length(regexp_replace(clean, "[^.!?]", ""))
    val lorem = lower(col(textCol)).contains("lorem ipsum")
    val curly = col(textCol).contains("{")
    docs.select(
        col(idCol),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept_lines"),
        nSent.cast("long").as("n_sentences"),
        lorem.as("__lorem"), curly.as("__curly"),
        clean.as("clean_text"))
      .withColumn("keep",
        !col("__lorem") && !col("__curly") &&
          col("n_sentences") >= minSentences)
      .withColumn("drop_reason",
        when(col("__lorem"), "lorem_ipsum")
          .when(col("__curly"), "curly_brace")
          .when(col("n_sentences") < minSentences, "too_few_sentences"))
      .select(col(idCol), col("n_lines"), col("n_kept_lines"),
        col("n_sentences"), col("keep"), col("drop_reason"),
        col("clean_text"))
  }

  /**
   * CCNet-style per-language perplexity bucketing (Wenzek et al.
   * 2020): language-ID every document, train a per-language bigram LM
   * on the same-language slice of the REFERENCE corpus, score each
   * document's average conditional probability, and split every
   * language into head/middle/tail terciles by exact per-language
   * rank — the standard "keep the head for pretraining" recipe knob.
   *
   * Distribution: the LM is [[lmDocScore]]'s pipeline with `lang` as
   * an extra key everywhere — ONE pass over reference and corpus for
   * all languages (never a per-language job loop, never a re-read of
   * the reference per language), counts map-side combinable, every
   * join a (lang, gram) equi-join. The tercile is
   * [[groupPercentile]]'s two-phase exact rank (score-prefix buckets,
   * no corpus-wide or language-wide sort), so the bucketing holds at
   * any per-language row count.
   *
   * Pinned deviations, both documented semantics: terciles cut by
   * DOCUMENT COUNT (permyriad ≤ 3333 / ≤ 6666), not CCNet's byte
   * share; and documents with zero reference-known bigrams (or < 2
   * tokens) are absent from the output — no LM evidence means no
   * perplexity rank, the caller routes them separately. Integer ppm
   * scores end to end; ranks tie-break on id — hash-exact in any
   * engine.
   *
   * @return (idCol, lang, n_bigrams, avg_p_ppm, rank, permyriad,
   *         bucket) with bucket ∈ head|middle|tail per language
   */
  def ccnetBuckets(docs: DataFrame, reference: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import graft.functions.TextFns
    val dl = docs.select(col(idCol), col(textCol),
      TextFns.langId(col(textCol)).as("lang"))
    val rl = reference.select(TextFns.langId(col(textCol)).as("lang"),
      col(textCol))
    val lm = rl.select(col("lang"), explode(
        graft.plans.WordShingles.shingles(col(textCol), 2)).as("bigram"))
      .groupBy("lang", "bigram").agg(count(lit(1)).as("__bc"))
    val prefix = lm.groupBy(col("lang"),
        expr("element_at(split(bigram, ' ', 2), 1)").as("__w1"))
      .agg(sum("__bc").as("__pc"))
    val docBigrams = dl.select(col(idCol), col("lang"),
        explode(graft.plans.WordShingles.shingles(col(textCol), 2)).as("bigram"))
      .groupBy(idCol, "lang", "bigram").agg(count(lit(1)).as("__n"))
    val scored = docBigrams
      .join(lm, Seq("lang", "bigram"))
      .withColumn("__w1", expr("element_at(split(bigram, ' ', 2), 1)"))
      .join(prefix, Seq("lang", "__w1"))
      .withColumn("__p_ppm", expr("(1000000L * __bc) div __pc"))
      .groupBy(col(idCol), col("lang"))
      .agg(sum("__n").cast("long").as("n_bigrams"),
        sum(col("__n") * col("__p_ppm")).cast("long").as("sum_p_ppm"))
      .withColumn("avg_p_ppm", expr("sum_p_ppm div n_bigrams").cast("long"))
    groupPercentile(scored, "lang", "avg_p_ppm", idCol)
      .withColumn("bucket",
        when(col("permyriad") <= 3333, "head")
          .when(col("permyriad") <= 6666, "middle")
          .otherwise("tail"))
      .select(col(idCol), col("lang"), col("n_bigrams"), col("avg_p_ppm"),
        col("rank"), col("permyriad"), col("bucket"))
  }
}
