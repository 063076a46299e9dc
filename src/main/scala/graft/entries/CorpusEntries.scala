package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.entries.Fixtures._
import graft.functions.TextFns

/** Text-analysis + corpus-prep domain: token stats, language-ID,
  * quality, fingerprints, signals, redaction, chunking, sampling,
  * mixture, boilerplate, decontamination, TF-IDF, packing, and the
  * composed corpus-prep flow. */
private[graft] object CorpusEntries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Text analysis: token counting.
    "q_token_stats" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFns.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .orderBy("doc_id")
    },

    // Text analysis: language-ID heuristic.
    "q_lang_id" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextFns.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // Text analysis: quality score.
    "q_quality" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFns.qualityScore(col("text")).as("quality")).orderBy("doc_id")
    },

    // Text analysis: document fingerprints (md5 + min-shingle).
    "q_fingerprints" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFns.fingerprint(col("text")).as("fp"),
        TextFns.shingleFingerprint(col("text"), 3).as("shingle_fp"))
        .orderBy("doc_id")
    },

    // Text quality signals (Gopher-style repetition/shape stats).
    "q_doc_signals" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextFns.docSignals(col("text")).as("sig"))
        .select(col("doc_id"), col("sig.rep_ratio"), col("sig.mean_word_len"),
          col("sig.symbol_ratio"))
        .orderBy("doc_id")
    },

    // PII-style redaction over a corpus with injected contact strings.
    "q_redact" -> { (s, dir) =>
      val withPii = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" contact me at user@example.com or 12345678901")))
          .otherwise(col("text")).as("text"))
      withPii.select(col("doc_id"), TextFns.redact(col("text")).as("clean"))
        .filter(col("clean").contains("<EMAIL>") || col("clean").contains("<NUM>"))
        .orderBy("doc_id")
    },

    // C4-style blocklist phrase gate: mixed 1/2/3-token phrases,
    // occurrence + distinct-phrase counts, deterministic exemplar.
    "q_blocklist" -> { (s, dir) =>
      import s.implicits._
      val phrases = Seq("spark", "table table", "slow slow",
        "fast key scan", "data window the").toDF("phrase")
      graft.pipeline.Corpus.blocklistFilter(spread(docs(s, dir)), phrases)
        .orderBy("doc_id")
    },

    // Corpus prep: token-window chunking with overlap.
    "q_chunks" -> { (s, dir) =>
      graft.pipeline.Corpus.chunk(docs(s, dir), chunkTokens = 20, overlapTokens = 5)
        .orderBy("doc_id", "chunk_index")
    },

    // Corpus prep: deterministic stratified sampling for data mixing.
    "q_sample" -> { (s, dir) =>
      graft.pipeline.Corpus.stratifiedSample(docs(s, dir), "lang",
        Map("en" -> 50, "fr" -> 30, "de" -> 20))
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // Minwise per-stratum sampling: exactly 10 docs per source by
    // smallest deterministic md5 draw — exact counts where q_sample's
    // Bernoulli gives exact rates, and coordinated across runs.
    "q_sample_minwise" -> { (s, dir) =>
      graft.pipeline.Corpus.minwiseSample(docs(s, dir), "source",
          n = 10, seedTag = "strat")
        .select("doc_id", "source", "draw_rank").orderBy("doc_id")
    },

    // Mixture-targeted resampling: per-source keep rates derived from
    // target weights and actual counts, integer-exact permyriad.
    "q_mixture" -> { (s, dir) =>
      graft.pipeline.Corpus.mixToTarget(docs(s, dir), "source",
        Map("src1" -> 5L, "src3" -> 3L, "src7" -> 2L), totalTarget = 200L)
        .select("doc_id", "source").orderBy("doc_id")
    },

    // Per-source cap: at most N docs per source, kept as a
    // deterministic content-hash sample — the anti-domination guard.
    "q_source_cap" -> { (s, dir) =>
      graft.pipeline.Corpus.capPerGroup(docs(s, dir), "source", maxDocs = 20)
        .select("doc_id", "source").orderBy("doc_id")
    },

    // Boilerplate coverage: per-doc share of n-gram occurrences whose
    // gram appears in ≥ minDf distinct documents.
    "q_boilerplate" -> { (s, dir) =>
      graft.pipeline.Corpus.boilerplateCoverage(docs(s, dir), n = 3, minDf = 2L)
        .select("doc_id", "total_grams", "boiler_grams", "boiler_permille")
        .orderBy("doc_id")
    },

    // Top-gram repetition: share of 2-gram occurrences held by the
    // doc's single most frequent 2-gram (Gopher-family quality filter).
    "q_top_ngram" -> { (s, dir) =>
      graft.pipeline.Corpus.topNgramCoverage(docs(s, dir), n = 2)
        .select("doc_id", "total_grams", "top_count", "top_permille")
        .orderBy("doc_id")
    },

    // Corpus prep: benchmark decontamination (n-gram leakage guard).
    // The "benchmark" is docs 0-4 plus a near-copy corpus member, so
    // both exact and partial overlap are exercised.
    "q_decontaminate" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val bench = d.filter(col("doc_id") < 5)
      // corpus includes leaked benchmark copies (id+30000) that the
      // guard must remove; spread the 8-gram explode across cores
      val corpus = spread(d.filter(col("doc_id") >= 5)
        .unionByName(bench.withColumn("doc_id", col("doc_id") + 30000)))
      graft.pipeline.Corpus.decontaminate(corpus, bench, n = 8)
        .select("doc_id").orderBy("doc_id")
    },

    // Bloom-prefiltered decontamination: a 10×-larger benchmark side
    // (doc_id < 50) than q_decontaminate's — the regime where the
    // bench gram set outgrows a HashedRelation broadcast and only the
    // bloom fits. Result must be IDENTICAL to the plain guard: leaked
    // copies (id+30000 of bench docs 0-9) removed, everything else
    // kept, bloom false positives invisible after the confirm join.
    "q_decon_bloom" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val bench = d.filter(col("doc_id") < 50)
      val corpus = spread(d.filter(col("doc_id") >= 50)
        .unionByName(d.filter(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + 30000)))
      graft.pipeline.Corpus.decontaminateBloom(corpus, bench, n = 8)
        .select("doc_id").orderBy("doc_id")
    },

    // Contamination audit: per benchmark item, leaked-gram and
    // hit-doc counts. Fixture: items 0-2 fully copied into the corpus
    // (id+30000), 20 tokens of item 3 appended to corpus doc 42
    // (partial leak), item 4 untouched (must report zeros).
    "q_contamination_report" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val bench = d.filter(col("doc_id") < 5)
      val chunk3 = bench.filter(col("doc_id") === 3).select(
        array_join(slice(graft.plans.WordShingles.shingles(col("text"), 1),
          1, 20), " ").as("__c"))
      val corpus0 = d.filter(col("doc_id") >= 5)
        .unionByName(bench.filter(col("doc_id") < 3)
          .withColumn("doc_id", col("doc_id") + 30000))
      val corpus = spread(corpus0.crossJoin(broadcast(chunk3))
        .select(col("doc_id"),
          when(col("doc_id") === 42, concat(col("text"), lit(" "), col("__c")))
            .otherwise(col("text")).as("text")))
      graft.pipeline.Corpus.contaminationReport(corpus, bench, n = 8)
        .orderBy("bench_id")
    },

    // Host-graph authority: fixed-point PageRank over a deterministic
    // synthetic link graph (20 hosts, ≤2 out-edges each, derived from
    // doc ids) — integer rank units, bit-exact across engines.
    "q_pagerank" -> { (s, dir) =>
      val d = docs(s, dir)
      def host(c: org.apache.spark.sql.Column) = concat(lit("h"), c)
      // one scan, not a 2-way self-union (= 2 scans of the corpus;
      // the r17 PQ subspaceSlices pattern): explode both generated
      // edges per doc — same multiset, and the distinct inside
      // pageRankFixedPoint makes the set identical
      val edges = d.select(explode(array(
          struct(host(pmod(col("doc_id"), lit(20))).as("src"),
            host(pmod(col("doc_id") * 7 + 3, lit(20))).as("dst")),
          struct(host(pmod(col("doc_id"), lit(20))).as("src"),
            host(pmod(col("doc_id") * 13 + 7, lit(20))).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.pipeline.Graphs.pageRankFixedPoint(spread(edges), iters = 2)
        .orderBy("node")
    },

    // Degree-oriented triangle counting + clustering coefficient over
    // a triangle-rich synthetic host graph (60 hosts: a ring of
    // triangles from consecutive residues + a ×7 chord generator for
    // irregular degree). Zero-padded labels sort like the integers.
    "q_triangles" -> { (s, dir) =>
      val d = docs(s, dir)
      def hostc(c: org.apache.spark.sql.Column) =
        concat(lit("h"), lpad(c.cast("string"), 2, "0"))
      val m0 = pmod(col("doc_id"), lit(60))
      val m1 = pmod(col("doc_id") + 1, lit(60))
      val m2 = pmod(col("doc_id") + 2, lit(60))
      val ch = pmod(col("doc_id") * 7 + 3, lit(60))
      // one scan, not a 4-way self-union (= 4 corpus scans); same
      // multiset, and triangleCounts dedups to the identical edge set
      val edges = d.select(explode(array(
          struct(hostc(m0).as("src"), hostc(m1).as("dst")),
          struct(hostc(m0).as("src"), hostc(m2).as("dst")),
          struct(hostc(m1).as("src"), hostc(m2).as("dst")),
          struct(hostc(m0).as("src"), hostc(ch).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.pipeline.Graphs.triangleCounts(spread(edges)).orderBy("node")
    },

    // k-core peeling (k=2, 4 rounds): the triangle ring survives,
    // pendant 3-chains peel one node per round — converged by round 4
    // (the `converged` column pins it, so the fixed-round contract is
    // verified, not trusted).
    "q_kcore" -> { (s, dir) =>
      val d = docs(s, dir)
      def hostc(c: org.apache.spark.sql.Column) =
        concat(lit("h"), lpad(c.cast("string"), 2, "0"))
      val m0 = pmod(col("doc_id"), lit(60))
      val m1 = pmod(col("doc_id") + 1, lit(60))
      val m2 = pmod(col("doc_id") + 2, lit(60))
      def tnode(i: Int) =
        concat(lit("t"), m0.cast("string"), lit("_" + i))
      // one scan, not a 6-way self-union (3 ring projections over all
      // docs + 3 chain projections over the filtered subset = 6
      // corpus scans): per doc, explode the ring edges plus — for
      // chain-seeding docs — the pendant-chain edges. Same multiset;
      // kCore dedups to the identical edge set.
      val ring3 = array(
        struct(hostc(m0).as("src"), hostc(m1).as("dst")),
        struct(hostc(m0).as("src"), hostc(m2).as("dst")),
        struct(hostc(m1).as("src"), hostc(m2).as("dst")))
      val chains3 = array(
        struct(hostc(m0).as("src"), tnode(1).as("dst")),
        struct(tnode(1).as("src"), tnode(2).as("dst")),
        struct(tnode(2).as("src"), tnode(3).as("dst")))
      val edges = d.select(explode(
          when(m0 % 5 === 0, concat(ring3, chains3)).otherwise(ring3)).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.pipeline.Graphs.kCore(spread(edges), k = 2, iters = 4)
        .orderBy("node")
    },

    // Priority sampling: 50 docs proportional-to-token-count without
    // replacement, deterministic md5 draws, integer priorities.
    "q_weighted_sample" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Sampling.prioritySample(d, "n_tokens", "doc_id", k = 50)
        .select("doc_id", "n_tokens", "u48", "priority")
        .orderBy("priority", "doc_id")
    },

    // Corpus prep: composed filter → dedup → per-language stats.
    "q_corpus_prep" -> { (s, dir) =>
      graft.pipeline.Corpus.prepare(spread(docs(s, dir)), Seq("en", "fr"), 0.5)
        .orderBy("lang")
    },

    // Integer-arithmetic TF-IDF: top-3 terms per sampled document.
    "q_tfidf" -> { (s, dir) =>
      graft.pipeline.TfIdf.topTerms(docs(s, dir).filter(col("doc_id") % 7 === 0), 3)
        .orderBy("doc_id", "rank")
    },

    // Token-stream sequence packing (two-phase distributed prefix sum).
    "q_packs" -> { (s, dir) =>
      graft.pipeline.Packing.streamPacks(docs(s, dir), 2048L)
        .orderBy("doc_id")
    },

    // URL feature extraction over deterministically synthesized crawl
    // URLs (ports on every 3rd, query strings on every 2nd — both
    // sides build the identical fixture).
    "q_url_features" -> { (s, dir) =>
      val urls = docs(s, dir).select(col("doc_id"),
        concat(lit("https://www.site-"), pmod(col("doc_id"), lit(7)),
          lit(".example.com"),
          when(col("doc_id") % 3 === 0, lit(":8080")).otherwise(lit("")),
          lit("/docs/page-"), col("doc_id"),
          when(col("doc_id") % 2 === 0, lit("?ref=search&lang=en"))
            .otherwise(lit(""))).as("url"))
      graft.pipeline.Corpus.urlFeatures(urls)
        .select("doc_id", "scheme", "host", "domain_guess", "path_depth",
          "n_params")
        .orderBy("doc_id")
    },

    // CCNet-style unigram-df quality scoring, integer-exact (df_sum /
    // n_tokens is the mean corpus document-frequency of the doc's
    // tokens — fluency/in-domain proxy without floats).
    "q_unigram_df" -> { (s, dir) =>
      graft.pipeline.Corpus.unigramDfScore(docs(s, dir)).orderBy("doc_id")
    },

    // Per-source score calibration: exact two-phase percentile rank
    // (bucket prefix + within-bucket window), bit-identical to the
    // oracle's single global per-source window.
    "q_score_calibrate" -> { (s, dir) =>
      val scored = docs(s, dir).select(col("doc_id"), col("source"),
        graft.pipeline.Corpus.hashBucket10k(
          concat(lit("cal:"), col("text"))).cast("double").as("score"))
      graft.pipeline.Corpus.groupPercentile(spread(scored), "source", "score")
        .select(col("doc_id"), col("source"), col("rank"), col("permyriad"))
        .orderBy("doc_id")
    },

    // LM-proxy filtering, contextual member: bigram familiarity
    // against the corpus itself (self-trained reference), integer
    // permille + exact count sums.
    "q_bigram_lm" -> { (s, dir) =>
      val d = docs(s, dir)
      graft.pipeline.Corpus.bigramFamiliarity(spread(d), d, minCount = 3)
        .orderBy("doc_id")
    },

    // LM-proxy filtering, conditional member: MLE bigram probability
    // P(w2|w1) under the self-trained LM, integer ppm end to end —
    // the perplexity-filter analog next to q_bigram_lm's familiarity.
    "q_lm_score" -> { (s, dir) =>
      val d = docs(s, dir)
      graft.pipeline.Corpus.lmDocScore(spread(d), d).orderBy("doc_id")
    },

    // CCNet-style per-language perplexity bucketing: langId + a
    // lang-keyed self-trained bigram LM + exact per-language tercile
    // rank (head/middle/tail). Doc-count terciles and the
    // no-known-bigram drop are the pinned deviations (scaladoc).
    "q_ccnet_buckets" -> { (s, dir) =>
      val d = docs(s, dir)
      graft.pipeline.Corpus.ccnetBuckets(spread(d), d).orderBy("doc_id")
    },

    // Label-propagation communities on 8 disjoint 9-rings (doc_id
    // mod 72 spans all (g, m) cells): 3 synchronous rounds with the
    // min-label tie-break, community sizes from the final labels.
    "q_label_prop" -> { (s, dir) =>
      val d = docs(s, dir)
      val g = pmod(col("doc_id"), lit(8))
      val m = pmod(col("doc_id"), lit(9))
      def node(gc: org.apache.spark.sql.Column,
          mc: org.apache.spark.sql.Column) =
        concat(lit("c"), gc.cast("string"), lit("_"), mc.cast("string"))
      val ring = d.select(node(g, m).as("src"),
        node(g, pmod(m + 1, lit(9))).as("dst"))
      graft.pipeline.Graphs.labelPropagation(spread(ring), iters = 3)
        .orderBy("node")
    },

    // Cross-source quantile normalization: each doc's score mapped to
    // the pooled distribution at its within-source quantile — fully
    // integer (bucket scores, type-1 index), so hash-exact.
    "q_quantile_norm" -> { (s, dir) =>
      val scored = docs(s, dir).select(col("doc_id"), col("source"),
        graft.pipeline.Corpus.hashBucket10k(
          concat(lit("qn:"), col("text"))).cast("long").as("score"))
      graft.pipeline.Corpus.quantileNormalize(spread(scored), "source", "score")
        .select("doc_id", "source", "score", "rank", "permyriad", "norm_score")
        .orderBy("doc_id")
    },

    // Jelinek-Mercer interpolated LM score (λ=0.3 on the unigram
    // term): the smoothing-between-estimates member of the family.
    "q_lm_interp" -> { (s, dir) =>
      val d = docs(s, dir)
      graft.pipeline.Corpus.lmDocScore(spread(d), d, uniPermille = 300L)
        .orderBy("doc_id")
    },

    // Warm-start PageRank after graph drift: 2 cold iterations on the
    // base host graph produce the maintained ranks; every 11th doc
    // contributes a new edge; 2 warm rounds on the drifted graph.
    "q_pagerank_incr" -> { (s, dir) =>
      val d = docs(s, dir)
      def host(c: org.apache.spark.sql.Column) = concat(lit("h"), c)
      // one scan per graph build instead of 2 (cold) + 3 (drifted)
      // self-union scans: explode the generated edges per doc, with
      // the drift edge appended only for every-11th docs. Same
      // multisets; both pageRank variants dedup internally.
      val old2 = array(
        struct(host(pmod(col("doc_id"), lit(20))).as("src"),
          host(pmod(col("doc_id") * 7 + 3, lit(20))).as("dst")),
        struct(host(pmod(col("doc_id"), lit(20))).as("src"),
          host(pmod(col("doc_id") * 13 + 7, lit(20))).as("dst")))
      val delta1 = array(
        struct(host(pmod(col("doc_id"), lit(20))).as("src"),
          host(pmod(col("doc_id") * 3 + 1, lit(20))).as("dst")))
      val oldEdges = d.select(explode(old2).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val newEdges = d.select(explode(
          when(col("doc_id") % 11 === 0, concat(old2, delta1))
            .otherwise(old2)).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val prev = graft.pipeline.Graphs.pageRankFixedPoint(
        spread(oldEdges), iters = 2)
      graft.pipeline.Graphs.pageRankWarmStart(
          spread(newEdges), prev, iters = 2)
        .orderBy("node")
    },

    // Token-budget corpus selection: the best `budget` tokens by a
    // deterministic quality proxy (content-hash bucket as the score —
    // oracle-replicable; a real pipeline plugs qualityScore in). The
    // two-phase bucket selection must land bit-identical to the
    // oracle's single global running-sum window.
    "q_token_budget" -> { (s, dir) =>
      val scored = docs(s, dir).select(col("doc_id"),
        graft.pipeline.Corpus.hashBucket10k(
          concat(lit("budget:"), col("text"))).cast("double").as("score"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.pipeline.Corpus.tokenBudgetSelect(spread(scored), budget = 8000L)
        .select("doc_id", "score", "n_tokens").orderBy("doc_id")
    },

    // BM25 ranked retrieval: top-10 docs for a fixed probe-term set,
    // integer-ppm arithmetic end to end (k1=1.2, b=0.75).
    "q_bm25" -> { (s, dir) =>
      graft.pipeline.Bm25.topDocs(spread(docs(s, dir)),
          Seq("spark", "window", "customer", "vector", "merge"), k = 10)
        .orderBy("rank")
    },

    // Gopher structural repetition rules over a lined fixture: docs
    // have no newlines, so compose each fixture doc from 4 base docs
    // as two 2-line paragraphs, with a duplicated line for d % 3 == 0
    // and a duplicated paragraph for d % 5 == 0 — both sides build
    // the identical fixture.
    "q_gopher_rules" -> { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val slots = base.select(expr("doc_id div 4").as("d"),
        pmod(col("doc_id"), lit(4)).as("slot"), col("text"))
      val g = slots.groupBy("d").agg(
        max(when(col("slot") === 0, col("text"))).as("t0"),
        max(when(col("slot") === 1, col("text"))).as("t1"),
        max(when(col("slot") === 2, col("text"))).as("t2"),
        max(when(col("slot") === 3, col("text"))).as("t3"),
        count(lit(1)).as("n")).filter(col("n") === 4)
      val l1 = when(pmod(col("d"), lit(3)) === 0, col("t0")).otherwise(col("t1"))
      val p1 = concat_ws("\n", col("t0"), l1)
      val p2 = when(pmod(col("d"), lit(5)) === 0, p1)
        .otherwise(concat_ws("\n", col("t2"), col("t3")))
      val fixture = g.select(col("d").as("doc_id"),
        concat(p1, lit("\n\n"), p2).as("text"))
      graft.pipeline.Corpus.gopherRepetition(spread(fixture))
        .orderBy("doc_id")
    },

    // Snapshot diff between two corpus releases: v2 drops doc_id%11,
    // rewrites doc_id%7, and adds +1000000-keyed docs for doc_id%13 —
    // the audit join classifies every id.
    "q_snapshot_diff" -> { (s, dir) =>
      val v1 = docs(s, dir).select(col("doc_id"), col("text"))
      val v2 = v1.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.pipeline.Corpus.snapshotDiff(v1, v2)
        .filter(col("status") =!= "unchanged")
        .orderBy("doc_id")
    },

    // Temperature mix plan: sqrt-weighted per-source targets with an
    // adversarially skewed source column (one source holds half).
    "q_temperature_mix" -> { (s, dir) =>
      val skewed = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("big_crawl"))
          .otherwise(concat(lit("src"), pmod(col("doc_id"), lit(7)))).as("src"))
      graft.pipeline.Corpus.temperatureMixPlan(skewed, "src",
        totalTarget = 200L).orderBy("src")
    },

    // Token-level churn for the changed docs of the same release
    // pair: v2 rewrites doc_id%7 (appends " v2" = +1 token, and the
    // edited token multiset difference is exactly what churn reports).
    "q_snapshot_churn" -> { (s, dir) =>
      val v1 = docs(s, dir).select(col("doc_id"), col("text"))
      val v2 = v1.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      graft.pipeline.Corpus.snapshotChurn(v1, v2).orderBy("doc_id")
    },

    // Vocabulary coverage: top-20 tokens with cumulative share of all
    // occurrences — tokenizer-prep vocab sizing, two-phase top-N.
    "q_vocab" -> { (s, dir) =>
      graft.pipeline.Corpus.vocabCoverage(spread(docs(s, dir)), topN = 20)
        .orderBy("rank")
    },

    // Collocations: adjacent token pairs whose integer-exact PMI lift
    // clears 1.5x independence with support >= 2.
    "q_collocations" -> { (s, dir) =>
      graft.pipeline.Corpus.collocations(spread(docs(s, dir)),
        minPairCount = 2L, minLiftPpm = 1500000L)
        .orderBy(desc("lift_ppm"), col("tok_a"), col("tok_b"))
    },

    // Per-source Zipf/vocabulary-concentration audit: type-token,
    // hapax share, top-10 token mass — all integer ppm.
    "q_vocab_profile" -> { (s, dir) =>
      graft.pipeline.Corpus.vocabProfile(spread(docs(s, dir)), topK = 10)
        .orderBy("source")
    },

    // DSIR importance scores: hashed-bigram likelihood ratios of the
    // src0 target model vs the full raw corpus, fixed-point.
    "q_dsir" -> { (s, dir) =>
      val d = spread(docs(s, dir))
      graft.pipeline.Corpus.dsirScore(d,
          d.filter(col("source") === "src0"), buckets = 10000)
        .orderBy("doc_id")
    },

    // DSIR importance-weighted resample: 200 docs over 8 score tiers,
    // budget apportioned largest-remainder by tier weight, coordinated
    // minwise draw within tier.
    "q_dsir_sample" -> { (s, dir) =>
      val d = spread(docs(s, dir))
      graft.pipeline.Corpus.dsirResample(d,
          d.filter(col("source") === "src0"), totalN = 200L, tiers = 8,
          buckets = 10000)
        .orderBy("tier", "draw_rank")
    },

    // TextRank keywords: integer PageRank (2 rounds) over the
    // adjacent-token co-occurrence graph, top-25 by rank.
    "q_textrank" -> { (s, dir) =>
      graft.pipeline.Corpus.textRankKeywords(spread(docs(s, dir)),
          iters = 2, k = 25)
        .orderBy("kw_rank")
    },

    // Curriculum ordering: quality-score quartiles, 4 shards per bin,
    // deterministic within-bin permutation (seed 7).
    "q_curriculum" -> { (s, dir) =>
      graft.pipeline.Corpus.curriculum(docs(s, dir),
        TextFns.qualityScore(col("text")), bins = 4, shards = 4, seed = 7L)
        .orderBy("bin", "shard", "pos")
    },

    // Deterministic corpus shuffle: 8 shards, seed 42 — replayable
    // global permutation via two-phase shard + local order.
    "q_shuffle" -> { (s, dir) =>
      graft.pipeline.Corpus.deterministicShuffle(docs(s, dir),
        shards = 8, seed = 42L).orderBy("shard", "pos")
    },

    // Hierarchical host-suffix rollup: per-level domain counts from a
    // deterministic host fixture (bare apex rows every 7th doc).
    "q_host_rollup" -> { (s, dir) =>
      val apex = concat(lit("site"), pmod(expr("doc_id div 4"), lit(10)), lit(".com"))
      val deep = concat(lit("sub"), pmod(col("doc_id"), lit(3)), lit("."), apex)
      val hosts = docs(s, dir).select(
        when(col("doc_id") % 7 === 0, apex).otherwise(deep).as("host"))
      graft.pipeline.Corpus.hostSuffixRollup(hosts).orderBy("level", "suffix")
    },

    // Canonical-URL crawl dedup: case/port/slash/tracking-param/
    // param-order variants of one page collapse to one exact key.
    // Longest-prefix URL rule filter: per-site allow + deeper deny
    // carve-out (every 7th site unruled → default); the /page/other
    // docs hit the deny, http /page docs the allow, https ones fall
    // through (scheme mismatch) — three regimes in one fixture.
    "q_url_rules" -> { (s, dir) =>
      val k = expr("doc_id div 4")
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://Site"), k, lit(".COM:80/page/?utm_source=x&b=2&a=1")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://site"), k, lit(".com/page?a=1&b=2")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://site"), k, lit(".com:443/page?a=1&b=2")))
        .otherwise(
          concat(lit("http://site"), k, lit(".com/page/other/?b=2&a=1&fbclid=zz")))
      val canon = docs(s, dir).select(col("doc_id"),
        TextFns.canonicalUrl(url).as("url"))
      val sites = docs(s, dir).select(expr("doc_id div 4").as("k"))
        .distinct().filter(col("k") % 7 =!= 0)
      val rules = sites.select(
          concat(lit("http://site"), col("k").cast("string"),
            lit(".com/page/other")).as("prefix"), lit("deny").as("action"))
        .unionByName(sites.select(
          concat(lit("http://site"), col("k").cast("string"),
            lit(".com")).as("prefix"), lit("allow").as("action")))
      graft.pipeline.Corpus.urlRuleFilter(canon, rules, "url")
        .select("doc_id", "url", "action", "rule_prefix").orderBy("doc_id")
    },

    "q_url_canon" -> { (s, dir) =>
      val k = expr("doc_id div 4")
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://Site"), k, lit(".COM:80/page/?utm_source=x&b=2&a=1")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://site"), k, lit(".com/page?a=1&b=2")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://site"), k, lit(".com:443/page?a=1&b=2")))
        .otherwise(
          concat(lit("http://site"), k, lit(".com/page/other/?b=2&a=1&fbclid=zz")))
      val canon = docs(s, dir).select(col("doc_id"),
        TextFns.canonicalUrl(url).as("canon"))
      val keep = canon.groupBy("canon").agg(min("doc_id").as("keep_id"))
      canon.join(keep, Seq("canon"))
        .select("doc_id", "canon", "keep_id").orderBy("doc_id")
    },

    // Positional phrase search: exact "table table" adjacency through
    // the posting-join plan (repeated term + overlapping matches).
    "q_phrase_search" -> { (s, dir) =>
      graft.pipeline.PhraseSearch.search(spread(docs(s, dir)),
        Seq("table", "table")).orderBy("doc_id")
    },

    // BPE tokenizer training: the first 4 learned merges with their
    // weighted pair counts — the oracle replays training exactly.
    "q_bpe_merges" -> { (s, dir) =>
      graft.pipeline.Bpe.learnMerges(spread(docs(s, dir)), numMerges = 4)
        .orderBy("rank")
    },

    // BPE encode: per-doc word and BPE-unit counts under the learned
    // 4-merge table (learned on the same corpus, as in training prep).
    "q_bpe_encode" -> { (s, dir) =>
      val d = docs(s, dir)
      val m = graft.pipeline.Bpe.learnMerges(d, numMerges = 4).orderBy("rank")
        .select("p1", "p2").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      graft.pipeline.Bpe.encode(spread(d), m).orderBy("doc_id")
    },

    // WordPiece tokenizer training (the third family): 4 merges by
    // the likelihood-ratio argmax — pair_cnt/(cnt(a)·cnt(b)) in 2^40
    // fixed point, DECIMAL(38,0) products — the oracle replays it.
    "q_wordpiece_merges" -> { (s, dir) =>
      graft.pipeline.Wordpiece.learnMerges(spread(docs(s, dir)), numMerges = 4)
        .orderBy("rank")
    },

    // WordPiece encode: greedy longest-match-first against the
    // learned piece vocabulary (position classes + alphabet
    // guarantee), whole-word UNK for >16-char words and unseen chars.
    "q_wordpiece_encode" -> { (s, dir) =>
      val d = docs(s, dir)
      val m = graft.pipeline.Wordpiece.learnMerges(d, numMerges = 4)
        .orderBy("rank").select("p1", "p2").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val pieces = graft.pipeline.Wordpiece.pieceVocab(d, m)
      graft.pipeline.Wordpiece.encode(spread(d), pieces).orderBy("doc_id")
    },

    // Unigram-LM tokenizer training (SentencePiece family, hard-EM,
    // integer-exact): 2 EM rounds, 300-piece vocab target.
    "q_unigram_train" -> { (s, dir) =>
      graft.pipeline.UnigramLm.train(spread(docs(s, dir)), vocabSize = 300,
        rounds = 2).orderBy("rank")
    },

    // Encode with the trained unigram vocab: per-doc word/piece
    // counts (the Bpe.encode fertility shape, directly comparable).
    "q_unigram_encode" -> { (s, dir) =>
      val d = docs(s, dir)
      val vocab = graft.pipeline.UnigramLm.train(spread(d), vocabSize = 300,
        rounds = 2)
      graft.pipeline.UnigramLm.encode(spread(d), vocab).orderBy("doc_id")
    },

    // Subword-regularization sampling (Kudo 2018's point): per
    // distinct word, a deterministic md5 draw over its 3-best
    // Viterbi segmentations under the trained vocab.
    "q_unigram_sample" -> { (s, dir) =>
      val d = docs(s, dir)
      val vocab = graft.pipeline.UnigramLm.train(spread(d), vocabSize = 300,
        rounds = 2)
      graft.pipeline.UnigramLm.sample(spread(d), vocab, nBest = 3)
        .orderBy("word")
    },

    // Incremental vocab maintenance: train on the even-doc_id half,
    // then re-weight + re-prune (300 -> 250) against the odd half
    // without retraining — the tokenizer member of the engine's
    // incremental family (pagerank_incr / ann_ivf_incr / dedup_incr).
    "q_unigram_incr" -> { (s, dir) =>
      val d = docs(s, dir)
      val vocab = graft.pipeline.UnigramLm.train(
        spread(d.filter(col("doc_id") % 2 === 0)), vocabSize = 300,
        rounds = 2)
      graft.pipeline.UnigramLm.refresh(
          spread(d.filter(col("doc_id") % 2 =!= 0)), vocab, vocabSize = 250)
        .orderBy("rank")
    },

    // Exact heavy hitters (tokens ≥ 2% of the stream) via the
    // Misra-Gries candidate pass + exact confirm — never a
    // long-tail shuffle; result bit-equal to the naive group-by.
    "q_heavy_hitters" -> { (s, dir) =>
      val toks = docs(s, dir).select(
        explode(graft.plans.WordShingles.shingles(col("text"), 1)).as("token"))
      graft.pipeline.HeavyHitters.exact(spread(toks), "token",
        thresholdPpm = 20000L).orderBy("token")
    },

    // Vocabulary shift (domain drift) between two sources: top-15
    // tokens by absolute per-slice occurrence-share difference.
    "q_vocab_shift" -> { (s, dir) =>
      val d = spread(docs(s, dir))
      graft.pipeline.Corpus.vocabShift(
          d.filter(col("source") === "src0"),
          d.filter(col("source") === "src1"), topN = 15)
        .orderBy("rank")
    },

    // Gopher duplicated n-gram char fractions at the filter suite's
    // boundary ns (5 and 10); docs with < n tokens report 0.
    "q_gopher_ngrams" -> { (s, dir) =>
      graft.pipeline.Corpus.dupNgramCharPpm(spread(docs(s, dir)), Seq(5, 10))
        .orderBy("doc_id")
    },

    // Pairwise source-overlap matrix: exact 3-gram shingle Jaccard +
    // directional containments for every source pair sharing a
    // shingle. Candidates come from per-shingle source lists (fan-out
    // bounded by source cardinality), never a doc-pair join.
    "q_source_overlap" -> { (s, dir) =>
      graft.pipeline.Corpus.sourceOverlap(spread(docs(s, dir)), shingleN = 3)
        .orderBy("src_a", "src_b")
    },

    // Distribution-shift gate: two-sample KS distance between the
    // corpus length profile and a perturbed release (drop doc_id%17,
    // +40 chars on doc_id%3) — ppm-quantized ECDF max gap via the
    // two-phase distributed prefix scan.
    "q_ks_shift" -> { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("n_chars"))
      val v2 = base.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          (col("n_chars") + when(col("doc_id") % 3 === 0, 40L).otherwise(0L))
            .as("n_chars"))
      graft.pipeline.Corpus.ksShift(spread(base), spread(v2), "n_chars")
    },

    // Per-language BPE fertility under the learned 4-merge table:
    // units per word in ppm, the cross-lingual tokenizer-bias report.
    "q_fertility" -> { (s, dir) =>
      val d = docs(s, dir)
      val m = graft.pipeline.Bpe.learnMerges(d, numMerges = 4).orderBy("rank")
        .select("p1", "p2").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      graft.pipeline.Bpe.fertilityByGroup(
          graft.pipeline.Bpe.encode(spread(d), m),
          d.select(col("doc_id"), col("lang")))
        .orderBy("lang")
    },

    // Source × language token-share matrix: the mixture report read
    // before setting per-source sampling weights.
    "q_src_lang_mix" -> { (s, dir) =>
      graft.pipeline.Corpus.sourceLangMix(spread(docs(s, dir)))
        .orderBy("source", "lang")
    },

    // MinHash-estimated source overlap (k=16 md5 permutations): the
    // sketch path beside q_source_overlap's exact matrix — signatures
    // aggregate as distributed per-permutation minima, pairs come
    // from an equi-join on (perm, sig), never an S² frame.
    "q_minhash_overlap" -> { (s, dir) =>
      graft.pipeline.Corpus.sourceOverlapMinhash(spread(docs(s, dir)),
          shingleN = 3, k = 16)
        .orderBy("src_a", "src_b")
    },

    // Per-language winsorization of doc length at the 5th/95th ppm
    // order statistics — outlier taming from per-(group,value)
    // counts, never a per-group row sort.
    "q_winsorize" -> { (s, dir) =>
      graft.pipeline.Corpus.winsorize(
          spread(docs(s, dir).select(col("doc_id"), col("lang"),
            col("n_chars"))),
          "n_chars", "lang")
        .select("doc_id", "lang", "n_chars", "v_lo", "v_hi", "v_winsorized")
        .orderBy("doc_id")
    },

    // Provenance-aware duplicate attribution over a corpus with two
    // injected mirrors ('mirror' copies doc_id%5, 'scraper' copies
    // doc_id%9): each non-keeper dup charges (its source → keeper's
    // source), so the matrix names who copied whom.
    "q_dup_attribution" -> { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val mirror = base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 50000L).as("doc_id"),
          lit("mirror").as("source"), col("text"))
      val scraper = base.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 90000L).as("doc_id"),
          lit("scraper").as("source"), col("text"))
      graft.pipeline.Corpus.dupAttribution(
          spread(base.unionByName(mirror).unionByName(scraper)))
        .orderBy("dup_source", "keeper_source")
    },

    // Trained quality classifier (fastText/CCNet-style stage):
    // multinomial NB over token counts, source as the class label,
    // 75% train split — the full Laplace weight matrix in fixed-point
    // integer log2 (no float logs anywhere).
    "q_classifier_train" -> { (s, dir) =>
      val tr = docs(s, dir).filter(col("doc_id") % 4 =!= 3)
        .select(col("doc_id"), col("text"), col("source").as("label"))
      graft.pipeline.Classifier.nbTrain(tr).orderBy("label", "token")
    },

    // Incremental NB maintenance: train on even doc_ids, fold in the
    // odd half via nbUpdate — sufficient statistics are counts, so
    // the result is bit-identical to training on everything, which is
    // exactly what the oracle computes.
    "q_classifier_incr" -> { (s, dir) =>
      val d = docs(s, dir)
      def half(m: Long) = d.filter(col("doc_id") % 2 === m)
        .select(col("doc_id"), col("text"), col("source").as("label"))
      val m0 = graft.pipeline.Classifier.nbTrain(half(0))
      val cc = half(0).groupBy("label")
        .agg(count(lit(1)).cast("long").as("n_docs"))
      graft.pipeline.Classifier.nbUpdate(m0, cc, spread(half(1)))
        .orderBy("label", "token")
    },

    // NB scoring of the held-out 25%: per-doc argmax class under the
    // deterministic (score desc, label asc) order, with runner-up
    // margin; the weight matrix rides a broadcast, the corpus side
    // only shuffles for the per-(doc, label) rollup.
    "q_classifier_score" -> { (s, dir) =>
      val d = docs(s, dir)
      val tr = d.filter(col("doc_id") % 4 =!= 3)
        .select(col("doc_id"), col("text"), col("source").as("label"))
      val te = d.filter(col("doc_id") % 4 === 3).select("doc_id", "text")
      graft.pipeline.Classifier.nbScore(spread(te),
        graft.pipeline.Classifier.nbTrain(tr)).orderBy("doc_id")
    },

    // NB evaluation: confusion matrix + marginals of the source
    // classifier on the held-out 25% — precision/recall are exact
    // rationals off each row, no float metrics.
    "q_classifier_eval" -> { (s, dir) =>
      val d = docs(s, dir)
      val tr = d.filter(col("doc_id") % 4 =!= 3)
        .select(col("doc_id"), col("text"), col("source").as("label"))
      val te = d.filter(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("text"), col("source").as("label"))
      graft.pipeline.Classifier.nbEval(spread(te),
          graft.pipeline.Classifier.nbTrain(tr))
        .orderBy("label", "label_pred")
    },

    // Hashed-feature NB (fastText/CCNet feature fidelity): word +
    // char-3-gram features md5-bucketed into 512 buckets — the model
    // stays BUCKET-bounded however large the corpus vocabulary grows,
    // which is the open-vocabulary 100 TB story. Same train split /
    // held-out scoring as q_classifier_score; collisions pool counts
    // exactly as in fastText, and the oracle replays the identical
    // featurization + bucketing.
    "q_classifier_hashed" -> { (s, dir) =>
      val d = docs(s, dir)
      val tr = d.filter(col("doc_id") % 4 =!= 3)
        .select(col("doc_id"), col("text"), col("source").as("label"))
      val te = d.filter(col("doc_id") % 4 === 3).select("doc_id", "text")
      graft.pipeline.Classifier.nbScoreHashed(spread(te),
          graft.pipeline.Classifier.nbTrainHashed(tr, buckets = 512),
          buckets = 512)
        .orderBy("doc_id")
    },

    // C4 line-level structural cleaning over a lined fixture (docs
    // have no newlines or punctuation, so compose each fixture doc
    // from 4 base docs as 4-5 lines exercising every rule: l0 carries
    // two sentences in one line — sentence floor ≠ kept-line count —
    // l1 never ends in terminal punct, l2 is a 2-word line for
    // d % 7 == 0, l3 mentions javascript for d % 11 == 0, and a 5th
    // line injects the lorem-ipsum / curly-brace doc killers for
    // d % 13 / d % 17). Both sides build the identical fixture.
    "q_c4_clean" -> { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val slots = base.select(expr("doc_id div 4").as("d"),
        pmod(col("doc_id"), lit(4)).as("slot"), col("text"))
      val g = slots.groupBy("d").agg(
        max(when(col("slot") === 0, col("text"))).as("t0"),
        max(when(col("slot") === 1, col("text"))).as("t1"),
        max(when(col("slot") === 2, col("text"))).as("t2"),
        max(when(col("slot") === 3, col("text"))).as("t3"),
        count(lit(1)).as("n")).filter(col("n") === 4)
      val l0 = concat(lit("A tiny preamble. "), col("t0"), lit("."))
      val l1 = col("t1")
      val l2 = when(pmod(col("d"), lit(7)) === 0, lit("Too short."))
        .otherwise(concat(col("t2"), lit("!")))
      val l3 = when(pmod(col("d"), lit(11)) === 0,
          concat(col("t3"), lit(" please enable javascript now.")))
        .otherwise(concat(col("t3"), lit("?")))
      val l4 = when(pmod(col("d"), lit(13)) === 0,
          lit("Curabitur lorem ipsum dolor sit amet."))
        .when(pmod(col("d"), lit(17)) === 0,
          lit("Include config { x: 1 } block."))
      val fixture = g.select(col("d").as("doc_id"),
        concat_ws("\n", l0, l1, l2, l3, l4).as("text"))
      graft.pipeline.Corpus.c4LineClean(spread(fixture),
          minWordsPerLine = 3, minSentences = 4)
        .orderBy("doc_id")
    }
  )

  /** BPE oracle construction: replays `k` training iterations with
    * the same separator-string representation as [[graft.pipeline.Bpe]]
    * (chr(31) = U+001F) — pair counts, deterministic argmax, greedy
    * replace — unrolled as CTEs. */
  private val bpeS = "chr(31)"
  private def bpeCtes(k: Int): String = {
    val prefix =
      s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM documents),
         |wd AS (SELECT unnest(w) AS word FROM w),
         |v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM wd WHERE NOT contains(word, $bpeS) GROUP BY 1),
         |st0 AS (SELECT word, cnt, $bpeS || array_to_string(string_split(word, ''), $bpeS||$bpeS) || $bpeS AS seq FROM v)""".stripMargin
    val iters = (0 until k).map { i =>
      s"""pc$i AS (SELECT u.p1 AS p1, u.p2 AS p2, SUM(cnt) AS pair_cnt FROM (
         |SELECT cnt, unnest(list_transform(range(1, len(us)), i -> {'p1': us[i], 'p2': us[i+1]})) AS u FROM (
         |SELECT cnt, string_split(seq[2:len(seq)-1], $bpeS||$bpeS) AS us FROM st$i)) GROUP BY 1, 2),
         |m${i + 1} AS (SELECT p1, p2, pair_cnt FROM pc$i ORDER BY pair_cnt DESC, p1, p2 LIMIT 1),
         |st${i + 1} AS (SELECT word, cnt, replace(seq, $bpeS||p1||$bpeS||$bpeS||p2||$bpeS, $bpeS||p1||p2||$bpeS) AS seq FROM st$i CROSS JOIN m${i + 1})""".stripMargin
    }
    (prefix +: iters).mkString(",\n")
  }
  /** WordPiece training replay: [[bpeCtes]]'s state representation
    * with the likelihood-ratio argmax — per round unit counts (uc),
    * pair counts (pc), HUGEINT fixed-point scores (sc; `//` preserves
    * HUGEINT, matching Spark's DECIMAL(38,0) div), single-row argmax
    * ordered (score_fp DESC, p1, p2). */
  private def wordpieceCtes(k: Int): String = {
    val prefix =
      s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM documents),
         |wd AS (SELECT unnest(w) AS word FROM w),
         |v AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM wd WHERE NOT contains(word, $bpeS) GROUP BY 1),
         |st0 AS MATERIALIZED (SELECT word, cnt, $bpeS || array_to_string(string_split(word, ''), $bpeS||$bpeS) || $bpeS AS seq FROM v)""".stripMargin
    val iters = (0 until k).map { i =>
      s"""uc$i AS (SELECT u, CAST(SUM(cnt) AS BIGINT) AS ucnt FROM (
         |SELECT cnt, unnest(string_split(seq[2:len(seq)-1], $bpeS||$bpeS)) AS u FROM st$i) GROUP BY 1),
         |pc$i AS (SELECT u.p1 AS p1, u.p2 AS p2, SUM(cnt) AS pair_cnt FROM (
         |SELECT cnt, unnest(list_transform(range(1, len(us)), i -> {'p1': us[i], 'p2': us[i+1]})) AS u FROM (
         |SELECT cnt, string_split(seq[2:len(seq)-1], $bpeS||$bpeS) AS us FROM st$i)) GROUP BY 1, 2),
         |sc$i AS (SELECT p.p1, p.p2, p.pair_cnt,
         |(CAST(p.pair_cnt AS HUGEINT) * 1099511627776) // (CAST(a.ucnt AS HUGEINT) * CAST(b.ucnt AS HUGEINT)) AS score_fp
         |FROM pc$i p JOIN uc$i a ON a.u = p.p1 JOIN uc$i b ON b.u = p.p2),
         |m${i + 1} AS (SELECT p1, p2, pair_cnt, score_fp FROM sc$i ORDER BY score_fp DESC, p1, p2 LIMIT 1),
         |st${i + 1} AS MATERIALIZED (SELECT word, cnt, replace(seq, $bpeS||p1||$bpeS||$bpeS||p2||$bpeS, $bpeS||p1||p2||$bpeS) AS seq FROM st$i CROSS JOIN m${i + 1})""".stripMargin
    }
    (prefix +: iters).mkString(",\n")
  }
  private def wordpieceMergesOracle(k: Int): String =
    wordpieceCtes(k) + "\n" +
      (1 to k).map(i => s"SELECT CAST($i AS INTEGER) AS rank, p1, p2, " +
          s"CAST(pair_cnt AS BIGINT) AS pair_cnt, CAST(score_fp AS BIGINT) AS score_fp FROM m$i")
        .mkString(" UNION ALL ") + " ORDER BY rank"

  /** Greedy longest-match WordPiece encode replay: the piece vocab
    * (final-state units with position classes + the per-char alphabet
    * in both classes) and `w` unrolled cursor steps, each picking
    * MAX(piece length) among matches at the cursor — b{i} is the
    * argmax, s{i} the advanced state; dead cursors (no match) freeze
    * as whole-word UNK exactly like the Spark loop. */
  private def wordpieceEncodeOracle(k: Int, w: Int = 16, pl: Int = 8): String = {
    val steps = (1 to w).map { i =>
      s"""b$i AS (SELECT s.word, MAX(p.plen) AS best FROM s${i - 1} s
         |JOIN pv p ON NOT s.unk AND s.pos < s.wl
         |AND p.plen <= least($pl, s.wl - s.pos)
         |AND p.piece = substr(s.word, s.pos + 1, p.plen)
         |AND p.is_initial = (s.pos = 0)
         |GROUP BY 1),
         |s$i AS MATERIALIZED (SELECT s.word, s.wl,
         |CASE WHEN s.unk OR s.pos >= s.wl THEN s.pos ELSE s.pos + COALESCE(b.best, 0) END AS pos,
         |CASE WHEN s.unk OR s.pos >= s.wl THEN s.n ELSE s.n + 1 END AS n,
         |CASE WHEN s.unk THEN true WHEN s.pos < s.wl AND b.best IS NULL THEN true ELSE false END AS unk
         |FROM s${i - 1} s LEFT JOIN b$i b USING (word))""".stripMargin
    }.mkString(",\n")
    wordpieceCtes(k) +
      s""",
         |pv0 AS (SELECT us[i] AS piece, (i = 1) AS is_initial FROM (
         |SELECT string_split(seq[2:len(seq)-1], $bpeS||$bpeS) AS us FROM st$k),
         |LATERAL (SELECT unnest(range(1, len(us) + 1)) AS i) ix),
         |pva AS (SELECT piece, is_initial FROM pv0
         |UNION ALL SELECT unnest(string_split(word, '')) AS piece, b AS is_initial
         |FROM v CROSS JOIN (SELECT unnest([true, false]) AS b) bb),
         |pv AS MATERIALIZED (SELECT DISTINCT piece, is_initial, len(piece) AS plen FROM pva),
         |s0 AS MATERIALIZED (SELECT word, length(word) AS wl, 0 AS pos, 0 AS n, length(word) > $w AS unk FROM v),
         |$steps,
         |wu AS (SELECT word, CASE WHEN unk THEN 1 ELSE n END AS units,
         |CASE WHEN unk THEN 1 ELSE 0 END AS unkw FROM s$w),
         |occ AS (SELECT doc_id, unnest(w) AS word FROM w),
         |u AS (SELECT doc_id, units, unkw FROM occ JOIN wu USING (word)),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |CAST(SUM(units) AS BIGINT) AS n_pieces,
         |CAST(SUM(unkw) AS BIGINT) AS n_unk_words FROM u GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
         |coalesce(n_pieces, 0) AS n_pieces,
         |coalesce(n_unk_words, 0) AS n_unk_words
         |FROM documents d LEFT JOIN g USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  private def bpeMergesOracle(k: Int): String =
    bpeCtes(k) + "\n" +
      (1 to k).map(i => s"SELECT CAST($i AS INTEGER) AS rank, p1, p2, CAST(pair_cnt AS BIGINT) AS pair_cnt FROM m$i")
        .mkString(" UNION ALL ") + " ORDER BY rank"
  private def bpeEncodeOracle(k: Int): String =
    bpeCtes(k) +
      s""",
         |occ AS (SELECT doc_id, unnest(w) AS word FROM w),
         |wu AS (SELECT word, len(seq) - len(replace(seq, $bpeS||$bpeS, $bpeS)) + 1 AS units FROM st$k),
         |u AS (SELECT doc_id, units FROM occ JOIN wu USING (word)),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, CAST(SUM(units) AS BIGINT) AS n_bpe_units FROM u GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_words, 0) AS n_words, coalesce(n_bpe_units, 0) AS n_bpe_units
         |FROM documents d LEFT JOIN g USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Per-language fertility: the same encode replay as
    * [[bpeEncodeOracle]], rolled up by documents.lang. */
  private def bpeFertilityOracle(k: Int): String =
    bpeCtes(k) +
      s""",
         |occ AS (SELECT doc_id, unnest(w) AS word FROM w),
         |wu AS (SELECT word, len(seq) - len(replace(seq, $bpeS||$bpeS, $bpeS)) + 1 AS units FROM st$k),
         |u AS (SELECT doc_id, units FROM occ JOIN wu USING (word)),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nw, CAST(SUM(units) AS BIGINT) AS nu FROM u GROUP BY 1)
         |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |CAST(COALESCE(SUM(g.nw), 0) AS BIGINT) AS n_words,
         |CAST(COALESCE(SUM(g.nu), 0) AS BIGINT) AS n_bpe_units,
         |CAST((1000000 * COALESCE(SUM(g.nu), 0)) // greatest(COALESCE(SUM(g.nw), 0), 1) AS BIGINT) AS fertility_ppm
         |FROM documents d LEFT JOIN g USING (doc_id) GROUP BY 1 ORDER BY 1""".stripMargin

  /** Unrolled deterministic Viterbi DP (the [[graft.pipeline.UnigramLm]]
    * segmentation): state CTEs `dp{t}0..dp{t}{w}` over prefix lengths,
    * candidate step `c{t}{j}` joining the previous `p` states with the
    * piece table on the connecting substring, best state by
    * ROW_NUMBER (np ASC, ws DESC, k DESC) — the same total order the
    * Scala struct-min applies. `wordsCte` exposes (word, cnt);
    * `piecesCte` exposes (piece, w). Emits ",c...,dp...,fin{t}". */
  private def unigramDpSql(t: String, wordsCte: String, piecesCte: String,
      w: Int, p: Int, nbest: Int = 1): String = {
    // nbest > 1 keeps the top n states per prefix under the same
    // order EXTENDED BY seg — with more than one survivor per
    // predecessor, candidates can tie on (np, ws, k) and seg (the
    // full segmentation, distinct by construction) restores totality.
    // Mirrors UnigramLm.viterbi's nBest branch exactly.
    val segOrd = if (nbest > 1) ", seg" else ""
    val sb = new StringBuilder
    sb ++= s",\ndp${t}0 AS MATERIALIZED (SELECT word, cnt, 0 AS j, " +
      "CAST(0 AS BIGINT) AS np, CAST(0 AS BIGINT) AS ws, '' AS seg " +
      s"FROM $wordsCte WHERE length(word) BETWEEN 1 AND $w)"
    for (j <- 1 to w) {
      val from = (math.max(0, j - p) until j)
        .map(i => s"SELECT * FROM dp$t$i").mkString(" UNION ALL ")
      sb ++= s""",
c$t$j AS (SELECT d.word, d.cnt, d.np + 1 AS np,
 d.ws + COALESCE(pc.w, 0) AS ws,
 d.seg || chr(31) || substr(d.word, d.j + 1, $j - d.j) AS seg,
 $j - d.j AS k
 FROM ($from) d LEFT JOIN $piecesCte pc
 ON pc.piece = substr(d.word, d.j + 1, $j - d.j)
 WHERE length(d.word) >= $j AND ($j - d.j = 1 OR pc.w IS NOT NULL)),
dp$t$j AS MATERIALIZED (SELECT word, cnt, $j AS j, np, ws, seg FROM
 (SELECT *, ROW_NUMBER() OVER (PARTITION BY word
  ORDER BY np ASC, ws DESC, k DESC$segOrd) AS rn FROM c$t$j) WHERE rn <= $nbest)"""
    }
    val all = (0 to w).map(i => s"SELECT * FROM dp$t$i").mkString(" UNION ALL ")
    sb ++= s",\nfin$t AS MATERIALIZED (SELECT word, cnt, np, ws, " +
      s"substr(seg, 2) AS seg FROM ($all) WHERE j = length(word) AND j > 0)"
    sb.toString
  }

  /** The full 2-round unigram-LM training chain: seed inventory →
    * (DP → usage → prune) × 2 → final vocab cut. Mirrors
    * UnigramLm.train(vocabSize, rounds = 2, maxPieceLen = 4,
    * maxWordLen = 12, minFreq = 2, shrinkPermille = 800). */
  private def unigramTrainCtes(vocabSize: Int,
      where: String = "TRUE"): String = {
    val W = 12; val P = 4
    def pruneCte(name: String, usage: String, m: String): String =
      s"""$name AS MATERIALIZED (
SELECT c.piece, COALESCE(u.w, 0) AS w FROM uchars c LEFT JOIN $usage u USING (piece)
UNION ALL
SELECT piece, w FROM (SELECT piece, w, ROW_NUMBER() OVER (ORDER BY w DESC, piece) AS rk
 FROM $usage WHERE length(piece) > 1)
WHERE rk <= GREATEST(GREATEST(0, $vocabSize - (SELECT n FROM nch)),
 ((SELECT m FROM $m) * 800) // 1000))"""
    s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM documents WHERE $where),
wd AS (SELECT unnest(w) AS word FROM w),
uwords AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM wd
 WHERE NOT contains(word, chr(31)) AND length(word) <= $W GROUP BY 1),
useeds AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS w FROM
 (SELECT cnt, unnest(flatten(list_transform(range(1, length(word) + 1), s ->
  list_transform(range(1, least($P, length(word) - s + 1) + 1), k ->
  substr(word, s, k))))) AS piece FROM uwords)
 GROUP BY 1 HAVING length(piece) = 1 OR SUM(cnt) >= 2),
uchars AS MATERIALIZED (SELECT piece FROM useeds WHERE length(piece) = 1),
nch AS (SELECT COUNT(*) AS n FROM uchars),
p1 AS MATERIALIZED (SELECT piece, w FROM useeds)""" +
      unigramDpSql("r1", "uwords", "p1", W, P) +
      s""",
usage1 AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS w FROM
 (SELECT cnt, unnest(string_split(seg, chr(31))) AS piece FROM finr1) GROUP BY 1),
m1 AS (SELECT COUNT(*) AS m FROM usage1 WHERE length(piece) > 1),
""" + pruneCte("p2", "usage1", "m1") +
      unigramDpSql("r2", "uwords", "p2", W, P) +
      s""",
usage2 AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS w FROM
 (SELECT cnt, unnest(string_split(seg, chr(31))) AS piece FROM finr2) GROUP BY 1),
m2 AS (SELECT COUNT(*) AS m FROM usage2 WHERE length(piece) > 1),
""" + pruneCte("p3", "usage2", "m2") +
      s""",
uvocab AS MATERIALIZED (
SELECT piece, w FROM p3 WHERE length(piece) = 1
UNION ALL
SELECT piece, w FROM (SELECT piece, w, ROW_NUMBER() OVER (ORDER BY w DESC, piece) AS rk
 FROM p3 WHERE length(piece) > 1)
WHERE rk <= GREATEST(0, $vocabSize - (SELECT n FROM nch)))"""
  }

  private def unigramTrainOracle(vocabSize: Int): String =
    unigramTrainCtes(vocabSize) +
      """
SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, w AS usage,
CAST(ROW_NUMBER() OVER (ORDER BY w DESC, piece) AS BIGINT) AS rank
FROM uvocab ORDER BY rank"""

  private def unigramEncodeOracle(vocabSize: Int): String =
    unigramTrainCtes(vocabSize) +
      s""",
docw AS MATERIALIZED (SELECT doc_id, unnest(w) AS word FROM w),
dwords AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
 FROM docw GROUP BY 1),
vp AS MATERIALIZED (SELECT piece, w FROM uvocab)""" +
      unigramDpSql("e", "dwords", "vp", 12, 4) +
      """,
units AS (SELECT word, CAST(np AS BIGINT) AS np FROM fine
 UNION ALL
 SELECT word, CAST(length(word) AS BIGINT) AS np FROM dwords
 WHERE length(word) > 12),
g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
 CAST(SUM(np) AS BIGINT) AS n_pieces FROM docw JOIN units USING (word) GROUP BY 1)
SELECT d.doc_id, COALESCE(g.n_words, 0) AS n_words,
COALESCE(g.n_pieces, 0) AS n_pieces
FROM documents d LEFT JOIN g USING (doc_id) ORDER BY doc_id"""

  /** Subword-regularization draw: the same train chain, an n-best DP
    * over the distinct corpus words, per-word alternative ranking by
    * the DP's total order (np, ws DESC, seg), and the engine's md5
    * fold picking `1 + fold % n_alt` — [[Fixtures.foldSql]] keeps the
    * draw in lockstep with `Corpus.hashFold`. Words over the DP bound
    * fall back to a single char-segmentation alternative. */
  private def unigramSampleOracle(vocabSize: Int, nbest: Int): String =
    unigramTrainCtes(vocabSize) +
      s""",
docw AS MATERIALIZED (SELECT doc_id, unnest(w) AS word FROM w),
dwords AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
 FROM docw GROUP BY 1),
vp AS MATERIALIZED (SELECT piece, w FROM uvocab)""" +
      unigramDpSql("s", "dwords", "vp", 12, 4, nbest) +
      s""",
ranked AS (SELECT word, cnt, np, ws, seg,
 CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY np, ws DESC, seg) AS BIGINT) AS alt
 FROM fins),
nalt AS (SELECT word, CAST(MAX(alt) AS BIGINT) AS n_alt FROM ranked GROUP BY 1),
shortpick AS (SELECT r.word, r.cnt, n.n_alt, r.alt,
 CAST(r.np AS BIGINT) AS np, r.seg
 FROM ranked r JOIN nalt n USING (word)
 WHERE r.alt = 1 + (${Fixtures.foldSql("'subword-reg:' || r.word")} % n.n_alt)),
longpick AS (SELECT word, cnt, CAST(1 AS BIGINT) AS n_alt,
 CAST(1 AS BIGINT) AS alt, CAST(length(word) AS BIGINT) AS np,
 array_to_string(list_transform(range(1, length(word) + 1),
  i -> substr(word, i, 1)), chr(31)) AS seg
 FROM dwords WHERE length(word) > 12)
SELECT word, cnt, n_alt, alt, np, seg FROM shortpick
UNION ALL
SELECT word, cnt, n_alt, alt, np, seg FROM longpick
ORDER BY word"""

  /** Incremental vocab maintenance: train on the even-doc_id half,
    * Viterbi the odd half under that vocab, weight = old usage +
    * slice usage, re-prune multi-char pieces to the new (smaller)
    * target, re-rank — mirrors `UnigramLm.refresh`. */
  private def unigramIncrOracle(baseVocab: Int, newVocab: Int): String =
    unigramTrainCtes(baseVocab, "doc_id % 2 = 0") +
      s""",
sw AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w2 FROM documents WHERE doc_id % 2 = 1),
swd AS (SELECT unnest(w2) AS word FROM sw),
swords AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM swd
 WHERE NOT contains(word, chr(31)) AND length(word) <= 12 GROUP BY 1),
vp AS MATERIALIZED (SELECT piece, w FROM uvocab)""" +
      unigramDpSql("i", "swords", "vp", 12, 4) +
      s""",
susage AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS wn FROM
 (SELECT cnt, unnest(string_split(seg, chr(31))) AS piece FROM fini) GROUP BY 1),
comb AS MATERIALIZED (SELECT v.piece, v.w + COALESCE(s.wn, 0) AS w
 FROM vp v LEFT JOIN susage s USING (piece)),
cch AS (SELECT COUNT(*) AS n FROM comb WHERE length(piece) = 1),
keptm AS (SELECT piece, w FROM
 (SELECT piece, w, ROW_NUMBER() OVER (ORDER BY w DESC, piece) AS rk
  FROM comb WHERE length(piece) > 1)
 WHERE rk <= GREATEST(0, $newVocab - (SELECT n FROM cch))),
vfinal AS (SELECT piece, w FROM comb WHERE length(piece) = 1
 UNION ALL SELECT piece, w FROM keptm)
SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, w AS usage,
CAST(ROW_NUMBER() OVER (ORDER BY w DESC, piece) AS BIGINT) AS rank
FROM vfinal ORDER BY rank"""

  /** DuckDB rendition of [[graft.pipeline.Classifier.withIlog2Fx]]:
    * the identical all-integer shift-and-square iteration unrolled as
    * a CTE chain over the `nbstats` (kind, label, token, x) table —
    * 11 normalization steps, then 20 square-and-compare fractional
    * bits. Ends at `ilg` (kind, label, token, x, lg); bit-identical
    * to the engine by construction (same int64 ops in the same
    * order). */
  private def ilogCtes: String = {
    val sb = new StringBuilder
    sb ++= "il0 AS (SELECT kind, label, token, x, " +
      "GREATEST(CAST(x AS BIGINT), 1) AS t, CAST(0 AS BIGINT) AS e " +
      "FROM nbstats)"
    var i = 0
    for (s <- Seq(32, 16, 8, 4, 2, 1)) {
      val thr = 1L << (30 + s); val d = 1L << s
      sb ++= s",\nil${i + 1} AS (SELECT kind, label, token, x, " +
        s"CASE WHEN t >= $thr THEN t // $d ELSE t END AS t, " +
        s"CASE WHEN t >= $thr THEN e + $s ELSE e END AS e FROM il$i)"
      i += 1
    }
    for (s <- Seq(16, 8, 4, 2, 1)) {
      val thr = 1L << (31 - s); val m = 1L << s
      sb ++= s",\nil${i + 1} AS (SELECT kind, label, token, x, " +
        s"CASE WHEN t < $thr THEN t * $m ELSE t END AS t, " +
        s"CASE WHEN t < $thr THEN e - $s ELSE e END AS e FROM il$i)"
      i += 1
    }
    sb ++= s",\nim0 AS (SELECT kind, label, token, x, t AS m, " +
      s"CAST(0 AS BIGINT) AS f, e FROM il$i)"
    for (j <- 1 to graft.pipeline.Classifier.FracBits) {
      sb ++= s",\nim$j AS (SELECT kind, label, token, x, " +
        s"CASE WHEN m*m >= ${1L << 61} THEN (m*m) // ${1L << 31} " +
        s"ELSE (m*m) // ${1L << 30} END AS m, " +
        s"f*2 + CASE WHEN m*m >= ${1L << 61} THEN 1 ELSE 0 END AS f, e " +
        s"FROM im${j - 1})"
    }
    sb ++= s",\nilg AS MATERIALIZED (SELECT kind, label, token, x, " +
      s"(30 + e) * ${1L << graft.pipeline.Classifier.FracBits} + f AS lg " +
      s"FROM im${graft.pipeline.Classifier.FracBits})"
    sb.toString
  }

  /** The NB model CTEs shared by both classifier oracles: 75% train
    * split labeled by source, Laplace-smoothed (label, token) counts,
    * one ilog chain over the union of every log argument, then the
    * full vocab x labels weight matrix `model`. */
  private def nbModelCtes: String = nbModelCtesWhere("doc_id % 4 <> 3")
  private def nbModelCtesWhere(where: String): String =
    s"""tr AS (SELECT doc_id, source AS label, text FROM documents
      |WHERE $where),
      |tw AS (SELECT doc_id, label,
      |list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      |FROM tr),
      |tok AS MATERIALIZED (SELECT label, unnest(w) AS token FROM tw),
      |$nbModelTail""".stripMargin

  /** fastText-style hashed-feature featurization as a CTE chain: per
    * word one `w:word` feature plus `c:gram` char n-grams of the
    * boundary-padded `<word>`, each bucketed by the 48-bit md5 prefix
    * mod `buckets` — replays [[graft.pipeline.Classifier.hashedTokens]]
    * bit-exactly ((positive) % == pmod; same md5 prefix rendering as
    * the dedup/sampling oracles). `src` must provide (doc_id, word);
    * emits `$out` (doc_id, token). */
  private def hashedTokCtes(src: String, out: String, buckets: Int,
      n: Int): String =
    s"""${out}_p AS (SELECT doc_id, word, '<' || word || '>' AS p FROM $src),
      |${out}_f AS (SELECT doc_id, unnest(['w:' || word] ||
      |['c:' || substring(p, CAST(i AS INTEGER), $n)
      |for i in range(1, length(p) - ${n - 2})]) AS f FROM ${out}_p),
      |$out AS MATERIALIZED (SELECT doc_id,
      |CAST(('0x' || substr(md5(f), 1, 12))::BIGINT % $buckets AS VARCHAR)
      |AS token FROM ${out}_f)""".stripMargin

  /** [[nbModelCtesWhere]] with [[hashedTokCtes]] features in place of
    * raw word tokens — the oracle for the nbTrainHashed/nbScoreHashed
    * path. The model tail (counts, ilog chain, weight matrix) is the
    * SAME CTE chain; only the token derivation differs. */
  private def nbModelHashedCtes(where: String, buckets: Int,
      n: Int): String =
    s"""tr AS (SELECT doc_id, source AS label, text FROM documents
      |WHERE $where),
      |trw AS (SELECT doc_id, unnest(
      |list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
      |AS word FROM tr),
      |${hashedTokCtes("trw", "trtok", buckets, n)},
      |tok AS MATERIALIZED (SELECT label, token
      |FROM trtok JOIN tr USING (doc_id)),
      |$nbModelTail""".stripMargin

  /** The shared NB model tail: Laplace-smoothed (label, token)
    * counts, one ilog chain over the union of every log argument,
    * then the full vocab x labels weight matrix `model`. Consumes
    * `tr` (doc_id, label, text) and `tok` (label, token). */
  private def nbModelTail: String =
    s"""tc AS MATERIALIZED (SELECT label, token,
      |CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
      |vocab AS MATERIALIZED (SELECT DISTINCT token FROM tok),
      |vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
      |tt AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS tcnt FROM tc
      |GROUP BY 1),
      |dc AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS ndocs FROM tr
      |GROUP BY 1),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tr),
      |nbstats AS MATERIALIZED (
      |SELECT 'tc' AS kind, label, token, cnt + 1 AS x FROM tc
      |UNION ALL SELECT 'den', label, '', tcnt + (SELECT v FROM vn) FROM tt
      |UNION ALL SELECT 'pn', label, '', ndocs FROM dc
      |UNION ALL SELECT 'pd', '', '', (SELECT n FROM nd)),
      |$ilogCtes,
      |labels AS (SELECT pn.label,
      |pn.lg - (SELECT lg FROM ilg WHERE kind = 'pd') AS prior_fx,
      |den.lg AS den_lg
      |FROM (SELECT label, lg FROM ilg WHERE kind = 'pn') pn
      |JOIN (SELECT label, lg FROM ilg WHERE kind = 'den') den USING (label)),
      |model AS MATERIALIZED (SELECT l.label, v.token,
      |COALESCE(t.x - 1, 0) AS cnt,
      |COALESCE(t.lg, 0) - l.den_lg AS w_fx, l.prior_fx
      |FROM vocab v CROSS JOIN labels l
      |LEFT JOIN (SELECT label, token, x, lg FROM ilg WHERE kind = 'tc') t
      |ON t.label = l.label AND t.token = v.token)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_classifier_train" ->
      s"""WITH $nbModelCtes
        |SELECT label, token, cnt, w_fx, prior_fx FROM model
        |ORDER BY label, token""".stripMargin,

    // the incremental update's contract IS "equals the full retrain":
    // the oracle trains on the union corpus (all documents) outright
    "q_classifier_incr" ->
      s"""WITH ${nbModelCtesWhere("TRUE")}
        |SELECT label, token, cnt, w_fx, prior_fx FROM model
        |ORDER BY label, token""".stripMargin,

    "q_classifier_score" ->
      s"""WITH $nbModelCtes,
        |te AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3),
        |ttok AS (SELECT doc_id,
        |unnest(list_filter(regexp_split_to_array(text, '\\s+'),
        |x -> x <> '')) AS token FROM te),
        |contrib AS (SELECT doc_id, label, CAST(SUM(w_fx) AS BIGINT) AS sw
        |FROM ttok JOIN model USING (token) GROUP BY 1, 2),
        |sc AS (SELECT te.doc_id, l.label,
        |COALESCE(c.sw, 0) + l.prior_fx AS score_fx
        |FROM te CROSS JOIN (SELECT DISTINCT label, prior_fx FROM model) l
        |LEFT JOIN contrib c ON c.doc_id = te.doc_id AND c.label = l.label),
        |rk AS (SELECT doc_id, label, score_fx,
        |ROW_NUMBER() OVER (PARTITION BY doc_id
        |ORDER BY score_fx DESC, label) AS rn,
        |LEAD(score_fx) OVER (PARTITION BY doc_id
        |ORDER BY score_fx DESC, label) AS nxt FROM sc)
        |SELECT doc_id, label AS label_pred, score_fx,
        |score_fx - COALESCE(nxt, score_fx) AS margin_fx
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // hashed-feature replay: same model tail, token = md5 bucket of
    // each word/char-3-gram feature, on both the train and test side
    "q_classifier_hashed" ->
      s"""WITH ${nbModelHashedCtes("doc_id % 4 <> 3", 512, 3)},
        |te AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3),
        |tew AS (SELECT doc_id, unnest(
        |list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
        |AS word FROM te),
        |${hashedTokCtes("tew", "ttok", 512, 3)},
        |contrib AS (SELECT doc_id, label, CAST(SUM(w_fx) AS BIGINT) AS sw
        |FROM ttok JOIN model USING (token) GROUP BY 1, 2),
        |sc AS (SELECT te.doc_id, l.label,
        |COALESCE(c.sw, 0) + l.prior_fx AS score_fx
        |FROM te CROSS JOIN (SELECT DISTINCT label, prior_fx FROM model) l
        |LEFT JOIN contrib c ON c.doc_id = te.doc_id AND c.label = l.label),
        |rk AS (SELECT doc_id, label, score_fx,
        |ROW_NUMBER() OVER (PARTITION BY doc_id
        |ORDER BY score_fx DESC, label) AS rn,
        |LEAD(score_fx) OVER (PARTITION BY doc_id
        |ORDER BY score_fx DESC, label) AS nxt FROM sc)
        |SELECT doc_id, label AS label_pred, score_fx,
        |score_fx - COALESCE(nxt, score_fx) AS margin_fx
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_classifier_eval" ->
      s"""WITH $nbModelCtes,
        |te AS (SELECT doc_id, source AS label, text FROM documents
        |WHERE doc_id % 4 = 3),
        |ttok AS (SELECT doc_id,
        |unnest(list_filter(regexp_split_to_array(text, '\\s+'),
        |x -> x <> '')) AS token FROM te),
        |contrib AS (SELECT doc_id, label, CAST(SUM(w_fx) AS BIGINT) AS sw
        |FROM ttok JOIN model USING (token) GROUP BY 1, 2),
        |sc AS (SELECT te.doc_id, l.label,
        |COALESCE(c.sw, 0) + l.prior_fx AS score_fx
        |FROM te CROSS JOIN (SELECT DISTINCT label, prior_fx FROM model) l
        |LEFT JOIN contrib c ON c.doc_id = te.doc_id AND c.label = l.label),
        |rk AS (SELECT doc_id, label AS label_pred, score_fx,
        |ROW_NUMBER() OVER (PARTITION BY doc_id
        |ORDER BY score_fx DESC, label) AS rn FROM sc),
        |pr AS (SELECT doc_id, label_pred FROM rk WHERE rn = 1),
        |conf AS (SELECT te.label, pr.label_pred,
        |CAST(COUNT(*) AS BIGINT) AS n
        |FROM pr JOIN te USING (doc_id) GROUP BY 1, 2),
        |tm AS (SELECT label, CAST(SUM(n) AS BIGINT) AS n_true FROM conf
        |GROUP BY 1),
        |pm AS (SELECT label_pred, CAST(SUM(n) AS BIGINT) AS n_pred
        |FROM conf GROUP BY 1)
        |SELECT conf.label, conf.label_pred, conf.n, tm.n_true, pm.n_pred
        |FROM conf JOIN tm USING (label) JOIN pm USING (label_pred)
        |ORDER BY label, label_pred""".stripMargin,

    "q_bpe_merges" -> bpeMergesOracle(4),
    "q_bpe_encode" -> bpeEncodeOracle(4),
    "q_wordpiece_merges" -> wordpieceMergesOracle(4),
    "q_wordpiece_encode" -> wordpieceEncodeOracle(4),
    "q_fertility" -> bpeFertilityOracle(4),
    "q_unigram_train" -> unigramTrainOracle(300),
    "q_unigram_encode" -> unigramEncodeOracle(300),
    "q_unigram_sample" -> unigramSampleOracle(300, 3),
    "q_unigram_incr" -> unigramIncrOracle(300, 250),

    "q_blocklist" ->
      """WITH t AS (SELECT doc_id,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks FROM documents),
        |bl AS (SELECT unnest(['spark', 'table table', 'slow slow',
        | 'fast key scan', 'data window the']) AS phrase),
        |g1 AS (SELECT doc_id, unnest(toks) AS phrase FROM t),
        |g2 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
        | THEN list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))
        | ELSE [] END) AS phrase FROM t),
        |g3 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
        | THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
        | ELSE [] END) AS phrase FROM t),
        |h AS (SELECT g.doc_id, g.phrase FROM
        | (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3) g
        | JOIN bl USING (phrase)),
        |p AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
        | CAST(COUNT(DISTINCT phrase) AS BIGINT) AS n_phrases,
        | MIN(phrase) AS min_phrase FROM h GROUP BY 1)
        |SELECT d.doc_id, COALESCE(n_hits, 0) AS n_hits,
        |COALESCE(n_phrases, 0) AS n_phrases, min_phrase,
        |COALESCE(n_hits, 0) > 0 AS blocked
        |FROM documents d LEFT JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_src_lang_mix" ->
      """WITH t AS (SELECT source, lang,
        |len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tc
        |FROM documents),
        |c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |CAST(SUM(tc) AS BIGINT) AS n_tokens FROM t GROUP BY 1, 2),
        |s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.source, c.lang, n_docs, n_tokens,
        |CAST((1000000 * n_tokens) // greatest(tot, 1) AS BIGINT) AS share_ppm
        |FROM c JOIN s USING (source) ORDER BY c.source, c.lang""".stripMargin,

    "q_temperature_mix" ->
      """WITH s AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'big_crawl'
        |ELSE 'src' || (doc_id % 7) END AS src FROM documents),
        |c AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS weight
        |FROM s GROUP BY 1),
        |t AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM c)
        |SELECT src, n, weight,
        |CAST((200 * weight) // greatest(tw, 1) AS BIGINT) AS target,
        |CAST(least(10000, (10000 * ((200 * weight) // greatest(tw, 1))) // greatest(n, 1)) AS BIGINT) AS keep_permyriad
        |FROM c CROSS JOIN t ORDER BY src""".stripMargin,

    "q_snapshot_churn" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |FROM v1 WHERE doc_id % 11 <> 0),
        |ch AS (SELECT v1.doc_id FROM v1 JOIN v2 USING (doc_id)
        |WHERE md5(v1.text) <> md5(v2.text)),
        |oc AS (SELECT doc_id, t AS token, COUNT(*) AS c FROM (
        |SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
        |FROM v1 WHERE doc_id IN (SELECT doc_id FROM ch)) GROUP BY 1, 2),
        |nc AS (SELECT doc_id, t AS token, COUNT(*) AS c FROM (
        |SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
        |FROM v2 WHERE doc_id IN (SELECT doc_id FROM ch)) GROUP BY 1, 2),
        |j AS (SELECT COALESCE(oc.doc_id, nc.doc_id) AS doc_id,
        |greatest(COALESCE(nc.c, 0) - COALESCE(oc.c, 0), 0) AS a,
        |greatest(COALESCE(oc.c, 0) - COALESCE(nc.c, 0), 0) AS r
        |FROM oc FULL OUTER JOIN nc ON oc.doc_id = nc.doc_id AND oc.token = nc.token)
        |SELECT doc_id, CAST(SUM(a) AS BIGINT) AS tokens_added,
        |CAST(SUM(r) AS BIGINT) AS tokens_removed
        |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q_curriculum" ->
      """WITH t AS (SELECT doc_id, text,
        |list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |cc AS (SELECT doc_id,
        |CAST(length(text) AS DOUBLE) AS chars,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS alpha,
        |CAST(len(list_filter(toks, x -> list_contains(
        |['the','a','of','and','is','le','la','les','et','des','der','die','und','das','ist','el','los','las','y','es'], x))) AS DOUBLE) AS stop,
        |greatest(len(toks), 1) AS ntoks
        |FROM t),
        |qd AS (SELECT doc_id, round((
        |least(chars/500.0, 1.0) +
        |(CASE WHEN chars > 0 THEN alpha/chars ELSE 0.0 END) +
        |least(stop*10.0/CAST(ntoks AS DOUBLE), 1.0)) / 3.0, 6) AS q
        |FROM cc),
        |vc AS (SELECT q, COUNT(*) AS cnt FROM qd GROUP BY 1),
        |cb AS (SELECT q, COALESCE(SUM(cnt) OVER (ORDER BY q
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM vc),
        |nn AS (SELECT COUNT(*) AS n FROM qd),
        |b AS (SELECT q, CAST((4 * cum_before) // greatest(n, 1) AS INTEGER) AS bin
        |FROM cb CROSS JOIN nn),
        |j AS (SELECT qd.doc_id, b.bin, md5('7:' || CAST(qd.doc_id AS VARCHAR)) AS h
        |FROM qd JOIN b ON qd.q = b.q),
        |sh AS (SELECT doc_id, bin,
        |CAST(('0x' || substr(h, 1, 6))::BIGINT % 4 AS INTEGER) AS shard, h FROM j)
        |SELECT doc_id, bin, shard,
        |CAST(row_number() OVER (PARTITION BY bin, shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |FROM sh ORDER BY bin, shard, pos""".stripMargin,

    "q_shuffle" ->
      """WITH k AS (SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |s AS (SELECT doc_id, h,
        |CAST(('0x' || substr(h, 1, 6))::BIGINT % 8 AS INTEGER) AS shard FROM k)
        |SELECT doc_id, shard,
        |CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,

    "q_host_rollup" ->
      """WITH h AS (SELECT CASE WHEN doc_id % 7 = 0
        |THEN 'site' || ((doc_id // 4) % 10) || '.com'
        |ELSE 'sub' || (doc_id % 3) || '.site' || ((doc_id // 4) % 10) || '.com'
        |END AS host FROM documents),
        |l AS (SELECT string_split(host, '.') AS ls FROM h),
        |s AS (SELECT unnest(list_transform(range(1, len(ls) + 1),
        |i -> {'suffix': array_to_string(ls[len(ls)-i+1:len(ls)], '.'), 'level': i})) AS s FROM l)
        |SELECT s.s.suffix AS suffix, CAST(s.s.level AS INTEGER) AS level,
        |CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM s GROUP BY 1, 2 ORDER BY level, suffix""".stripMargin,

    // canonicalization CTEs shared with q_url_canon; prefixes at
    // segment boundaries of the query-stripped form; longest wins
    "q_url_rules" ->
      """WITH u AS (SELECT doc_id, CASE doc_id % 4
        |WHEN 0 THEN 'HTTP://Site' || (doc_id // 4) || '.COM:80/page/?utm_source=x&b=2&a=1'
        |WHEN 1 THEN 'http://site' || (doc_id // 4) || '.com/page?a=1&b=2'
        |WHEN 2 THEN 'https://site' || (doc_id // 4) || '.com:443/page?a=1&b=2'
        |ELSE 'http://site' || (doc_id // 4) || '.com/page/other/?b=2&a=1&fbclid=zz'
        |END AS url FROM documents),
        |p AS (SELECT doc_id,
        |lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
        |lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) AS hostport,
        |regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
        |regexp_extract(url, '\?([^#]*)', 1) AS query FROM u),
        |n AS (SELECT doc_id, scheme,
        |CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |     WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |     ELSE hostport END AS host, path,
        |array_to_string(list_sort(list_filter(string_split(query, '&'),
        |x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)(=|$)'))), '&') AS q
        |FROM p),
        |c AS MATERIALIZED (SELECT doc_id, scheme || '://' || host || path ||
        |CASE WHEN q = '' THEN '' ELSE '?' || q END AS canon FROM n),
        |sites AS (SELECT DISTINCT doc_id // 4 AS k FROM documents
        |WHERE (doc_id // 4) % 7 <> 0),
        |rules AS MATERIALIZED (
        |SELECT 'http://site' || k || '.com/page/other' AS prefix, 'deny' AS action FROM sites
        |UNION ALL SELECT 'http://site' || k || '.com', 'allow' FROM sites),
        |pf AS (SELECT doc_id, regexp_replace(canon, '\?.*$', '') AS m FROM c),
        |px AS (SELECT doc_id, unnest(list_transform(
        |range(3, len(string_split(m, '/')) + 1),
        |i -> array_to_string(string_split(m, '/')[1:i], '/'))) AS pfx FROM pf),
        |j AS (SELECT px.doc_id, r.prefix, r.action,
        |row_number() OVER (PARTITION BY px.doc_id
        |ORDER BY len(r.prefix) DESC, r.prefix DESC) AS rn
        |FROM px JOIN rules r ON r.prefix = px.pfx)
        |SELECT c.doc_id, c.canon AS url,
        |COALESCE(j.action, 'allow') AS action, j.prefix AS rule_prefix
        |FROM c LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_url_canon" ->
      """WITH u AS (SELECT doc_id, CASE doc_id % 4
        |WHEN 0 THEN 'HTTP://Site' || (doc_id // 4) || '.COM:80/page/?utm_source=x&b=2&a=1'
        |WHEN 1 THEN 'http://site' || (doc_id // 4) || '.com/page?a=1&b=2'
        |WHEN 2 THEN 'https://site' || (doc_id // 4) || '.com:443/page?a=1&b=2'
        |ELSE 'http://site' || (doc_id // 4) || '.com/page/other/?b=2&a=1&fbclid=zz'
        |END AS url FROM documents),
        |p AS (SELECT doc_id,
        |lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
        |lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) AS hostport,
        |regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
        |regexp_extract(url, '\?([^#]*)', 1) AS query FROM u),
        |n AS (SELECT doc_id, scheme,
        |CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |     WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |     ELSE hostport END AS host, path,
        |array_to_string(list_sort(list_filter(string_split(query, '&'),
        |x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)(=|$)'))), '&') AS q
        |FROM p),
        |c AS (SELECT doc_id, scheme || '://' || host || path ||
        |CASE WHEN q = '' THEN '' ELSE '?' || q END AS canon FROM n),
        |k AS (SELECT canon, MIN(doc_id) AS keep_id FROM c GROUP BY 1)
        |SELECT c.doc_id, c.canon, k.keep_id FROM c JOIN k USING (canon)
        |ORDER BY doc_id""".stripMargin,

    "q_phrase_search" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '') AS w FROM documents),
        |m AS (SELECT doc_id, i FROM w, unnest(range(1, len(w))) t(i)
        |WHERE w[i] = 'table' AND w[i+1] = 'table')
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |CAST(MIN(i) - 1 AS INTEGER) AS first_pos
        |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_url_features" ->
      """WITH u AS (SELECT doc_id,
        |'https://www.site-' || (doc_id % 7) || '.example.com' ||
        |(CASE WHEN doc_id % 3 = 0 THEN ':8080' ELSE '' END) ||
        |'/docs/page-' || doc_id ||
        |(CASE WHEN doc_id % 2 = 0 THEN '?ref=search&lang=en' ELSE '' END) AS url
        |FROM documents),
        |f AS (SELECT doc_id, url,
        |lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
        |lower(regexp_replace(regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)', 1), '^[^@]*@', ''), ':[0-9]+$', '')) AS host,
        |regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]+(/[^?#]*)', 1) AS path,
        |regexp_extract(url, '\?([^#]*)', 1) AS query FROM u)
        |SELECT doc_id, scheme, host,
        |CASE WHEN len(string_split(host, '.')) >= 2
        |THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
        |ELSE host END AS domain_guess,
        |CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS INTEGER) AS path_depth,
        |CAST(len(list_filter(string_split(query, '&'), x -> x <> '')) AS INTEGER) AS n_params
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_unigram_df" ->
      """WITH t AS (SELECT doc_id,
        |unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
        |FROM documents),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS tok_df FROM t GROUP BY tok)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |CAST(sum(df.tok_df) AS BIGINT) AS df_sum
        |FROM t JOIN df USING (tok) GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,

    "q_score_calibrate" ->
      s"""WITH t AS (SELECT doc_id, source,
         |CAST(${bucketSql("'cal:' || text", 10000)} AS DOUBLE) AS score
         |FROM documents),
         |r AS (SELECT doc_id, source,
         |CAST(row_number() OVER (PARTITION BY source
         |ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
         |count(*) OVER (PARTITION BY source) AS n FROM t)
         |SELECT doc_id, source, rank,
         |CAST(CASE WHEN n > 1 THEN ((rank - 1) * 10000) // (n - 1)
         |ELSE 0 END AS BIGINT) AS permyriad
         |FROM r ORDER BY doc_id""".stripMargin,

    "q_bigram_lm" ->
      """WITH toks AS (SELECT doc_id,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |FROM documents),
        |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram
        |FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i)
        |WHERE len(w) >= 2),
        |rc AS (SELECT bigram, count(DISTINCT doc_id) AS c FROM bg GROUP BY bigram)
        |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |CAST(sum(rc.c) AS BIGINT) AS count_sum,
        |CAST((1000 * sum(CASE WHEN rc.c >= 3 THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
        |AS familiar_permille
        |FROM bg JOIN rc USING (bigram)
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,

    // occurrence-count MLE; 10^6·bc stays far under BIGINT range,
    // SUM(n·p_ppm) cast from HUGEINT like every other sum
    "q_lm_score" ->
      """WITH toks AS (SELECT doc_id,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |FROM documents),
        |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram
        |FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i)
        |WHERE len(w) >= 2),
        |lm AS (SELECT bigram, CAST(count(*) AS BIGINT) AS bc FROM bg GROUP BY 1),
        |pf AS (SELECT split_part(bigram, ' ', 1) AS w1,
        |CAST(SUM(bc) AS BIGINT) AS pc FROM lm GROUP BY 1),
        |db AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS n
        |FROM bg GROUP BY 1, 2),
        |j AS (SELECT db.doc_id, db.n, (1000000 * lm.bc) // pf.pc AS p_ppm
        |FROM db JOIN lm USING (bigram)
        |JOIN pf ON pf.w1 = split_part(db.bigram, ' ', 1)),
        |a AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |CAST(SUM(n * p_ppm) AS BIGINT) AS sum_p_ppm FROM j GROUP BY 1)
        |SELECT doc_id, n_bigrams, sum_p_ppm,
        |CAST(sum_p_ppm // n_bigrams AS BIGINT) AS avg_p_ppm
        |FROM a ORDER BY doc_id""".stripMargin,

    // q_lang_id's CASE + q_lm_score's CTE chain keyed by lang + plain
    // rank/count windows for the tercile (the oracle needs no
    // two-phase trick — it replays semantics, not the plan)
    "q_ccnet_buckets" ->
      """WITH t AS (SELECT doc_id, text,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w,
        |list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS lw
        |FROM documents),
        |c AS (SELECT doc_id, text, w,
        |len(list_filter(lw, x -> list_contains(['the','a','of','and','is'], x))) AS en,
        |len(list_filter(lw, x -> list_contains(['le','la','les','et','des'], x))) AS fr,
        |len(list_filter(lw, x -> list_contains(['der','die','und','das','ist'], x))) AS de,
        |len(list_filter(lw, x -> list_contains(['el','los','las','y','es'], x))) AS es
        |FROM t),
        |l AS (SELECT doc_id, w, CASE
        |WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |WHEN greatest(en, fr, de, es) = 0 THEN 'und'
        |WHEN en = greatest(en, fr, de, es) THEN 'en'
        |WHEN fr = greatest(en, fr, de, es) THEN 'fr'
        |WHEN de = greatest(en, fr, de, es) THEN 'de' ELSE 'es' END AS lang
        |FROM c),
        |bg AS (SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS bigram
        |FROM l, LATERAL (SELECT unnest(range(1, len(w))) AS i)
        |WHERE len(w) >= 2),
        |lm AS (SELECT lang, bigram, CAST(count(*) AS BIGINT) AS bc
        |FROM bg GROUP BY 1, 2),
        |pf AS (SELECT lang, split_part(bigram, ' ', 1) AS w1,
        |CAST(SUM(bc) AS BIGINT) AS pc FROM lm GROUP BY 1, 2),
        |db AS (SELECT doc_id, lang, bigram, CAST(count(*) AS BIGINT) AS n
        |FROM bg GROUP BY 1, 2, 3),
        |j AS (SELECT db.doc_id, db.lang, db.n, (1000000 * lm.bc) // pf.pc AS p_ppm
        |FROM db JOIN lm ON lm.lang = db.lang AND lm.bigram = db.bigram
        |JOIN pf ON pf.lang = db.lang AND pf.w1 = split_part(db.bigram, ' ', 1)),
        |a AS (SELECT doc_id, lang, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |CAST(SUM(n * p_ppm) AS BIGINT) AS sum_p FROM j GROUP BY 1, 2),
        |s AS (SELECT doc_id, lang, n_bigrams,
        |CAST(sum_p // n_bigrams AS BIGINT) AS avg_p_ppm FROM a),
        |r AS (SELECT *,
        |row_number() OVER (PARTITION BY lang ORDER BY avg_p_ppm DESC, doc_id) AS rk,
        |count(*) OVER (PARTITION BY lang) AS n FROM s),
        |p AS (SELECT doc_id, lang, n_bigrams, avg_p_ppm,
        |CAST(rk AS BIGINT) AS rank,
        |CAST(CASE WHEN n > 1 THEN ((rk - 1) * 10000) // (n - 1)
        |ELSE 0 END AS BIGINT) AS permyriad FROM r)
        |SELECT doc_id, lang, n_bigrams, avg_p_ppm, rank, permyriad,
        |CASE WHEN permyriad <= 3333 THEN 'head'
        |WHEN permyriad <= 6666 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM p ORDER BY doc_id""".stripMargin,

    // same CTE chain as q_lm_score + the unigram MLE term; the 700/300
    // permille split mirrors the Spark integer interpolation exactly
    "q_lm_interp" ->
      """WITH toks AS (SELECT doc_id,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |FROM documents),
        |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram
        |FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i)
        |WHERE len(w) >= 2),
        |lm AS (SELECT bigram, CAST(count(*) AS BIGINT) AS bc FROM bg GROUP BY 1),
        |pf AS (SELECT split_part(bigram, ' ', 1) AS w1,
        |CAST(SUM(bc) AS BIGINT) AS pc FROM lm GROUP BY 1),
        |uni AS (SELECT w2, CAST(count(*) AS BIGINT) AS uc FROM
        |(SELECT unnest(w) AS w2 FROM toks) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(uc) AS BIGINT) AS t FROM uni),
        |db AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS n
        |FROM bg GROUP BY 1, 2),
        |j AS (SELECT db.doc_id, db.n,
        |((700 * ((1000000 * lm.bc) // pf.pc) +
        |300 * ((1000000 * uni.uc) // tot.t)) // 1000) AS p_ppm
        |FROM db JOIN lm USING (bigram)
        |JOIN pf ON pf.w1 = split_part(db.bigram, ' ', 1)
        |JOIN uni ON uni.w2 = split_part(db.bigram, ' ', 2)
        |CROSS JOIN tot),
        |a AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |CAST(SUM(n * p_ppm) AS BIGINT) AS sum_p_ppm FROM j GROUP BY 1)
        |SELECT doc_id, n_bigrams, sum_p_ppm,
        |CAST(sum_p_ppm // n_bigrams AS BIGINT) AS avg_p_ppm
        |FROM a ORDER BY doc_id""".stripMargin,

    // cold r0..r2 replayed, then the delta edge set and two warm
    // rounds; chained rank CTEs MATERIALIZED (q_kcore lesson)
    "q_pagerank_incr" ->
      """WITH e_old AS MATERIALIZED (
        |SELECT DISTINCT 'h' || CAST(doc_id % 20 AS VARCHAR) AS src,
        |'h' || CAST((doc_id*7+3) % 20 AS VARCHAR) AS dst FROM documents
        |UNION
        |SELECT DISTINCT 'h' || CAST(doc_id % 20 AS VARCHAR),
        |'h' || CAST((doc_id*13+7) % 20 AS VARCHAR) FROM documents),
        |nodes_old AS MATERIALIZED (SELECT DISTINCT node FROM
        |(SELECT src AS node FROM e_old UNION SELECT dst FROM e_old)),
        |deg_old AS MATERIALIZED (SELECT src, count(*) AS d FROM e_old GROUP BY src),
        |p_old AS MATERIALIZED (SELECT 1000000000 // count(*) AS init,
        |(150 * (1000000000 // count(*))) // 1000 AS base FROM nodes_old),
        |r0 AS (SELECT node, (SELECT init FROM p_old) AS rank FROM nodes_old),
        |c1 AS (SELECT e_old.dst AS node, SUM(r0.rank // deg_old.d) AS m
        |FROM e_old JOIN r0 ON e_old.src = r0.node
        |JOIN deg_old ON e_old.src = deg_old.src GROUP BY e_old.dst),
        |r1 AS MATERIALIZED (SELECT nodes_old.node,
        |(SELECT base FROM p_old) + ((850 * COALESCE(c1.m, 0)) // 1000) AS rank
        |FROM nodes_old LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e_old.dst AS node, SUM(r1.rank // deg_old.d) AS m
        |FROM e_old JOIN r1 ON e_old.src = r1.node
        |JOIN deg_old ON e_old.src = deg_old.src GROUP BY e_old.dst),
        |r2 AS MATERIALIZED (SELECT nodes_old.node,
        |(SELECT base FROM p_old) + ((850 * COALESCE(c2.m, 0)) // 1000) AS rank
        |FROM nodes_old LEFT JOIN c2 USING (node)),
        |e AS MATERIALIZED (SELECT src, dst FROM e_old
        |UNION SELECT DISTINCT 'h' || CAST(doc_id % 20 AS VARCHAR),
        |'h' || CAST((doc_id*3+1) % 20 AS VARCHAR) FROM documents
        |WHERE doc_id % 11 = 0),
        |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
        |(SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src),
        |p AS MATERIALIZED (SELECT 1000000000 // count(*) AS init,
        |(150 * (1000000000 // count(*))) // 1000 AS base FROM nodes),
        |w0 AS MATERIALIZED (SELECT nodes.node,
        |COALESCE(r2.rank, (SELECT init FROM p)) AS rank
        |FROM nodes LEFT JOIN r2 USING (node)),
        |wc1 AS (SELECT e.dst AS node, SUM(w0.rank // deg.d) AS m
        |FROM e JOIN w0 ON e.src = w0.node JOIN deg ON e.src = deg.src
        |GROUP BY e.dst),
        |w1 AS MATERIALIZED (SELECT nodes.node,
        |(SELECT base FROM p) + ((850 * COALESCE(wc1.m, 0)) // 1000) AS rank
        |FROM nodes LEFT JOIN wc1 USING (node)),
        |wc2 AS (SELECT e.dst AS node, SUM(w1.rank // deg.d) AS m
        |FROM e JOIN w1 ON e.src = w1.node JOIN deg ON e.src = deg.src
        |GROUP BY e.dst),
        |w2 AS (SELECT nodes.node,
        |(SELECT base FROM p) + ((850 * COALESCE(wc2.m, 0)) // 1000) AS rank
        |FROM nodes LEFT JOIN wc2 USING (node))
        |SELECT node, CAST(rank AS BIGINT) AS rank FROM w2
        |ORDER BY node""".stripMargin,

    // three unrolled synchronous LPA rounds; every CTE MATERIALIZED
    // (the q_kcore exponential-inlining lesson)
    "q_label_prop" -> {
      val rounds = (1 to 3).map { i =>
        s"""c$i AS MATERIALIZED (SELECT nb.node, l.label AS nl,
           |CAST(count(*) AS BIGINT) AS c
           |FROM nb JOIN l${i - 1} l ON l.node = nb.nbr GROUP BY 1, 2),
           |l$i AS MATERIALIZED (SELECT node, nl AS label FROM
           |(SELECT node, nl, row_number() OVER (PARTITION BY node
           |ORDER BY c DESC, nl) AS rn FROM c$i) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH r AS (SELECT DISTINCT doc_id % 72 AS dm FROM documents),
         |e0 AS (SELECT 'c' || CAST(dm % 8 AS VARCHAR) || '_' ||
         |CAST(dm % 9 AS VARCHAR) AS s,
         |'c' || CAST(dm % 8 AS VARCHAR) || '_' ||
         |CAST((dm % 9 + 1) % 9 AS VARCHAR) AS d FROM r),
         |u AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a,
         |greatest(s, d) AS b FROM e0 WHERE s <> d),
         |nb AS MATERIALIZED (SELECT a AS node, b AS nbr FROM u
         |UNION ALL SELECT b, a FROM u),
         |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM nb),
         |$rounds
         |SELECT node, label AS community,
         |CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
         |FROM l3 ORDER BY node""".stripMargin
    },

    "q_sample_minwise" ->
      """WITH d AS (SELECT doc_id, source,
        |md5('strat:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |r AS (SELECT doc_id, source,
        |CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
        |AS BIGINT) AS draw_rank FROM d)
        |SELECT doc_id, source, draw_rank FROM r WHERE draw_rank <= 10
        |ORDER BY doc_id""".stripMargin,

    // type-1 pooled quantile at the source permyriad; all BIGINT
    "q_quantile_norm" ->
      s"""WITH t AS (SELECT doc_id, source,
         |CAST(${bucketSql("'qn:' || text", 10000)} AS BIGINT) AS score
         |FROM documents),
         |s AS (SELECT doc_id, source, score,
         |CAST(row_number() OVER (PARTITION BY source
         |ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
         |count(*) OVER (PARTITION BY source) AS n FROM t),
         |sp AS (SELECT doc_id, source, score, rank,
         |CAST(CASE WHEN n > 1 THEN ((rank - 1) * 10000) // (n - 1)
         |ELSE 0 END AS BIGINT) AS permyriad FROM s),
         |p AS (SELECT score AS pscore,
         |row_number() OVER (ORDER BY score DESC, doc_id) AS pr FROM t),
         |c AS (SELECT count(*) AS n_all FROM t)
         |SELECT sp.doc_id, sp.source, sp.score, sp.rank, sp.permyriad,
         |p.pscore AS norm_score
         |FROM sp CROSS JOIN c
         |JOIN p ON p.pr = 1 + (sp.permyriad * (c.n_all - 1)) // 10000
         |ORDER BY doc_id""".stripMargin,

    "q_token_budget" ->
      s"""WITH t AS (SELECT doc_id,
         |CAST(${bucketSql("'budget:' || text", 10000)} AS DOUBLE) AS score,
         |CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
         |FROM documents),
         |c AS (SELECT doc_id, score, n_tokens,
         |sum(n_tokens) OVER (ORDER BY score DESC, doc_id
         |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t
         |WHERE n_tokens IS NOT NULL)
         |SELECT doc_id, score, n_tokens FROM c WHERE cum <= 8000
         |ORDER BY doc_id""".stripMargin,

    "q_token_stats" ->
      """SELECT doc_id,
        |CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      """WITH t AS (SELECT doc_id, text,
        |list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |c AS (SELECT doc_id, text,
        |len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS en,
        |len(list_filter(toks, x -> list_contains(['le','la','les','et','des'], x))) AS fr,
        |len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS de,
        |len(list_filter(toks, x -> list_contains(['el','los','las','y','es'], x))) AS es
        |FROM t),
        |m AS (SELECT *, greatest(en, fr, de, es) AS mx FROM c)
        |SELECT doc_id, CASE
        |WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |WHEN mx = 0 THEN 'und'
        |WHEN en = mx THEN 'en' WHEN fr = mx THEN 'fr'
        |WHEN de = mx THEN 'de' ELSE 'es' END AS lang_pred
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |CAST(length(text) AS DOUBLE) AS chars,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS alpha,
        |CAST(len(list_filter(toks, x -> list_contains(
        |['the','a','of','and','is','le','la','les','et','des','der','die','und','das','ist','el','los','las','y','es'], x))) AS DOUBLE) AS stop,
        |greatest(len(toks), 1) AS ntoks
        |FROM t)
        |SELECT doc_id, round((
        |least(chars/500.0, 1.0) +
        |(CASE WHEN chars > 0 THEN alpha/chars ELSE 0.0 END) +
        |least(stop*10.0/CAST(ntoks AS DOUBLE), 1.0)) / 3.0, 6) AS quality
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_fingerprints" ->
      """WITH t AS (SELECT doc_id, text,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents)
        |SELECT doc_id,
        |md5(lower(regexp_replace(text, '\W+', '', 'g'))) AS fp,
        |list_min(list_transform(range(1, greatest(len(w)-2, 0)+1),
        |i -> md5(array_to_string(w[i:i+2], ' ')))) AS shingle_fp
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_doc_signals" ->
      """WITH t AS (SELECT doc_id, text,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks FROM documents),
        |g AS (SELECT doc_id, text, toks,
        |CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
        |i -> array_to_string(toks[i:i+1], ' ')) ELSE [] END AS grams FROM t)
        |SELECT doc_id,
        |round(CASE WHEN len(grams) > 0
        |THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)/len(grams) ELSE 0.0 END, 6) AS rep_ratio,
        |round(CASE WHEN len(toks) > 0
        |THEN CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE)/len(toks)
        |ELSE 0.0 END, 6) AS mean_word_len,
        |round(CAST(len(regexp_extract_all(text, '[#@/\\{}\[\]<>|~^]')) AS DOUBLE) /
        |CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS symbol_ratio
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_redact" ->
      """WITH p AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0
        |THEN text || ' contact me at user@example.com or 12345678901'
        |ELSE text END AS text FROM documents),
        |r AS (SELECT doc_id, regexp_replace(
        |regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |'\d{7,}', '<NUM>', 'g') AS clean FROM p)
        |SELECT doc_id, clean FROM r
        |WHERE clean LIKE '%<EMAIL>%' OR clean LIKE '%<NUM>%'
        |ORDER BY doc_id""".stripMargin,

    "q_chunks" ->
      """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks FROM documents),
        |tf AS (SELECT * FROM t WHERE len(toks) > 0),
        |n AS (SELECT doc_id, toks,
        |greatest(CAST(ceil(CAST(len(toks) - 5 AS DOUBLE) / 15) AS INTEGER), 1) AS nc FROM tf),
        |idx AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS i FROM n)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_index,
        |array_to_string(list_slice(toks, i*15 + 1, i*15 + 20), ' ') AS chunk_text,
        |CAST(len(list_slice(toks, i*15 + 1, i*15 + 20)) AS BIGINT) AS n_chunk_tokens
        |FROM idx ORDER BY doc_id, chunk_index""".stripMargin,

    "q_sample" ->
      s"""SELECT doc_id, lang FROM documents
        |WHERE ${bucketSql("'sample:' || text", 100)} <
        |CASE lang WHEN 'en' THEN 50 WHEN 'fr' THEN 30 WHEN 'de' THEN 20 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,

    "q_mixture" ->
      s"""WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source FROM documents d JOIN c USING (source)
        |WHERE (CASE d.source WHEN 'src1' THEN 5 WHEN 'src3' THEN 3 WHEN 'src7' THEN 2 ELSE 0 END) > 0
        |AND ${bucketSql("'mix:' || text", 10000)} <
        |LEAST(10000, (10000 * 200 *
        |CASE d.source WHEN 'src1' THEN 5 WHEN 'src3' THEN 3 WHEN 'src7' THEN 2 ELSE 0 END)
        |// (10 * c.n))
        |ORDER BY d.doc_id""".stripMargin,

    "q_source_cap" ->
      s"""WITH b AS (SELECT doc_id, source,
        |${bucketSql("'cap:' || text", 10000)} AS bk
        |FROM documents),
        |r AS (SELECT doc_id, source,
        |row_number() OVER (PARTITION BY source ORDER BY bk, doc_id) AS rn FROM b)
        |SELECT doc_id, source FROM r WHERE rn <= 20 ORDER BY doc_id""".stripMargin,

    "q_top_ngram" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        |THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
        |ELSE [] END) AS gram FROM w),
        |c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total_grams,
        |CAST(MAX(c) AS BIGINT) AS top_count,
        |CAST((1000 * MAX(c)) // SUM(c) AS BIGINT) AS top_permille
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_boilerplate" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |THEN list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))
        |ELSE [] END) AS gram FROM w),
        |df AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram),
        |b AS (SELECT gram FROM df WHERE df >= 2)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS total_grams,
        |CAST(COUNT(b.gram) AS BIGINT) AS boiler_grams,
        |CAST((1000 * COUNT(b.gram)) // COUNT(*) AS BIGINT) AS boiler_permille
        |FROM g LEFT JOIN b USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    // two unrolled fixed-point iterations; integer div (// in DuckDB,
    // div in Spark) truncates identically on non-negative ranks
    "q_pagerank" ->
      """WITH e AS (
        |SELECT DISTINCT 'h' || CAST(doc_id % 20 AS VARCHAR) AS src,
        |'h' || CAST((doc_id*7+3) % 20 AS VARCHAR) AS dst FROM documents
        |UNION
        |SELECT DISTINCT 'h' || CAST(doc_id % 20 AS VARCHAR),
        |'h' || CAST((doc_id*13+7) % 20 AS VARCHAR) FROM documents),
        |nodes AS (SELECT DISTINCT node FROM
        |(SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |p AS (SELECT 1000000000 // count(*) AS init,
        |(150 * (1000000000 // count(*))) // 1000 AS base FROM nodes),
        |r0 AS (SELECT node, (SELECT init FROM p) AS rank FROM nodes),
        |c1 AS (SELECT e.dst AS node, SUM(r0.rank // deg.d) AS m
        |FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
        |GROUP BY e.dst),
        |r1 AS (SELECT nodes.node,
        |(SELECT base FROM p) + ((850 * COALESCE(c1.m, 0)) // 1000) AS rank
        |FROM nodes LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, SUM(r1.rank // deg.d) AS m
        |FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
        |GROUP BY e.dst),
        |r2 AS (SELECT nodes.node,
        |(SELECT base FROM p) + ((850 * COALESCE(c2.m, 0)) // 1000) AS rank
        |FROM nodes LEFT JOIN c2 USING (node))
        |SELECT node, CAST(rank AS BIGINT) AS rank FROM r2
        |ORDER BY node""".stripMargin,

    // degree orientation: edge points from the (degree, node)-smaller
    // endpoint; wedges close at their smallest-rank vertex only
    "q_triangles" ->
      """WITH d0 AS (SELECT doc_id,
        |'h' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS h0,
        |'h' || lpad(CAST((doc_id + 1) % 60 AS VARCHAR), 2, '0') AS h1,
        |'h' || lpad(CAST((doc_id + 2) % 60 AS VARCHAR), 2, '0') AS h2,
        |'h' || lpad(CAST((doc_id * 7 + 3) % 60 AS VARCHAR), 2, '0') AS hc
        |FROM documents),
        |e0 AS (SELECT h0 AS src, h1 AS dst FROM d0
        |UNION ALL SELECT h0, h2 FROM d0
        |UNION ALL SELECT h1, h2 FROM d0
        |UNION ALL SELECT h0, hc FROM d0),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |FROM e0 WHERE src <> dst),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
        |(SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
        |o AS (SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
        |CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
        |FROM (SELECT und.a, und.b, d1.degree AS da, d2.degree AS db FROM und
        |JOIN deg d1 ON und.a = d1.node JOIN deg d2 ON und.b = d2.node)),
        |wdg AS (SELECT e1.u AS w0, e1.v AS w1, e2.v AS w2 FROM o e1
        |JOIN o e2 ON e1.u = e2.u AND e1.v < e2.v),
        |t AS (SELECT w0, w1, w2 FROM wdg
        |JOIN und ON wdg.w1 = und.a AND wdg.w2 = und.b),
        |pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM
        |(SELECT w0 AS node FROM t UNION ALL SELECT w1 FROM t
        |UNION ALL SELECT w2 FROM t) GROUP BY 1)
        |SELECT deg.node, deg.degree,
        |CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
        |CAST(CASE WHEN deg.degree >= 2 THEN (2000000 * COALESCE(pn.triangles, 0))
        |// (deg.degree * (deg.degree - 1)) ELSE 0 END AS BIGINT) AS clustering_ppm
        |FROM deg LEFT JOIN pn USING (node) ORDER BY node""".stripMargin,

    // four unrolled peel rounds; semi-joins as IN-subqueries. Every
    // u$i is MATERIALIZED: each round references its predecessor five
    // times (FROM + two IN-subqueries through d$i's UNION ALL), so
    // DuckDB's default CTE inlining re-expands u0 5^rounds times —
    // unbounded planning blow-up on a 6-edge-per-key graph.
    "q_kcore" -> {
      val rounds = (0 until 4).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
           |(SELECT a AS node FROM u$i UNION ALL SELECT b FROM u$i) GROUP BY 1),
           |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE degree >= 2),
           |u${i + 1} AS MATERIALIZED (SELECT a, b FROM u$i
           |WHERE a IN (SELECT node FROM k$i) AND b IN (SELECT node FROM k$i))""".stripMargin
      }.mkString(",\n")
      s"""WITH r AS (SELECT DISTINCT doc_id % 60 AS m FROM documents),
         |hn AS (SELECT m,
         |'h' || lpad(CAST(m AS VARCHAR), 2, '0') AS h0,
         |'h' || lpad(CAST((m + 1) % 60 AS VARCHAR), 2, '0') AS h1,
         |'h' || lpad(CAST((m + 2) % 60 AS VARCHAR), 2, '0') AS h2,
         |'t' || CAST(m AS VARCHAR) || '_1' AS t1,
         |'t' || CAST(m AS VARCHAR) || '_2' AS t2,
         |'t' || CAST(m AS VARCHAR) || '_3' AS t3 FROM r),
         |e0 AS (SELECT h0 AS s, h1 AS d FROM hn
         |UNION ALL SELECT h0, h2 FROM hn
         |UNION ALL SELECT h1, h2 FROM hn
         |UNION ALL SELECT h0, t1 FROM hn WHERE m % 5 = 0
         |UNION ALL SELECT t1, t2 FROM hn WHERE m % 5 = 0
         |UNION ALL SELECT t2, t3 FROM hn WHERE m % 5 = 0),
         |u0 AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
         |FROM e0 WHERE s <> d),
         |$rounds,
         |df AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
         |(SELECT a AS node FROM u4 UNION ALL SELECT b FROM u4) GROUP BY 1)
         |SELECT node, degree AS core_degree,
         |(SELECT COALESCE(MIN(degree) >= 2, true) FROM df) AS converged
         |FROM df ORDER BY node""".stripMargin
    },

    // u48·1000 stays under 2^58 — no HUGEINT promotion asymmetry
    "q_weighted_sample" ->
      """WITH d AS (SELECT doc_id, CAST(len(list_filter(
        |regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM documents),
        |h AS (SELECT doc_id, n_tokens,
        |('0x' || substr(md5('psample:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS u48
        |FROM d WHERE n_tokens >= 1),
        |p AS (SELECT doc_id, n_tokens, u48,
        |(u48 * 1000) // n_tokens AS priority FROM h)
        |SELECT doc_id, n_tokens, u48, CAST(priority AS BIGINT) AS priority
        |FROM p ORDER BY priority, doc_id LIMIT 50""".stripMargin,

    "q_contamination_report" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |chunk AS (SELECT array_to_string(
        |(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))[1:20], ' ') AS c
        |FROM base WHERE doc_id = 3),
        |corpus AS (SELECT doc_id,
        |CASE WHEN doc_id = 42 THEN text || ' ' || (SELECT c FROM chunk) ELSE text END AS text
        |FROM base WHERE doc_id >= 5
        |UNION ALL SELECT doc_id + 30000, text FROM base WHERE doc_id < 3),
        |bt AS (SELECT doc_id AS bench_id,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |FROM base WHERE doc_id < 5),
        |bg AS (SELECT bench_id, CASE WHEN len(w) >= 8
        |THEN list_distinct(list_transform(range(1, len(w)-6), i -> array_to_string(w[i:i+7], ' ')))
        |ELSE [] END AS grams FROM bt),
        |totals AS (SELECT bench_id, CAST(len(grams) AS BIGINT) AS n_grams FROM bg),
        |bgrams AS (SELECT bench_id, unnest(grams) AS gram FROM bg),
        |ct AS (SELECT doc_id,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM corpus),
        |cg AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 8
        |THEN list_transform(range(1, len(w)-6), i -> array_to_string(w[i:i+7], ' '))
        |ELSE [] END) AS gram FROM ct),
        |leaked AS (SELECT b.bench_id,
        |CAST(count(DISTINCT b.gram) AS BIGINT) AS grams_leaked,
        |CAST(count(DISTINCT c.doc_id) AS BIGINT) AS docs_hit
        |FROM cg c JOIN bgrams b ON c.gram = b.gram GROUP BY b.bench_id)
        |SELECT t.bench_id, t.n_grams,
        |COALESCE(l.grams_leaked, 0) AS grams_leaked,
        |COALESCE(l.docs_hit, 0) AS docs_hit
        |FROM totals t LEFT JOIN leaked l USING (bench_id)
        |ORDER BY bench_id""".stripMargin,

    "q_decontaminate" ->
      """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 8
        |THEN list_transform(range(1, len(w)-6), i -> array_to_string(w[i:i+7], ' '))
        |ELSE [] END AS grams FROM t),
        |gc AS (SELECT doc_id, grams FROM g WHERE doc_id >= 5
        |UNION ALL SELECT doc_id + 30000, grams FROM g WHERE doc_id < 5),
        |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 5),
        |corp AS (SELECT doc_id, unnest(grams) AS gram FROM gc),
        |bad AS (SELECT DISTINCT c.doc_id FROM corp c JOIN bench b ON c.gram = b.gram)
        |SELECT doc_id FROM gc WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,

    // The PLAIN n-gram guard the bloom path must equal exactly.
    "q_decon_bloom" ->
      """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 8
        |THEN list_transform(range(1, len(w)-6), i -> array_to_string(w[i:i+7], ' '))
        |ELSE [] END AS grams FROM t),
        |gc AS (SELECT doc_id, grams FROM g WHERE doc_id >= 50
        |UNION ALL SELECT doc_id + 30000, grams FROM g WHERE doc_id < 10),
        |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 50),
        |corp AS (SELECT doc_id, unnest(grams) AS gram FROM gc),
        |bad AS (SELECT DISTINCT c.doc_id FROM corp c JOIN bench b ON c.gram = b.gram)
        |SELECT doc_id FROM gc WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,

    "q_corpus_prep" ->
      """WITH t AS (SELECT doc_id, text, lang,
        |list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks FROM documents),
        |q AS (SELECT doc_id, text, lang,
        |(least(CAST(length(text) AS DOUBLE)/500.0, 1.0) +
        |(CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)/length(text) ELSE 0.0 END) +
        |least(CAST(len(list_filter(toks, x -> list_contains(
        |['the','a','of','and','is','le','la','les','et','des','der','die','und','das','ist','el','los','las','y','es'], x))) AS DOUBLE)
        |*10.0/CAST(greatest(len(toks),1) AS DOUBLE), 1.0)) / 3.0 AS quality,
        |len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS ntok
        |FROM t),
        |f AS (SELECT * FROM q WHERE lang IN ('en','fr') AND round(quality, 6) >= 0.5),
        |keep AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id FROM f GROUP BY md5(text)),
        |d AS (SELECT f.* FROM f JOIN keep ON f.doc_id = keep.doc_id)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        |CAST(floor(avg(length(text))) AS BIGINT) AS avg_chars
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "q_tfidf" ->
      """WITH dd AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
        |t AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '')) AS term FROM dd),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id, term, tf, df, (tf * 1000000) // df AS score
        |FROM tf JOIN df USING (term)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |ORDER BY score DESC, term) AS rank FROM sc)
        |SELECT doc_id, term, tf, df, score, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_packs" ->
      """WITH t AS (SELECT doc_id,
        |CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS before
        |FROM t)
        |SELECT doc_id, n_tokens, CAST(before // 2048 AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_bm25" ->
      """WITH t AS (SELECT doc_id,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS l FROM dl),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |FROM (SELECT doc_id, unnest(toks) AS term FROM t)
        |WHERE term IN ('spark','window','customer','vector','merge') GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.tf,
        |((2 * (tot.n - df.df) + 1) * 1000000) // (2 * df.df + 1) AS idf_ppm,
        |(1000000 * (tot.l + 3 * dl.dl * tot.n)) // tot.l AS norm_ppm
        |FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN tot),
        |s2 AS (SELECT doc_id,
        |(idf_ppm * (22 * tf * 1000000)) // (10 * tf * 1000000 + 3 * norm_ppm) AS score
        |FROM sc),
        |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |CAST(SUM(score) AS BIGINT) AS score FROM s2 GROUP BY 1),
        |r AS (SELECT doc_id, n_terms, score,
        |row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM pd)
        |SELECT doc_id, n_terms, score, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "q_gopher_rules" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |slots AS (SELECT doc_id // 4 AS d, doc_id % 4 AS slot, text FROM base),
        |g AS (SELECT d, max(CASE WHEN slot = 0 THEN text END) AS t0,
        |max(CASE WHEN slot = 1 THEN text END) AS t1,
        |max(CASE WHEN slot = 2 THEN text END) AS t2,
        |max(CASE WHEN slot = 3 THEN text END) AS t3, count(*) AS n
        |FROM slots GROUP BY d),
        |fx0 AS (SELECT d AS doc_id,
        |t0 || chr(10) || (CASE WHEN d % 3 = 0 THEN t0 ELSE t1 END) AS p1,
        |CASE WHEN d % 5 = 0
        |THEN t0 || chr(10) || (CASE WHEN d % 3 = 0 THEN t0 ELSE t1 END)
        |ELSE t2 || chr(10) || t3 END AS p2
        |FROM g WHERE n = 4),
        |fixture AS (SELECT doc_id, p1 || chr(10) || chr(10) || p2 AS text FROM fx0),
        |l1 AS (SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
        |x -> x <> '')) AS u FROM fixture),
        |lc AS (SELECT doc_id, u, COUNT(*) AS c, length(u) AS len FROM l1 GROUP BY 1, 2),
        |la AS (SELECT doc_id, SUM(c) AS nl, SUM(c - 1) AS dup,
        |SUM(c * len) AS ch, SUM((c - 1) * len) AS dch FROM lc GROUP BY 1),
        |px AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\n{2,}'),
        |x -> x <> '')) AS u FROM fixture),
        |pc AS (SELECT doc_id, u, COUNT(*) AS c, length(u) AS len FROM px GROUP BY 1, 2),
        |pa AS (SELECT doc_id, SUM(c) AS np, SUM(c - 1) AS dup,
        |SUM(c * len) AS ch, SUM((c - 1) * len) AS dch FROM pc GROUP BY 1),
        |w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '') AS w FROM fixture),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        |THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
        |ELSE [] END) AS gram FROM w),
        |bc AS (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |br AS (SELECT doc_id, c * length(gram) AS top_chars,
        |row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS r FROM bc),
        |tb AS (SELECT doc_id, top_chars FROM br WHERE r = 1),
        |nc AS (SELECT doc_id, length(text) AS nchars FROM fixture),
        |res AS (SELECT nc.doc_id,
        |CAST(la.nl AS BIGINT) AS n_lines,
        |CAST((1000000 * la.dup) // la.nl AS BIGINT) AS dup_line_ppm,
        |CAST((1000000 * la.dch) // greatest(la.ch, 1) AS BIGINT) AS dup_line_char_ppm,
        |CAST(pa.np AS BIGINT) AS n_paras,
        |CAST((1000000 * pa.dup) // pa.np AS BIGINT) AS dup_para_ppm,
        |CAST((1000000 * pa.dch) // greatest(pa.ch, 1) AS BIGINT) AS dup_para_char_ppm,
        |CAST((1000000 * coalesce(tb.top_chars, 0)) // greatest(nc.nchars, 1) AS BIGINT)
        |AS top_bigram_char_ppm
        |FROM nc JOIN la USING (doc_id) JOIN pa USING (doc_id)
        |LEFT JOIN tb USING (doc_id))
        |SELECT *,
        |(dup_line_ppm <= 300000 AND dup_line_char_ppm <= 200000 AND
        |dup_para_ppm <= 300000 AND dup_para_char_ppm <= 200000 AND
        |top_bigram_char_ppm <= 200000) AS keep
        |FROM res ORDER BY doc_id""".stripMargin,

    "q_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (SELECT doc_id,
        |CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |FROM v1 WHERE doc_id % 11 <> 0
        |UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM v1 WHERE doc_id % 13 = 0),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |CASE WHEN o.doc_id IS NULL THEN 'added'
        |WHEN n.doc_id IS NULL THEN 'removed'
        |WHEN md5(o.text) <> md5(n.text) THEN 'changed'
        |ELSE 'unchanged' END AS status
        |FROM v1 o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id)
        |SELECT doc_id, status FROM j WHERE status <> 'unchanged'
        |ORDER BY doc_id""".stripMargin,

    "q_vocab" ->
      """WITH t AS (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '')) AS token FROM documents),
        |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
        |r AS (SELECT token, cnt,
        |row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM c),
        |k AS (SELECT token, cnt, rank,
        |SUM(cnt) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING) AS cum
        |FROM r WHERE rank <= 20)
        |SELECT token, cnt, CAST(rank AS INTEGER) AS rank,
        |CAST((1000000 * cum) // greatest(total, 1) AS BIGINT) AS coverage_ppm
        |FROM k CROSS JOIN tot ORDER BY rank""".stripMargin,

    "q_collocations" ->
      """WITH w AS (SELECT list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS token FROM w),
        |u AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM uni GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nt FROM u),
        |bg AS (SELECT unnest(CASE WHEN len(w) >= 2
        |THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
        |ELSE [] END) AS gram FROM w),
        |p AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_pair FROM bg GROUP BY 1
        |HAVING COUNT(*) >= 2),
        |s AS (SELECT split_part(gram, ' ', 1) AS tok_a, split_part(gram, ' ', 2) AS tok_b,
        |n_pair FROM p),
        |j AS (SELECT tok_a, tok_b, n_pair, a.cnt AS n_a, b.cnt AS n_b,
        |CAST((n_pair::HUGEINT * nt * 1000000) // (a.cnt::HUGEINT * b.cnt) AS BIGINT) AS lift_ppm
        |FROM s JOIN u a ON a.token = tok_a JOIN u b ON b.token = tok_b CROSS JOIN tot)
        |SELECT tok_a, tok_b, n_pair, n_a, n_b, lift_ppm FROM j
        |WHERE lift_ppm >= 1500000
        |ORDER BY lift_ppm DESC, tok_a, tok_b""".stripMargin,

    "q_vocab_profile" ->
      """WITH t AS (SELECT source,
        |unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '')) AS tok FROM documents),
        |c AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        |FROM t GROUP BY 1, 2),
        |r AS (SELECT source, tok, c, row_number() OVER
        |(PARTITION BY source ORDER BY c DESC, tok) AS rk FROM c),
        |g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |CAST(COUNT(*) AS BIGINT) AS n_types,
        |CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_types,
        |CAST(SUM(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS BIGINT) AS tk
        |FROM r GROUP BY 1)
        |SELECT source, n_tokens, n_types,
        |CAST((1000000 * n_types) // greatest(n_tokens, 1) AS BIGINT)
        |AS type_token_ppm, hapax_types,
        |CAST((1000000 * hapax_types) // greatest(n_types, 1) AS BIGINT)
        |AS hapax_ppm,
        |CAST((1000000 * tk) // greatest(n_tokens, 1) AS BIGINT)
        |AS topk_mass_ppm
        |FROM g ORDER BY source""".stripMargin,

    // hashed-bigram bucket models in CTEs; the ratio table reuses the
    // shared bucketSql md5 fold so both engines hash identically
    "q_dsir" ->
      s"""WITH w AS (SELECT doc_id, source,
        |list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
        |FROM documents),
        |bg AS (SELECT doc_id, source, unnest(CASE WHEN len(w) >= 2
        |THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
        |ELSE [] END) AS g FROM w),
        |hb AS MATERIALIZED (SELECT doc_id, source,
        |${bucketSql("'dsir:' || g", 10000)} AS b FROM bg),
        |tc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS t FROM hb
        |WHERE source = 'src0' GROUP BY 1),
        |tt AS (SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) AS tn FROM tc),
        |rc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r FROM hb GROUP BY 1),
        |rt AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS rn FROM rc),
        |ratio AS (SELECT rc.b, CAST(LEAST(1000000000::HUGEINT,
        |(1000000::HUGEINT * (COALESCE(tc.t, 0) + 1) *
        |((SELECT rn FROM rt) + 10000)) //
        |((rc.r + 1)::HUGEINT * ((SELECT tn FROM tt) + 10000))) AS BIGINT)
        |AS ratio_ppm FROM rc LEFT JOIN tc USING (b)),
        |sc AS (SELECT hb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |CAST(SUM(ratio.ratio_ppm) AS BIGINT) AS sum_ratio_ppm
        |FROM hb JOIN ratio USING (b) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(sc.n_grams, 0) AS n_grams,
        |COALESCE(sc.sum_ratio_ppm, 0) AS sum_ratio_ppm,
        |COALESCE(CAST(sc.sum_ratio_ppm // sc.n_grams AS BIGINT), 0)
        |AS mean_ratio_ppm
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // the q_dsir scoring chain, then: fixed-width score tiers,
    // largest-remainder apportionment in HUGEINT (ROW_NUMBER over
    // remainders = the driver's BigInt sort), md5-minwise rank per
    // tier — every stage integer/string-exact on both engines
    "q_dsir_sample" ->
      s"""WITH w AS (SELECT doc_id, source,
        |list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
        |FROM documents),
        |bg AS (SELECT doc_id, source, unnest(CASE WHEN len(w) >= 2
        |THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
        |ELSE [] END) AS g FROM w),
        |hb AS MATERIALIZED (SELECT doc_id, source,
        |${bucketSql("'dsir:' || g", 10000)} AS b FROM bg),
        |tc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS t FROM hb
        |WHERE source = 'src0' GROUP BY 1),
        |tt AS (SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) AS tn FROM tc),
        |rc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r FROM hb GROUP BY 1),
        |rt AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS rn FROM rc),
        |ratio AS (SELECT rc.b, CAST(LEAST(1000000000::HUGEINT,
        |(1000000::HUGEINT * (COALESCE(tc.t, 0) + 1) *
        |((SELECT rn FROM rt) + 10000)) //
        |((rc.r + 1)::HUGEINT * ((SELECT tn FROM tt) + 10000))) AS BIGINT)
        |AS ratio_ppm FROM rc LEFT JOIN tc USING (b)),
        |sc AS (SELECT hb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |CAST(SUM(ratio.ratio_ppm) AS BIGINT) AS sum_ratio_ppm
        |FROM hb JOIN ratio USING (b) GROUP BY 1),
        |scores AS MATERIALIZED (SELECT d.doc_id,
        |COALESCE(CAST(sc.sum_ratio_ppm // sc.n_grams AS BIGINT), 0) AS mean
        |FROM documents d LEFT JOIN sc USING (doc_id)),
        |mx AS (SELECT COALESCE(MAX(mean), 0) AS m FROM scores),
        |t AS MATERIALIZED (SELECT doc_id, mean,
        |LEAST(7, mean // ((SELECT m FROM mx) // 8 + 1)) AS tier FROM scores),
        |st AS (SELECT tier, CAST(SUM(mean) AS HUGEINT) AS tw,
        |CAST(COUNT(*) AS HUGEINT) AS tcnt FROM t GROUP BY 1),
        |sel AS (SELECT tier, CASE WHEN (SELECT SUM(tw) FROM st) = 0
        |THEN tcnt ELSE tw END AS wv FROM st),
        |wt AS (SELECT CAST(SUM(wv) AS HUGEINT) AS wtot FROM sel),
        |base AS (SELECT tier,
        |(200::HUGEINT * wv) // (SELECT wtot FROM wt) AS b,
        |(200::HUGEINT * wv) % (SELECT wtot FROM wt) AS rem FROM sel),
        |lo AS (SELECT 200 - SUM(b) AS L FROM base),
        |alloc AS (SELECT tier, b + CASE WHEN
        |ROW_NUMBER() OVER (ORDER BY rem DESC, tier) <= (SELECT L FROM lo)
        |THEN 1 ELSE 0 END AS na FROM base),
        |rk AS (SELECT doc_id, tier, mean, ROW_NUMBER() OVER
        |(PARTITION BY tier ORDER BY
        |md5('dsir-sample:' || CAST(doc_id AS VARCHAR)), doc_id) AS dr FROM t)
        |SELECT rk.doc_id, CAST(rk.tier AS BIGINT) AS tier,
        |rk.mean AS mean_ratio_ppm, CAST(rk.dr AS BIGINT) AS draw_rank
        |FROM rk JOIN alloc USING (tier) WHERE rk.dr <= alloc.na
        |ORDER BY tier, draw_rank""".stripMargin,

    // the q_pagerank unroll on the bigram co-occurrence graph; e is
    // MATERIALIZED (referenced by deg + both contribution rounds)
    "q_textrank" ->
      """WITH w AS (SELECT list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '') AS w FROM documents),
        |bg AS (SELECT unnest(CASE WHEN len(w) >= 2
        |THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
        |ELSE [] END) AS gram FROM w),
        |pr AS (SELECT split_part(gram, ' ', 1) AS a, split_part(gram, ' ', 2) AS b
        |FROM bg WHERE split_part(gram, ' ', 1) <> split_part(gram, ' ', 2)),
        |e AS MATERIALIZED (SELECT DISTINCT a AS src, b AS dst FROM pr
        |UNION SELECT DISTINCT b, a FROM pr),
        |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
        |(SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src),
        |p AS (SELECT 1000000000 // count(*) AS init,
        |(150 * (1000000000 // count(*))) // 1000 AS base FROM nodes),
        |r0 AS (SELECT node, (SELECT init FROM p) AS rank FROM nodes),
        |c1 AS (SELECT e.dst AS node, SUM(r0.rank // deg.d) AS m
        |FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
        |GROUP BY e.dst),
        |r1 AS MATERIALIZED (SELECT nodes.node,
        |(SELECT base FROM p) + ((850 * COALESCE(c1.m, 0)) // 1000) AS rank
        |FROM nodes LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, SUM(r1.rank // deg.d) AS m
        |FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
        |GROUP BY e.dst),
        |r2 AS (SELECT nodes.node,
        |(SELECT base FROM p) + ((850 * COALESCE(c2.m, 0)) // 1000) AS rank
        |FROM nodes LEFT JOIN c2 USING (node))
        |SELECT node, CAST(rank AS BIGINT) AS rank,
        |CAST(row_number() OVER (ORDER BY rank DESC, node) AS BIGINT) AS kw_rank
        |FROM r2 ORDER BY rank DESC, node LIMIT 25""".stripMargin,

    "q_heavy_hitters" ->
      """WITH t AS (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '')) AS token FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM t),
        |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1)
        |SELECT token, cnt,
        |CAST((1000000 * cnt) // greatest(total, 1) AS BIGINT) AS share_ppm
        |FROM c CROSS JOIN tot WHERE cnt * 1000000 >= total * 20000
        |ORDER BY token""".stripMargin,

    "q_vocab_shift" ->
      """WITH ta AS (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '')) AS token FROM documents WHERE source = 'src0'),
        |tb AS (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '')) AS token FROM documents WHERE source = 'src1'),
        |ca AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_a FROM ta GROUP BY 1),
        |cb AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_b FROM tb GROUP BY 1),
        |j AS (SELECT coalesce(ca.token, cb.token) AS token,
        |coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
        |FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        |tot AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS tta,
        |CAST(SUM(cnt_b) AS BIGINT) AS ttb FROM j),
        |sc AS (SELECT token, cnt_a, cnt_b,
        |CAST((1000000 * cnt_a) // greatest(tta, 1) AS BIGINT) AS share_a_ppm,
        |CAST((1000000 * cnt_b) // greatest(ttb, 1) AS BIGINT) AS share_b_ppm
        |FROM j CROSS JOIN tot),
        |r AS (SELECT *, abs(share_a_ppm - share_b_ppm) AS shift_ppm,
        |row_number() OVER (ORDER BY abs(share_a_ppm - share_b_ppm) DESC, token)
        |AS rank FROM sc)
        |SELECT token, cnt_a, cnt_b, share_a_ppm, share_b_ppm,
        |CAST(shift_ppm AS BIGINT) AS shift_ppm, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 15 ORDER BY rank""".stripMargin,

    "q_gopher_ngrams" ->
      """WITH w AS (SELECT doc_id,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |FROM documents),
        |g5 AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 5
        |THEN list_transform(range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' '))
        |ELSE [] END) AS g FROM w),
        |c5 AS (SELECT doc_id, g, COUNT(*) AS c, length(g) AS len
        |FROM g5 GROUP BY 1, 2),
        |a5 AS (SELECT doc_id,
        |CAST((1000000 * SUM((c - 1) * len)) // greatest(SUM(c * len), 1) AS BIGINT)
        |AS dup5_ppm FROM c5 GROUP BY 1),
        |g10 AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 10
        |THEN list_transform(range(1, len(w) - 8), i -> array_to_string(w[i:i+9], ' '))
        |ELSE [] END) AS g FROM w),
        |c10 AS (SELECT doc_id, g, COUNT(*) AS c, length(g) AS len
        |FROM g10 GROUP BY 1, 2),
        |a10 AS (SELECT doc_id,
        |CAST((1000000 * SUM((c - 1) * len)) // greatest(SUM(c * len), 1) AS BIGINT)
        |AS dup10_ppm FROM c10 GROUP BY 1)
        |SELECT d.doc_id, coalesce(a5.dup5_ppm, 0) AS dup5_ppm,
        |coalesce(a10.dup10_ppm, 0) AS dup10_ppm
        |FROM documents d LEFT JOIN a5 ON d.doc_id = a5.doc_id
        |LEFT JOIN a10 ON d.doc_id = a10.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_source_overlap" ->
      """WITH w AS (SELECT source,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |FROM documents),
        |sg AS (SELECT source, unnest(CASE WHEN len(w) >= 3
        |THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
        |ELSE [] END) AS sh FROM w),
        |sh AS (SELECT DISTINCT source AS src, sh FROM sg),
        |sizes AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.src AS src_a, b.src AS src_b,
        |CAST(COUNT(*) AS BIGINT) AS n_common
        |FROM sh a JOIN sh b ON a.sh = b.sh AND a.src < b.src GROUP BY 1, 2)
        |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
        |CAST((1000000 * n_common) // (sa.n + sb.n - n_common) AS BIGINT) AS jaccard_ppm,
        |CAST((1000000 * n_common) // sa.n AS BIGINT) AS contain_a_ppm,
        |CAST((1000000 * n_common) // sb.n AS BIGINT) AS contain_b_ppm
        |FROM p JOIN sizes sa ON p.src_a = sa.src JOIN sizes sb ON p.src_b = sb.src
        |ORDER BY src_a, src_b""".stripMargin,

    "q_ks_shift" ->
      """WITH va AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents
        |WHERE n_chars IS NOT NULL),
        |vb AS (SELECT CAST(n_chars + CASE WHEN doc_id % 3 = 0 THEN 40 ELSE 0 END
        |AS BIGINT) AS v FROM documents
        |WHERE doc_id % 17 <> 0 AND n_chars IS NOT NULL),
        |ca AS (SELECT v, COUNT(*) AS c1 FROM va GROUP BY 1),
        |cb AS (SELECT v, COUNT(*) AS c2 FROM vb GROUP BY 1),
        |u AS (SELECT coalesce(ca.v, cb.v) AS v, coalesce(c1, 0) AS c1,
        |coalesce(c2, 0) AS c2 FROM ca FULL JOIN cb ON ca.v = cb.v),
        |n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM u),
        |s AS (SELECT v, SUM(c1) OVER (ORDER BY v) AS m1,
        |SUM(c2) OVER (ORDER BY v) AS m2 FROM u),
        |d AS (SELECT v, abs((1000000 * m1) // greatest(n1, 1) -
        |(1000000 * m2) // greatest(n2, 1)) AS diff FROM s CROSS JOIN n)
        |SELECT CAST(n.n1 AS BIGINT) AS n_a, CAST(n.n2 AS BIGINT) AS n_b,
        |CAST(d.diff AS BIGINT) AS ks_ppm, CAST(d.v AS BIGINT) AS at_value
        |FROM d CROSS JOIN n ORDER BY d.diff DESC, d.v LIMIT 1""".stripMargin,

    "q_minhash_overlap" ->
      """WITH w AS (SELECT source,
        |list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |FROM documents),
        |sg AS (SELECT source, unnest(CASE WHEN len(w) >= 3
        |THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
        |ELSE [] END) AS sh FROM w),
        |sh AS (SELECT DISTINCT source AS src, sh FROM sg),
        |m AS (SELECT src, perm,
        |MIN(md5(CAST(perm AS VARCHAR) || ':' || sh)) AS sig
        |FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS perm) GROUP BY 1, 2),
        |p AS (SELECT a.src AS src_a, b.src AS src_b,
        |CAST(COUNT(*) AS BIGINT) AS n_matches
        |FROM m a JOIN m b ON a.perm = b.perm AND a.sig = b.sig
        |AND a.src < b.src GROUP BY 1, 2)
        |SELECT src_a, src_b, n_matches,
        |CAST((1000000 * n_matches) // 16 AS BIGINT) AS est_jaccard_ppm
        |FROM p ORDER BY src_a, src_b""".stripMargin,

    "q_winsorize" ->
      """WITH c AS (SELECT lang, CAST(n_chars AS BIGINT) AS v, COUNT(*) AS c
        |FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT lang, v,
        |SUM(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |SUM(c) OVER (PARTITION BY lang) AS n FROM c),
        |r AS (SELECT lang, v, cum,
        |least(n, (50000 * n) // 1000000 + 1) AS lo_rank,
        |greatest(least(n, (50000 * n) // 1000000 + 1),
        |least(n, (950000 * n + 999999) // 1000000)) AS hi_rank FROM s),
        |b AS (SELECT lang,
        |MIN(CASE WHEN cum >= lo_rank THEN v END) AS v_lo,
        |MIN(CASE WHEN cum >= hi_rank THEN v END) AS v_hi FROM r GROUP BY 1)
        |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
        |CAST(b.v_lo AS BIGINT) AS v_lo, CAST(b.v_hi AS BIGINT) AS v_hi,
        |CAST(least(greatest(d.n_chars, b.v_lo), b.v_hi) AS BIGINT) AS v_winsorized
        |FROM documents d JOIN b USING (lang) ORDER BY d.doc_id""".stripMargin,

    "q_dup_attribution" ->
      """WITH all_docs AS (
        |SELECT doc_id, source, text FROM documents
        |UNION ALL SELECT doc_id + 50000, 'mirror', text FROM documents
        |WHERE doc_id % 5 = 0
        |UNION ALL SELECT doc_id + 90000, 'scraper', text FROM documents
        |WHERE doc_id % 9 = 0),
        |h AS (SELECT doc_id, source, md5(text) AS ch FROM all_docs),
        |k AS (SELECT ch, min(doc_id) AS kid, arg_min(source, doc_id) AS ksrc
        |FROM h GROUP BY 1)
        |SELECT h.source AS dup_source, k.ksrc AS keeper_source,
        |CAST(COUNT(*) AS BIGINT) AS n_dups
        |FROM h JOIN k ON h.ch = k.ch WHERE h.doc_id <> k.kid
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Independent replay of the C4 line rules: DuckDB builds the same
    // lined fixture, then list_filter with the same three line gates
    // (right-trimmed terminal punct, >=3 whitespace words, no
    // javascript) and the same doc gates on the ORIGINAL text.
    "q_c4_clean" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |slots AS (SELECT doc_id // 4 AS d, doc_id % 4 AS slot, text FROM base),
        |g AS (SELECT d, max(CASE WHEN slot = 0 THEN text END) AS t0,
        |max(CASE WHEN slot = 1 THEN text END) AS t1,
        |max(CASE WHEN slot = 2 THEN text END) AS t2,
        |max(CASE WHEN slot = 3 THEN text END) AS t3, count(*) AS n
        |FROM slots GROUP BY d),
        |fixture AS (SELECT d AS doc_id, concat_ws(chr(10),
        |'A tiny preamble. ' || t0 || '.',
        |t1,
        |CASE WHEN d % 7 = 0 THEN 'Too short.' ELSE t2 || '!' END,
        |CASE WHEN d % 11 = 0 THEN t3 || ' please enable javascript now.'
        |ELSE t3 || '?' END,
        |CASE WHEN d % 13 = 0 THEN 'Curabitur lorem ipsum dolor sit amet.'
        |WHEN d % 17 = 0 THEN 'Include config { x: 1 } block.' END) AS text
        |FROM g WHERE n = 4),
        |k AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines,
        |list_filter(string_split(text, chr(10)), l ->
        |right(rtrim(l), 1) IN ('.', '!', '?', '"')
        |AND len(regexp_split_to_array(trim(l), '\s+')) >= 3
        |AND NOT contains(lower(l), 'javascript')) AS kept FROM fixture),
        |c AS (SELECT doc_id, text, len(lines) AS n_lines,
        |len(kept) AS n_kept_lines,
        |array_to_string(kept, chr(10)) AS clean_text FROM k),
        |r AS (SELECT doc_id, n_lines, n_kept_lines,
        |length(regexp_replace(clean_text, '[^.!?]', '', 'g')) AS n_sentences,
        |contains(lower(text), 'lorem ipsum') AS lorem,
        |contains(text, '{') AS curly, clean_text FROM c)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |CAST(n_kept_lines AS BIGINT) AS n_kept_lines,
        |CAST(n_sentences AS BIGINT) AS n_sentences,
        |(NOT lorem AND NOT curly AND n_sentences >= 4) AS keep,
        |CASE WHEN lorem THEN 'lorem_ipsum' WHEN curly THEN 'curly_brace'
        |WHEN n_sentences < 4 THEN 'too_few_sentences' END AS drop_reason,
        |clean_text
        |FROM r ORDER BY doc_id""".stripMargin
  )
}
