package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.entries.Fixtures._
import graft.catalog.Tables
import graft.functions.TextFns
import graft.pipeline.Dedup

/** Deduplication domain: exact, MinHash+LSH (md5 + native xxhash64),
  * SimHash, n-gram Jaccard, embedding near-dup, incremental index,
  * clustering, and dedup-key normalization. */
private[graft] object DedupEntries {

  /** Corpus with injected near-duplicates (append a short tail to
    * every 11th doc) — used by the near-dup operators. */
  private def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select("doc_id", "text")
    spread(base.unionByName(base.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" extra near dup tail")).as("text"))))
  }
  private val nearDupCorpusSql =
    """all_docs AS (SELECT doc_id, text FROM documents UNION ALL
      |SELECT doc_id + 20000, text || ' extra near dup tail' FROM documents
      |WHERE doc_id % 11 = 0)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Dedup: exact duplicate groups (hash-groupBy) over a corpus with
    // injected duplicates.
    "q_dedup_exact" -> { (s, dir) =>
      val base = docs(s, dir)
      val dups = base.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 10000)
      Dedup.exactGroups(base.unionByName(dups)).orderBy("content_hash")
    },

    // Dedup: exact dedup keep-list (lowest id per distinct content).
    "q_dedup_keep" -> { (s, dir) =>
      val base = docs(s, dir)
      val dups = base.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 10000)
      Dedup.exactDedup(base.unionByName(dups)).select("doc_id").orderBy("doc_id")
    },

    // Quality-aware near-dup keep policy: one winner per near-dup
    // cluster (highest quality score, ties to lowest id) plus all
    // unclustered docs — keep-first generalized to cluster members
    // that DIFFER. The oracle independently re-derives the clusters
    // (recursive-CTE connected components), the quality scores, and
    // the per-cluster argmax.
    "q_dedup_keep_best" -> { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val pairs = Dedup.minhashNearDupPairs(corpus, shingleN = 3, k = 12,
        bands = 4, threshold = 0.5)
      Dedup.nearDupKeepBest(corpus, Dedup.nearDupClusters(pairs),
          graft.functions.TextFns.qualityScore(col("text")))
        .select("doc_id").orderBy("doc_id")
    },

    // MinHash + LSH near-dup (fully oracle-replicable via md5 minhash).
    "q_dedup_minhash" -> { (s, dir) =>
      Dedup.minhashNearDupPairs(nearDupCorpus(s, dir), shingleN = 3, k = 12,
        bands = 4, threshold = 0.5).orderBy("id_a", "id_b")
    },

    // N-gram Jaccard with rare-shingle blocking.
    "q_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(nearDupCorpus(s, dir), shingleN = 4,
        threshold = 0.4, maxDf = 50).orderBy("id_a", "id_b")
    },

    // LOSSLESS prefix-filtering set-similarity join: same corpus and
    // threshold as q_ngram_jaccard, but the AllPairs prefix guarantee
    // means the oracle is the EXACT all-shared-shingle ground truth —
    // the equality proves zero recall loss.
    "q_prefix_jaccard" -> { (s, dir) =>
      Dedup.prefixJaccardPairs(nearDupCorpus(s, dir), shingleN = 4,
        thresholdPpm = 400000L).orderBy("id_a", "id_b")
    },

    // Edit-distance near-dup: same blocking, banded Levenshtein
    // confirm (the injected tails are exactly 20 insertions away).
    "q_dedup_editdist" -> { (s, dir) =>
      Dedup.editDistanceNearDupPairs(nearDupCorpus(s, dir), maxEdits = 24,
        shingleN = 4, maxDf = 50).orderBy("id_a", "id_b")
    },

    // Asymmetric containment: injected 8-token prefix "quotes" score
    // containment 1.0 against their source articles even where Jaccard
    // is tiny; the tail near-dups also surface (base ⊂ base+tail).
    "q_containment" -> { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val quotes = docs(s, dir).filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat_ws(" ", slice(graft.functions.TextFns.tokens(col("text")), 1, 8))
            .as("text"))
      Dedup.containmentPairs(corpus.unionByName(quotes), threshold = 0.9,
        shingleN = 4, maxDf = 50).orderBy("id_a", "id_b")
    },

    // SimHash near-dup. The xxhash64 fingerprint family has no external
    // oracle, so the hash-checked contract is: (a) every injected
    // ground-truth EXACT duplicate (externally enumerable from the
    // corpus construction; identical text → hamming 0 → recovery is
    // guaranteed by the banding pigeonhole, not empirical) is recovered
    // by the simhash path run over a corpus that also carries the
    // tail-perturbed near-dups as realistic noise, and (b) the native
    // SimHash64 expression stays bit-identical to the composed
    // xxhash64 + majority-packing form over the whole corpus. Either
    // property breaking flips a pinned-true column → hash red.
    "q_dedup_simhash" -> { (s, dir) =>
      val base = docs(s, dir).select("doc_id", "text")
      val corpus = nearDupCorpus(s, dir).unionByName(
        base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 40000).as("doc_id"), col("text")))
      val pairs = Dedup.simhashNearDupPairs(corpus, maxHamming = 6)
      val truth = base
        .filter(col("doc_id") % 7 === 0 &&
          size(graft.plans.WordShingles.shingles(col("text"), 1)) > 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 40000).as("id_b"))
      val found = truth.join(
        pairs.select(col("id_a"), col("id_b"), lit(true).as("__f")),
        Seq("id_a", "id_b"), "left")
      val toks = graft.functions.TextFns.tokens(col("text"))
      val ident = corpus.select(
          Dedup.simhashFromHashes(transform(toks, t => xxhash64(t))).as("a"),
          graft.plans.SimHash64.simhash(toks).as("b"))
        .agg(bool_and(col("a") <=> col("b")).as("__ok"))
      found.crossJoin(ident)
        .select(col("id_a"), col("id_b"),
          coalesce(col("__f"), lit(false)).as("found_by_simhash"),
          col("__ok").as("native_matches_composed"))
        .orderBy("id_a", "id_b")
    },

    // Embedding cosine near-dup, SRP-bucketed, over a corpus with
    // injected duplicate vectors.
    "q_embed_neardup" -> { (s, dir) =>
      val e = Tables.read(s, dir, "embeddings")
      val withDups = spread(e.unionByName(e.filter(col("vec_id") % 20 === 0)
        .withColumn("vec_id", col("vec_id") + 10000)))
      Dedup.embeddingNearDupPairs(withDups, threshold = 0.9, bits = 16, bands = 4)
        .select("id_a", "id_b").orderBy("id_a", "id_b")
    },

    // The narrow-vector (carryVectors) shape of the same operator:
    // vectors ride the band self-join instead of rejoining after the
    // candidate distinct (see the crossover table in PLANS.md). Same
    // oracle as q_embed_neardup — the two shapes are required to
    // produce identical pair sets, so this row pins shape-equivalence
    // against the external oracle, not just the ScalaTest parity check.
    "q_embed_neardup_carry" -> { (s, dir) =>
      val e = Tables.read(s, dir, "embeddings")
      val withDups = spread(e.unionByName(e.filter(col("vec_id") % 20 === 0)
        .withColumn("vec_id", col("vec_id") + 10000)))
      Dedup.embeddingNearDupPairs(withDups, threshold = 0.9, bits = 16, bands = 4,
          carryVectors = true)
        .select("id_a", "id_b").orderBy("id_a", "id_b")
    },

    // Corpus-wide exact paragraph dedup over a fixture of 3-paragraph
    // documents (paragraphs are base-table texts joined with blank
    // lines; every 3rd document's middle paragraph is the SAME
    // boilerplate text — the crawled-header/footer regime). The first
    // occurrence survives in place; every later verbatim copy is
    // stripped and the documents reassembled.
    "q_strip_paragraphs" -> { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val boiler = base.filter(col("doc_id") === 1).select(col("text").as("__b"))
      val slots = base.select(expr("doc_id div 3").as("d"),
        pmod(col("doc_id"), lit(3)).as("slot"), col("text"))
      val g = slots.groupBy("d").agg(
        max(when(col("slot") === 0, col("text"))).as("t0"),
        max(when(col("slot") === 1, col("text"))).as("t1"),
        max(when(col("slot") === 2, col("text"))).as("t2"),
        count(lit(1)).as("n")).filter(col("n") === 3)
      val fixture = g.crossJoin(broadcast(boiler)).select(col("d").as("doc_id"),
        concat_ws("\n\n", col("t0"),
          when(pmod(col("d"), lit(3)) === 0, col("__b")).otherwise(col("t1")),
          col("t2")).as("text"))
      Dedup.stripDuplicateParagraphs(spread(fixture)).orderBy("doc_id")
    },

    // Substring-window exact dedup: a 30-token chunk of doc 1's prefix
    // is appended to every doc_id % 4 == 2 document — a duplicated
    // span that crosses whatever paragraph boundary precedes it, the
    // case paragraph dedup is structurally blind to. Doc 1 keeps its
    // prefix (globally-first occurrence at (1, 0)); every injected
    // copy is stripped.
    "q_dedup_substring" -> { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val chunk = base.filter(col("doc_id") === 1).select(
        array_join(slice(graft.plans.WordShingles.shingles(col("text"), 1),
          1, 30), " ").as("__c"))
      val fixture = base.crossJoin(broadcast(chunk)).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 2,
          concat(col("text"), lit(" "), col("__c")))
          .otherwise(col("text")).as("text"))
      Dedup.stripDuplicateWindows(spread(fixture), windowTokens = 10)
        .orderBy("doc_id")
    },

    // GLOBAL char-granularity exact-substring dedup: a 100-char slice
    // of doc 1 starting MID-WORD (char 11) is appended to every
    // doc ≡ 2 (mod 4) with no separator, so the copy re-tokenizes
    // differently and token windows cannot see it — the char-span
    // form must strip it byte-exactly from every copy but doc 1's.
    "q_dedup_substring_global" -> { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val chunk = base.filter(col("doc_id") === 1)
        .select(substring(col("text"), 11, 100).as("__c"))
      val fixture = base.crossJoin(broadcast(chunk)).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 2,
          concat(col("text"), col("__c")))
          .otherwise(col("text")).as("text"))
      Dedup.stripDuplicateCharSpans(spread(fixture), minSpanChars = 40)
        .orderBy("doc_id")
    },

    // (oracle below: q_dedup_substring_global replicates the char-span
    // rule with md5 gram keys — see oracles map)

    // Near-dup clusters: connected components over the MinHash pairs
    // via distributed label propagation.
    "q_dedup_clusters" -> { (s, dir) =>
      val pairs = Dedup.minhashNearDupPairs(nearDupCorpus(s, dir), shingleN = 3,
        k = 12, bands = 4, threshold = 0.5)
      Dedup.nearDupClusters(pairs).orderBy("doc_id")
    },

    // MinHash via the native XxMinHash Catalyst expression (codegen'd
    // single-pass signatures). The seeded Kirsch–Mitzenmacher xxhash64
    // family has no external oracle (and band recall is
    // family-dependent, so pair-set equality with the md5 family is
    // NOT an invariant — they diverge on borderline near-dups at
    // sf0.1). The hash-checked contract: over a corpus carrying the
    // tail near-dups as noise plus injected EXACT duplicates, the fast
    // path recovers every exact duplicate — identical text → identical
    // signature → all bands shared → candidate, so recovery is
    // guaranteed by construction — and its exact-Jaccard verify
    // computes exactly 1.0 for them. Any signature, banding, or verify
    // drift flips a pinned column. (The md5-family pair rows are
    // already fully oracle-checked by q_dedup_minhash; re-deriving
    // them here would double the query's cost for zero extra
    // constraint.)
    "q_dedup_minhash_fast" -> { (s, dir) =>
      val base = docs(s, dir).select("doc_id", "text")
      val corpus = nearDupCorpus(s, dir).unionByName(
        base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 40000).as("doc_id"), col("text")))
      val fast = Dedup.minhashNearDupPairsFast(corpus, shingleN = 3, k = 12,
        bands = 4, threshold = 0.5)
      val truth = base
        .filter(col("doc_id") % 7 === 0 &&
          size(graft.plans.WordShingles.shingles(col("text"), 3,
            distinct = true)) > 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 40000).as("id_b"))
      truth.join(fast.select(col("id_a"), col("id_b"), col("jaccard"),
          lit(true).as("__f")), Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"),
          coalesce(col("__f"), lit(false)).as("found_by_fast"),
          col("jaccard"))
        .orderBy("id_a", "id_b")
    },

    // Incremental near-dup: a new batch (every 5th doc + injected
    // near-copies of existing docs) against the precomputed signature
    // index of the existing corpus — no existing×existing re-pairing.
    // Injected ids ride a 10^8 offset: the oracle's existing-doc
    // predicate is an id threshold, and the sf1 upsample sweep proved
    // a small offset (20000) collides with a larger corpus's id space,
    // silently flipping existing docs into the "new batch" on the
    // oracle side (round-12 finding; Spark's operator needs no
    // threshold and was correct).
    "q_dedup_incr" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val existing = spread(d.filter(col("doc_id") % 5 =!= 0))
      val newBatch = spread(d.filter(col("doc_id") % 5 === 0)
        .unionByName(d.filter(col("doc_id") % 5 === 1)
          .select((col("doc_id") + 100000000L).as("doc_id"),
            concat(col("text"), lit(" extra near dup tail")).as("text"))))
      val index = Dedup.minhashSignatures(existing, "text", "doc_id", 3, 12)
      Dedup.minhashIncrementalPairs(index, newBatch)
        .orderBy("id_a", "id_b")
    },

    // Bloom-prefiltered exact dedup of a new batch against the
    // historical content-hash index: fresh docs (doc_id % 5 == 0) plus
    // re-ingested exact copies of indexed docs (doc_id % 10 == 1 under
    // new ids). The copies must be dropped, the fresh docs kept — the
    // result is required to be IDENTICAL to a plain anti-join (bloom
    // false positives may only cost confirm-join work, never rows).
    "q_dedup_bloom" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val index = spread(d.filter(col("doc_id") % 5 =!= 0))
        .select(md5(col("text")).as("content_hash"))
      val newBatch = spread(d.filter(col("doc_id") % 5 === 0)
        .unionByName(d.filter(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 30000).as("doc_id"), col("text"))))
      Dedup.exactDedupAgainstIndex(newBatch, index)
        .select("doc_id").orderBy("doc_id")
    },

    // Corpus-wide common-line strip: a subscription prompt is injected
    // into every 3rd doc and a copyright line into every 2nd (both
    // well over the df threshold → stripped from ALL docs, no
    // first-occurrence exemption), plus a 1-char "©" line into every
    // 7th doc — under the 4-char floor, so it survives at any df.
    // Original text lines (df 1) must round-trip byte-identical.
    "q_strip_common_lines" -> { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val fixture = base.select(col("doc_id"), concat(
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("SUBSCRIBE TO OUR NEWSLETTER\n")).otherwise(lit("")),
        col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit("\n©"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("\nAll rights reserved worldwide")).otherwise(lit("")))
        .as("text"))
      Dedup.stripCommonLines(spread(fixture), maxDf = 50, minLineChars = 4)
        .orderBy("doc_id")
    },

    // Leakage-safe train/val/test split: assignment decided per
    // near-dup cluster (not per doc), so a near-copy of a held-out doc
    // can never survive in train. 10% val / 10% test by the
    // deterministic md5 permyriad bucket of the cluster key.
    "q_split_safe" -> { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val pairs = Dedup.minhashNearDupPairs(corpus, shingleN = 3, k = 12,
        bands = 4, threshold = 0.5)
      val clusters = Dedup.nearDupClusters(pairs)
      graft.pipeline.Corpus.leakageSafeSplit(corpus, clusters,
          valPermyriad = 1000, testPermyriad = 1000)
        .select("doc_id", "split").orderBy("doc_id")
    },

    // Dedup-key text normalization (accent fold + case + punctuation
    // collapse) and the exact-dup groups it exposes that raw md5 missed.
    "q_normalize" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val extra = d.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(upper(col("text")), lit("  !!")).as("text"))
      d.unionByName(extra)
        .select(col("doc_id"),
          md5(TextFns.normalizeForDedup(col("text"))).as("norm_key"))
        .groupBy("norm_key").agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("keep_id"))
        .filter(col("n_docs") > 1)
        .orderBy("keep_id")
    }
  )

  def oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents
        |UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0)
        |SELECT md5(text) AS content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
        |FROM all_docs GROUP BY md5(text) HAVING COUNT(*) > 1
        |ORDER BY content_hash""".stripMargin,

    "q_dedup_keep" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents
        |UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0),
        |keep AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id FROM all_docs GROUP BY md5(text))
        |SELECT doc_id FROM keep ORDER BY doc_id""".stripMargin,

    "q_embed_neardup" ->
      s"""WITH wd AS (SELECT vec_id, embedding FROM embeddings
         |UNION ALL SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
         |sig AS (SELECT vec_id, embedding, ${srpSigSql("embedding", 16)} AS sig FROM wd),
         |banded AS (SELECT vec_id, embedding, band, substr(sig, band*4 + 1, 4) AS band_key
         |FROM sig CROSS JOIN (SELECT unnest(range(0,4)) AS band) bs),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |a.embedding AS v_a, b.embedding AS v_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
         |WHERE a.vec_id < b.vec_id)
         |SELECT id_a, id_b FROM cand WHERE ${cosineSql("v_a", "v_b")} >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,

    "q_strip_paragraphs" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |slots AS (SELECT doc_id // 3 AS d, doc_id % 3 AS slot, text FROM base),
        |g AS (SELECT d, max(CASE WHEN slot = 0 THEN text END) AS t0,
        |max(CASE WHEN slot = 1 THEN text END) AS t1,
        |max(CASE WHEN slot = 2 THEN text END) AS t2, count(*) AS n
        |FROM slots GROUP BY d),
        |fixture AS (SELECT d AS doc_id, t0 || e'\n\n' ||
        |(CASE WHEN d % 3 = 0 THEN (SELECT text FROM base WHERE doc_id = 1) ELSE t1 END)
        ||| e'\n\n' || t2 AS text FROM g WHERE n = 3),
        |p0 AS (SELECT doc_id, regexp_split_to_array(text, '\n{2,}') AS parts FROM fixture),
        |p1 AS (SELECT doc_id, parts, unnest(generate_series(1, len(parts))) AS i FROM p0),
        |paras AS (SELECT doc_id, i - 1 AS pos, parts[i] AS para FROM p1),
        |firsts AS (SELECT md5(para) AS pk, min(doc_id * 1000000 + pos) AS fk
        |FROM paras GROUP BY md5(para)),
        |kept AS (SELECT p.doc_id, p.pos, p.para FROM paras p JOIN firsts f
        |ON md5(p.para) = f.pk AND p.doc_id * 1000000 + p.pos = f.fk),
        |rebuilt AS (SELECT doc_id, string_agg(para, e'\n\n' ORDER BY pos) AS text
        |FROM kept GROUP BY doc_id)
        |SELECT f.doc_id, coalesce(r.text, '') AS text
        |FROM fixture f LEFT JOIN rebuilt r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Same window fingerprints (md5 over space-joined 10-grams), same
    // first-occurrence rule ((doc_id, pos) lexicographic via the
    // doc_id*1e6+pos scalar, valid while pos < 1e6), independently
    // window/list-based rather than the engine's join shape.
    "q_dedup_substring" ->
      """WITH fixture AS (SELECT doc_id,
        |CASE WHEN doc_id % 4 = 2 THEN text || ' ' ||
        |(SELECT array_to_string(list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '')[1:30], ' ') FROM documents WHERE doc_id = 1)
        |ELSE text END AS text FROM documents),
        |ta AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
        |x -> x <> '') AS toks FROM fixture),
        |w0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 9)) AS i
        |FROM ta WHERE len(toks) >= 10),
        |wk AS (SELECT doc_id, i - 1 AS pos,
        |md5(array_to_string(toks[i:i+9], ' ')) AS k FROM w0),
        |firsts AS (SELECT k, min(doc_id * 1000000 + pos) AS fk, count(*) AS n
        |FROM wk GROUP BY k),
        |dups AS (SELECT wk.doc_id, wk.pos FROM wk JOIN firsts f ON wk.k = f.k
        |WHERE f.n > 1 AND wk.doc_id * 1000000 + wk.pos <> f.fk),
        |cov AS (SELECT DISTINCT doc_id, idx FROM
        |(SELECT doc_id, unnest(generate_series(pos, pos + 9)) AS idx FROM dups)),
        |t1 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM ta),
        |tk AS (SELECT doc_id, i - 1 AS idx, toks[i] AS tok FROM t1),
        |kept AS (SELECT t.doc_id, t.idx, t.tok FROM tk t LEFT JOIN cov c
        |ON t.doc_id = c.doc_id AND t.idx = c.idx WHERE c.doc_id IS NULL),
        |rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text
        |FROM kept GROUP BY doc_id)
        |SELECT f.doc_id, coalesce(r.text, '') AS text
        |FROM fixture f LEFT JOIN rebuilt r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Char-granularity global substring rule replayed per character:
    // stride-1 40-char grams keyed by md5 (the engine's 128-bit
    // xxhash64 pair and this md5 key are both collision-free stand-ins
    // for gram equality), corpus-first (id, pos) kept, covered chars
    // removed, survivors re-agged in char order. Untouched docs
    // round-trip byte-identical (no normalization in this form).
    "q_dedup_substring_global" ->
      """WITH fixture AS (SELECT doc_id,
        |CASE WHEN doc_id % 4 = 2 THEN text ||
        |(SELECT substr(text, 11, 100) FROM documents WHERE doc_id = 1)
        |ELSE text END AS text FROM documents),
        |el AS (SELECT doc_id, text FROM fixture WHERE len(text) >= 40),
        |g0 AS (SELECT doc_id, text, unnest(range(0, len(text) - 39)) AS pos FROM el),
        |wk AS (SELECT doc_id, pos, md5(substr(text, pos + 1, 40)) AS k FROM g0),
        |firsts AS (SELECT k, min(doc_id * 1000000 + pos) AS fk, count(*) AS n
        |FROM wk GROUP BY k),
        |dups AS (SELECT wk.doc_id, wk.pos FROM wk JOIN firsts f ON wk.k = f.k
        |WHERE f.n > 1 AND wk.doc_id * 1000000 + wk.pos <> f.fk),
        |cov AS (SELECT DISTINCT doc_id, idx FROM
        |(SELECT doc_id, unnest(range(pos, pos + 40)) AS idx FROM dups)),
        |c0 AS (SELECT doc_id, text, unnest(range(0, len(text))) AS idx FROM fixture),
        |ck AS (SELECT doc_id, idx, substr(text, idx + 1, 1) AS ch FROM c0),
        |kept AS (SELECT t.doc_id, t.idx, t.ch FROM ck t LEFT JOIN cov c
        |ON t.doc_id = c.doc_id AND t.idx = c.idx WHERE c.doc_id IS NULL),
        |rebuilt AS (SELECT doc_id, string_agg(ch, '' ORDER BY idx) AS text
        |FROM kept GROUP BY doc_id)
        |SELECT f.doc_id, coalesce(r.text, '') AS text
        |FROM fixture f LEFT JOIN rebuilt r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // identical pair set required from the carryVectors shape
    "q_embed_neardup_carry" ->
      s"""WITH wd AS (SELECT vec_id, embedding FROM embeddings
         |UNION ALL SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
         |sig AS (SELECT vec_id, embedding, ${srpSigSql("embedding", 16)} AS sig FROM wd),
         |banded AS (SELECT vec_id, embedding, band, substr(sig, band*4 + 1, 4) AS band_key
         |FROM sig CROSS JOIN (SELECT unnest(range(0,4)) AS band) bs),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |a.embedding AS v_a, b.embedding AS v_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
         |WHERE a.vec_id < b.vec_id)
         |SELECT id_a, id_b FROM cand WHERE ${cosineSql("v_a", "v_b")} >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $nearDupCorpusSql,
         |w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM all_docs),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
         |THEN list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))
         |ELSE [] END) AS shingles FROM w),
         |shf AS (SELECT * FROM sh WHERE len(shingles) > 0),
         |sig AS (SELECT doc_id, shingles, list_transform(range(0, 12),
         |i -> list_min(list_transform(shingles, s -> md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig FROM shf),
         |band AS (SELECT doc_id, t.b AS band, md5(array_to_string(sig[t.b*3+1:t.b*3+3], '|')) AS band_key
         |FROM sig, range(0, 4) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM band a
         |JOIN band b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |j AS (SELECT id_a, id_b,
         |CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
         |len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
         |FROM cand JOIN shf x ON x.doc_id = id_a JOIN shf y ON y.doc_id = id_b),
         |pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (SELECT id_a, id_b FROM edges
         |UNION SELECT r.src, e.id_b FROM reach r JOIN edges e ON r.dst = e.id_a)
         |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    // same cluster derivation as q_dedup_clusters, then quality scores
    // (the q_quality formula over all_docs) and the per-cluster argmax
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $nearDupCorpusSql,
         |w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM all_docs),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
         |THEN list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))
         |ELSE [] END) AS shingles FROM w),
         |shf AS (SELECT * FROM sh WHERE len(shingles) > 0),
         |sig AS (SELECT doc_id, shingles, list_transform(range(0, 12),
         |i -> list_min(list_transform(shingles, s -> md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig FROM shf),
         |band AS (SELECT doc_id, t.b AS band, md5(array_to_string(sig[t.b*3+1:t.b*3+3], '|')) AS band_key
         |FROM sig, range(0, 4) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM band a
         |JOIN band b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |j AS (SELECT id_a, id_b,
         |CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
         |len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
         |FROM cand JOIN shf x ON x.doc_id = id_a JOIN shf y ON y.doc_id = id_b),
         |pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (SELECT id_a, id_b FROM edges
         |UNION SELECT r.src, e.id_b FROM reach r JOIN edges e ON r.dst = e.id_a),
         |clus AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src),
         |t AS (SELECT doc_id, text,
         |list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks FROM all_docs),
         |c AS (SELECT doc_id,
         |CAST(length(text) AS DOUBLE) AS chars,
         |CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS alpha,
         |CAST(len(list_filter(toks, x -> list_contains(
         |['the','a','of','and','is','le','la','les','et','des','der','die','und','das','ist','el','los','las','y','es'], x))) AS DOUBLE) AS stop,
         |greatest(len(toks), 1) AS ntoks
         |FROM t),
         |q AS (SELECT doc_id, round((
         |least(chars/500.0, 1.0) +
         |(CASE WHEN chars > 0 THEN alpha/chars ELSE 0.0 END) +
         |least(stop*10.0/CAST(ntoks AS DOUBLE), 1.0)) / 3.0, 6) AS quality
         |FROM c),
         |wn AS (SELECT doc_id FROM (SELECT cl.doc_id, cl.cluster_id,
         |row_number() OVER (PARTITION BY cl.cluster_id
         |ORDER BY q.quality DESC, cl.doc_id) AS r
         |FROM clus cl JOIN q USING (doc_id)) WHERE r = 1)
         |SELECT doc_id FROM all_docs
         |WHERE doc_id NOT IN (SELECT doc_id FROM clus)
         |UNION ALL SELECT doc_id FROM wn
         |ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH $nearDupCorpusSql,
         |w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM all_docs),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
         |THEN list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))
         |ELSE [] END) AS shingles FROM w),
         |shf AS (SELECT * FROM sh WHERE len(shingles) > 0),
         |sig AS (SELECT doc_id, shingles, list_transform(range(0, 12),
         |i -> list_min(list_transform(shingles, s -> md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig FROM shf),
         |band AS (SELECT doc_id, t.b AS band, md5(array_to_string(sig[t.b*3+1:t.b*3+3], '|')) AS band_key
         |FROM sig, range(0, 4) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM band a
         |JOIN band b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |j AS (SELECT id_a, id_b,
         |CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
         |len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
         |FROM cand JOIN shf x ON x.doc_id = id_a JOIN shf y ON y.doc_id = id_b)
         |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    // Ground-truth injected exact-duplicate pairs; the fast xxhash64
    // path's guaranteed recovery and its exact-Jaccard verify value
    // (identical shingle sets → exactly 1.0) are pinned.
    "q_dedup_minhash_fast" ->
      """SELECT doc_id AS id_a, doc_id + 40000 AS id_b,
        |true AS found_by_fast, CAST(1.0 AS DOUBLE) AS jaccard
        |FROM documents
        |WHERE doc_id % 7 = 0
        |AND len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) >= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Ground-truth injected exact-duplicate pairs; the simhash path's
    // guaranteed recovery of hamming-0 pairs and the native
    // expression's composed-form identity are pinned by the
    // literal-true columns.
    "q_dedup_simhash" ->
      """SELECT doc_id AS id_a, doc_id + 40000 AS id_b,
        |true AS found_by_simhash, true AS native_matches_composed
        |FROM documents
        |WHERE doc_id % 7 = 0
        |AND len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) > 0
        |ORDER BY id_a, id_b""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH $nearDupCorpusSql,
         |w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM all_docs),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 4
         |THEN list_transform(range(1, len(w)-2), i -> array_to_string(w[i:i+3], ' '))
         |ELSE [] END) AS shingles FROM w),
         |shf AS (SELECT * FROM sh WHERE len(shingles) > 0),
         |p AS (SELECT doc_id, unnest(shingles) AS shingle FROM shf),
         |rare AS (SELECT shingle FROM p GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND 50),
         |bl AS (SELECT p.doc_id, p.shingle FROM p JOIN rare USING (shingle)),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM bl a
         |JOIN bl b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2),
         |j AS (SELECT id_a, id_b,
         |CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
         |len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
         |FROM cand JOIN shf x ON x.doc_id = id_a JOIN shf y ON y.doc_id = id_b)
         |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    "q_prefix_jaccard" ->
      s"""WITH $nearDupCorpusSql,
         |w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM all_docs),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 4
         |THEN list_transform(range(1, len(w)-2), i -> array_to_string(w[i:i+3], ' '))
         |ELSE [] END) AS shingles FROM w),
         |shf AS (SELECT * FROM sh WHERE len(shingles) > 0),
         |p AS (SELECT doc_id, unnest(shingles) AS shingle FROM shf),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM p a
         |JOIN p b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |GROUP BY 1, 2),
         |j AS (SELECT id_a, id_b,
         |len(list_intersect(x.shingles, y.shingles)) AS i,
         |len(list_distinct(list_concat(x.shingles, y.shingles))) AS u
         |FROM cand JOIN shf x ON x.doc_id = id_a JOIN shf y ON y.doc_id = id_b)
         |SELECT id_a, id_b, CAST(i AS DOUBLE) / u AS jaccard FROM j
         |WHERE i * 1000000 >= 400000 * u
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_editdist" ->
      s"""WITH $nearDupCorpusSql,
         |w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM all_docs),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 4
         |THEN list_transform(range(1, len(w)-2), i -> array_to_string(w[i:i+3], ' '))
         |ELSE [] END) AS shingles FROM w),
         |shf AS (SELECT * FROM sh WHERE len(shingles) > 0),
         |p AS (SELECT doc_id, unnest(shingles) AS shingle FROM shf),
         |rare AS (SELECT shingle FROM p GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND 50),
         |bl AS (SELECT p.doc_id, p.shingle FROM p JOIN rare USING (shingle)),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM bl a
         |JOIN bl b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2),
         |e AS (SELECT id_a, id_b, levenshtein(x.text, y.text) AS edits
         |FROM cand JOIN all_docs x ON x.doc_id = id_a JOIN all_docs y ON y.doc_id = id_b
         |WHERE abs(len(x.text) - len(y.text)) <= 24)
         |SELECT id_a, id_b, edits FROM e WHERE edits <= 24
         |ORDER BY id_a, id_b""".stripMargin,

    "q_containment" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents UNION ALL
        |SELECT doc_id + 20000, text || ' extra near dup tail' FROM documents WHERE doc_id % 11 = 0
        |UNION ALL SELECT doc_id + 30000,
        |array_to_string(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[1:8], ' ')
        |FROM documents WHERE doc_id % 13 = 0),
        |w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM all_docs),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 4
        |THEN list_transform(range(1, len(w)-2), i -> array_to_string(w[i:i+3], ' '))
        |ELSE [] END) AS shingles FROM w),
        |shf AS (SELECT * FROM sh WHERE len(shingles) > 0),
        |p AS (SELECT doc_id, unnest(shingles) AS shingle FROM shf),
        |rare AS (SELECT shingle FROM p GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND 50),
        |bl AS (SELECT p.doc_id, p.shingle FROM p JOIN rare USING (shingle)),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM bl a
        |JOIN bl b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2),
        |c AS (SELECT id_a, id_b,
        |CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) AS inter,
        |len(x.shingles) AS na, len(y.shingles) AS nb
        |FROM cand JOIN shf x ON x.doc_id = id_a JOIN shf y ON y.doc_id = id_b),
        |f AS (SELECT id_a, id_b, greatest(inter/na, inter/nb) AS containment,
        |CASE WHEN inter/na > inter/nb THEN id_a
        |     WHEN inter/nb > inter/na THEN id_b
        |     ELSE least(id_a, id_b) END AS contained_id FROM c)
        |SELECT id_a, id_b, containment, contained_id FROM f
        |WHERE containment >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_incr" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents UNION ALL
        |SELECT doc_id + 100000000, text || ' extra near dup tail' FROM documents WHERE doc_id % 5 = 1),
        |w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM all_docs),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |THEN list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))
        |ELSE [] END) AS shingles FROM w),
        |shf AS (SELECT * FROM sh WHERE len(shingles) > 0),
        |sig AS (SELECT doc_id, shingles, list_transform(range(0, 12),
        |i -> list_min(list_transform(shingles, s -> md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig FROM shf),
        |band AS (SELECT doc_id, t.b AS band, md5(array_to_string(sig[t.b*3+1:t.b*3+3], '|')) AS band_key
        |FROM sig, range(0, 4) t(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM band a
        |JOIN band b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |WHERE NOT (a.doc_id < 100000000 AND a.doc_id % 5 <> 0
        |       AND b.doc_id < 100000000 AND b.doc_id % 5 <> 0)),
        |j AS (SELECT id_a, id_b,
        |CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
        |len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
        |FROM cand JOIN shf x ON x.doc_id = id_a JOIN shf y ON y.doc_id = id_b)
        |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // The oracle is the PLAIN anti-join the bloom path must equal.
    "q_dedup_bloom" ->
      """WITH batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |UNION ALL SELECT doc_id + 30000, text FROM documents WHERE doc_id % 10 = 1),
        |idx AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0)
        |SELECT doc_id FROM batch WHERE md5(text) NOT IN (SELECT fp FROM idx)
        |ORDER BY doc_id""".stripMargin,

    // Independent line/window rendering of the common-line strip: df
    // by distinct doc over md5 line keys, strip df >= 50 lines of
    // length >= 4, rejoin on chr(10).
    "q_strip_common_lines" ->
      """WITH fixture AS (SELECT doc_id,
        |(CASE WHEN doc_id % 3 = 0 THEN 'SUBSCRIBE TO OUR NEWSLETTER' || chr(10) ELSE '' END)
        ||| text
        ||| (CASE WHEN doc_id % 7 = 0 THEN chr(10) || '©' ELSE '' END)
        ||| (CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'All rights reserved worldwide' ELSE '' END)
        |AS text FROM documents),
        |p0 AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM fixture),
        |p1 AS (SELECT doc_id, parts, unnest(generate_series(1, len(parts))) AS i FROM p0),
        |lines AS (SELECT doc_id, i - 1 AS pos, parts[i] AS line FROM p1),
        |hot AS (SELECT md5(line) AS lk FROM lines WHERE length(line) >= 4
        |GROUP BY md5(line) HAVING count(DISTINCT doc_id) >= 50),
        |kept AS (SELECT doc_id, pos, line FROM lines WHERE NOT
        |(length(line) >= 4 AND md5(line) IN (SELECT lk FROM hot))),
        |rebuilt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM kept GROUP BY doc_id)
        |SELECT f.doc_id, coalesce(r.text, '') AS text
        |FROM fixture f LEFT JOIN rebuilt r USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_split_safe" ->
      s"""WITH RECURSIVE $nearDupCorpusSql,
         |w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM all_docs),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
         |THEN list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))
         |ELSE [] END) AS shingles FROM w),
         |shf AS (SELECT * FROM sh WHERE len(shingles) > 0),
         |sig AS (SELECT doc_id, shingles, list_transform(range(0, 12),
         |i -> list_min(list_transform(shingles, s -> md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig FROM shf),
         |band AS (SELECT doc_id, t.b AS band, md5(array_to_string(sig[t.b*3+1:t.b*3+3], '|')) AS band_key
         |FROM sig, range(0, 4) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM band a
         |JOIN band b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |j AS (SELECT id_a, id_b,
         |CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
         |len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
         |FROM cand JOIN shf x ON x.doc_id = id_a JOIN shf y ON y.doc_id = id_b),
         |pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (SELECT id_a, id_b FROM edges
         |UNION SELECT r.src, e.id_b FROM reach r JOIN edges e ON r.dst = e.id_a),
         |clus AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src),
         |grp AS (SELECT d.doc_id, CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR) AS gk
         |FROM all_docs d LEFT JOIN clus c USING (doc_id)),
         |bk AS (SELECT doc_id,
         |${bucketSql("gk", 10000)} AS b
         |FROM grp)
         |SELECT doc_id, CASE WHEN b < 1000 THEN 'test'
         |WHEN b < 2000 THEN 'val' ELSE 'train' END AS split
         |FROM bk ORDER BY doc_id""".stripMargin,

    "q_normalize" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents UNION ALL
        |SELECT doc_id + 40000, upper(text) || '  !!' FROM documents WHERE doc_id % 13 = 0),
        |k AS (SELECT doc_id, md5(trim(regexp_replace(
        |translate(lower(text), 'áàâäãåéèêëíìîïóòôöõúùûüçñý', 'aaaaaaeeeeiiiiooooouuuucny'),
        |'[^a-z0-9]+', ' ', 'g'))) AS norm_key FROM all_docs)
        |SELECT norm_key, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
        |FROM k GROUP BY 1 HAVING COUNT(*) > 1
        |ORDER BY keep_id""".stripMargin
  )
}
