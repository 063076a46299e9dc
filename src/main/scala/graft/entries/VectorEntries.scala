package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.entries.Fixtures._
import graft.catalog.Tables
import graft.pipeline.{Multimodal, Similarity}

/** Vector / multimodal domain: ANN search (brute-force, LSH, IVF),
  * int8 quantization, and the multimodal decode/feature plumbing. */
private[graft] object VectorEntries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Integer-exact JL random projection: the pre-ANN compression step
    // (project wide embeddings to a compact sketch once at ingest).
    // Narrow per-row native expression, no shuffle; hash-exact because
    // components are fixed-point longs before the sum. Declared as
    // scalar (vec_id, pos, component) rows — posexplode of the sketch
    // array — so the comparator hashes plain integers.
    "q_embed_project" -> { (s, dir) =>
      Tables.read(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(graft.plans.VecProject.project(col("embedding"), k = 16)))
        .select(col("vec_id"), col("pos"), col("col").as("component"))
        .orderBy("vec_id", "pos")
    },

    // Brute-force cosine top-k (exact ANN baseline).
    "q_ann_topk" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .select("query_id", "neighbor_id", "rank").orderBy("query_id", "rank")
    },

    // LSH-bucketed approximate top-k.
    "q_ann_lsh" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .select("query_id", "neighbor_id", "rank").orderBy("query_id", "rank")
    },

    // Product-quantization ADC top-k: 4 subspaces × label-derived
    // codebooks, integer fixed-point distance table (floor(d2·2^20))
    // so the ADC sum is order-free and hash-exact.
    "q_ann_pq" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      val books = Similarity.pqCodebooks(e, m = 4, subDim = 16)
      val codes = Similarity.pqEncode(e, books, m = 4, subDim = 16)
      Similarity.pqAdcTopK(codes, e.filter(col("vec_id") < 10), books,
          k = 5, m = 4, subDim = 16)
        .orderBy("query_id", "rank")
    },

    // MMR diversification: greedy rel-minus-redundancy selection of 5
    // from each query's cosine top-20, fixed-point scores so the
    // greedy trajectory is integer-deterministic.
    "q_mmr" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      Similarity.mmrTopK(e, e.filter(col("vec_id") < 10),
          select = 5, poolSize = 20)
        .orderBy("query_id", "sel_rank")
    },

    // Hybrid-retrieval rank fusion: cosine and L2 brute-force lists
    // (k=10 each) merged by reciprocal-rank fusion into a consensus
    // top-5 — integer RRF weights, so the fused score is hash-exact.
    "q_rrf" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      val probes = e.filter(col("vec_id") < 10)
      Similarity.rrfFuse(Seq(
          Similarity.bruteForceTopK(e, probes, k = 10),
          Similarity.bruteForceTopKL2(e, probes, k = 10)), k = 5)
        .orderBy("query_id", "rank")
    },

    // Hard negatives: nearest neighbors with a DIFFERENT label.
    "q_hard_negatives" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 10), k = 5)
        .select("query_id", "neighbor_id", "rank").orderBy("query_id", "rank")
    },

    // IVF cell-routed approximate top-k over label-derived centroids
    // (decimal-exact centroids so the oracle replicates them).
    "q_ann_ivf" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10),
          Similarity.centroids(e), k = 5, nprobe = 3)
        .select("query_id", "neighbor_id", "rank").orderBy("query_id", "rank")
    },

    // Incremental IVF: the maintained assignment index absorbs a new
    // batch (every 20th vector re-ingested under vec_id + 10000 — 25
    // exact duplicates, so the new rows provably land at rank 1 for
    // their originals' queries) without re-assigning the standing
    // corpus; ids disjoint by construction, centroids held fixed.
    // Results must equal full ivfTopK over the union corpus — the
    // oracle computes exactly that.
    "q_ann_ivf_incr" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      val cents = Similarity.centroids(e)
      val index = Similarity.ivfAssign(e, cents)
      val newVecs = e.filter(col("vec_id") % 20 === 0)
        .withColumn("vec_id", col("vec_id") + 10000)
      Similarity.ivfTopKIncremental(index, newVecs,
          e.filter(col("vec_id") < 10), cents, k = 5, nprobe = 3)
        .select("query_id", "neighbor_id", "rank").orderBy("query_id", "rank")
    },

    // Recall@k of the IVF index against the exact brute-force ground
    // truth — the continuous index-quality monitor; integer-ppm.
    "q_ann_recall" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      val queries = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, queries, k = 5)
      val approx = Similarity.ivfTopK(e, queries,
        Similarity.centroids(e), k = 5, nprobe = 3)
      Similarity.recallAtK(approx, exact).orderBy("query_id")
    },

    // IVF maintenance under drift: a x10-scaled copy of every label-2
    // vector (ids +10000) is ingested into the index, then the
    // quantizer re-trains warm-start on the vec_id%4 sample and ONLY
    // cells whose centroid moved >0.5 squared-L2 (or dropped) pay
    // re-assignment — the fixture yields BOTH changed and unchanged
    // cells at every sf, so the selective path and the keep path are
    // each exercised. The oracle replays the whole trajectory: old
    // quantizer, index assignment, sampled retrain means, displacement
    // diff, selective re-assign.
    "q_ann_ivf_retrain" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      val cents = Similarity.centroids(e)
      val drift = e.filter(col("label") === 2)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => (x * lit(10.0f)).cast("float"))
            .as("embedding"))
      val index = Similarity.ivfAssign(
        e.select("vec_id", "embedding").unionByName(drift), cents)
      val newCents = Similarity.ivfRetrainCentroids(index, cents, iters = 1)
      Similarity.ivfReassignDrifted(index, cents, newCents, epsilon = 0.5)
        .select(col("vec_id"), col("cell")).orderBy("vec_id")
    },

    // Lloyd's k-means (2 assignment passes, 1 centroid update) from
    // the label-derived init — every iteration decimal-exact and
    // tie-deterministic, so DuckDB replays the full trajectory.
    "q_kmeans" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      Similarity.kmeans(e, Similarity.centroids(e), iters = 2)
        .select(col("vec_id"), col("cell").as("cluster"))
        .orderBy("vec_id")
    },

    // SemDeDup semantic dedup: ~64-cell quantizer from a composite
    // label×id init (production sizes k ∝ N — the per-cell pair
    // bound), tau=0.95. Exact-copy injections (vec_id + 10000) must
    // drop while their lower-id originals survive (equal centroid-sim
    // → id tie-break), so both the near-dup and the priority path
    // provably fire.
    "q_semdedup" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      val corpus = e.unionByName(e.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 10000))
      val init = Similarity.centroids(e.withColumn("label",
        col("label") * 8 + pmod(col("vec_id"), lit(8))))
      Similarity.semDedup(corpus, init, tau = 0.95)
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .orderBy("vec_id")
    },

    // Semantic decontamination: drop corpus vectors whose embedding is
    // SRP-band-candidate AND cosine-near a benchmark vector — the
    // paraphrase-robust complement to the n-gram q_decontaminate.
    // Benchmark copies are injected into the corpus (vec_id + 10000)
    // so the contamination path provably fires: the 10 injected rows
    // must NOT survive, the 490 organic rows must.
    "q_semantic_decon" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      val bench = e.filter(col("vec_id") < 10)
      val corpus = e.filter(col("vec_id") >= 10).unionByName(
        bench.withColumn("vec_id", col("vec_id") + 10000))
      graft.pipeline.Corpus.semanticDecontaminate(corpus, bench,
          threshold = 0.9)
        .select("vec_id", "label").orderBy("vec_id")
    },

    // Bloom-prefiltered semantic decontamination: the oversized-
    // benchmark regime (bits=64/bands=8 selective geometry + broadcast
    // Bloom over bench band keys + exact band/cosine confirm). Same
    // fixture and contamination contract as q_semantic_decon; the
    // oracle independently replays the 64-bit banding and exact
    // cosine, so a Bloom false positive surviving the confirm — or a
    // lost true candidate — breaks the hash.
    "q_semantic_decon_bloom" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
      val bench = e.filter(col("vec_id") < 10)
      val corpus = e.filter(col("vec_id") >= 10).unionByName(
        bench.withColumn("vec_id", col("vec_id") + 10000))
      graft.pipeline.Corpus.semanticDecontaminateBloom(corpus, bench,
          threshold = 0.9)
        .select("vec_id", "label").orderBy("vec_id")
    },

    // Corpus prep: int8 embedding quantization (summarized per vector).
    "q_quantize" -> { (s, dir) =>
      val e = Tables.read(s, dir, "embeddings")
      val q = graft.pipeline.Corpus.quantize(col("embedding"))
      e.select(col("vec_id"), q.as("q"))
        .select(col("vec_id"),
          aggregate(col("q.codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
          round(col("q.vmin"), 6).as("vmin"), round(col("q.vmax"), 6).as("vmax"))
        .orderBy("vec_id")
    },

    // Multimodal plumbing: partition-batched decode features.
    // Real JDK codec round-trip: fixture PNG/WAV payloads are encoded
    // with ImageIO / javax.sound.sampled and decoded back by
    // extractFeatures; every output value is a codec-produced fact the
    // oracle predicts from the doc_id-derived encoding parameters.
    "q_media_features" -> { (s, dir) =>
      Multimodal.extractFeatures(Multimodal.syntheticMedia(spread(docs(s, dir))))
        .toDF().select("media_id", "kind", "width_px", "height_px",
          "dominant_bin", "dominant_frac", "sample_rate_hz", "n_samples",
          "peak", "frames_sampled")
        .orderBy("media_id")
    },

    // Perceptual-hash image dedup: real PNG encode/decode round-trip
    // of deterministic gradients, 64-bit aHash, group-by-hash keep.
    // The oracle predicts every hash from the encoding parameters —
    // possible because PNG is lossless and the hash is all-integer.
    "q_image_phash" -> { (s, dir) =>
      Multimodal.perceptualDedup(
          Multimodal.syntheticGradientImages(spread(docs(s, dir))))
        .orderBy("media_id")
    },

    // Header-only media metadata: container kind + dimensions + audio
    // params parsed from payload bytes with column expressions — no
    // codec anywhere in the plan. Oracle is closed-form from the
    // fixture's encoding parameters (PNG headers are deterministic).
    "q_media_meta" -> { (s, dir) =>
      Multimodal.headerMeta(Multimodal.syntheticMedia(spread(docs(s, dir))))
        .orderBy("media_id")
    },

    // Margin-based bitext mining (Artetxe-Schwenk "max" strategy):
    // even vec_ids play the source language, odd the target; top-5
    // retrieval both directions, fixed-point margin, mutual-best
    // pairs over margin >= 1.0. Sides bounded to vec_id < 1000 so the
    // oracle's all-pairs cosine replay stays tractable a decade up —
    // the scale path swaps in ivfTopK/lshTopK lists (profiled in
    // PROFILE_r18.json's bitext_mine row), margin arithmetic unchanged.
    "q_bitext_mine" -> { (s, dir) =>
      val e = spread(Tables.read(s, dir, "embeddings"))
        .filter(col("vec_id") < 1000)
      val src = e.filter(col("vec_id") % 2 === 0)
      val tgt = e.filter(col("vec_id") % 2 === 1)
      Similarity.marginMine(
          Similarity.bruteForceTopK(tgt, src, k = 5),
          Similarity.bruteForceTopK(src, tgt, k = 5), k = 5)
        .orderBy("src_id", "tgt_id")
    }
  )

  def oracles: Map[String, String] = Map(
    // Same ±1 sign rows (inlined literals from the shared generator),
    // same fixed-point floor — all-integer, so the hash can't drift.
    // Unnested to one row per sketch component (same shape as the
    // Spark entry's posexplode) so every compared cell is a scalar.
    "q_embed_project" ->
      s"""WITH p AS (SELECT vec_id, ${projSql("embedding", 16, 64, 42L, 1000000L)} AS proj
         |FROM embeddings)
         |SELECT vec_id, CAST(i AS INTEGER) AS pos, proj[i + 1] AS component
         |FROM p CROSS JOIN (SELECT unnest(range(0, 16)) AS i) idx
         |ORDER BY vec_id, pos""".stripMargin,

    "q_ann_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        s AS (SELECT qid, vec_id AS nid,
        list_cosine_similarity(qe, embedding) AS sim FROM q, embeddings WHERE vec_id <> qid),
        r AS (SELECT qid AS query_id, nid AS neighbor_id,
        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM s)
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5
        ORDER BY query_id, rank""",

    // Full margin-mining replay: ordered-fold cosines (bit-identical
    // doubles), fixed-point floor, per-direction top-5 rank windows,
    // exact integer neighborhood sums, BIGINT margin division, mutual
    // best. s2t0 holds every src×tgt cosine once — symmetry makes the
    // reverse direction a re-rank of the same rows, exactly as the
    // engine's two bruteForceTopK calls see them.
    "q_bitext_mine" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000),
         |s2t0 AS MATERIALIZED (SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
         |${cosineSql("s.embedding", "t.embedding")} AS sim
         |FROM e s JOIN e t ON s.vec_id % 2 = 0 AND t.vec_id % 2 = 1),
         |ranked AS MATERIALIZED (SELECT src_id, tgt_id,
         |CAST(floor(1048576 * sim) AS BIGINT) AS cos_fp,
         |row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS rk_s,
         |row_number() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS rk_t
         |FROM s2t0),
         |sum_s AS (SELECT src_id, SUM(cos_fp) AS sum_s, COUNT(*) AS n_s
         |FROM ranked WHERE rk_s <= 5 GROUP BY src_id),
         |sum_t AS (SELECT tgt_id, SUM(cos_fp) AS sum_t, COUNT(*) AS n_t
         |FROM ranked WHERE rk_t <= 5 GROUP BY tgt_id),
         |cands AS (SELECT DISTINCT src_id, tgt_id, cos_fp FROM ranked
         |WHERE rk_s <= 5 OR rk_t <= 5),
         |m AS MATERIALIZED (SELECT c.src_id, c.tgt_id, c.cos_fp,
         |(c.cos_fp * 2 * s.n_s * t.n_t * 1048576)
         |// (t.n_t * s.sum_s + s.n_s * t.sum_t) AS margin_fp
         |FROM cands c JOIN sum_s s ON s.src_id = c.src_id
         |JOIN sum_t t ON t.tgt_id = c.tgt_id
         |WHERE c.cos_fp >= 0 AND t.n_t * s.sum_s + s.n_s * t.sum_t > 0),
         |best AS (SELECT *,
         |row_number() OVER (PARTITION BY src_id ORDER BY margin_fp DESC, tgt_id) AS rs,
         |row_number() OVER (PARTITION BY tgt_id ORDER BY margin_fp DESC, src_id) AS rt
         |FROM m)
         |SELECT src_id, tgt_id, cos_fp, CAST(margin_fp AS BIGINT) AS margin_fp
         |FROM best WHERE rs = 1 AND rt = 1 AND margin_fp >= 1048576
         |ORDER BY src_id, tgt_id""".stripMargin,

    // unrolled greedy rounds, all CTEs MATERIALIZED; coalesce(ms, 0)
    // mirrors the Spark round-1 no-selection case
    "q_mmr" -> {
      val rounds = (2 to 5).map { i =>
        s"""ms$i AS (SELECT p.qid, p.a AS nid, MAX(p.sim_fp) AS ms
           |FROM pairs p JOIN acc${i - 1} s ON s.qid = p.qid AND s.nid = p.b
           |GROUP BY 1, 2),
           |sel$i AS MATERIALIZED (SELECT qid, nid, rel_fp, $i AS sel_rank FROM
           |(SELECT c.qid, c.nid, c.rel_fp,
           |row_number() OVER (PARTITION BY c.qid
           |ORDER BY c.rel_fp - COALESCE(m.ms, 0) DESC, c.nid) AS rn
           |FROM cands c LEFT JOIN ms$i m ON m.qid = c.qid AND m.nid = c.nid
           |WHERE NOT EXISTS (SELECT 1 FROM acc${i - 1} s
           |WHERE s.qid = c.qid AND s.nid = c.nid)) WHERE rn = 1),
           |acc$i AS MATERIALIZED (SELECT * FROM acc${i - 1}
           |UNION ALL SELECT * FROM sel$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |s0 AS (SELECT qid, vec_id AS nid, embedding AS ne,
         |${cosineSql("qe", "embedding")} AS sim
         |FROM q, embeddings WHERE vec_id <> qid),
         |pool AS MATERIALIZED (SELECT qid, nid, ne,
         |CAST(floor(1048576 * sim) AS BIGINT) AS rel_fp,
         |row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM s0),
         |cands AS MATERIALIZED (SELECT qid, nid, ne, rel_fp FROM pool WHERE rk <= 20),
         |p0 AS (SELECT a.qid, a.nid AS a, b.nid AS b, a.ne AS va, b.ne AS vb
         |FROM cands a JOIN cands b ON a.qid = b.qid AND a.nid <> b.nid),
         |pairs AS MATERIALIZED (SELECT qid, a, b,
         |CAST(floor(1048576 * ${cosineSql("va", "vb")}) AS BIGINT) AS sim_fp
         |FROM p0),
         |sel1 AS MATERIALIZED (SELECT qid, nid, rel_fp, 1 AS sel_rank FROM
         |(SELECT qid, nid, rel_fp, row_number() OVER (PARTITION BY qid
         |ORDER BY rel_fp DESC, nid) AS rn FROM cands) WHERE rn = 1),
         |acc1 AS MATERIALIZED (SELECT * FROM sel1),
         |$rounds
         |SELECT qid AS query_id, nid AS neighbor_id, rel_fp,
         |CAST(sel_rank AS INTEGER) AS sel_rank
         |FROM acc5 ORDER BY query_id, sel_rank""".stripMargin
    },

    // full PQ replication: decimal-exact subspace codebooks, argmin
    // encode, fixed-point ADC (floor of an exponent-shift-exact
    // double, so the BIGINT sums agree). MATERIALIZED: sub/cb/codes
    // are multiply referenced (the q_kcore inlining lesson).
    "q_ann_pq" ->
      """WITH ss AS (SELECT unnest(range(0, 4)) AS s),
        |sub AS MATERIALIZED (SELECT vec_id, label, s,
        |embedding[s*16+1:(s+1)*16] AS sv FROM embeddings CROSS JOIN ss),
        |flat AS (SELECT s, label, unnest(sv) AS v,
        |generate_subscripts(sv, 1) AS pos FROM sub),
        |cent AS (SELECT s, label AS code, pos,
        |CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE)/COUNT(*) AS c
        |FROM flat GROUP BY 1, 2, 3),
        |cb AS MATERIALIZED (SELECT s, code,
        |array_agg(c ORDER BY pos) AS centroid FROM cent GROUP BY 1, 2),
        |enc AS (SELECT sub.vec_id, sub.s, cb.code,
        |list_sum(list_transform(list_zip(sub.sv, cb.centroid),
        |p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))**2)) AS d2
        |FROM sub JOIN cb ON cb.s = sub.s),
        |codes AS MATERIALIZED (SELECT vec_id, s, code FROM
        |(SELECT *, row_number() OVER (PARTITION BY vec_id, s
        |ORDER BY d2 ASC, code) AS rn FROM enc) WHERE rn = 1),
        |dt AS MATERIALIZED (SELECT vec_id AS qid, s2.s, cb.code,
        |CAST(floor(1048576 * list_sum(list_transform(
        |list_zip(embedding[s2.s*16+1:(s2.s+1)*16], cb.centroid),
        |p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))**2))) AS BIGINT) AS dfp
        |FROM embeddings CROSS JOIN (SELECT unnest(range(0, 4)) AS s) s2
        |JOIN cb ON cb.s = s2.s WHERE vec_id < 10),
        |sc AS (SELECT dt.qid AS query_id, c.vec_id AS neighbor_id,
        |CAST(SUM(dt.dfp) AS BIGINT) AS adc_fp
        |FROM codes c JOIN dt ON dt.s = c.s AND dt.code = c.code
        |WHERE c.vec_id <> dt.qid GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |ORDER BY adc_fp ASC, neighbor_id) AS rank FROM sc)
        |SELECT query_id, neighbor_id, adc_fp, CAST(rank AS INTEGER) AS rank
        |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // both retriever lists re-derived: ranks from float ORDER only
    // (integer outputs), d2 mirrors the Spark elementwise fold
    "q_rrf" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT qid, vec_id AS nid,
        |list_cosine_similarity(qe, embedding) AS sim,
        |list_sum(list_transform(list_zip(qe, embedding),
        |p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))**2)) AS d2
        |FROM q, embeddings WHERE vec_id <> qid),
        |rc AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r FROM s),
        |rl AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, nid) AS r FROM s),
        |uw AS (SELECT qid, nid, 1000000 // (60 + r) AS w FROM rc WHERE r <= 10
        |UNION ALL SELECT qid, nid, 1000000 // (60 + r) FROM rl WHERE r <= 10),
        |f AS (SELECT qid AS query_id, nid AS neighbor_id,
        |CAST(SUM(w) AS BIGINT) AS rrf_ppm FROM uw GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |ORDER BY rrf_ppm DESC, neighbor_id) AS rank FROM f)
        |SELECT query_id, neighbor_id, rrf_ppm, CAST(rank AS INTEGER) AS rank
        |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
        FROM embeddings WHERE vec_id < 10),
        s AS (SELECT qid, vec_id AS nid,
        list_cosine_similarity(qe, embedding) AS sim FROM q, embeddings
        WHERE vec_id <> qid AND label <> ql),
        r AS (SELECT qid AS query_id, nid AS neighbor_id,
        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM s)
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5
        ORDER BY query_id, rank""",

    "q_ann_lsh" ->
      s"""WITH sigc AS (SELECT vec_id, embedding, ${srpSigSql("embedding", 16)} AS sig FROM embeddings),
         |bc AS (SELECT vec_id, embedding, band, substr(sig, band*2 + 1, 2) AS band_key
         |FROM sigc CROSS JOIN (SELECT unnest(range(0,8)) AS band) bs),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |q.embedding AS v_q, c.embedding AS v_c
         |FROM bc c JOIN bc q ON c.band = q.band AND c.band_key = q.band_key
         |WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |r AS (SELECT query_id, neighbor_id,
         |row_number() OVER (PARTITION BY query_id ORDER BY ${cosineSql("v_q", "v_c")} DESC, neighbor_id) AS rank
         |FROM cand)
         |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "q_ann_ivf" ->
      """WITH cent AS (SELECT label, pos,
        |CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE)/COUNT(*) AS c
        |FROM (SELECT label, unnest(embedding) AS v,
        |generate_subscripts(embedding, 1) AS pos FROM embeddings)
        |GROUP BY 1, 2),
        |cvec AS (SELECT label AS cell, array_agg(c ORDER BY pos) AS centroid
        |FROM cent GROUP BY 1),
        |cs AS (SELECT e.vec_id, e.embedding, cv.cell,
        |list_dot_product(e.embedding::DOUBLE[], cv.centroid) /
        |(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        | sqrt(list_dot_product(cv.centroid, cv.centroid))) AS sim
        |FROM embeddings e, cvec cv),
        |corp AS (SELECT vec_id AS neighbor_id, embedding AS v_c, cell FROM
        |(SELECT *, row_number() OVER (PARTITION BY vec_id
        |ORDER BY sim DESC, cell) AS r FROM cs) WHERE r = 1),
        |qc AS (SELECT vec_id AS query_id, embedding AS v_q, cell FROM
        |(SELECT *, row_number() OVER (PARTITION BY vec_id
        |ORDER BY sim DESC, cell) AS r FROM cs WHERE vec_id < 10) WHERE r <= 3),
        |cand AS (SELECT query_id, neighbor_id,
        |list_dot_product(v_q::DOUBLE[], v_c::DOUBLE[]) /
        |(sqrt(list_dot_product(v_q::DOUBLE[], v_q::DOUBLE[])) *
        | sqrt(list_dot_product(v_c::DOUBLE[], v_c::DOUBLE[]))) AS cosine
        |FROM corp JOIN qc USING (cell) WHERE query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, row_number() OVER
        |(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM cand)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // full IVF over the union corpus — what the incremental path must
    // reproduce without re-assigning the standing index. Centroids
    // deliberately from the ORIGINAL corpus only (the maintained
    // quantizer is held fixed across ingest batches).
    "q_ann_ivf_incr" ->
      """WITH cent AS (SELECT label, pos,
        |CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE)/COUNT(*) AS c
        |FROM (SELECT label, unnest(embedding) AS v,
        |generate_subscripts(embedding, 1) AS pos FROM embeddings)
        |GROUP BY 1, 2),
        |cvec AS (SELECT label AS cell, array_agg(c ORDER BY pos) AS centroid
        |FROM cent GROUP BY 1),
        |corpus AS (SELECT vec_id, embedding FROM embeddings
        |UNION ALL SELECT vec_id + 10000 AS vec_id, embedding
        |FROM embeddings WHERE vec_id % 20 = 0),
        |cs AS (SELECT e.vec_id, e.embedding, cv.cell,
        |list_dot_product(e.embedding::DOUBLE[], cv.centroid) /
        |(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        | sqrt(list_dot_product(cv.centroid, cv.centroid))) AS sim
        |FROM corpus e, cvec cv),
        |corp AS (SELECT vec_id AS neighbor_id, embedding AS v_c, cell FROM
        |(SELECT *, row_number() OVER (PARTITION BY vec_id
        |ORDER BY sim DESC, cell) AS r FROM cs) WHERE r = 1),
        |qc AS (SELECT vec_id AS query_id, embedding AS v_q, cell FROM
        |(SELECT *, row_number() OVER (PARTITION BY vec_id
        |ORDER BY sim DESC, cell) AS r FROM cs WHERE vec_id < 10) WHERE r <= 3),
        |cand AS (SELECT query_id, neighbor_id,
        |list_dot_product(v_q::DOUBLE[], v_c::DOUBLE[]) /
        |(sqrt(list_dot_product(v_q::DOUBLE[], v_q::DOUBLE[])) *
        | sqrt(list_dot_product(v_c::DOUBLE[], v_c::DOUBLE[]))) AS cosine
        |FROM corp JOIN qc USING (cell) WHERE query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, row_number() OVER
        |(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM cand)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // exact brute-force top-5 vs the IVF top-5 (both replicated as in
    // q_ann_topk / q_ann_ivf), intersected per query: rank boundaries
    // are integer, so the recall ppm is float-noise-immune
    "q_ann_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT qid, vec_id AS nid,
        |list_cosine_similarity(qe, embedding) AS sim FROM q, embeddings WHERE vec_id <> qid),
        |bf AS (SELECT qid AS query_id, nid AS neighbor_id,
        |row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM s),
        |exact AS (SELECT query_id, neighbor_id FROM bf WHERE rank <= 5),
        |cent AS (SELECT label, pos,
        |CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE)/COUNT(*) AS c
        |FROM (SELECT label, unnest(embedding) AS v,
        |generate_subscripts(embedding, 1) AS pos FROM embeddings)
        |GROUP BY 1, 2),
        |cvec AS (SELECT label AS cell, array_agg(c ORDER BY pos) AS centroid
        |FROM cent GROUP BY 1),
        |cs AS (SELECT e.vec_id, e.embedding, cv.cell,
        |list_dot_product(e.embedding::DOUBLE[], cv.centroid) /
        |(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        | sqrt(list_dot_product(cv.centroid, cv.centroid))) AS sim
        |FROM embeddings e, cvec cv),
        |corp AS (SELECT vec_id AS neighbor_id, embedding AS v_c, cell FROM
        |(SELECT *, row_number() OVER (PARTITION BY vec_id
        |ORDER BY sim DESC, cell) AS r FROM cs) WHERE r = 1),
        |qc AS (SELECT vec_id AS query_id, embedding AS v_q, cell FROM
        |(SELECT *, row_number() OVER (PARTITION BY vec_id
        |ORDER BY sim DESC, cell) AS r FROM cs WHERE vec_id < 10) WHERE r <= 3),
        |cand AS (SELECT query_id, neighbor_id,
        |list_dot_product(v_q::DOUBLE[], v_c::DOUBLE[]) /
        |(sqrt(list_dot_product(v_q::DOUBLE[], v_q::DOUBLE[])) *
        | sqrt(list_dot_product(v_c::DOUBLE[], v_c::DOUBLE[]))) AS cosine
        |FROM corp JOIN qc USING (cell) WHERE query_id <> neighbor_id),
        |ir AS (SELECT query_id, neighbor_id, row_number() OVER
        |(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM cand),
        |ivf AS (SELECT query_id, neighbor_id FROM ir WHERE rank <= 5),
        |truth AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        |FROM exact GROUP BY 1),
        |hits AS (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS hits
        |FROM exact e JOIN ivf a
        |ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id GROUP BY 1)
        |SELECT t.query_id, t.n_exact,
        |CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |CAST((1000000 * coalesce(h.hits, 0)) // greatest(t.n_exact, 1) AS BIGINT)
        |AS recall_ppm
        |FROM truth t LEFT JOIN hits h ON t.query_id = h.query_id
        |ORDER BY t.query_id""".stripMargin,

    // two unrolled Lloyd iterations: label-init centroids → assign →
    // decimal-mean recompute → assign; tie order (sim DESC, cell) is
    // the engine's struct-max order
    // Full replay of the maintenance trajectory. The retrained means
    // group sampled index rows by their EXISTING cell: warm-start
    // iters=1 re-assigns the sample to the same old quantizer that
    // assigned the index, so the cells provably coincide.
    "q_ann_ivf_retrain" ->
      """WITH drift AS (SELECT vec_id + 10000 AS vec_id,
        |list_transform(embedding, x -> CAST(x * CAST(10.0 AS FLOAT) AS FLOAT)) AS embedding
        |FROM embeddings WHERE label = 2),
        |corp AS (SELECT vec_id, embedding FROM embeddings
        |UNION ALL SELECT vec_id, embedding FROM drift),
        |cent AS (SELECT label, pos,
        |CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE)/COUNT(*) AS c
        |FROM (SELECT label, unnest(embedding) AS v,
        |generate_subscripts(embedding, 1) AS pos FROM embeddings)
        |GROUP BY 1, 2),
        |cvec AS (SELECT label AS cell, array_agg(c ORDER BY pos) AS centroid
        |FROM cent GROUP BY 1),
        |s1 AS (SELECT corp.vec_id, corp.embedding, cv.cell,
        |list_dot_product(corp.embedding::DOUBLE[], cv.centroid) /
        |(sqrt(list_dot_product(corp.embedding::DOUBLE[], corp.embedding::DOUBLE[])) *
        | sqrt(list_dot_product(cv.centroid, cv.centroid))) AS sim
        |FROM corp, cvec cv),
        |a1 AS (SELECT vec_id, embedding, cell FROM
        |(SELECT *, row_number() OVER (PARTITION BY vec_id
        |ORDER BY sim DESC, cell) AS r FROM s1) WHERE r = 1),
        |cent2 AS (SELECT cell, pos,
        |CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE)/COUNT(*) AS c
        |FROM (SELECT cell, unnest(embedding) AS v,
        |generate_subscripts(embedding, 1) AS pos FROM a1 WHERE vec_id % 4 = 0)
        |GROUP BY 1, 2),
        |cvec2 AS (SELECT cell, array_agg(c ORDER BY pos) AS centroid
        |FROM cent2 GROUP BY 1),
        |chg AS (SELECT o.cell FROM cvec o LEFT JOIN cvec2 n USING (cell)
        |WHERE n.cell IS NULL OR list_sum(list_transform(range(1,65), i ->
        |(o.centroid[i] - n.centroid[i]) * (o.centroid[i] - n.centroid[i]))) > 0.5),
        |moved AS (SELECT vec_id, embedding FROM a1
        |WHERE cell IN (SELECT cell FROM chg)),
        |s2 AS (SELECT m.vec_id, cv.cell,
        |list_dot_product(m.embedding::DOUBLE[], cv.centroid) /
        |(sqrt(list_dot_product(m.embedding::DOUBLE[], m.embedding::DOUBLE[])) *
        | sqrt(list_dot_product(cv.centroid, cv.centroid))) AS sim
        |FROM moved m, cvec2 cv),
        |a2 AS (SELECT vec_id, cell FROM
        |(SELECT *, row_number() OVER (PARTITION BY vec_id
        |ORDER BY sim DESC, cell) AS r FROM s2) WHERE r = 1)
        |SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM
        |(SELECT vec_id, cell FROM a1 WHERE cell NOT IN (SELECT cell FROM chg)
        |UNION ALL SELECT vec_id, cell FROM a2) ORDER BY vec_id""".stripMargin,

    "q_kmeans" ->
      """WITH cent AS (SELECT label, pos,
        |CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE)/COUNT(*) AS c
        |FROM (SELECT label, unnest(embedding) AS v,
        |generate_subscripts(embedding, 1) AS pos FROM embeddings)
        |GROUP BY 1, 2),
        |cvec AS (SELECT label AS cell, array_agg(c ORDER BY pos) AS centroid
        |FROM cent GROUP BY 1),
        |s1 AS (SELECT e.vec_id, e.embedding, cv.cell,
        |list_dot_product(e.embedding::DOUBLE[], cv.centroid) /
        |(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        | sqrt(list_dot_product(cv.centroid, cv.centroid))) AS sim
        |FROM embeddings e, cvec cv),
        |a1 AS (SELECT vec_id, embedding, cell FROM
        |(SELECT *, row_number() OVER (PARTITION BY vec_id
        |ORDER BY sim DESC, cell) AS r FROM s1) WHERE r = 1),
        |cent1 AS (SELECT cell, pos,
        |CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE)/COUNT(*) AS c
        |FROM (SELECT cell, unnest(embedding) AS v,
        |generate_subscripts(embedding, 1) AS pos FROM a1)
        |GROUP BY 1, 2),
        |cvec1 AS (SELECT cell, array_agg(c ORDER BY pos) AS centroid
        |FROM cent1 GROUP BY 1),
        |s2 AS (SELECT e.vec_id, cv.cell,
        |list_dot_product(e.embedding::DOUBLE[], cv.centroid) /
        |(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        | sqrt(list_dot_product(cv.centroid, cv.centroid))) AS sim
        |FROM embeddings e, cvec1 cv),
        |a2 AS (SELECT vec_id, cell FROM
        |(SELECT *, row_number() OVER (PARTITION BY vec_id
        |ORDER BY sim DESC, cell) AS r FROM s2) WHERE r = 1)
        |SELECT vec_id, CAST(cell AS INTEGER) AS cluster FROM a2
        |ORDER BY vec_id""".stripMargin,

    // SemDeDup replay: same composite-label quantizer (decimal-exact
    // means), same nearest-cell argmax tie order, same hoisted-norm
    // pair predicate and keep-the-outlier priority (lower centroid
    // sim wins, tie -> lower id).
    "q_semdedup" ->
      s"""WITH corp AS (SELECT vec_id, embedding FROM embeddings
         |UNION ALL SELECT vec_id + 10000 AS vec_id, embedding
         |FROM embeddings WHERE vec_id < 10),
         |cent AS (SELECT cell0, pos,
         |CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE)/COUNT(*) AS c
         |FROM (SELECT label * 8 + vec_id % 8 AS cell0, unnest(embedding) AS v,
         |generate_subscripts(embedding, 1) AS pos FROM embeddings)
         |GROUP BY 1, 2),
         |cvec AS (SELECT cell0 AS cell, array_agg(c ORDER BY pos) AS centroid
         |FROM cent GROUP BY 1),
         |s1 AS (SELECT e.vec_id, e.embedding, cv.cell,
         |${cosineSql("e.embedding", "cv.centroid")} AS sim
         |FROM corp e, cvec cv),
         |a1 AS (SELECT vec_id, embedding, cell, sim AS csim,
         |${dotSql("embedding", "embedding")} AS n2 FROM
         |(SELECT *, row_number() OVER (PARTITION BY vec_id
         |ORDER BY sim DESC, cell) AS r FROM s1) WHERE r = 1),
         |dr AS (SELECT DISTINCT a.vec_id FROM a1 a JOIN a1 b ON a.cell = b.cell
         |AND (b.csim < a.csim OR (b.csim = a.csim AND b.vec_id < a.vec_id))
         |AND sqrt(a.n2) * sqrt(b.n2) > 0
         |AND ${dotSql("a.embedding", "b.embedding")} /
         |(sqrt(a.n2) * sqrt(b.n2)) >= 0.95)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM a1
         |WHERE vec_id NOT IN (SELECT vec_id FROM dr)
         |ORDER BY vec_id""".stripMargin,

    "q_semantic_decon" ->
      s"""WITH bench AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
         |corp AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id >= 10
         |UNION ALL SELECT vec_id + 10000 AS vec_id, label, embedding
         |FROM embeddings WHERE vec_id < 10),
         |bsig AS (SELECT vec_id, embedding, ${srpSigSql("embedding", 16)} AS sig FROM bench),
         |csig AS (SELECT vec_id, embedding, ${srpSigSql("embedding", 16)} AS sig FROM corp),
         |bb AS (SELECT vec_id, embedding, band, substr(sig, band*4 + 1, 4) AS band_key
         |FROM bsig CROSS JOIN (SELECT unnest(range(0,4)) AS band) s),
         |cb AS (SELECT vec_id, embedding, band, substr(sig, band*4 + 1, 4) AS band_key
         |FROM csig CROSS JOIN (SELECT unnest(range(0,4)) AS band) s),
         |cont AS (SELECT DISTINCT c.vec_id FROM
         |(SELECT vec_id, embedding AS cv, band, band_key FROM cb) c
         |JOIN (SELECT embedding AS bv, band, band_key FROM bb) b
         |USING (band, band_key)
         |WHERE ${cosineSql("cv", "bv")} >= 0.9)
         |SELECT vec_id, label FROM corp
         |WHERE vec_id NOT IN (SELECT vec_id FROM cont) ORDER BY vec_id""".stripMargin,

    // The Bloom tier must be output-identical to the plain guard at
    // the same band geometry — so the oracle IS the plain algorithm
    // at bits=64/bands=8: any Bloom-induced false positive/negative
    // diverges from this derivation.
    "q_semantic_decon_bloom" ->
      s"""WITH bench AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
         |corp AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id >= 10
         |UNION ALL SELECT vec_id + 10000 AS vec_id, label, embedding
         |FROM embeddings WHERE vec_id < 10),
         |bsig AS (SELECT vec_id, embedding, ${srpSigSql("embedding", 64)} AS sig FROM bench),
         |csig AS (SELECT vec_id, embedding, ${srpSigSql("embedding", 64)} AS sig FROM corp),
         |bb AS (SELECT vec_id, embedding, band, substr(sig, band*8 + 1, 8) AS band_key
         |FROM bsig CROSS JOIN (SELECT unnest(range(0,8)) AS band) s),
         |cb AS (SELECT vec_id, embedding, band, substr(sig, band*8 + 1, 8) AS band_key
         |FROM csig CROSS JOIN (SELECT unnest(range(0,8)) AS band) s),
         |cont AS (SELECT DISTINCT c.vec_id FROM
         |(SELECT vec_id, embedding AS cv, band, band_key FROM cb) c
         |JOIN (SELECT embedding AS bv, band, band_key FROM bb) b
         |USING (band, band_key)
         |WHERE ${cosineSql("cv", "bv")} >= 0.9)
         |SELECT vec_id, label FROM corp
         |WHERE vec_id NOT IN (SELECT vec_id FROM cont) ORDER BY vec_id""".stripMargin,

    "q_quantize" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |b AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi FROM v),
        |s AS (SELECT vec_id, v, lo, hi,
        |CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 1.0 END AS scale FROM b)
        |SELECT vec_id,
        |CAST(list_sum(list_transform(v, x -> CAST(round((x - lo) / scale) AS BIGINT))) AS BIGINT) AS code_sum,
        |round(lo, 6) AS vmin, round(hi, 6) AS vmax
        |FROM s ORDER BY vec_id""".stripMargin,

    // Every non-null value is codec-produced (ImageIO / WAV decode /
    // MJPNG frame walk) and predicted from the doc_id-derived encoding
    // parameters: constant-gray frames put 100% of pixels in one bin.
    "q_media_features" ->
      """SELECT doc_id AS media_id,
        CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 64 + 1 AS INTEGER)
             WHEN doc_id % 3 = 2 THEN CAST(doc_id % 16 + 1 AS INTEGER) END AS width_px,
        CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 48 + 1 AS INTEGER)
             WHEN doc_id % 3 = 2 THEN CAST(doc_id % 12 + 1 AS INTEGER) END AS height_px,
        CASE WHEN doc_id % 3 IN (0, 2) THEN CAST((doc_id % 256) // 16 AS INTEGER) END AS dominant_bin,
        CASE WHEN doc_id % 3 IN (0, 2) THEN CAST(1.0 AS DOUBLE) END AS dominant_frac,
        CASE WHEN doc_id % 3 = 1 THEN CAST(16000 AS INTEGER) END AS sample_rate_hz,
        CASE WHEN doc_id % 3 = 1 THEN CAST(doc_id % 100 + 10 AS BIGINT) END AS n_samples,
        CASE WHEN doc_id % 3 = 1 THEN CAST(doc_id % 1000 AS INTEGER) END AS peak,
        CASE WHEN doc_id % 3 = 2 THEN CAST((doc_id % 30 + 2) // 2 AS INTEGER) END AS frames_sampled
        FROM documents ORDER BY media_id""".stripMargin,

    // aHash predicted from the gradient parameters: pixel(x) =
    // min(g0 + x·step, 255) is y-invariant, so the 8 bit-rows are
    // identical — hash = bit-byte × 0x0101010101010101, computed in
    // HUGEINT and wrapped to signed 64 to match the engine's Long.
    "q_image_phash" ->
      """WITH p AS (SELECT doc_id AS media_id,
        |(doc_id // 3) % 20 * 10 AS g0, (doc_id // 3) % 7 + 1 AS step FROM documents),
        |px AS (SELECT media_id, x, least(g0 + x * step, 255) AS v
        |FROM p CROSS JOIN (SELECT unnest(range(0, 16)) AS x) xs),
        |ov AS (SELECT media_id, SUM(v) // 16 AS overall FROM px GROUP BY 1),
        |bl AS (SELECT media_id, x // 2 AS bx, SUM(v) // 2 AS bmean
        |FROM px GROUP BY 1, 2),
        |bits AS (SELECT b.media_id,
        |CAST(SUM(CASE WHEN b.bmean > o.overall
        |THEN (CAST(1 AS BIGINT) << b.bx) ELSE 0 END) AS BIGINT) AS byte
        |FROM bl b JOIN ov o ON b.media_id = o.media_id GROUP BY 1),
        |hh AS (SELECT media_id,
        |CAST(byte AS HUGEINT) * CAST(72340172838076673 AS HUGEINT) AS raw FROM bits),
        |h AS (SELECT media_id,
        |CAST(CASE WHEN raw >= CAST(9223372036854775808 AS HUGEINT)
        |THEN raw - CAST(18446744073709551616 AS HUGEINT) ELSE raw END AS BIGINT)
        |AS ahash FROM hh),
        |k AS (SELECT ahash, MIN(media_id) AS keep_id FROM h GROUP BY 1)
        |SELECT h.media_id, h.ahash, k.keep_id FROM h JOIN k USING (ahash)
        |ORDER BY media_id""".stripMargin,

    // Every header field predicted from the fixture's encoding
    // parameters: JDK ImageIO writes TYPE_INT_RGB as 8-bit truecolor
    // (bit depth 8, color type 2); AudioSystem writes the canonical
    // 44-byte PCM WAV layout.
    "q_media_meta" ->
      """SELECT doc_id AS media_id,
        |CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mjpng' END AS kind_detected,
        |CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 64 + 1 AS INTEGER)
        |     WHEN doc_id % 3 = 2 THEN CAST(doc_id % 16 + 1 AS INTEGER) END AS width_px,
        |CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 48 + 1 AS INTEGER)
        |     WHEN doc_id % 3 = 2 THEN CAST(doc_id % 12 + 1 AS INTEGER) END AS height_px,
        |CASE WHEN doc_id % 3 IN (0, 2) THEN CAST(8 AS INTEGER) END AS bit_depth,
        |CASE WHEN doc_id % 3 IN (0, 2) THEN CAST(2 AS INTEGER) END AS color_type,
        |CASE WHEN doc_id % 3 = 1 THEN CAST(1 AS INTEGER) END AS channels,
        |CASE WHEN doc_id % 3 = 1 THEN CAST(16000 AS INTEGER) END AS sample_rate_hz,
        |CASE WHEN doc_id % 3 = 1 THEN CAST(16 AS INTEGER) END AS bits_per_sample,
        |CASE WHEN doc_id % 3 = 1 THEN CAST(doc_id % 100 + 10 AS BIGINT) END AS n_samples
        |FROM documents ORDER BY media_id""".stripMargin
  )
}
