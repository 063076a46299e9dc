package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/**
 * Similarity search over embedding columns (Array[Float]).
 *
 * Two paths, same contract:
 *  - [[bruteForceTopK]]: exact cosine top-k. The query set is
 *    broadcast; the corpus streams partition-parallel through a
 *    BroadcastNestedLoopJoin — the correct "brute force" shape on a
 *    cluster (corpus never shuffles, no CartesianProduct of two big
 *    sides). Cost O(|corpus|·|queries|); the baseline and the
 *    verifier for the approximate path.
 *  - [[lshTopK]]: sign-random-projection bucketed candidates, exact
 *    cosine re-rank. Cost O(candidates); the 100 TB path. Recall is
 *    tunable via bits/bands.
 */
object Similarity {

  /** Driver-row budget for [[mmrTopK]]'s two collects (candidates:
    * |queries|·poolSize; sims: |queries|·poolSize²) — ~4M tuples of a
    * few longs is a few hundred MB of driver heap, comfortably inside
    * a default driver while still serving e.g. 100 queries at a
    * 200-doc pool (100·200² = 4M). Past it, run per-query-batch. */
  val MmrMaxDriverRows: Long = 4000000L

  /** Exact top-k neighbors per query. `queries` must be small enough
    * to broadcast (the usual batch-of-probes shape).
    * @return (query_id, neighbor_id, cosine, rank) rank 1..k */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("v_c"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("v_q"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorFns.cosine(col("v_q"), col("v_c")))
    rank(scored, k)
  }

  /** Approximate top-k: candidates share at least one SRP band with
    * the query; exact cosine re-ranks candidates. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      bits: Int = 16, bands: Int = 8,
      broadcastQueries: Boolean = true): DataFrame = {
    def banded(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v),
          explode(VectorFns.srpBands(
            VectorFns.srpSignature(col(vecCol), bits), bands, bits)).as("bk"))
        .select(col(id), col(v), col("bk.band").as("band"), col("bk.key").as("band_key"))
    // no persist: the banded corpus feeds exactly one downstream join,
    // so a cache would pin corpus×bands rows (with vectors) in
    // executor memory for zero recomputation saved
    val c = banded(corpus, "neighbor_id", "v_c")
    // broadcastQueries = the probe-batch shape (queries tiny, corpus
    // never shuffles). When the "query" side is itself a corpus — e.g.
    // both languages of a bitext-mining run — pass false: the band
    // join becomes a plain shuffle equi-join on the band keys, AQE
    // picks the strategy, and neither side must fit an executor.
    val qb = banded(queries, "query_id", "v_q")
    val q = if (broadcastQueries) broadcast(qb) else qb
    val candidates = c.join(q, Seq("band", "band_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "v_q", "v_c").distinct()
    rank(candidates.withColumn("cosine", VectorFns.cosine(col("v_q"), col("v_c"))), k)
  }

  /**
   * IVF top-k: coarse-quantize the corpus to its nearest centroid cell
   * (one broadcast pass over a small centroid set), probe each query's
   * `nprobe` nearest cells, and re-rank candidates exactly. The
   * centroid set comes from [[centroids]] (or any k-means); at 100 TB
   * the corpus assignment is a single narrow pass and each query
   * touches ~nprobe/|cells| of the data instead of all of it.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, cents: DataFrame,
      k: Int, nprobe: Int = 3, vecCol: String = "embedding",
      idCol: String = "vec_id", labelCol: String = "label"): DataFrame = {
    val corpusCells = ivfAssign(corpus, cents, vecCol, idCol, labelCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("v_c"), col("cell"))
    probeCells(corpusCells, queries, cents, k, nprobe, vecCol, idCol, labelCol)
  }

  /**
   * The persistable IVF index: each vector's nearest-centroid cell,
   * carrying the vector for candidate re-ranking — the ANN analog of
   * the MinHash signature index ([[Dedup.minhashIncrementalPairs]]'s
   * `index` argument). Plain columns `(idCol, vecCol, cell)`, so the
   * result writes directly as a lake table (partition by `cell`: a
   * probe then prunes to its nprobe cells' files); the centroid table
   * persists alongside it, and [[ivfTopKIncremental]] probes the
   * maintained pair without ever re-assigning the corpus.
   *
   * Struct-max aggregation (map-side combinable, no per-vector sort):
   * max on (sim, -cell) is "highest sim, then lowest cell", the same
   * tie order as the nprobe window path.
   */
  def ivfAssign(vecs: DataFrame, cents: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    val c = cents.select(col(labelCol).as("cell"), col("centroid"))
    vecs.select(col(idCol), col(vecCol))
      .join(broadcast(c), lit(true))
      .withColumn("__sim", VectorFns.cosine(col(vecCol), col("centroid")))
      .groupBy(col(idCol))
      .agg(max(struct(col("__sim"), (-col("cell")).as("nc"),
        col(vecCol).as("vv"))).as("r"))
      .select(col(idCol), col("r.vv").as(vecCol), (-col("r.nc")).as("cell"))
  }

  /**
   * Incremental IVF top-k — the daily-ingest path that mirrors
   * [[Dedup.minhashIncrementalPairs]]'s contract: `index` is a
   * maintained assignment table from [[ivfAssign]] (typically read
   * back from its lake table), `newVecs` an UNASSIGNED new batch, and
   * only the new batch pays the centroid-assignment pass — the
   * standing corpus never re-assigns, re-shuffles, or re-scans beyond
   * the probe itself. Queries probe the union of the index and the
   * fresh assignments, so results are identical to [[ivfTopK]] over
   * the full corpus with the same centroids (asserted by the spec).
   *
   * Ids in `index` and `newVecs` must be DISJOINT (the minhash-index
   * contract): an id present in both would be probed twice and rank
   * against itself. Centroids are the maintained quantizer — held
   * fixed across batches by design; re-training them invalidates the
   * index and warrants a full [[ivfAssign]] rebuild. To roll the
   * index forward, persist `index ∪ ivfAssign(newVecs, cents)` (the
   * assignment is deterministic, so the recompute matches what this
   * probe saw).
   */
  def ivfTopKIncremental(index: DataFrame, newVecs: DataFrame,
      queries: DataFrame, cents: DataFrame, k: Int, nprobe: Int = 3,
      vecCol: String = "embedding", idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    val fresh = ivfAssign(newVecs, cents, vecCol, idCol, labelCol)
    val corpusCells = index.select(col(idCol), col(vecCol), col("cell"))
      .unionByName(fresh)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("v_c"), col("cell"))
    probeCells(corpusCells, queries, cents, k, nprobe, vecCol, idCol, labelCol)
  }

  /**
   * IVF maintenance under distribution drift, step 1 — re-trained
   * coarse quantizer: warm-start Lloyd's ([[kmeans]] initialized from
   * the CURRENT centroids) over a deterministic id-modulo sample of
   * the maintained index. The maintained quantizer degrades as the
   * corpus drifts (hot cells grow unboundedly, probe recall decays);
   * holding centroids fixed is [[ivfTopKIncremental]]'s contract, and
   * this is the escape hatch that does NOT cost a full
   * [[ivfAssign]] rebuild: the retrain pass touches only
   * sampleKeep/sampleMod of the index, and the warm start keeps cell
   * identities comparable so [[ivfReassignDrifted]] can re-assign
   * selectively.
   *
   * Deterministic end to end (modulo sample, [[kmeans]]'s
   * decimal-exact trajectory), so an external engine can replay the
   * retrained model — the oracle does. Returns the `(labelCol,
   * centroid)` quantizer shape of [[centroids]]; cells that capture no
   * sampled vectors drop out (k-shrink), which downstream treats as
   * "changed" (their vectors must re-home).
   */
  def ivfRetrainCentroids(index: DataFrame, oldCents: DataFrame,
      iters: Int = 1, sampleMod: Int = 4, sampleKeep: Int = 1,
      vecCol: String = "embedding", idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    require(sampleMod >= 1 && sampleKeep >= 1 && sampleKeep <= sampleMod,
      s"need 1 <= sampleKeep <= sampleMod, got $sampleKeep/$sampleMod")
    val sample = index.filter(pmod(col(idCol), lit(sampleMod)) < sampleKeep)
      .select(col(idCol), col(vecCol))
    centroids(kmeans(sample, oldCents, iters, vecCol, idCol, labelCol)
      .withColumnRenamed("cell", labelCol), vecCol, labelCol)
  }

  /**
   * IVF maintenance under distribution drift, step 2 — selective
   * re-assignment: vectors keep their cell unless their cell's
   * centroid MOVED (squared-L2 displacement between old and new
   * centroid above `epsilon`) or was dropped by the retrain
   * (k-shrink); only vectors in changed cells pay the
   * nearest-centroid pass, against the full NEW quantizer. The index
   * analogue of [[graft.operators.PartitionOps.compactPartition]]:
   * bounded maintenance work proportional to how much the model
   * actually drifted, not to index size.
   *
   * Approximation, stated: a vector in an UNCHANGED cell could in
   * principle sit closer to a moved centroid, and this path keeps it
   * put — the standard IVF maintenance trade (bounded work per
   * maintenance round; the probe still searches nprobe cells, so a
   * borderline vector is still found via its retained cell). The
   * decision rule is exact and replayable: displacement is a
   * deterministic double fold over decimal-exact centroids, so the
   * changed-cell set — and therefore the full output — is
   * oracle-replicable.
   */
  def ivfReassignDrifted(index: DataFrame, oldCents: DataFrame,
      newCents: DataFrame, epsilon: Double,
      vecCol: String = "embedding", idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    val oldC = oldCents.select(col(labelCol).as("cell"), col("centroid").as("__oc"))
    val newC = newCents.select(col(labelCol).as("cell"), col("centroid").as("__nc"))
    val diff = zip_with(col("__oc"), col("__nc"), (a, b) => a - b)
    // k-bounded frame: the zip_with lambda here is interpreted, but it
    // runs once per CELL, never per vector
    val changed = oldC.join(newC, Seq("cell"), "left")
      .filter(col("__nc").isNull ||
        graft.plans.VecDot(diff, diff) > epsilon)
      .select("cell")
    val moved = index.join(broadcast(changed), Seq("cell"), "left_semi")
    val unchanged = index.join(broadcast(changed), Seq("cell"), "left_anti")
      .select(col(idCol), col(vecCol), col("cell"))
    unchanged.unionByName(
      ivfAssign(moved.select(col(idCol), col(vecCol)), newCents,
        vecCol, idCol, labelCol))
  }

  /** Shared probe: nprobe-cell query routing + exact cosine re-rank
    * against an assigned corpus `(neighbor_id, v_c, cell)`. */
  private def probeCells(corpusCells: DataFrame, queries: DataFrame,
      cents: DataFrame, k: Int, nprobe: Int, vecCol: String, idCol: String,
      labelCol: String): DataFrame = {
    val c = cents.select(col(labelCol).as("cell"), col("centroid"))
    val w = Window.partitionBy("query_id").orderBy(col("__sim").desc, col("cell"))
    val queryCells = queries.select(col(idCol).as("query_id"), col(vecCol).as("v_q"))
      .join(broadcast(c), lit(true))
      .withColumn("__sim", VectorFns.cosine(col("v_q"), col("centroid")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nprobe)
      .select(col("query_id"), col("v_q"), col("cell"))
    val candidates = corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
    rank(candidates.withColumn("cosine", VectorFns.cosine(col("v_q"), col("v_c"))), k)
  }

  /**
   * Hard-negative mining for contrastive training: per query vector,
   * the top-k most similar corpus vectors with a DIFFERENT label —
   * the "close but wrong" examples a contrastive/embedding trainer
   * wants in the batch (easy negatives teach nothing; same-label
   * neighbors are positives, not negatives). Identical plan shape to
   * [[bruteForceTopK]] — broadcast query side, per-query k-bounded
   * rank window — with the label-mismatch predicate applied BEFORE
   * scoring, so excluded pairs never pay a cosine. Null-labeled rows
   * pair with nothing (a null label cannot certify "different").
   * Swap in the IVF/LSH candidate generators for the 100 TB regime;
   * the predicate composes unchanged.
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("v_c"),
      col(labelCol).as("__lc"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("v_q"),
      col(labelCol).as("__lq"))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") && col("__lc") =!= col("__lq"))
      .withColumn("cosine", VectorFns.cosine(col("v_q"), col("v_c")))
    rank(scored, k)
  }

  /**
   * Exact EUCLIDEAN top-k — the second retriever view over the same
   * corpus (cosine ranks by angle, L2 by magnitude-sensitive
   * distance; they disagree whenever norms vary, which is exactly
   * what makes fusing them informative). Same broadcast-query /
   * corpus-streams shape as [[bruteForceTopK]].
   *
   * Ranks on SQUARED distance via a sequential left-to-right fold of
   * `(x−y)²` — sqrt is rank-irrelevant (strictly monotone) and
   * skipping it avoids the one hash-breaking case where two distinct
   * sums round to the same double under sqrt.
   */
  def bruteForceTopKL2(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("v_c"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("v_q"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("dist2", dist2Fold(col("v_q"), col("v_c")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist2").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dist2", "rank")
  }

  /**
   * Reciprocal-rank fusion (Cormack et al. 2009): merge the ranked
   * lists of several retrievers into one consensus ranking,
   * `score(d) = Σ_lists 1/(c + rank_list(d))` — no score calibration
   * across retrievers needed, which is the whole point (cosine
   * similarities and L2 distances are not comparable; ranks are).
   * Standard glue for hybrid retrieval (dense + sparse, or several
   * ANN index variants) feeding RAG / hard-negative mining.
   *
   * Fixed-point: each list contributes `1_000_000 div (c + rank)` so
   * the fused score is an exact BIGINT — hash-stable across engines,
   * no float summation order to worry about. A document absent from
   * a list contributes nothing for it (the standard convention).
   *
   * Plan shape: union of k-bounded lists (tiny per query) → one
   * map-side-combinable sum → per-query k-bounded rank window. Never
   * touches the corpus — fusion cost is O(queries · k · lists).
   *
   * @param rankings each with (queryCol, idCol, rankCol) columns,
   *                 rank 1-based as produced by the topK operators
   * @return (query_id, neighbor_id, rrf_ppm, rank)
   */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60,
      queryCol: String = "query_id", idCol: String = "neighbor_id",
      rankCol: String = "rank"): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranked list")
    val weighted = rankings.map(_.select(col(queryCol), col(idCol),
        expr(s"CAST(1000000 DIV ($c + $rankCol) AS BIGINT)").as("__w")))
      .reduce(_ unionByName _)
    val fused = weighted.groupBy(queryCol, idCol)
      .agg(sum("__w").as("rrf_ppm"))
    val w = Window.partitionBy(queryCol)
      .orderBy(col("rrf_ppm").desc, col(idCol))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(queryCol, idCol, "rrf_ppm", "rank")
  }

  /** One-pass subspace slicing shared by the PQ family (round 17):
    * the previous rendition built each subspace as its own projection
    * of the source and unioned the `m` branches — `m` FULL SCANS of
    * the vector table per PQ stage (at 100 TB: m× corpus I/O in
    * pqEncode alone). One `explode(sequence(0, m-1))` + a
    * position-derived `slice` produces the identical (keys…,
    * subspace, sv) rows in a single pass; downstream aggregations and
    * joins are order-insensitive, so results are unchanged (oracle-
    * checked). Returns `keyCols :+ subspace :+ sv`. */
  private def subspaceSlices(vecs: DataFrame, m: Int, subDim: Int,
      vecCol: String, keyCols: Column*): DataFrame =
    vecs.select(keyCols :+ col(vecCol) :+
        explode(sequence(lit(0), lit(m - 1))).as("subspace"): _*)
      .withColumn("sv",
        expr(s"slice(`$vecCol`, subspace * $subDim + 1, $subDim)"))
      .drop(vecCol)

  /**
   * Product-quantization codebooks (Jégou et al. 2011): split the
   * vector into `m` contiguous subspaces of `subDim` dims; per
   * subspace, one centroid per label — the label-derived
   * decimal-exact shortcut of [[centroids]], applied subspace-wise
   * (a subspace mean is the slice of the full-vector mean, so the
   * codebook is externally replicable). A trained variant would run
   * [[kmeans]] per subspace; the contract downstream is identical.
   *
   * @return (subspace, code, centroid) — m · |labels| rows
   */
  def pqCodebooks(vecs: DataFrame, m: Int, subDim: Int,
      vecCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val subs = subspaceSlices(vecs, m, subDim, vecCol,
        col(labelCol).as("code"))
      .select(col("subspace"), col("code"), col("sv"))
    subs.select(col("subspace"), col("code"), posexplode(col("sv")))
      .groupBy("subspace", "code", "pos")
      .agg((sum(col("col").cast("decimal(28,8)")).cast("double") /
        count(lit(1))).as("c"))
      .groupBy("subspace", "code")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("subspace"), col("code"),
        transform(col("pc"), p => p.getField("c")).as("centroid"))
  }

  /** Sequential squared-L2 fold — the shared distance kernel of the
    * L2 retriever and the PQ encode/ADC paths (left-to-right double
    * accumulation, so engines agree bit-for-bit). Round 17: rendered
    * by the native codegen'd [[graft.plans.VecDist2]] (the [[VecDot]]
    * hot-path treatment applied to the distance kernel — the composed
    * zip_with/aggregate form, `ComposedReferences.dist2FoldComposed`
    * in the test tree, is interpreted per element and PQ encode calls
    * it once per (vector, subspace, code) triple);
    * bit-identical, parity-pinned in PipelineSpec. */
  private def dist2Fold(a: Column, b: Column): Column =
    graft.plans.VecDist2.dist2(a, b)

  /**
   * PQ encoding: each vector → its nearest codebook entry per
   * subspace. The compressed index — m small ints instead of the
   * full vector (64 float32 dims at m=4, 10 codes: 256 B → 4 B,
   * the compression that lets a 100 TB corpus' index live in RAM).
   * Emitted as normalized (id, subspace, code) rows so the ADC scan
   * is a pure equi-join; pivot to an array column for storage if
   * byte-packing matters.
   *
   * Struct-min aggregation (map-side combinable, no per-vector
   * sort); distance ties break to the smallest code.
   */
  def pqEncode(vecs: DataFrame, books: DataFrame, m: Int, subDim: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val subs = subspaceSlices(vecs, m, subDim, vecCol, col(idCol))
    subs.join(broadcast(books), Seq("subspace"))
      .withColumn("__d2", dist2Fold(col("sv"), col("centroid")))
      .groupBy(col(idCol), col("subspace"))
      .agg(min(struct(col("__d2"), col("code"))).as("r"))
      .select(col(idCol), col("subspace"), col("r.code").as("code"))
  }

  /**
   * PQ asymmetric-distance top-k: per query, a distance TABLE
   * (query subvector → every codebook entry, m·|codes| cells), then
   * every index vector's approximate distance is m table lookups —
   * the corpus pays no float math at all, which is the entire PQ
   * bargain at scale.
   *
   * The table cell is `floor(d2 · 2²⁰)` as BIGINT: scaling by a
   * power of two only shifts the double's exponent (exact), so both
   * engines floor the SAME value, and the per-vector ADC sum is an
   * integer — immune to float summation order, hash-stable. Rank
   * ascending, ties to the smaller id.
   *
   * Plan: the distance table is |queries|·m·|codes| rows —
   * broadcast; the codes table streams through one equi-join on
   * (subspace, code) and a map-side-combinable sum. No shuffle of
   * anything corpus-sized except the k-bounded rank window.
   *
   * @param codes PQ index from [[pqEncode]] (id, subspace, code)
   * @return (query_id, neighbor_id, adc_fp, rank)
   */
  def pqAdcTopK(codes: DataFrame, queries: DataFrame, books: DataFrame,
      k: Int, m: Int, subDim: Int, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val qsubs = subspaceSlices(queries, m, subDim, vecCol,
        col(idCol).as("query_id"))
      .withColumnRenamed("sv", "qv")
    val dtab = qsubs.join(broadcast(books), Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("code"),
        floor(dist2Fold(col("qv"), col("centroid")) * lit(1048576.0))
          .cast("long").as("__dfp"))
    val scored = codes
      .select(col(idCol).as("neighbor_id"), col("subspace"), col("code"))
      .join(broadcast(dtab), Seq("subspace", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("__dfp").as("adc_fp"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_fp").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adc_fp", "rank")
  }

  /**
   * Maximal-marginal-relevance diversification (Carbonell & Goldstein
   * 1998) at λ = 0.5: greedily select `select` results from each
   * query's top-`poolSize` candidate pool, each round picking
   * `argmax(rel − max_sim_to_already_selected)` — relevance minus
   * redundancy, the standard de-duplication of retrieval results
   * before they reach a context window (near-identical passages crowd
   * out coverage). λ = 0.5 makes the score a plain difference (the
   * ×2 scale is rank-irrelevant).
   *
   * Fixed-point: relevance and pairwise similarity enter as
   * `floor(cosine · 2²⁰)` BIGINTs (exponent-shift-exact, the PQ ADC
   * trade), so every round's argmax — and therefore the whole greedy
   * trajectory — is integer-deterministic; ties break to the smaller
   * id. The oracle replays the same unrolled rounds.
   *
   * Scale: the pool is k-bounded per query (poolSize² pairwise sims
   * per query, computed once); each selection round is one per-query
   * max + one argmax window over ≤ poolSize rows — never touches the
   * corpus after the initial top-k.
   *
   * @return (query_id, neighbor_id, rel_fp, sel_rank)
   */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, select: Int,
      poolSize: Int, vecCol: String = "embedding",
      idCol: String = "vec_id",
      maxDriverRows: Long = MmrMaxDriverRows): DataFrame = {
    require(select >= 1 && poolSize >= select, "need 1 <= select <= poolSize")
    val pool = bruteForceTopK(corpus, queries, poolSize, vecCol, idCol)
    val cands = pool.select(col("query_id"), col("neighbor_id"),
      floor(col("cosine") * lit(1048576.0)).cast("long").as("rel_fp"))
    val cv = pool.select(col("query_id"), col("neighbor_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__v")),
        Seq("neighbor_id"))
    val pairs = cv.select(col("query_id"), col("neighbor_id").as("a"), col("__v").as("__va"))
      .join(cv.select(col("query_id"), col("neighbor_id").as("b"), col("__v").as("__vb")),
        Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        floor(VectorFns.cosine(col("__va"), col("__vb")) * lit(1048576.0))
          .cast("long").as("sim_fp"))
    // The greedy loop runs DRIVER-SIDE on the collected pool: it is
    // |queries|·poolSize rows + poolSize² sims per query — bounded by
    // construction, the union-find/planner-stats collect regime. The
    // distributed-DataFrame form of the same loop (select rounds of
    // join + argmax window) was measured at 13.3 s on a 200-row pool
    // (11 jobs of fixed scheduling overhead); this is the whole cost
    // of the operator beyond the corpus-linear top-k above.
    // The pool bound is per-QUERY (poolSize); the query count is the
    // caller's, so the collect caps are asserted, not assumed
    // (round-12 advice #7): |queries|·poolSize candidate rows and
    // |queries|·poolSize² sim rows must fit the documented driver
    // budget or the operator fails loudly naming the regime.
    val spark = corpus.sparkSession
    val candRows = DriverBounds.boundedCollect(cands, maxDriverRows,
        "mmrTopK candidate pool").map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    val simRows = DriverBounds.boundedCollect(pairs, maxDriverRows,
        "mmrTopK pairwise sims").map(r =>
      ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    val out = candRows.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      val rel = cs.map(c => c._2 -> c._3).toMap
      val selectedIds = scala.collection.mutable.ArrayBuffer.empty[Long]
      (1 to select).flatMap { r =>
        val remaining = rel.keysIterator.filterNot(selectedIds.contains).toSeq
        if (remaining.isEmpty) None
        else {
          val pick = remaining.minBy { id =>
            val ms = if (selectedIds.isEmpty) 0L
              else selectedIds.map(s => simRows((qid, id, s))).max
            (-(rel(id) - ms), id) // argmax score, ties to smaller id
          }
          selectedIds += pick
          Some((qid, pick, rel(pick), r))
        }
      }
    }
    import spark.implicits._
    out.toDF("query_id", "neighbor_id", "rel_fp", "sel_rank")
  }

  private def rank(scored: DataFrame, k: Int): DataFrame = {
    // rank window is per-query — partitions by query_id, so the sort is
    // k-bounded per group, not global. Ties broken by neighbor_id for
    // full determinism.
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /**
   * Lloyd's k-means over an embedding column — the LEARNED coarse
   * quantizer, where [[centroids]] alone is the label-derived
   * shortcut. Each iteration is one broadcast assignment pass
   * ([[ivfAssign]]: centroids are k-bounded and tiny, the corpus
   * never shuffles for the join) followed by the decimal-exact
   * centroid recompute ([[centroids]]: map-side-combinable per-(cell,
   * dim) sums) — so an iteration costs a corpus scan plus two
   * vocabulary-bounded shuffles regardless of corpus size, the
   * canonical distributed k-means shape.
   *
   * Deterministic end to end: assignment ties break to the lowest
   * cell (the [[ivfAssign]] struct-max), means are decimal sums cast
   * to double (merge-order independent), and `init` fixes the
   * starting point — the same data and init always converge
   * identically, so an external engine can replay every iteration.
   *
   * A cell that captures no vectors this round drops out of the model
   * (its row simply doesn't appear in the recomputed centroid table)
   * — k can only shrink, never pad with ghost cells.
   *
   * Returns the final ASSIGNMENT `(idCol, vecCol, cell)` — the IVF
   * index shape, directly persistable as a lake table; derive the
   * model via [[centroids]] on it. Callers iterating many rounds
   * should persist `vecs` (each round re-reads it) — the returned
   * plan composes lazily.
   */
  def kmeans(vecs: DataFrame, init: DataFrame, iters: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    require(iters >= 1, "at least one assignment pass")
    var cents = init
    var assigned = ivfAssign(vecs, cents, vecCol, idCol, labelCol)
    (2 to iters).foreach { _ =>
      cents = centroids(
        assigned.withColumnRenamed("cell", labelCol), vecCol, labelCol)
      assigned = ivfAssign(vecs, cents, vecCol, idCol, labelCol)
    }
    assigned
  }

  /** Centroid of each labeled group — the IVF coarse quantizer built
    * from data (k-means step collapsed to one assignment pass when
    * labels exist). Element-wise mean via posexplode + groupBy. */
  def centroids(vecs: DataFrame, vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame =
    vecs.select(col(labelCol), posexplode(col(vecCol)))
      // DECIMAL sums make the per-dimension mean independent of merge
      // order (float avg is not associative), so centroids — and
      // everything routed through them — are deterministic and
      // externally replicable
      .groupBy(col(labelCol), col("pos"))
      .agg((sum(col("col").cast("decimal(28,8)")).cast("double") /
        count(lit(1))).as("c"))
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col(labelCol), transform(col("pc"), p => p.getField("c")).as("centroid"))

  /**
   * Recall@k evaluation of an approximate neighbor result against the
   * exact ground truth — the index-quality monitor a production ANN
   * deployment runs continuously (an IVF/LSH index silently decaying
   * under distribution drift shows up HERE first, before users notice
   * worse retrieval). Per query: ground-truth size, hit count
   * (approx ∩ exact), and recall as integer ppm of the ground truth
   * (floor division — hash-exact across engines).
   *
   * Plan: one equi-join on (query, neighbor) — a LEFT SEMI from the
   * exact side, so approx rows never outlive the probe — then a
   * per-query count; the exact side's per-query total left-joins
   * back so zero-hit queries keep a row (recall 0, not a dropped
   * query — the failure mode you most need to see). Both sides are
   * top-k results: k·|queries| rows, broadcastable at any corpus
   * scale because the CORPUS never enters this operator.
   */
  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * "SemDeDup: Data-efficient learning at web-scale through semantic
   * deduplication" — public arXiv:2303.09540): assign every embedding
   * to its nearest centroid cell, then WITHIN each cell drop every
   * vector that has a near-duplicate neighbor (cosine ≥ `tau`) of
   * higher keep priority. Cross-cell pairs are never compared — the
   * paper's own approximation, and exactly what makes the operator
   * viable at 100 TB: the only data-sized movement is one shuffle on
   * `cell`, and candidate pairs are bounded per cell (the quantizer's
   * k is the scale knob — production sizes k ∝ N so cells stay
   * roughly constant; a hot cell rides AQE skew handling because the
   * pair generator is a plain cell-keyed equi-join).
   *
   * Keep priority follows the paper: within a duplicate pair the
   * vector LESS similar to its cell centroid survives (keeping the
   * outlier preserves diversity); ties break to the lower id. The
   * greedy clique-removal of a sequential implementation is relaxed
   * to "drop iff SOME higher-priority near-dup neighbor exists" —
   * deterministic, one anti-join, and identical on pairwise-disjoint
   * dup groups (a chain a~b~c without a~c can drop both followers
   * where the sequential greedy would keep c; documented deviation,
   * pinned in the spec).
   *
   * Determinism/replayability: centroids come from the decimal-exact
   * [[centroids]]/[[kmeans]] path, per-vector squared norms are
   * computed ONCE before the pair join, and the pair predicate is
   * `dot/(sqrt(n2a)·sqrt(n2b)) ≥ tau` — bit-identical to evaluating
   * cosine inline (same fold), at a third of the flops.
   *
   * @param vecs  corpus (idCol, vecCol, …)
   * @param cents quantizer (labelCol, centroid) — from [[centroids]]
   *              or [[kmeans]]+[[centroids]]
   * @return kept rows (idCol, cell) — the deduplicated corpus ids
   *         with their cell assignment (lake-table shaped, like
   *         [[ivfAssign]])
   */
  def semDedup(vecs: DataFrame, cents: DataFrame, tau: Double,
      vecCol: String = "embedding", idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    val c = cents.select(col(labelCol).as("cell"), col("centroid"))
    val assigned = ivfAssign(vecs, cents, vecCol, idCol, labelCol)
      .join(broadcast(c), Seq("cell"))
      .withColumn("__csim", VectorFns.cosine(col(vecCol), col("centroid")))
      .withColumn("__n2", VectorFns.dot(col(vecCol), col(vecCol)))
      .select(col(idCol), col(vecCol), col("cell"), col("__csim"), col("__n2"))
    // fresh aliases on every column (incl. the join key) — the rival
    // side is the same lineage, and reusing an attribute makes the
    // self-join condition ambiguous
    val rival = assigned.select(col("cell").as("__bcell"),
      col(idCol).as("__bid"), col(vecCol).as("__bv"),
      col("__csim").as("__bcsim"), col("__n2").as("__bn2"))
    // bit-identical to cosine(v, bv) >= tau: same dot fold, same
    // norm-product divide — n2 is just hoisted out of the pair loop
    val near = VectorFns.dot(col(vecCol), col("__bv")) /
      (sqrt(col("__n2")) * sqrt(col("__bn2"))) >= lit(tau)
    val beats = col("__bcsim") < col("__csim") ||
      (col("__bcsim") === col("__csim") && col("__bid") < col(idCol))
    assigned.join(rival,
        col("cell") === col("__bcell") && beats &&
          sqrt(col("__n2")) * sqrt(col("__bn2")) > 0 && near,
        "left_anti")
      .select(col(idCol), col("cell"))
  }

  /**
   * Margin-based bitext mining (Artetxe & Schwenk, ACL 2019) — the
   * standard parallel-corpus curation stage for multilingual training
   * data: a candidate pair (x, y) is scored by its cosine RELATIVE to
   * what x and y score against their own k-nearest neighborhoods,
   * margin(x,y) = cos(x,y) / ((avgNNₖ(x) + avgNNₖ(y)) / 2), which
   * suppresses hub vectors that sit "close to everything" and would
   * flood a raw-cosine threshold with false pairs. Pairs are mined by
   * the paper's "max" strategy: y must be x's best candidate BY MARGIN
   * and x must be y's best (mutual best), and the margin must clear
   * `minMarginFp`.
   *
   * Consumes top-k neighbor lists in BOTH directions from ANY
   * retriever — [[bruteForceTopK]] for the oracle-checked board query,
   * [[ivfTopK]]/[[lshTopK]] for the 100 TB regime; the margin
   * arithmetic composes unchanged. That decomposition IS the scale
   * design: the expensive step (k-NN) is the already-profiled ANN
   * path, and the mining itself is two k-bounded map-side-combinable
   * aggregations plus id equi-joins over neighbor-list-sized inputs —
   * never corpus × corpus, and the rank windows partition by id, so no
   * global sort exists at any scale.
   *
   * Integer-exact end to end, so an external engine replays it
   * bit-identically: cosines land as fixed-point floor(2²⁰·cos)
   * BIGINTs (the same doubles in both engines — the ordered-fold
   * [[VectorFns.cosine]] contract), neighborhood sums are exact
   * integer sums, and the margin renders the paper's
   * cos / ((sumₓ/nₓ + sumᵧ/nᵧ) / 2) with PER-QUERY list sizes:
   * margin_fp = (2·nₓ·nᵧ·2²⁰·cos_fp) div (nᵧ·sumₓ + nₓ·sumᵧ) in 2²⁰
   * fixed point (numerator ≤ 2·k²·2²⁰·2²⁰ ≈ 2⁴⁷ for k ≤ 8 — inside
   * int64). When both lists are full (nₓ = nᵧ = k) this is the same
   * rational as the fixed-2k form, so the floor is bit-identical —
   * but approximate retrievers ([[lshTopK]]) can return FEWER than k
   * candidates, and a fixed 2k would deflate that query's
   * neighborhood mean and inflate its margins (round-16 ADVICE); the
   * per-count denominator is the paper's mean-over-what-was-retrieved
   * either way. Ranking on the truncated margin is a documented
   * deviation from the paper's real-valued scores: rationals within
   * 2⁻²⁰ of each other tie and break to the lower id,
   * deterministically in both engines.
   *
   * Pairs with a non-positive cosine or neighborhood sum are dropped
   * (a margin is meaningless without a positive similarity scale, and
   * the guard keeps every integer division in truncation==floor
   * territory). cos(x,y) is direction-symmetric bit-exactly (per-index
   * products and the norm product commute), so a pair retrieved from
   * both directions folds to one candidate row under `distinct`.
   *
   * @param srcToTgt top-k list (query_id = src, neighbor_id = tgt,
   *                 cosine, rank) over the TARGET corpus
   * @param tgtToSrc top-k list (query_id = tgt, neighbor_id = src,
   *                 cosine, rank) over the SOURCE corpus
   * @param k        the k both lists were retrieved with
   * @param minMarginFp mined-pair threshold in 2²⁰ fixed point
   *                 (1048576 = margin 1.0; the paper operates ~1.06)
   * @return (src_id, tgt_id, cos_fp, margin_fp) mutual-best pairs
   */
  def marginMine(srcToTgt: DataFrame, tgtToSrc: DataFrame, k: Int,
      minMarginFp: Long = 1048576L): DataFrame = {
    require(k > 0 && k <= 8, "k must be in [1, 8] (margin numerator int64 bound)")
    def fp(df: DataFrame, q: String, n: String) =
      df.select(col("query_id").as(q), col("neighbor_id").as(n),
        floor(col("cosine") * lit(1048576d)).cast("long").as("cos_fp"))
    val s2t = fp(srcToTgt, "src_id", "tgt_id")
    val t2s = fp(tgtToSrc, "tgt_id", "src_id")
    val sumS = s2t.groupBy("src_id").agg(sum("cos_fp").as("sum_s"),
      count(lit(1)).cast("long").as("n_s"))
    val sumT = t2s.groupBy("tgt_id").agg(sum("cos_fp").as("sum_t"),
      count(lit(1)).cast("long").as("n_t"))
    val cands = s2t.select("src_id", "tgt_id", "cos_fp")
      .unionByName(t2s.select("src_id", "tgt_id", "cos_fp")).distinct()
    val m = cands.join(sumS, "src_id").join(sumT, "tgt_id")
      .filter(col("cos_fp") >= 0 &&
        col("n_t") * col("sum_s") + col("n_s") * col("sum_t") > 0)
      .withColumn("margin_fp",
        expr("(cos_fp * 2L * n_s * n_t * 1048576L) div " +
          "(n_t * sum_s + n_s * sum_t)"))
    val bestT = Window.partitionBy("src_id")
      .orderBy(col("margin_fp").desc, col("tgt_id"))
    val bestS = Window.partitionBy("tgt_id")
      .orderBy(col("margin_fp").desc, col("src_id"))
    m.withColumn("__rs", row_number().over(bestT))
      .withColumn("__rt", row_number().over(bestS))
      .filter(col("__rs") === 1 && col("__rt") === 1 &&
        col("margin_fp") >= minMarginFp)
      .select("src_id", "tgt_id", "cos_fp", "margin_fp")
  }

  def recallAtK(approx: DataFrame, exact: DataFrame,
      queryCol: String = "query_id", neighborCol: String = "neighbor_id")
      : DataFrame = {
    val a = approx.select(col(queryCol), col(neighborCol))
    val e = exact.select(col(queryCol), col(neighborCol))
    val truth = e.groupBy(queryCol)
      .agg(count(lit(1)).cast("long").as("n_exact"))
    val hits = e.join(a, Seq(queryCol, neighborCol), "left_semi")
      .groupBy(queryCol).agg(count(lit(1)).cast("long").as("hits"))
    truth.join(hits, Seq(queryCol), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("recall_ppm",
        expr("(1000000 * hits) div greatest(n_exact, 1L)").cast("long"))
      .select(col(queryCol), col("n_exact"), col("hits"), col("recall_ppm"))
  }
}
