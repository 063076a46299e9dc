package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFns, VectorFns}

/**
 * Deduplication operators for training-data pipelines. Every variant
 * is bucketed: candidate pairs come from equi-joins on derived keys
 * (hash groups, MinHash bands, SimHash bands, shared n-grams, LSH
 * buckets) — never an all-pairs crossJoin, so the shuffle volume is
 * O(data × constant), not O(n²), and the plans hold at 100 TB.
 *
 * Hash functions are md5-based where an external oracle must replicate
 * results byte-for-byte, xxhash64 where only internal stability
 * matters (xxhash64 is ~10× cheaper; md5 keeps DuckDB parity).
 */
object Dedup {

  /** Exact duplicate groups: hash-groupBy on content (md5 keeps the
    * shuffle key at 32 bytes regardless of document size). Returns one
    * row per duplicated content value. */
  def exactGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count("*").as("n_docs"), min(col(idCol)).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** Exact dedup: keep the lowest-id document per distinct content.
    * Aggregation-based (min over the full row key) rather than
    * window+filter — one shuffle, no sort. */
  def exactDedup(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val keep = docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /**
   * MinHash signatures: k independent min-hashes over word-n-gram
   * shingles. hash_i(shingle) = md5(i:shingle); the signature entry is
   * the lexicographic min — identical in any engine with md5, which is
   * what lets a SQL oracle verify this operator exactly. Computed by
   * the native [[graft.plans.Md5MinHash]] expression (one compiled
   * pass; the equivalent transform/array_min composition is
   * CodegenFallback and ~10× slower at the same results).
   * Output: (idCol, shingles:array<string>, sig:array<string> size k).
   */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int): DataFrame = {
    // native single-pass shingling: byte-identical to
    // array_distinct(ComposedReferences.wordNgrams(...)) — the composed form the
    // oracle replicates — without the five CodegenFallback hops
    val shingles = graft.plans.WordShingles.shingles(col(textCol), shingleN,
      distinct = true)
    docs.select(col(idCol), shingles.as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("sig", graft.plans.Md5MinHash.minhash(col("shingles"), k))
  }

  /**
   * MinHash+LSH near-duplicate pairs: band the signature (bands ×
   * rowsPerBand = k), explode to (band, bandKey), self-join on the
   * band key (equi-join → hash shuffle on band values, never
   * all-pairs), dedupe candidates, then verify with exact Jaccard on
   * the shingle sets. Classic banding: a pair sharing ANY band is a
   * candidate.
   *
   * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold
   */
  def minhashNearDupPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 3, k: Int = 12,
      bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    // the signature/shingle subtree fans out to the band explode and
    // both sides of the candidate join — persist it once instead of
    // recomputing tokenization + k*md5 per reference. Materialize
    // EAGERLY: the fan-out stages are submitted concurrently, and a
    // lazily-populated cache lets them race, each recomputing the full
    // signature pass before the cache exists.
    val signed = minhashSignatures(docs, textCol, idCol, shingleN, k).persist()
    signed.count()

    val banded = signed.select(col(idCol), col("shingles"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(array_join(slice(col("sig"), b * rows + 1, lit(rows)), "|")))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")

    val a = banded.select(col(idCol).as("id_a"), col("band"), col("band_key"))
    val b = banded.select(col(idCol).as("id_b"), col("band"), col("band_key"))

    // Dedupe candidates on the 16-byte id pair BEFORE rejoining the
    // shingle arrays — at scale, shuffling arrays through distinct()
    // would dominate the stage.
    val candidates = a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    val shingleSets = signed.select(col(idCol), col("shingles"))
    val jaccard = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_a"), col("sh_b"))).cast("double")

    candidates
      .join(shingleSets.select(col(idCol).as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(shingleSets.select(col(idCol).as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Fast-path MinHash+LSH near-dup pairs using the native
   * [[graft.plans.XxMinHash]] Catalyst expression (one pass, integer
   * mixing, full codegen) instead of k×md5 — same banding + exact
   * Jaccard verify as [[minhashNearDupPairs]]. Use this at scale; the
   * md5 variant exists for external-oracle parity.
   */
  def minhashNearDupPairsFast(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 3, k: Int = 12,
      bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val signed = docs.select(col(idCol),
        graft.plans.WordShingles.shingles(col(textCol), shingleN,
          distinct = true).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("sig", graft.plans.XxMinHash.minhash(col("shingles"), k))
      .persist()
    signed.count() // eager: see minhashNearDupPairs

    val banded = signed.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")

    val a = banded.select(col(idCol).as("id_a"), col("band"), col("band_key"))
    val b = banded.select(col(idCol).as("id_b"), col("band"), col("band_key"))
    val candidates = a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    val shingleSets = signed.select(col(idCol), col("shingles"))
    val jaccard = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_a"), col("sh_b"))).cast("double")
    candidates
      .join(shingleSets.select(col(idCol).as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(shingleSets.select(col(idCol).as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Incremental MinHash near-dup: pair an incoming document batch
   * against an existing corpus WITHOUT re-pairing the corpus with
   * itself — the daily-ingest path at 100 TB. The existing side
   * arrives as a precomputed signature index (the exact output of
   * [[minhashSignatures]], maintained as a lake table by prior runs),
   * so each increment costs O(batch) signature work plus band
   * equi-joins of the batch against the index: new×new and
   * new×existing collisions only, never existing×existing.
   *
   * @param index   (idCol, shingles, sig) for the existing corpus
   * @param newDocs incoming batch (idCol, textCol); ids must be
   *                disjoint from the index
   * @return (id_a, id_b, jaccard) pairs with at least one new id,
   *         id_a < id_b, jaccard ≥ threshold
   * @note caches the batch signatures for the lifetime of the returned
   *       plan (they feed banding and both verify joins); long-lived
   *       drivers should `clearCache()` between increments
   */
  def minhashIncrementalPairs(index: DataFrame, newDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", shingleN: Int = 3,
      k: Int = 12, bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val newSigs = minhashSignatures(newDocs, textCol, idCol, shingleN, k).persist()
    newSigs.count() // eager: fans out to banding and the verify joins

    def banded(signed: DataFrame) = signed.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(array_join(slice(col("sig"), b * rows + 1, lit(rows)), "|")))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")

    val bn = banded(newSigs)
    val bo = banded(index)
    // new×existing collisions + new×new collisions; normalize id order
    val newOld = bn.select(col(idCol).as("id_n"), col("band"), col("band_key"))
      .join(bo.select(col(idCol).as("id_o"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
    val newNew = bn.select(col(idCol).as("id_a"), col("band"), col("band_key"))
      .join(bn.select(col(idCol).as("id_b"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val candidates = newOld.unionByName(newNew).distinct()

    val shingleSets = index.select(col(idCol), col("shingles"))
      .unionByName(newSigs.select(col(idCol), col("shingles")))
    val jaccard = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_a"), col("sh_b"))).cast("double")
    candidates
      .join(shingleSets.select(col(idCol).as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(shingleSets.select(col(idCol).as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** 64-bit SimHash from an array of 64-bit token hashes: per bit, sum
    * +1/−1 token votes by that bit of each hash; the fingerprint packs
    * the 64 majority signs. Pure higher-order functions → codegen, no
    * UDF, deterministic. */
  def simhashFromHashes(hashes: Column): Column = {
    val bits = transform(sequence(lit(0), lit(63)), i =>
      when(aggregate(hashes, lit(0),
        (acc, h) => acc + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1)
          .otherwise(-1)) > 0, lit(1L)).otherwise(lit(0L)))
    // pack: OR of bit_i << i
    aggregate(zip_with(bits, sequence(lit(0), lit(63)),
      (b, i) => call_function("shiftleft", b, i)), lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** SimHash fingerprints over whitespace tokens via the native
    * [[graft.plans.SimHash64]] expression (same xxhash64-seed-42 token
    * hash family and majority packing as [[simhashFromHashes]], which
    * the test suite cross-checks, in one compiled pass).
    *
    * Token-less documents are dropped, mirroring the minhash path's
    * empty-shingle filter: every empty doc fingerprints to the same
    * constant, and at corpus scale that one value becomes a single
    * quadratic banding bucket (N empty docs → N²/2 hamming-0 pairs). */
  def simhashDf(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    docs.select(col(idCol),
        graft.plans.WordShingles.shingles(col(textCol), 1).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol),
        graft.plans.SimHash64.simhash(col("__toks")).as("simhash"))
  }

  /** SimHash near-dup candidates: split the 64-bit fingerprint into
    * enough bands that any pair within maxHamming differing bits must
    * share at least one band (pigeonhole: bands > maxHamming), then
    * verify by exact Hamming distance. bands is the smallest
    * power-of-two divisor of 64 above maxHamming (≤ 16 → supports
    * maxHamming ≤ 15 with full recall). */
  def simhashNearDupPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 15, "maxHamming above 15 would need >16 bands")
    val bands = Seq(2, 4, 8, 16).find(_ > maxHamming).get
    val width = 64 / bands
    val mask = (1L << width) - 1
    // 64-bit fingerprinting fans out to both join sides — compute once,
    // eagerly (concurrent join-side stages would race a lazy cache).
    val fp = simhashDf(docs, textCol, idCol).persist()
    fp.count()
    val banded = fp.select(col(idCol), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => call_function("shiftright", col("simhash"), b * width).bitwiseAND(mask))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val a = banded.select(col(idCol).as("id_a"), col("simhash").as("h_a"),
      col("band"), col("band_key"))
    val b = banded.select(col(idCol).as("id_b"), col("simhash").as("h_b"),
      col("band"), col("band_key"))
    val hamming = bit_count(col("h_a").bitwiseXOR(col("h_b")))
    // pigeonhole, sharpened: ≤ maxHamming damaged bits damage at most
    // maxHamming of the `bands` bands, so a TRUE pair shares at least
    // bands − maxHamming clean bands. Narrow band keys (64/bands bits)
    // collide by chance at rate 2^-width per band; requiring the full
    // clean-band quota instead of ≥1 cuts those false candidates
    // polynomially with zero recall loss — the difference between
    // verifying Θ(N²/2^width) and Θ(N²/2^(q·width)) pairs at corpus
    // scale.
    val minShared = math.max(1, bands - maxHamming)
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "h_a", "h_b")
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared)
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /**
   * Collapse near-dup pairs into duplicate clusters (connected
   * components) by iterative min-label propagation: every doc starts
   * labeled with its own id; each round both endpoints of a pair adopt
   * the smaller label; converged when no label changes. Rounds needed
   * = graph diameter (near-dup clusters are shallow — a handful of
   * rounds), each round is one shuffle — the standard Spark CC pattern
   * that scales where driver-side union-find cannot.
   *
   * @param pairs (id_a, id_b) near-dup edges
   * @return (doc_id, cluster_id) for every doc appearing in an edge,
   *         cluster_id = min doc id of its component
   */
  def nearDupClusters(pairs: DataFrame, maxIterations: Int = 10,
      smallGraphThreshold: Long = 500000L): DataFrame = {
    // materialize the (possibly expensive) pair pipeline ONCE before
    // the union references it twice and the loop references it per
    // round — without this the upstream LSH pipeline recomputes
    // 2×(rounds+1) times.
    val base = pairs.select(col("id_a"), col("id_b")).persist()
    val nEdges = base.count()

    // The duplicate graph is orders of magnitude smaller than the
    // corpus (edges exist only between near-identical docs). Below the
    // threshold a driver-side union-find finishes in milliseconds where
    // the iterative job would pay several shuffle rounds of pure task
    // overhead; above it, fall through to the distributed loop — the
    // same size-based regime switch Spark applies to broadcast joins.
    // Long-id-only: a type-dependent crash ONLY under the size
    // threshold would be the worst kind of regime divergence, so
    // non-Long ids always take the (type-agnostic) distributed loop.
    val longIds = base.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && nEdges <= smallGraphThreshold) {
      val spark = pairs.sparkSession
      // the size gate above already proved nEdges <= threshold; the
      // boundedCollect keeps the idiom uniform (every driver collect
      // carries its cap) and guards against a count/collect race on a
      // non-deterministic upstream
      val edgeArr = DriverBounds.boundedCollect(base, smallGraphThreshold,
        "near-dup clustering small-graph union-find edges")
        .map(r => (r.getLong(0), r.getLong(1)))
      base.unpersist()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edgeArr.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      import spark.implicits._
      return parent.keys.toSeq.sorted.map(x => (x, find(x))).toDF("doc_id", "cluster_id")
    }

    // size the iteration's shuffles to the graph, not the session:
    // the dup graph is orders of magnitude smaller than the corpus,
    // and a fixed 32-partition shuffle per round is all task overhead.
    val parts = math.max(2, math.min(
      pairs.sparkSession.sparkContext.defaultParallelism,
      (nEdges / 50000L).toInt + 1))
    // localCheckpoint, not persist (round 13): labels is referenced
    // twice per round (neighbor-min + carry) plus once by the
    // convergence count, so persist-only iteration compounds Catalyst
    // re-analysis ~3× per round — the q_kcore exponential (see
    // Graphs.kCore); checkpointing truncates each round's plan to a
    // LogicalRDD while preserving the repartition's co-location.
    val edges = base
      .union(base.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .repartition(parts, col("id_b"))
      .localCheckpoint()
    base.unpersist()
    var labels = edges.select(col("id_a").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .repartition(parts, col("doc_id"))
      .localCheckpoint()
    var changedCount = 1L
    var i = 0
    while (changedCount > 0 && i < maxIterations) {
      // each node adopts min(own label, neighbors' labels)
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
        .groupBy(col("id_a").as("doc_id"))
        .agg(min(col("cluster_id")).as("n_min"))
      val next = labels.join(viaNeighbors, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("n_min"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint()
      changedCount = next.join(labels.withColumnRenamed("cluster_id", "old"),
        Seq("doc_id")).filter(col("cluster_id") =!= col("old")).count()
      // release AFTER the convergence count — it is the last reader
      // of the superseded round's blocks (round-14 storage hygiene)
      Lineage.release(labels)
      labels = next
      i += 1
    }
    // fail loudly rather than return silently-wrong labels: an
    // unconverged component would let duplicates through downstream
    if (changedCount > 0) throw new IllegalStateException(
      s"label propagation did not converge in $maxIterations rounds " +
        "(component diameter too large) — raise maxIterations")
    labels
  }

  /**
   * Quality-aware near-dup winner selection: keep exactly ONE document
   * per near-dup cluster — the best by (`score` desc, id asc) — plus
   * every unclustered document. The production keep-policy for
   * near-dup dedup: "first occurrence" is the right rule for EXACT
   * duplicates (copies are interchangeable), but near-dup cluster
   * members differ, and keep-first discards the best variant whenever
   * it isn't the oldest id — the standard pipeline rule is keep the
   * highest-quality member (longest, best quality score, preferred
   * source) of each cluster.
   *
   * `clusters` is a (idCol, cluster_id) table ([[nearDupClusters]]
   * output); `score` is any deterministic Column over the doc row
   * (e.g. [[graft.functions.TextFns.qualityScore]]). Ties break to
   * the lowest id, so selection is total and replayable.
   *
   * Scale shape: the winner per cluster is ONE map-side-combinable
   * max-struct aggregation over (cluster_id, score, id) rows — never
   * a window sort over cluster members, so a pathological million-doc
   * cluster folds to one row per partition before its exchange. The
   * cluster table joins on the id with NO broadcast hint (at crawl
   * scale it is a sizable fraction of the corpus — the
   * [[graft.pipeline.Corpus.leakageSafeSplit]] contract); AQE
   * broadcasts when it actually measures small.
   */
  def nearDupKeepBest(docs: DataFrame, clusters: DataFrame, score: Column,
      idCol: String = "doc_id"): DataFrame = {
    val clusterIds = clusters.select(col(idCol), col("cluster_id"))
    val winners = docs.select(col(idCol), score.as("__score"))
      .join(clusterIds, Seq(idCol))
      .groupBy("cluster_id")
      .agg(max(struct(col("__score"), (-col(idCol)).as("__nid"))).as("__w"))
      .select((-col("__w.__nid")).as(idCol))
    docs.join(clusterIds.select(idCol), Seq(idCol), "left_anti")
      .unionByName(docs.join(winners, Seq(idCol), "left_semi"))
  }

  /**
   * N-gram Jaccard near-dup pairs without MinHash: candidates share at
   * least `minSharedShingles` (rare) shingles. Blocking on the shingle
   * itself explodes hot shingles, so shingles appearing in more than
   * `maxDf` docs are dropped from blocking (they only generate
   * candidates that other, rarer shingles also generate for genuinely
   * similar pairs).
   *
   * Recall contract: the default minSharedShingles = 2 prunes the long
   * tail of single-collision pairs before the expensive array-verify
   * joins — the right trade for normal documents, where a pair at
   * threshold 0.4 over ≥5 shingles shares several. It CAN miss a
   * qualifying pair of very short docs (e.g. two 1-shingle docs
   * differing only in whitespace share exactly one shingle); pass
   * minSharedShingles = 1 when the corpus carries such docs and the
   * extra candidate volume is acceptable. Pairs whose every shared
   * shingle is hotter than maxDf are outside the blocking design at
   * any setting.
   */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 4, threshold: Double = 0.4,
      maxDf: Int = 50, minSharedShingles: Int = 2): DataFrame = {
    val (withShingles, pairs) = rareShingleBlockedPairs(docs, textCol, idCol,
      shingleN, maxDf, minSharedShingles)
    val jaccard = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_a"), col("sh_b"))).cast("double")
    pairs
      .join(withShingles.select(col(idCol).as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(withShingles.select(col(idCol).as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Set-similarity join with LOSSLESS prefix-filtering candidates
   * (the AllPairs/PPJoin principle, Bayardo et al. 2007 / Chaudhuri
   * et al. 2006): every pair with shingle Jaccard ≥ `threshold` is
   * guaranteed a candidate — unlike [[ngramJaccardPairs]]'s df-capped
   * rare-shingle blocking, which documents a recall hole for pairs
   * whose shared shingles are all hotter than maxDf. The exactness
   * argument: J(a,b) ≥ t ⇒ |a∩b| ≥ ⌈t·|a∪b|⌉ ≥ ⌈t·|d|⌉ for both
   * docs, and under ANY common total order of the shingle universe,
   * two sets with overlap ≥ ⌈t·|d|⌉ must collide inside their first
   * |d| − ⌈t·|d|⌉ + 1 elements — so joining PREFIX postings only is
   * complete, and the exact Jaccard confirm then makes the output
   * identical to the all-shared-shingle ground truth (which is what
   * the external oracle computes — the equality IS the proof on
   * data).
   *
   * Canonical order = (global document frequency asc, shingle asc):
   * rarest first, so prefixes carry each doc's most selective
   * shingles and hot shingles fall OUT of the prefix join unless a
   * doc is too small to exclude them — the frequency-ordering
   * heuristic that makes prefix filtering cheap in practice while
   * the guarantee never depends on it. Shapes: one df aggregation
   * (map-side combinable), one per-DOC window to rank (partition
   * bounded by the doc's own shingle count), a prefix-posting
   * self-join, and the usual shingle-array confirm rejoin.
   *
   * @param thresholdPpm Jaccard threshold in ppm (e.g. 400000 = 0.4);
   *        the prefix length uses exact integer ceil arithmetic so
   *        both engines cut identically.
   */
  def prefixJaccardPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 4,
      thresholdPpm: Long = 400000L): DataFrame = {
    require(thresholdPpm > 0 && thresholdPpm <= 1000000L,
      "thresholdPpm must be in (0, 1e6]")
    val withShingles = docs.select(col(idCol),
        graft.plans.WordShingles.shingles(col(textCol), shingleN,
          distinct = true).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .persist()
      .transform { df => df.count(); df }
    val posting = withShingles.select(col(idCol),
      explode(col("shingles")).as("shingle"),
      size(col("shingles")).cast("long").as("__n"))
    val dfCounts = posting.groupBy("shingle")
      .agg(count(lit(1)).cast("long").as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__df"), col("shingle"))
    val prefix = posting.join(dfCounts, Seq("shingle"))
      .withColumn("__rk", row_number().over(w))
      // prefix length = n − ceil(t·n) + 1, exact integer ceil
      .filter(col("__rk") <=
        col("__n") - expr(s"(__n * ${thresholdPpm}L + 999999L) div 1000000L")
          + 1L)
      .select(col(idCol), col("shingle"))
    val a = prefix.select(col(idCol).as("id_a"), col("shingle"))
    val b = prefix.select(col(idCol).as("id_b"), col("shingle"))
    val candidates = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    candidates
      .join(withShingles.select(col(idCol).as("id_a"),
        col("shingles").as("sh_a")), Seq("id_a"))
      .join(withShingles.select(col(idCol).as("id_b"),
        col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("__i",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("__u",
        size(array_union(col("sh_a"), col("sh_b"))).cast("long"))
      // rational threshold test — no float comparison can straddle a
      // rounding boundary differently across engines
      .filter(col("__i") * 1000000L >= lit(thresholdPpm) * col("__u"))
      .select(col("id_a"), col("id_b"),
        (col("__i").cast("double") / col("__u").cast("double")).as("jaccard"))
  }

  /** Rare-shingle candidate generation shared by [[ngramJaccardPairs]]
    * and [[editDistanceNearDupPairs]]: returns the persisted
    * (id, shingles) frame and the blocked ordered (id_a, id_b)
    * candidate pairs (≥ `minSharedShingles` shared rare shingles). */
  private def rareShingleBlockedPairs(docs: DataFrame, textCol: String,
      idCol: String, shingleN: Int, maxDf: Int,
      minSharedShingles: Int): (DataFrame, DataFrame) = {
    require(minSharedShingles >= 1, "minSharedShingles must be >= 1")
    val withShingles = docs.select(col(idCol),
      graft.plans.WordShingles.shingles(col(textCol), shingleN,
        distinct = true).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .persist() // referenced by the posting (×2 join sides) and both shingle rejoins
      .transform { df => df.count(); df } // eager: fan-out stages race a lazy cache
    val posting = withShingles.select(col(idCol), explode(col("shingles")).as("shingle"))
    // One exchange does blocking AND pair generation: group the posting
    // by shingle, df-filter on the collected group size (bounded by
    // maxDf, so the id arrays stay small by construction), and emit the
    // ordered id pairs per group — the equivalent posting self-join
    // shuffles the full posting list twice more for the same pair
    // multiset. This grouped form is safe ONLY because maxDf bounds the
    // per-group pair array; the MinHash/SimHash band joins keep the
    // streaming self-join shape instead, because band-group sizes are
    // unbounded and a hot band must stream its g² pairs, not
    // materialize them in one row.
    val ids = col("ids")
    val pairsPerShingle = flatten(transform(sequence(lit(0), size(ids) - 2),
      i => transform(slice(ids, i + 2, size(ids)),
        b => struct(element_at(ids, i + 1).as("id_a"), b.as("id_b")))))
    // shared-shingle prefilter: see the recall contract in the
    // scaladoc — tunable, default 2
    val pairs = posting.groupBy("shingle")
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .filter(size(ids) <= maxDf && size(ids) > 1)
      .select(explode(pairsPerShingle).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minSharedShingles).drop("__shared")
    (withShingles, pairs)
  }

  /**
   * Edit-distance near-duplicate pairs: the EXACT-similarity member
   * of the near-dup family. MinHash/SimHash/Jaccard all measure
   * set-of-shingles overlap, which is blind to ordering and counts a
   * moved paragraph as near-identical; Levenshtein distance is the
   * sequence-level ground truth ("how many character edits apart"),
   * the confirm a plagiarism/patch-detection pipeline wants. All-pairs
   * Levenshtein is O(n²·len²) — unthinkable at corpus scale — so
   * candidates come from the same rare-shingle blocking as
   * [[ngramJaccardPairs]] (equi-join on the shingle posting, group
   * size bounded by maxDf) and only candidates pay the string compare.
   *
   * The confirm itself is banded: `levenshtein(a, b, threshold)`
   * (Spark's built-in threshold variant) abandons a pair as soon as
   * the running distance exceeds `maxEdits`, so each confirm is
   * O(maxEdits · len) instead of O(len²) — two long documents that
   * differ wildly cost one diagonal band scan, not a full matrix.
   * A length prefilter (|len_a − len_b| ≤ maxEdits, a lower bound on
   * the distance) drops impossible pairs before any text is compared.
   *
   * Recall contract: inherits the blocking contract of
   * [[ngramJaccardPairs]] — a qualifying pair must share at least
   * `minSharedShingles` shingles rarer than `maxDf`. Within-`maxEdits`
   * pairs of normal documents share nearly all shingles, so blocking
   * recall is far higher here than at the Jaccard-0.4 operating point.
   * The one designed miss: a pair whose EVERY shared shingle is
   * hotter than `maxDf` (pure boilerplate) never becomes a candidate
   * — that text belongs to exact dedup / [[stripCommonLines]], not
   * here. Pinned by the planted-pair recall test at default
   * parameters (PipelineSpec "edit-distance blocking recall").
   *
   * Output: (id_a, id_b, edits), id_a < id_b, edits ≤ maxEdits.
   */
  def editDistanceNearDupPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxEdits: Int = 40, shingleN: Int = 4,
      maxDf: Int = 50, minSharedShingles: Int = 2): DataFrame = {
    require(maxEdits >= 1, "maxEdits must be >= 1")
    val (_, pairs) = rareShingleBlockedPairs(docs, textCol, idCol,
      shingleN, maxDf, minSharedShingles)
    // Single-stage confirm: texts and lengths ride the same two
    // candidate rejoins, the length lower bound (|len_a − len_b| ≤
    // maxEdits) prunes before the banded compare. A two-stage variant
    // (lengths-only join first, texts only for survivors) was
    // measured at +9% shuffle for no elapsed change at 1×/5×/10× —
    // after the ≥2-rare-shingle blocking the candidate set is already
    // dominated by genuine near-dups the prefilter keeps, so the
    // extra join pays for nothing. Negative result recorded here;
    // re-measure if blocking is ever loosened.
    val texts = docs.select(col(idCol), col(textCol), length(col(textCol)).as("__len"))
    pairs
      .join(texts.select(col(idCol).as("id_a"), col(textCol).as("__ta"),
        col("__len").as("__la")), Seq("id_a"))
      .join(texts.select(col(idCol).as("id_b"), col(textCol).as("__tb"),
        col("__len").as("__lb")), Seq("id_b"))
      .filter(abs(col("__la") - col("__lb")) <= maxEdits)
      .withColumn("edits", levenshtein(col("__ta"), col("__tb"), maxEdits))
      .filter(col("edits") >= 0) // threshold variant returns -1 past the band
      .select("id_a", "id_b", "edits")
  }

  /**
   * Asymmetric containment pairs: quote/extraction detection. Jaccard
   * is SYMMETRIC — a tweet quoted verbatim inside a long article
   * scores near zero because the union is dominated by the article —
   * so every Jaccard-thresholded dedup pass keeps both. Containment
   * C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| scores that
   * same pair 1.0 from the tweet's side: the signal for "this short
   * document is a fragment of that long one" (near-dup dedup's blind
   * spot, and the relation a license-compliance or quote-attribution
   * pass needs).
   *
   * Candidates come from the shared rare-shingle blocking; the
   * confirm computes containment in BOTH directions and keeps pairs
   * where either side's containment clears `threshold`. Output:
   * (id_a, id_b, containment, contained_id) with id_a < id_b,
   * `containment` = max of the two directions and `contained_id` the
   * doc that is mostly-contained (ties — equal shingle counts — break
   * to the smaller id, so symmetric near-dups are also total-ordered).
   *
   * Recall contract: a contained fragment shares ALL its shingles
   * with its container, so blocking recall is bounded only by the
   * rare-shingle requirement — a fragment whose every shingle is
   * hotter than `maxDf` (pure boilerplate) is outside the design,
   * which is the correct outcome (boilerplate is [[stripCommonLines]]'
   * job, not containment's).
   */
  def containmentPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", threshold: Double = 0.9, shingleN: Int = 4,
      maxDf: Int = 50, minSharedShingles: Int = 2): DataFrame = {
    val (withShingles, pairs) = rareShingleBlockedPairs(docs, textCol, idCol,
      shingleN, maxDf, minSharedShingles)
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    pairs
      .join(withShingles.select(col(idCol).as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(withShingles.select(col(idCol).as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("__ca", inter / size(col("sh_a")).cast("double"))
      .withColumn("__cb", inter / size(col("sh_b")).cast("double"))
      .withColumn("containment", greatest(col("__ca"), col("__cb")))
      .filter(col("containment") >= threshold)
      .withColumn("contained_id",
        when(col("__ca") > col("__cb"), col("id_a"))
          .when(col("__cb") > col("__ca"), col("id_b"))
          .otherwise(least(col("id_a"), col("id_b"))))
      .select("id_a", "id_b", "containment", "contained_id")
  }

  /**
   * Embedding-cosine near-duplicates, LSH-bucketed: sign-random-
   * projection bands generate candidates (equi-join), exact cosine
   * verifies. The scale path for "are these two documents semantically
   * identical" at 100 TB.
   *
   * Shape choice (measured record in PLANS.md's crossover table;
   * re-derived round 10 on materialized incompressible fixtures —
   * earlier tables were invalid, see the PLANS.md note): the default
   * dedupes candidates on the ID PAIR and rejoins the vectors
   * afterwards (two extra equi-joins); `carryVectors = true` keeps
   * the pre-rejoin shape where both vectors ride the band self-join
   * and the distinct. Cost model, now actually exhibited by the
   * measurements: the carry shape ships ~bands·N vector payloads
   * through one reused band exchange and evaluates cosine per
   * candidate OCCURRENCE; the rejoin ships ~2 payloads per DISTINCT
   * candidate pair and evaluates cosine once per pair. Crossover at
   * P ≈ bands·N/2 candidate pairs: production corpora (dup rates of
   * a few percent, P ≪ N) sit firmly on the rejoin's side, so it
   * stays the default; flip `carryVectors` on for narrow (≲256-dim)
   * vectors or pathologically dup-dense batches. Neither shape
   * survives undersized band keys — see the `bits` note below.
   */
  def embeddingNearDupPairs(vecs: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", threshold: Double = 0.95,
      bits: Int = 16, bands: Int = 4,
      carryVectors: Boolean = false, dim: Int = 64): DataFrame = {
    // `bits` (and the bits/bands band-key width) is the FIRST scale
    // knob: band-key space must grow with the corpus, or every bucket
    // holds a constant fraction of it and candidate generation
    // degenerates toward all-pairs regardless of join shape. `dim` is
    // the hyperplane width — leave at 64 to band on a 64-dim prefix
    // (recall-safe: a shared prefix is necessary for near-identity),
    // or set to the embedding width to discriminate on the full
    // vector.
    if (carryVectors) {
      val banded = vecs.select(col(idCol), col(vecCol),
          explode(VectorFns.srpBands(
            VectorFns.srpSignature(col(vecCol), bits, dim), bands, bits)).as("bk"))
        .select(col(idCol), col(vecCol),
          col("bk.band").as("band"), col("bk.key").as("band_key"))
      val a = banded.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
        col("band"), col("band_key"))
      val b = banded.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
        col("band"), col("band_key"))
      return a.join(b, Seq("band", "band_key"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cosine", VectorFns.cosine(col("v_a"), col("v_b")))
        .filter(col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine").distinct()
    }
    val sig = vecs.select(col(idCol),
      VectorFns.srpSignature(col(vecCol), bits, dim).as("sig"))
    // ids + band keys only — the vectors rejoin AFTER candidate dedup
    val banded = sig.select(col(idCol),
      explode(VectorFns.srpBands(col("sig"), bands, bits)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("band_key"))
      .persist() // SRP signatures fan out to both candidate-join sides
      .transform { df => df.count(); df } // eager: fan-out stages race a lazy cache
    val a = banded.select(col(idCol).as("id_a"), col("band"), col("band_key"))
    val b = banded.select(col(idCol).as("id_b"), col("band"), col("band_key"))
    // dedupe candidates on the ID PAIR, then rejoin the vectors — the
    // same shape the minhash path uses: a multi-band collision must
    // not drag two full embedding arrays through the distinct()
    // exchange once per shared band (at 1024 dims that is ~8 KB per
    // duplicate row dominating the stage)
    val vecs2 = vecs.select(col(idCol), col(vecCol))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(vecs2.select(col(idCol).as("id_a"), col(vecCol).as("v_a")), Seq("id_a"))
      .join(vecs2.select(col(idCol).as("id_b"), col(vecCol).as("v_b")), Seq("id_b"))
      .withColumn("cosine", VectorFns.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /**
   * Corpus-wide exact PARAGRAPH deduplication — the sub-document
   * complement of the doc-level dedup family (the practical variant of
   * exact-substring dedup from the "Deduplicating Training Data Makes
   * Language Models Better" line of work, with the paragraph as the
   * unit: crawled boilerplate — headers, footers, cookie banners,
   * license blocks — repeats verbatim at paragraph granularity, which
   * doc-level near-dup cannot remove without discarding whole
   * documents).
   *
   * Keeps the FIRST occurrence corpus-wide (lexicographic (id, pos)),
   * strips every later verbatim copy, and reassembles each document
   * with its surviving paragraphs in original order. Fully-stripped
   * documents come back as empty text rather than vanishing — dropping
   * them is the caller's decision (`filter(length(col) > 0)`).
   *
   * `minParagraphChars`: paragraphs SHORTER than the floor are exempt
   * from dedup and always kept in place — short headers ("Abstract",
   * "Introduction", a date line) legitimately repeat across documents
   * and stripping them would mutilate every doc but one. 0 (default)
   * dedups everything.
   *
   * Separator normalization (observable output mutation): documents
   * are split on `\n{2,}` and surviving paragraphs rejoined with
   * exactly `"\n\n"`, so a 3-newline (or longer) separator comes back
   * as a double newline even in a document that lost no paragraphs —
   * the corpus does NOT round-trip byte-identical unless every
   * separator was already exactly `\n\n`. Deliberate: a canonical
   * separator keeps the operator idempotent (re-running it is a no-op)
   * and makes paragraph keys independent of incidental blank-line
   * padding. Callers needing byte-exact passthrough of clean docs
   * should diff against the input and keep the original text where no
   * paragraph was stripped.
   *
   * Scale shape (round 11; NO hot-key join and paragraph TEXT never
   * shuffles — the previous shape joined every paragraph occurrence
   * back on its key, and the universal-boilerplate key sat under
   * AQE's skew-split threshold while still being 5×+ a median task:
   * the board's worst recorded skew). The identity that removes the
   * join: a doc's DROPPED positions are exactly its dedupable
   * positions minus the positions where it owns the corpus-wide
   * first — and both sides of that difference are available without
   * re-joining occurrences. Pipeline: posexplode → 128-bit
   * xxhash64-pair key (16 bytes, the [[stripDuplicateWindows]]
   * collision contract) → min-struct first-occurrence agg (map-side
   * combinable: the 10^8-copy boilerplate key folds to one row per
   * partition BEFORE its only exchange, so no task ever sees the hot
   * key's occurrence list) → winners regroup by doc id (one row per
   * DISTINCT paragraph, uniform keys) → docs left-join their won-
   * position arrays (uniform id keys) → narrow per-row rebuild keeps
   * a paragraph iff exempt or won. Nowhere does a hot key meet an
   * exchange; per-task memory is bounded by the longest single
   * document.
   */
  def stripDuplicateParagraphs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minParagraphChars: Int = 0): DataFrame = {
    def paras = split(col(textCol), "\\n{2,}")
    val keyed = docs.select(col(idCol),
        posexplode(paras).as(Seq("pos", "para")))
      .filter(length(col("para")) >= minParagraphChars) // exempt never drop
      .select(col(idCol), col("pos"),
        struct(xxhash64(col("para")).as("h1"),
          xxhash64(col("para"), lit(1L)).as("h2")).as("__pk"))
    val won = keyed.groupBy("__pk")
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
      .groupBy(col(s"__first.$idCol").as(idCol))
      .agg(array_sort(collect_set(col("__first.pos"))).as("__won"))
    // separator normalization on every path (split + rejoin with
    // exactly "\n\n"); a doc whose every paragraph drops comes back as
    // empty text rather than vanishing. A doc absent from `won` kept
    // no dedupable paragraph — exempt ones still survive the filter.
    docs.join(won, Seq(idCol), "left")
      .select(col(idCol), array_join(
        filter(paras, (p, i) => length(p) < minParagraphChars ||
          array_contains(
            coalesce(col("__won"), typedlit(Array.empty[Int])), i)),
        "\n\n").as(textCol))
  }

  /**
   * Substring-window exact dedup — the flat-token-stream member of the
   * dedup family (exact doc / paragraph / near-dup), catching verbatim
   * spans that CROSS paragraph boundaries, which
   * [[stripDuplicateParagraphs]] is structurally blind to. The
   * distributed rendering of the Lee et al. exact-substring idea
   * ("Deduplicating Training Data Makes Language Models Better",
   * ACL 2022): their suffix array finds duplicated substrings of at
   * least some length L on one machine; here every `windowTokens`-token
   * sliding window (stride 1) is fingerprinted, and a window whose
   * fingerprint occurs anywhere else in the corpus keeps only its
   * globally-first occurrence (lexicographic (id, pos), the
   * [[stripDuplicateParagraphs]] rule). Overlapping duplicate windows
   * coalesce into spans via their covered token positions, so any
   * duplicated run of `>= windowTokens` tokens is stripped from every
   * copy but the first, wherever paragraph breaks fall.
   *
   * `windowTokens` is thus the minimum duplicated-span length (Lee et
   * al. use 50 BPE tokens); runs shorter than the window are never
   * touched, and documents shorter than the window have no fingerprint
   * at all.
   *
   * Whitespace normalization (observable output mutation, same
   * contract as [[stripDuplicateParagraphs]]'s separator
   * normalization): documents are whitespace-tokenized and reassembled
   * with single spaces, so runs of whitespace collapse even in
   * documents that lost nothing. Deliberate — it makes window keys
   * independent of incidental spacing, so a re-run never strips on
   * spacing alone. (Strict idempotence is not a theorem: stripping a
   * span makes its neighbors adjacent, and that junction can in
   * principle form a new duplicated window for a later pass — the
   * same property Lee et al.'s iterated substring dedup has.)
   * Fully-stripped documents come back as empty text rather than
   * vanishing.
   *
   * Scale shape (all token-granularity but linear, no driver state):
   * windows carry only `(id, pos, 128-bit key)` into the shuffle —
   * the W-token gram string is hashed BEFORE the exchange, so shuffle
   * volume is ~28 bytes per token position, not W tokens of text per
   * position. First-occurrence is the same min-struct agg as
   * paragraph dedup (map-side combinable: a boilerplate window with
   * 10^8 copies folds to one row per partition before the exchange);
   * the window→first equi-join rides AQE skew-join on hot keys; dup
   * positions collapse to one sorted array per affected doc; and the
   * rebuild is a narrow per-row segment slice — token text never
   * enters an exchange (see the rebuild comment below). Per-task
   * memory is bounded by the longest single document (its token array
   * in one row), exactly like paragraph dedup.
   */
  def stripDuplicateWindows(docs: DataFrame, windowTokens: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(windowTokens > 0, "window must be at least one token")
    // Window key (round 11; was md5): a 128-bit pair of xxhash64s —
    // 16 bytes against the md5 hex string's 32, on the operator's
    // dominant shuffle (the ~W rows per token position that made this
    // the heaviest shuffle per byte of text on the board), and both
    // big exchanges (first-occurrence agg AND the window→first
    // rejoin) shrink. Collision-safety is the SAME assumption the md5
    // key made: two distinct grams must collide in all 128 bits
    // (xxhash64 of the gram, and of the (gram, 1) tuple) to merge.
    // The oracle is unaffected — it defines duplicates by gram
    // equality (its md5 key is collision-free on the same grounds),
    // and the output hash-check pins equivalence.
    //
    // A two-tier variant (8-byte xx64 first pass finding duplicated
    // keys, Bloom-pruned exact confirm — the decontaminateBloom
    // pattern applied intra-operator) was built and MEASURED WORSE
    // here: on dup-dense corpora (the profiled fixture: a boilerplate
    // tail on every doc plus templated doc families) nearly every
    // window is a candidate, so the prefilter pass is pure overhead
    // (176.8 MB shuffle and +2 eager jobs vs 182.9 MB one-pass).
    // Key narrowing wins on every density; prefiltering only wins
    // when duplicates are rare.
    val windows = docs.select(col(idCol),
      posexplode(graft.plans.WordShingles.shingles(col(textCol), windowTokens))
        .as(Seq("pos", "gram")))
      .select(col(idCol), col("pos"),
        struct(xxhash64(col("gram")).as("h1"),
          xxhash64(col("gram"), lit(1L)).as("h2")).as("__wk"))
    val first = windows.groupBy("__wk")
      .agg(min(struct(col(idCol), col("pos"))).as("__first"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1) // unique windows can't strip anything
    val dups = windows.join(first, Seq("__wk"))
      .filter(col(s"__first.$idCol") =!= col(idCol) ||
        col("__first.pos") =!= col("pos"))
      .select(col(idCol), col("pos"))
    // Rebuild (round 11; was explode → covered-position anti-join →
    // collect_list reassembly): token text NEVER shuffles. The only
    // per-token-position rows in any exchange are the (id, pos) dup
    // occurrences; they collapse to ONE sorted position array per
    // affected document, and the rebuild is a narrow per-row
    // projection that slices the KEPT token segments straight out of
    // the document's own token array. The kept segments are the
    // complement of ∪[p, p+W-1] over dup positions p, which falls out
    // of the sorted array directly — segment k runs from
    // (k == 0 ? 0 : P[k] + W) through (k == |P| ? n-1 : P[k+1] - 1),
    // empty segments vanishing via a zero-length slice — so no
    // interval merge, no covered-index expansion (the old shape
    // exploded W rows per dup position), no per-token anti-join, and
    // no collect_list of token structs. The old shape shuffled every
    // affected token THREE times (anti-join probe, covered distinct,
    // rebuild agg) — profiled 182 MB at the 10× row with every doc
    // affected; this one shuffles dup positions once and the affected
    // doc row once. Per-task memory stays bounded by the longest
    // single document (its token array in one row), the same bound
    // collect_list had.
    // ONE consumer of `dups` (round 12; was an `affected` distinct for
    // a left_anti plus a separate dupPos join — two full evaluations
    // of the keyed-windows ⋈ firsts join feeding two exchanges): docs
    // left-join their dup-position arrays once, and a null array IS
    // the untouched case, resolved per row.
    val dupPos = dups.groupBy(idCol)
      .agg(array_sort(collect_set(col("pos"))).as("__dp"))
    val rebuiltToks = {
      val toks = graft.plans.WordShingles.shingles(col(textCol), 1)
      val p = col("__dp")
      flatten(transform(sequence(lit(0), size(p)), k => {
        val start = when(k === 0, lit(0))
          .otherwise(element_at(p, k) + lit(windowTokens))
        val end = when(k === size(p), size(toks) - 1)
          .otherwise(element_at(p, k + 1) - 1)
        slice(toks, start + 1, greatest(lit(0), end - start + 1))
      }))
    }
    // a fully-covered doc yields only empty segments → empty text
    // rather than vanishing; tokens rejoined with single spaces IS the
    // whitespace normalization, identical on both paths
    docs.join(dupPos, Seq(idCol), "left")
      .select(col(idCol), when(col("__dp").isNull,
          array_join(graft.plans.WordShingles.shingles(col(textCol), 1), " "))
        .otherwise(array_join(rebuiltToks, " ")).as(textCol))
  }

  /**
   * GLOBAL exact-substring dedup at CHARACTER granularity — the
   * exactness-complete member of the substring family, closing the
   * two gaps [[stripDuplicateWindows]] leaves open: spans that do not
   * align to token boundaries (a copy pasted mid-word re-tokenizes
   * differently and the token windows never match), and any
   * dependence on the whitespace tokenizer at all. Semantics are the
   * suffix-array criterion of Lee et al. ("Deduplicating Training
   * Data Makes Language Models Better", ACL 2022): every character
   * inside a substring of length ≥ `minSpanChars` that occurs
   * verbatim anywhere else in the corpus is stripped from all but
   * the globally-first occurrence (lexicographic (id, pos)).
   *
   * WHY this equals the suffix-array form (the reason no distributed
   * suffix array is needed): a character position is inside some
   * duplicated substring of length ≥ L  ⇔  it is covered by some
   * duplicated L-gram. (⇒ a duplicated run of length M ≥ L contains
   * the L-gram starting at each of its first M−L+1 positions, and
   * every position of the run is within L−1 of one of those starts;
   * ⇐ an L-gram occurring twice IS a duplicated substring of length
   * L.) The suffix array is a single-machine technique for finding
   * those positions; on a cluster the stride-1 L-gram fingerprint
   * equi-join finds the identical set with only map-side hashing, one
   * map-combinable aggregation, and one join — no global sort, no
   * O(log n) prefix-doubling rounds over 100 TB.
   *
   * Exactness trade vs the token form, stated as MEASURED cost: the
   * shuffle carries ~28 bytes per CHARACTER position (id, pos,
   * 16-byte key) instead of per token position. On the universal-
   * hot-tail profile fixture this is 13× the token form's exchange
   * volume (1505 vs 113 MB at the 10× row) — the ~6× char-per-token
   * ratio compounded by the denser dup-position traffic char
   * granularity produces — while growth stays LINEAR (5×→10×
   * shuffle ratio 2.01, skew ≤ 1.74, elapsed sub-linear at 4.2× for
   * 10× data). The gram text itself never shuffles (hashed before
   * the exchange), hot boilerplate keys fold map-side in the
   * first-occurrence aggregation, and the rebuild slices kept
   * segments from each doc's own string. Use the token form as the
   * default pass and this one where byte-exact span removal is the
   * requirement.
   *
   * Unlike the token form there is NO whitespace normalization:
   * untouched documents round-trip byte-identical, and survivors keep
   * their original characters minus the removed spans. Documents
   * shorter than `minSpanChars` carry no fingerprint and pass
   * through verbatim; a fully-covered document comes back as empty
   * text rather than vanishing.
   *
   * Collision contract: duplicate detection is on a 128-bit
   * xxhash64-pair of the gram (same contract as the window/paragraph
   * forms — two distinct grams must collide in all 128 bits to merge);
   * the DuckDB oracle defines duplicates by gram string equality and
   * the output hash-check pins the equivalence.
   */
  def stripDuplicateCharSpans(docs: DataFrame, minSpanChars: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minSpanChars > 0, "span floor must be at least one character")
    val L = minSpanChars
    val eligible = docs.filter(length(col(textCol)) >= L)
    // two-level transform so each L-char gram string materializes
    // ONCE, not once per hash — HOF lambdas don't get subexpression
    // elimination, and the duplicated substr doubled the probe's
    // allocation churn (the measured source of this query's
    // run-to-run variance in the round-12 tight-loop probe)
    // persisted: keyed feeds BOTH the first-occurrence aggregation and
    // the join probe side — without the cache the per-position
    // substring+hash explode (the operator's dominant compute) runs
    // twice. ~28 bytes/char cached; on a 100 TB corpus prefer
    // StorageLevel spill-to-disk over recompute — the explode is
    // CPU-bound on string materialization, not IO-bound.
    val keyed = eligible.select(col(idCol), posexplode(transform(
        transform(sequence(lit(0), length(col(textCol)) - L),
          i => col(textCol).substr(i + 1, lit(L))),
        g => struct(xxhash64(g).as("h1"), xxhash64(g, lit(1L)).as("h2"))))
      .as(Seq("pos", "__ck")))
      .persist()
    keyed.count() // eager: both consumers race a lazy cache otherwise
    val first = keyed.groupBy("__ck")
      .agg(min(struct(col(idCol), col("pos"))).as("__first"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
    val dups = keyed.join(first, Seq("__ck"))
      .filter(col(s"__first.$idCol") =!= col(idCol) ||
        col("__first.pos") =!= col("pos"))
      .select(col(idCol), col("pos"))
    // rebuild: identical segment-slice identity as the token form
    // (kept chars = complement of ∪[p, p+L−1] over the doc's sorted
    // dup starts), realized as substr slices on the doc's own string
    // so character data never enters an exchange
    val dupPos = dups.groupBy(idCol)
      .agg(array_sort(collect_set(col("pos"))).as("__dp"))
    val rebuilt = {
      val p = col("__dp")
      val n = length(col(textCol))
      array_join(transform(sequence(lit(0), size(p)), k => {
        val start = when(k === 0, lit(0))
          .otherwise(element_at(p, k) + lit(L))
        val end = when(k === size(p), n - 1)
          .otherwise(element_at(p, k + 1) - 1)
        col(textCol).substr(start + 1, greatest(lit(0), end - start + 1))
      }), "")
    }
    // single dupPos left join (same one-consumer shape as the token
    // form): null position array = untouched doc, returned verbatim
    docs.join(dupPos, Seq(idCol), "left")
      .select(col(idCol), when(col("__dp").isNull, col(textCol))
        .otherwise(rebuilt).as(textCol))
  }

  /**
   * Exact dedup of a new batch against a massive historical corpus
   * index — the daily-ingest counterpart of [[exactDedup]], shaped so
   * the INDEX side (at production scale: 10^11+ content hashes, far
   * larger than any batch) is never shuffled.
   *
   * A plain `newDocs.join(index, fp, "left_anti")` hash-partitions
   * BOTH sides — re-shuffling the full index per daily batch is the
   * scale-killer. A broadcast semi-join of the index against the
   * batch's hashes avoids that, but a broadcast HashedRelation ships
   * every key verbatim and caps the batch at broadcast-budget /
   * ~32 bytes-per-md5. The bloom prefilter extends that regime ~10×:
   * a Bloom filter over the BATCH hashes (~1.2 bytes/key at 1% fpp)
   * is embedded in a scan-side predicate
   * ([[graft.plans.BloomMightContain]]), so the index is reduced AT
   * THE SCAN to true matches plus an fpp-fraction of false positives.
   * Only that sliver enters the exact anti-join that confirms
   * membership — the result is IDENTICAL to the plain anti-join
   * (bloom filters have no false negatives; false positives survive
   * the prefilter only to lose the exact comparison), which is what
   * the DuckDB oracle checks.
   *
   * Eager work at plan-build time (documented departure from the
   * lazy-builder convention, same contract as
   * [[graft.pipeline.Corpus.semanticDecontaminate]]'s size guard):
   * building the filter is one Spark job over the batch — the SMALL
   * side by the operator's own premise. Pass `expectedBatchItems` to
   * skip the sizing `count()` and make it exactly one job.
   *
   * @param index   historical content hashes; only `fpCol` is read,
   *                so a column-pruned parquet scan reads one column
   * @param fpp     false-positive rate: fraction of the index that
   *                needlessly enters the confirm join (1% default)
   * @param expectedBatchItems bloom sizing hint; 0 = count the batch
   *                first (one extra job). Undersizing only raises the
   *                effective fpp — never correctness.
   * @return the rows of `newDocs` whose content hash does NOT appear
   *         in the index, original columns preserved
   */
  def exactDedupAgainstIndex(newDocs: DataFrame, index: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      fpCol: String = "content_hash", fpp: Double = 0.01,
      expectedBatchItems: Long = 0L): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val batch = newDocs.withColumn("__fp", md5(col(textCol)))
    val items =
      if (expectedBatchItems > 0) expectedBatchItems
      else math.max(1L, batch.select("__fp").distinct().count())
    val bloom = batch.stat.bloomFilter(col("__fp"), items, fpp)
    val bytes = graft.plans.BloomMightContain.serialize(bloom)
    // survivors: O(batch + fpp·|index|) rows, one pruned column — the
    // only part of the index that ever reaches an exchange. AQE picks
    // the confirm-join strategy from the survivors' ACTUAL size (tiny
    // → broadcast), which a static hint couldn't know.
    val survivors = index
      .select(col(fpCol).as("__fp"))
      .filter(graft.plans.BloomMightContain.mightContain(col("__fp"), bytes))
    batch.join(survivors, Seq("__fp"), "left_anti").drop("__fp")
  }

  /**
   * Corpus-wide common-line strip: remove every line that appears in
   * at least `maxDf` DISTINCT documents — navigation menus, cookie
   * banners, subscription prompts, the RefinedWeb/CCNet line-level
   * filter. Complements the family: [[stripDuplicateParagraphs]]
   * keeps a FIRST occurrence of each duplicate paragraph;
   * this operator strips high-df lines from EVERY document including
   * the first — boilerplate has no meaningful "first" owner — and
   * leaves rarer duplicates alone.
   *
   * `minLineChars`: lines SHORTER than the floor are exempt and kept
   * in place — blank lines and one-character separators appear in
   * nearly every document, and stripping them would collapse
   * structure corpus-wide. The default floor of 1 exempts exactly the
   * empty line, preserving paragraph breaks.
   *
   * Byte-exactness: documents are split on `\n` and rejoined with
   * `\n`, so a document that loses no line round-trips byte-identical
   * (unlike the window/paragraph ops' whitespace normalization).
   * CRLF line endings are NOT normalized — the `\r` stays attached to
   * its line and distinguishes keys; normalize upstream if mixing
   * conventions.
   *
   * Scale shape: the df count is two stages — distinct (line-key,
   * doc) pairs first (fine-grained composite key, no hot key
   * possible), then a count-by-key whose partial aggregation is
   * map-side combinable, so a line in 10^8 documents folds to one row
   * per partition before the exchange. The strip anti-join's build
   * side (keys with df ≥ maxDf) is vocabulary-bounded and small at
   * any sane threshold — AQE broadcasts it at runtime. Rebuild
   * shuffles on the doc id; per-task memory bounded by the longest
   * single document.
   */
  def stripCommonLines(docs: DataFrame, maxDf: Long,
      idCol: String = "doc_id", textCol: String = "text",
      minLineChars: Int = 1): DataFrame = {
    require(maxDf > 1, "maxDf must be at least 2")
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
    val dedupable = lines.filter(length(col("line")) >= minLineChars)
      .withColumn("__lk", md5(col("line")))
    val hot = dedupable.select(col("__lk"), col(idCol)).distinct()
      .groupBy("__lk").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= maxDf)
      .select("__lk")
    val kept = dedupable.join(hot, Seq("__lk"), "left_anti")
      .select(col(idCol), col("pos"), col("line"))
      .unionByName(lines.filter(length(col("line")) < minLineChars))
    val rebuilt = kept.groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x("line")), "\n").as(textCol))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }
}
