package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Link-graph operators for web-corpus curation. A crawl's host graph
 * is a quality prior: authority-ranked hosts seed frontier ordering
 * and per-domain quality weights (the role centrality scores play in
 * public web-corpus pipelines such as Common Crawl's host-level
 * ranking), feeding [[Corpus.sourceCap]]-style selection with a
 * principled per-source weight instead of a flat cap.
 */
object Graphs {

  /**
   * Fixed-point PageRank — the textbook damped iteration rendered
   * entirely in scaled integers ("rank units" of 1/`scale`), so every
   * iteration is deterministic to the last bit regardless of merge
   * order, partitioning, or engine: float PageRank drifts in the last
   * ulp between reduce orders, which breaks hash-exact verification
   * and makes incremental re-runs non-reproducible (the same trade
   * [[Corpus.unigramDfScore]] documents for LM scoring). Truncating
   * integer division is part of the contract: each iteration loses
   * < 1 rank unit per node to rounding, bounded and identical
   * everywhere.
   *
   * Per iteration: contrib(edge src→dst) = rank(src) div deg(src);
   * rank'(v) = (1000−d)·init div 1000 + d·Σ contrib(v) div 1000, with
   * `d` in permille. Dangling-node mass (nodes with no out-edges) is
   * dropped, matching the classic distributed formulation — ranks are
   * an ORDERING signal, not a probability distribution; callers who
   * need conservation renormalize downstream.
   *
   * Scale shape: edges are deduplicated and materialized ONCE
   * (eagerly — they fan out to the degree table and every iteration's
   * contribution join), and an iteration is one shuffle join of ranks
   * against edges on `src` plus one map-side-combinable integer sum
   * by `dst` — the canonical Spark PageRank loop, with hot hubs
   * (every host links to google.com) riding AQE skew-join on the
   * contribution join and folding into partial sums before the
   * exchange on the aggregation side.
   *
   * @param edges (srcCol, dstCol) directed link table; duplicates
   *              collapse (unweighted graph)
   * @return (node, rank) — rank in units of 1/`scale`
   */
  def pageRankFixedPoint(edges: DataFrame, iters: Int,
      dampingPermille: Long = 850L, scale: Long = 1000000000L,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, "at least one iteration")
    require(dampingPermille >= 0 && dampingPermille <= 1000,
      "damping is a permille")
    // localCheckpoint (round 13): e is EMBEDDED in every iteration's
    // lazy plan (contribution join), so a persist-only base leaves
    // Catalyst re-analyzing k copies of the full distinct-union
    // lineage at iteration k; truncation makes the per-iteration plan
    // increment constant-size (Graphs.kCore).
    // Round 18 (§2.4, the r17 VERDICT's fixed-cost campaign): the
    // out-degree is folded INTO the same checkpointed pass as a
    // window count, so each iteration is ONE equi-join against
    // (src, dst, __deg) instead of the former two (ranks join +
    // outDeg join) — one fewer join per iteration at no extra pass
    // (the degree window prices once, inside the checkpoint job).
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .withColumn("__deg",
        count(lit(1)).over(Window.partitionBy(col("src"))))
      .localCheckpoint()
    // nodes: persist + count — ONE materializing job (the count
    // populates the cache) instead of the former localCheckpoint job
    // PLUS a count job; the node table's lineage over the
    // checkpointed e is two projections + a distinct, so re-analysis
    // per reference is constant-size (the round-13 lesson applied
    // only to un-truncated bases).
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .persist()
    val n = nodes.count()
    // loud contract failure instead of a bare ArithmeticException in
    // `scale / n` when the edge set is empty (e.g. a degenerate
    // co-occurrence graph from an empty corpus)
    require(n > 0, "pageRank needs a non-empty edge set")
    val init = scale / n
    val base = ((1000L - dampingPermille) * init) / 1000L
    var ranks = nodes.withColumn("rank", lit(init))
    (1 to iters).foreach { _ =>
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("rank div __deg").as("__c"))
      val summed = contribs.groupBy("node").agg(sum("__c").as("__in"))
      ranks = nodes.join(summed, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"($dampingPermille * coalesce(__in, 0L)) div 1000"))
            .cast("long").as("rank"))
    }
    ranks
  }

  /**
   * Warm-start PageRank — rank MAINTENANCE under graph drift, the
   * [[graft.pipeline.Similarity.ivfRetrainCentroids]] of the link
   * family: instead of re-running the full cold iteration after
   * edges change, resume the SAME deterministic integer iteration
   * from the previously maintained ranks (nodes new to the graph
   * start at the uniform share). Because the iteration is
   * bit-deterministic, warm-starting from a cold run's k-iteration
   * state and stepping `iters` more is IDENTICAL to a cold
   * (k+iters)-iteration run on an unchanged graph — the spec pins
   * that identity — and after drift, the handful of warm rounds
   * re-propagates rank only from where the graph actually changed.
   * Per-iteration cost is the same one join + one combinable sum;
   * the savings is ROUNDS, which at web-graph scale is the whole
   * bill.
   *
   * @param prevRanks (node, rank) from a prior run — same `scale`
   * @return (node, rank) over the NEW edge set's nodes
   */
  def pageRankWarmStart(edges: DataFrame, prevRanks: DataFrame,
      iters: Int, dampingPermille: Long = 850L,
      scale: Long = 1000000000L, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, "at least one iteration")
    // same truncation + degree-fold + persist-count rationale as
    // [[pageRankFixedPoint]]
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .withColumn("__deg",
        count(lit(1)).over(Window.partitionBy(col("src"))))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .persist()
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge set")
    val init = scale / n
    val base = ((1000L - dampingPermille) * init) / 1000L
    var ranks = nodes
      .join(prevRanks.select(col("node"), col("rank").as("__prev")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__prev"), lit(init)).as("rank"))
    (1 to iters).foreach { _ =>
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("rank div __deg").as("__c"))
      val summed = contribs.groupBy("node").agg(sum("__c").as("__in"))
      ranks = nodes.join(summed, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"($dampingPermille * coalesce(__in, 0L)) div 1000"))
            .cast("long").as("rank"))
    }
    ranks
  }

  /**
   * k-core decomposition by iterative peeling: repeatedly remove
   * nodes of degree < k until none remain (Matula–Beck; the
   * MapReduce/Pregel peel loop). The k-core separates load-bearing
   * graph structure from tendrils — crawl-graph curation keeps the
   * 2-core as "real web", peels pendant chains and orphan pages; in
   * dedup clustering the core is the stable cluster skeleton.
   *
   * Runs EXACTLY `iters` peel rounds, not to fixpoint: a fixed
   * iteration count is the verification contract (the oracle unrolls
   * the same rounds — the [[pageRankFixedPoint]] trade), and callers
   * size `iters` to the longest pendant chain they care to peel
   * (round r removes chains of length r). `converged` in the output
   * marks whether a round-`iters` fixpoint was reached: all-true
   * means the result IS the exact k-core, so callers can verify
   * rather than trust the bound.
   *
   * Scale: each round is one map-side-combinable degree count + two
   * semi-joins of the edge set against surviving nodes — linear in
   * edges per round; the edge set only shrinks. Each round's edge
   * set is materialized eagerly (two join legs consume it — the
   * lazily-raced-cache lesson from the dedup fan-outs).
   *
   * @return surviving nodes: (node, core_degree, converged)
   */
  def kCore(edges: DataFrame, k: Int, iters: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1 && iters >= 1, "positive k and iteration count")
    // localCheckpoint, NOT persist (round-13 forensics): each round's
    // frame references the previous round ~5× (degree union ×2, two
    // semi-join legs, the projection), and persist() caches EXECUTION
    // but does not truncate the LOGICAL plan — so round r's plan tree
    // held ~5^r copies of the base lineage and Catalyst re-analysis
    // grew exponentially: at sf0.1 the 4-round bench fixture spent
    // 32-45 s of driver-side analysis against <2 s of actual job
    // execution (construction vs execution split; this single query was
    // 22% of the round-12 board). localCheckpoint materializes AND
    // truncates lineage to a LogicalRDD, making every round's plan
    // constant-size. Cluster note: localCheckpoint blocks live in the
    // block manager (lost with an executor); an iterative job on an
    // unreliable cluster should set a reliable checkpoint dir and use
    // checkpoint() — the plan-shape argument is identical.
    var e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint()
    def degrees(ed: DataFrame) = ed.select(col("a").as("node"))
      .unionByName(ed.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // Checkpoint CADENCE (round 18, r17 VERDICT #1 / guide §5): every
    // second round plus the last, not every round. An eager
    // localCheckpoint is a full cluster barrier per peel round at
    // scale; a skipped round's plan is referenced ≤5× by the next
    // round (degree union ×2, two semi-join legs via `keep`, the
    // projection), which a 2-deep replace plan tolerates — the
    // expensive subtrees behind those references are identical
    // exchanges, deduped by reuse in the physical plan — while a
    // 5^r-deep one (the round-12 pathology) does not. The LAST round
    // always checkpoints: the result fans out to the degree union and
    // the converged-flag crossJoin (multi-consumer).
    // `lastCkpt` tracks the newest materialized frame so the release
    // (round-14 storage hygiene) frees blocks exactly when they are
    // superseded, across skipped rounds.
    var lastCkpt = e
    (1 to iters).foreach { r =>
      val keep = degrees(e).filter(col("degree") >= k)
        .select(col("node"))
      val next = e
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select("a", "b")
      e = if (r % 2 == 0 || r == iters) {
        val cp = next.localCheckpoint()
        Lineage.release(lastCkpt)
        lastCkpt = cp
        cp
      } else next
    }
    val deg = degrees(e)
    val minDeg = deg.agg(coalesce(min(col("degree")), lit(Long.MaxValue))
      .as("__min"))
    deg.crossJoin(broadcast(minDeg))
      .select(col("node"), col("degree").as("core_degree"),
        (col("__min") >= k).as("converged"))
  }

  /**
   * Community detection by synchronous label propagation (Raghavan
   * et al. 2007): every node starts as its own community, then each
   * round adopts the most frequent label among its neighbors. The
   * cheap community detector for web-graph / near-dup-cluster
   * curation — no edge-weight model, no modularity optimization,
   * O(edges) per round.
   *
   * Determinism pins both LPA degrees of freedom: updates are
   * synchronous (all nodes flip on the round's START labels — no
   * visit-order dependence), and frequency ties break to the
   * SMALLEST label. Runs exactly `iters` rounds (the
   * [[kCore]]/[[pageRankFixedPoint]] verification trade: the oracle
   * unrolls the same rounds). Synchronous LPA can two-cycle on
   * bipartite-ish structure rather than converge — callers wanting a
   * stable partition take the final round as the answer, which the
   * tie-break makes deterministic.
   *
   * Scale: one round = one shuffle join of the adjacency against the
   * k-bounded label table + one map-side-combinable (node, label)
   * count + one per-node argmax window; adjacency is materialized
   * once and reused every round.
   *
   * @return (node, community, community_size)
   */
  def labelPropagation(edges: DataFrame, iters: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, "positive iteration count")
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val nbrs = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint() // truncate lineage: see the kCore note — the
    // adjacency is embedded in every round's plan, and each round's
    // labels frame would otherwise carry the whole prior chain into
    // Catalyst re-analysis
    // The initial label table and each round's output are consumed
    // EXACTLY ONCE (the next round's single join, or the final
    // community-size window) — so the rounds chain lazily with zero
    // recompute risk, and the former per-round eager localCheckpoint
    // (a full cluster barrier per round at scale) is pure fixed cost.
    // Round 18 (r17 VERDICT #1 / guide §5): run the chain lazily,
    // checkpointing only every 4th round to bound Catalyst
    // re-analysis depth for large iteration counts (each round adds a
    // constant-size plan increment over the checkpointed adjacency,
    // so 4-deep is still small; at the declared iters ≤ 3 the whole
    // propagation is ONE lazy plan with no mid-loop barrier at all).
    var labels = nbrs.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
    val w = Window.partitionBy("node")
      .orderBy(col("__c").desc, col("__nl"))
    var lastCkpt: Option[DataFrame] = None
    (1 to iters).foreach { r =>
      val next = nbrs
        .join(labels.select(col("node").as("nbr"), col("label").as("__nl")),
          Seq("nbr"))
        .groupBy("node", "__nl").agg(count(lit(1)).as("__c"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("node"), col("__nl").as("label"))
      labels = if (r % 4 == 0 && r < iters) {
        val cp = next.localCheckpoint()
        lastCkpt.foreach(Lineage.release)
        lastCkpt = Some(cp)
        cp
      } else next
    }
    labels
      .select(col("node"), col("label").as("community"),
        count(lit(1)).over(Window.partitionBy("label")).as("community_size"))
  }

  /**
   * Per-node triangle counts + local clustering coefficient over an
   * undirected graph, via degree orientation ("compact-forward",
   * Latapy 2008; the same orientation MapReduce triangle counters use
   * — Suri & Vassilvitskii 2011). Triangles are the curation signal
   * PageRank can't give: link-farm clusters are triangle-dense with
   * low authority, and clustering coefficient separates organic hub
   * neighborhoods from spam rings in host-graph quality priors.
   *
   * Why orientation matters at scale: the naive wedge join fans every
   * hub out by deg² (a 10⁶-degree host → 10¹² wedge candidates — the
   * job never finishes). Orienting every edge from the (degree, node)
   * -smaller endpoint to the larger caps any node's oriented
   * out-degree at O(√m), so wedge generation is Σ outdeg² ≤ m^{3/2}
   * — the optimal bound — and each triangle materializes exactly once
   * (at its smallest-rank vertex). Both joins are hash equi-joins; no
   * node ever sees the full graph.
   *
   * All arithmetic is integer: the clustering coefficient is ppm
   * floor division `2·10⁶·tri div (deg·(deg−1))`, hash-exact across
   * engines.
   *
   * @param edges undirected edge list; duplicates and self-loops drop
   * @return (node, degree, triangles, clustering_ppm)
   */
  def triangleCounts(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    // canonical undirected edge set: (lo, hi) by node id, no loops
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().persist()
    und.count() // eager: fans out to degrees + both wedge-join sides
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // orient by (degree, node): strictly total, so each undirected
    // edge gets exactly one direction
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("degree").as("__da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("__db")), Seq("b"))
    val oriented = withDeg.select(
      when(col("__da") < col("__db") ||
        (col("__da") === col("__db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")).persist()
    oriented.count() // eager: consumed by three join legs below
    // wedges at the smallest-rank vertex u: (u, v1, v2) both oriented
    // out of u, ordered v1 < v2 so each candidate pair appears once
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.u") === col("e2.u"))
      .filter(col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("w0"), col("e1.v").as("w1"), col("e2.v").as("w2"))
    // a wedge closes iff (w1, w2) is an edge — oriented either way;
    // check the canonical undirected form (w1 < w2 by construction)
    val tris = wedges.join(und,
      wedges("w1") === und("a") && wedges("w2") === und("b"))
      .select(col("w0"), col("w1"), col("w2"))
    val perNode = tris.select(explode(array(col("w0"), col("w1"), col("w2")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering_ppm",
        when(col("degree") >= 2,
          expr("(2000000L * triangles) div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
  }
}
