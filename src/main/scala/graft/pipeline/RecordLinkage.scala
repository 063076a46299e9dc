package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Pairwise record linkage (entity resolution) across two tables — a
 * Fellegi-Sunter-style agreement score rendered integer-exact: "is
 * left row L and right row R the same real-world entity?" for
 * customer/supplier master-data reconciliation, the structured-data
 * sibling of the near-dup family.
 *
 * Two phases, both shapes this engine already proves at scale:
 *  1. BLOCKING: name tokens from both sides form a shared posting;
 *     tokens hotter than `maxDf` total occurrences are dropped (a
 *     token like "inc" or "jr" blocks nothing — it would pair
 *     everyone with everyone), and candidates are the cross-table
 *     equi-join of the surviving postings — never a cartesian
 *     product, candidate volume bounded by maxDf² per token.
 *  2. SCORING: integer agreement score = name-token Jaccard in
 *     permille (1000·|∩| div |∪|) plus a fixed weight per agreeing
 *     exact field. No floats, no model fitting — the deterministic
 *     core of the Fellegi-Sunter formulation with hand-set weights,
 *     replayable in any engine.
 *
 * Output: (left_id, right_id, name_jaccard_permille, score) for
 * pairs with score ≥ minScore.
 */
object RecordLinkage {

  def link(left: DataFrame, right: DataFrame, nameCol: String,
      exactCols: Seq[(String, Long)], idCol: String,
      maxDf: Int = 50, minScore: Long = 800L): DataFrame = {
    def withToks(df: DataFrame, id: String) = df.select(
      col(idCol).as(id),
      graft.plans.WordShingles.shingles(col(nameCol), 1, distinct = true)
        .as(s"__tk_$id"))
      .filter(size(col(s"__tk_$id")) > 0)
    val lt = withToks(left, "left_id")
    val rt = withToks(right, "right_id")
    val lPost = lt.select(col("left_id"), explode(col("__tk_left_id")).as("__t"))
    val rPost = rt.select(col("right_id"), explode(col("__tk_right_id")).as("__t"))
    // combined df cap: a token's TOTAL posting volume decides whether
    // it may block (one count over the union, map-side combinable)
    val rare = lPost.select(col("__t"))
      .unionByName(rPost.select(col("__t")))
      .groupBy("__t").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select("__t")
    val cands = lPost.join(rare, Seq("__t"))
      .join(rPost.join(rare, Seq("__t")), Seq("__t"))
      .select("left_id", "right_id").distinct()
    val exactL = left.select((col(idCol).as("left_id") +:
      exactCols.map { case (c, _) => col(c).as(s"__l_$c") }): _*)
    val exactR = right.select((col(idCol).as("right_id") +:
      exactCols.map { case (c, _) => col(c).as(s"__r_$c") }): _*)
    val scored = cands
      .join(lt, Seq("left_id")).join(rt, Seq("right_id"))
      .join(exactL, Seq("left_id")).join(exactR, Seq("right_id"))
      .withColumn("name_jaccard_permille",
        expr("1000 * size(array_intersect(__tk_left_id, __tk_right_id))" +
          " div size(array_union(__tk_left_id, __tk_right_id))").cast("long"))
      .withColumn("score",
        exactCols.foldLeft(col("name_jaccard_permille")) { case (acc, (c, w)) =>
          acc + when(col(s"__l_$c") === col(s"__r_$c"), w).otherwise(0L)
        }.cast("long"))
      .filter(col("score") >= minScore)
    scored.select("left_id", "right_id", "name_jaccard_permille", "score")
  }

  /**
   * Entity resolution over [[link]]'s match pairs: connected
   * components by min-label propagation, so every record lands in an
   * entity keyed by its component's smallest record id — the
   * "cluster then canonicalize" half of master-data reconciliation
   * (A matches B, B matches C ⇒ one entity, even though A–C was
   * never scored).
   *
   * Runs exactly `iters` rounds (labels converge for components of
   * diameter ≤ iters); `converged` reports whether EVERY match pair
   * ended monochrome, so callers verify the bound rather than trust
   * it — the [[Graphs.kCore]] contract. Linkage components are
   * near-star-shaped (diameter 2-3) in practice; a pathological
   * chain needs its length in rounds.
   *
   * Scale: one shuffle join + map-side-combinable min per round over
   * the pair list (already blocked/filtered — orders of magnitude
   * smaller than the record tables); the convergence audit is one
   * more join over the same pairs.
   *
   * @return (record_id, entity_id, n_members, converged)
   */
  def resolveEntities(pairs: DataFrame, iters: Int,
      leftCol: String = "left_id", rightCol: String = "right_id"): DataFrame = {
    require(iters >= 1, "positive iteration count")
    // localCheckpoint, not persist: labels is referenced twice per
    // round (the neighbor-min join and the carry join), so each
    // round's plan would otherwise embed ~3 copies of the previous
    // round's FULL logical plan — persist caches execution but not
    // the lineage Catalyst re-analyzes, the exact exponential that
    // made the round-12 q_kcore bench cell 25× its execution cost
    // (see [[Graphs.kCore]]).
    val e = pairs
      .select(least(col(leftCol), col(rightCol)).as("a"),
        greatest(col(leftCol), col(rightCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val nbrs = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
    var labels = nbrs.select("node").distinct()
      .select(col("node"), col("node").as("label")).localCheckpoint()
    (1 to iters).foreach { _ =>
      val nbrMin = nbrs
        .join(labels.select(col("node").as("nbr"), col("label").as("__nl")),
          Seq("nbr"))
        .groupBy("node").agg(min("__nl").as("__ml"))
      labels = Lineage.cycle(labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), least(col("label"),
          coalesce(col("__ml"), col("label"))).as("label")), labels)
    }
    val conv = e
      .join(labels.select(col("node").as("a"), col("label").as("__la")), Seq("a"))
      .join(labels.select(col("node").as("b"), col("label").as("__lb")), Seq("b"))
      .agg(coalesce(min((col("__la") === col("__lb")).cast("int")) === 1,
        lit(true)).as("__conv"))
    labels
      .select(col("node").as("record_id"), col("label").as("entity_id"))
      .withColumn("n_members", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("entity_id")))
      .crossJoin(broadcast(conv))
      .withColumnRenamed("__conv", "converged")
  }
}
