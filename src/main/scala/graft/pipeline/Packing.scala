package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Sequence packing: assign documents to fixed-capacity training
 * sequences ("packs") — the step between a deduplicated corpus and a
 * token-budgeted training run.
 *
 * Two variants with different determinism/SQL-replicability tradeoffs:
 *
 * - [[streamPacks]]: the GPT-style token-stream view — documents are
 *   concatenated in a total order and a document belongs to the pack
 *   in which its first token lands (`floor(tokens_before / capacity)`).
 *   One window pass, exactly replicable in any SQL engine, and the
 *   ordering is explicit so results are partition-independent.
 *
 * - [[nextFit]]: true next-fit bin packing (open a new pack when the
 *   current document does not fit). Inherently sequential, so it runs
 *   per shard via `flatMapGroups` — each shard packs independently in
 *   parallel, which is how a 100 TB corpus would be packed anyway
 *   (packing across shard boundaries has no training value). Not
 *   expressible in one SQL pass; covered by property tests instead of
 *   an external oracle.
 */
object Packing {

  /** (idCol, n_tokens, pack_id) with pack_id = (cumulative tokens
    * before this doc) div capacity, docs in idCol order.
    *
    * The global running sum is computed as a two-phase distributed
    * prefix scan — range-partition on the order key, per-partition
    * token totals (P rows) prefix-scanned on the driver, broadcast
    * back as offsets, then a per-partition window — NOT as a single
    * `Window.orderBy` with no partition key, which would funnel the
    * whole corpus through one task. Output is identical; only the
    * parallelism differs.
    *
    * Caches the sized/range-partitioned input for the lifetime of the
    * returned plan (both phases must see one physical partitioning);
    * batch drivers running many packings per session should
    * `spark.catalog.clearCache()` between runs. */
  def streamPacks(docs: DataFrame, capacity: Long, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val spark = docs.sparkSession
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    // persist so phase 1 and phase 2 see the SAME physical partitioning
    val sized = docs.select(col(idCol),
        size(graft.plans.WordShingles.shingles(col(textCol), 1))
          .cast("long").as("n_tokens"))
      .repartitionByRange(parts, col(idCol))
      .withColumn("__pid", spark_partition_id())
      .persist()
    sized.count()
    // phase 1: P partition totals → driver prefix scan (P longs,
    // trivial; bounded by spark_partition_id's domain — asserted)
    val totals = DriverBounds.boundedCollect(
        sized.groupBy("__pid").agg(sum("n_tokens").as("t")),
        parts.toLong, "streamPacks partition totals")
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until parts).scanLeft(0L) {
      case (acc, pid) => acc + totals.getOrElse(pid, 0L)
    }
    val offsetDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until parts).map(pid => org.apache.spark.sql.Row(pid, offsets(pid))), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__pid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__offset",
          org.apache.spark.sql.types.LongType, nullable = false))))
    // phase 2: per-partition running sum + the partition's global offset
    val w = Window.partitionBy("__pid").orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized.join(broadcast(offsetDf), Seq("__pid"))
      .withColumn("__before",
        col("__offset") + sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack_id", expr(s"__before div ${capacity}L"))
      .select(col(idCol), col("n_tokens"), col("pack_id"))
  }

  case class PackedDoc(shard: Long, doc_id: Long, n_tokens: Long, pack_id: Long)

  /** Next-fit packing per shard: documents visit in (shard, idCol)
    * order; a doc opens a new pack when it would overflow `capacity`.
    * Oversized docs (> capacity) get a pack of their own. pack_id is
    * globally unique as (shard, per-shard index). */
  def nextFit(docs: DataFrame, capacity: Long, shards: Int,
      textCol: String = "text", idCol: String = "doc_id"): Dataset[PackedDoc] = {
    require(capacity > 0 && shards > 0, "capacity and shards must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val sized = docs.select(
        pmod(col(idCol), lit(shards)).cast("long").as("shard"),
        col(idCol).cast("long").as("doc_id"),
        size(graft.plans.WordShingles.shingles(col(textCol), 1))
          .cast("long").as("n_tokens"))
      .as[(Long, Long, Long)]
    sized.groupByKey(_._1).flatMapGroups { (shard, it) =>
      // per-shard state fits the driver-free streaming scan: sort the
      // shard (bounded by shard sizing, like any groupBy), then one pass
      val docsSorted = it.toSeq.sortBy(_._2)
      var packIdx = 0L
      var used = 0L
      docsSorted.map { case (_, id, n) =>
        if (used > 0 && used + n > capacity) { packIdx += 1; used = 0 }
        used += n
        // interleaved numbering (idx*shards + shard) is collision-free
        // for ANY per-shard pack count, unlike a fixed per-shard offset
        PackedDoc(shard, id, n, packIdx * shards + shard)
      }
    }
  }
}
