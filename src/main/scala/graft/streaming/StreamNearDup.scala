package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.TextFns

/**
 * Streaming MinHash near-duplicate detection — the streaming
 * counterpart of `Dedup.minhashNearDupPairsFast` for ingest pipelines
 * that must flag "this document is a near-copy of one we already
 * landed" while the data streams in, instead of re-running batch LSH.
 *
 * Same candidate semantics as the batch fast path: per document a
 * k-wide XxMinHash signature over word n-gram shingles, banded into
 * `bands` keys; two documents become a candidate pair when any band
 * key matches. Banding runs as a stateful group per (band, band_key)
 * via flatMapGroupsWithState: the state holds the signatures seen in
 * that bucket within the horizon, so a new arrival compares against
 * exactly the documents the batch equi-join would have paired it with.
 *
 * Divergences from the batch operator, both inherent to streaming:
 *  - verification uses the MinHash similarity estimate (matching
 *    signature slots / k) rather than exact shingle Jaccard — keeping
 *    shingle sets in state would grow it by document size; the
 *    estimate is the standard streaming trade and the threshold
 *    applies to it.
 *  - a pair sharing several bands is emitted once per shared band
 *    (batch dedupes candidates with a shuffle); emissions are
 *    candidates, downstream exact verification/dedup is one batch join
 *    against the landed corpus.
 *
 * State is bounded: entries older than the event-time watermark
 * horizon are pruned on every group invocation, and idle buckets time
 * out entirely (EventTimeTimeout), so total state is
 * O(docs-in-horizon × bands), independent of stream lifetime.
 */
object StreamNearDup {

  case class Hit(id_a: Long, id_b: Long, est_jaccard: Double)

  /** State entry (public: Spark derives its encoder in codegen). */
  case class Entry(id: Long, sig: Array[Long], tsMs: Long)

  /** @param docs streaming df with (ts:timestamp, idCol:long, textCol)
    * @param horizonMin how long a document stays matchable, in minutes */
  def candidateStream(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", horizonMin: Int = 60,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4,
      threshold: Double = 0.5): Dataset[Hit] = {
    require(k % bands == 0, "bands must divide k")
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = k / bands
    val horizonMs = horizonMin * 60000L

    val signed = docs
      .withWatermark("ts", s"$horizonMin minutes")
      .select(col(idCol), col("ts"),
        graft.plans.WordShingles.shingles(col(textCol), shingleN,
          distinct = true).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col(idCol), col("ts"),
        graft.plans.XxMinHash.minhash(col("shingles"), k).as("sig"))

    val banded = signed
      .select(col(idCol).as("id"), col("ts"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
      .select(col("pos").as("band"), col("col").as("band_key"),
        col("id"), col("ts"), col("sig"))
      .as[(Int, Long, Long, java.sql.Timestamp, Seq[Long])]

    banded
      .groupByKey { case (band, bandKey, _, _, _) => (band, bandKey) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, Long), it: Iterator[(Int, Long, Long, java.sql.Timestamp, Seq[Long])],
            state: GroupState[List[Entry]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            var entries = state.getOption.getOrElse(Nil)
              .filter(_.tsMs >= wm - horizonMs)
            val hits = List.newBuilder[Hit]
            // deterministic comparison order within the batch
            it.toSeq.sortBy(r => (r._4.getTime, r._3)).foreach {
              case (_, _, id, ts, sig) =>
                // at-least-once upstream delivery can replay a doc_id:
                // an id already in the bucket is a replay, not a new
                // document — skip it so state stays bounded and no
                // duplicate candidate pair is re-emitted
                if (!entries.exists(_.id == id)) {
                  val arr = sig.toArray
                  entries.foreach { e =>
                    if (e.id != id) {
                      var m = 0; var i = 0
                      while (i < k) { if (arr(i) == e.sig(i)) m += 1; i += 1 }
                      val est = m.toDouble / k
                      if (est >= threshold)
                        hits += Hit(math.min(id, e.id), math.max(id, e.id), est)
                    }
                  }
                  entries = Entry(id, arr, ts.getTime) :: entries
                }
            }
            state.update(entries)
            // bucket dies once nothing newer than the horizon remains
            val newest = entries.map(_.tsMs).max
            state.setTimeoutTimestamp(newest + horizonMs)
            hits.result().iterator
          }
        })
  }
}
