package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming frequent-items tracking — the streaming counterpart of
 * [[graft.pipeline.HeavyHitters]]: maintain Misra-Gries candidate
 * summaries over an unbounded token/key stream so "what is trending
 * right now" is answerable every micro-batch without ever counting
 * the long tail.
 *
 * Scale shape: the stream is hash-partitioned into `buckets` groups,
 * each holding ONE bounded MG summary (≤ `capacity` counters) as its
 * state — state is O(buckets · capacity) forever, independent of
 * stream lifetime and vocabulary size, and the per-batch shuffle is
 * the groupByKey on the bucket, carrying raw tokens once. A key
 * always routes to the same bucket, so a key's full stream count
 * accumulates in one summary; the MG guarantee per bucket (count
 * underestimates by at most bucketN/capacity) gives the standard
 * superset property: any key exceeding bucketN/capacity occurrences
 * in its bucket is present. As in the batch operator, the summary is
 * CANDIDATES — membership is reliable (for qualifiers past the
 * bucket bound), counts are lower bounds; the batch confirm join
 * remains the exactness path.
 *
 * Emission (Update mode): each batch re-emits the touched buckets'
 * full current summaries (bucket, token, mg_count) — a downstream
 * sink keyed by (bucket, token) always holds the latest view.
 */
object StreamHeavyHitters {

  case class Candidate(bucket: Int, token: String, mg_count: Long)

  /** @param tokens streaming df with a string `token` column */
  def candidates(tokens: DataFrame, buckets: Int = 16,
      capacity: Int = 64): Dataset[Candidate] = {
    require(buckets >= 1 && capacity >= 1, "buckets and capacity must be >= 1")
    val spark = tokens.sparkSession
    import spark.implicits._

    // the batch aggregator's reduce is the one Misra-Gries step
    val mg = new graft.pipeline.MisraGriesAggregator(capacity)

    tokens
      .select(pmod(hash(col("token")), lit(buckets)).as("bucket"), col("token"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[String, Long], Candidate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (bucket, rows, state: GroupState[Map[String, Long]]) =>
          val merged = rows.foldLeft(state.getOption.getOrElse(Map.empty)) {
            case (m, (_, tok)) => mg.reduce(m, tok)
          }
          state.update(merged)
          merged.toSeq.sortBy(_._1)
            .map { case (t, c) => Candidate(bucket, t, c) }.iterator
      }
  }
}
