package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Robust per-group statistics: median and MAD (median absolute
 * deviation) for outlier screening that a mean/stddev z-score gets
 * wrong on exactly the data that needs screening — a handful of
 * giant documents inflates the standard deviation until the giants
 * themselves look normal, while the median/MAD pair is immune to
 * 50% contamination. The classic robust-scale filter (Hampel
 * identifier), integer-exact.
 *
 * Median convention: the LOWER median — the value at ascending rank
 * ⌈n/2⌉ — so the result is always an observed value, stays integral
 * for integral inputs, and replays identically in any engine (the
 * interpolating even-n median would reintroduce float drift).
 *
 * Scale shape: medians are computed on (group, value) COUNT rows,
 * not raw rows — the full-volume pass is one map-side-combinable
 * count aggregation, after which the per-group cumulative walk runs
 * over each group's DISTINCT VALUES (bounded by the value domain,
 * not the row count; a billion-row group with 5k distinct lengths
 * walks 5k rows). Two such passes (median, then MAD on deviations),
 * one join back. No per-row window rank anywhere.
 */
object RobustStats {

  /** Per-group lower median of `valueCol` (long-typed output). */
  def groupMedian(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol).cast("long").as("__v"))
      .groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(groupCol).orderBy("__v")
    val n = Window.partitionBy(groupCol)
    counts
      .withColumn("__cum", sum("__c").over(w))
      .withColumn("__n", sum("__c").over(n))
      .filter(col("__cum") >= expr("(__n + 1) div 2"))
      .groupBy(groupCol).agg(min("__v").as("median"))
  }

  /** Per-group median + MAD + outlier counts: a row per group with
    * (groupCol, n, median, mad, n_outliers) where an outlier deviates
    * from the group median by STRICTLY more than `k`·MAD. Division-
    * free comparison (dev > k·mad), so zero-MAD groups (over half the
    * rows at the median) flag every non-median value — the
    * conventional Hampel degenerate case, pinned in the spec. */
  def madSummary(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 3): DataFrame = {
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol).cast("long").as("__v"))
    val med = groupMedian(vals, groupCol, "__v")
    val withDev = vals.join(med, Seq(groupCol))
      .withColumn("__dev", abs(col("__v") - col("median")))
    val mad = groupMedian(withDev, groupCol, "__dev")
      .withColumnRenamed("median", "mad")
    withDev.join(mad, Seq(groupCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).cast("long").as("n"),
        min("median").cast("long").as("median"),
        min("mad").cast("long").as("mad"),
        sum(when(col("__dev") > col("mad") * k, 1L).otherwise(0L))
          .cast("long").as("n_outliers"))
  }
}
