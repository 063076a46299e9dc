package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.DriverBounds

/**
 * CloudWatch-statistic window aggregation (O-12/O-13/O-14/O-17;
 * reference: dataquality/stream.py:24-45 renders the queries,
 * lambda/metric_stream_producer.py:40-98 sets the window bounds, and
 * the statistic itself executes inside the CloudWatch service).
 *
 * The engine-side model: a raw datapoints fact table (series_id, ts,
 * value) aggregated into tumbling windows of each series' period with
 * the series' declared statistic. Scale notes:
 *  - the definition side is collected once, under
 *    [[DriverBounds.DefinitionRows]], and broadcast as a local relation
 *    of those rows, so the fact side never shuffles for the join and
 *    the definition side is never planned as a query of its own;
 *  - the groupBy keys on (series_id, window_start) — partial (map-side)
 *    aggregation collapses each partition before the single shuffle;
 *  - Sum/Average run over DECIMAL so results are independent of
 *    partitioning/merge order (a 100 TB shuffle must not change the
 *    answer in the low bits);
 *  - per-series skew (one hot series) is handled by AQE skew handling;
 *    the window key also spreads a hot series across time buckets;
 *  - NaN and ±Infinity are no-data, dropped before grouping as on the
 *    streaming path: cast to DECIMAL they turn NULL, so Sum would skip
 *    them while SampleCount and the Average divisor counted them, and
 *    Maximum would return NaN.
 */
object StatWindowAgg {

  /** Supported CloudWatch statistic strings (README.md:72-75: Average,
    * Sum, Minimum, Maximum, SampleCount, pNN). */
  val standardStats: Seq[String] = Seq("Average", "Sum", "Minimum", "Maximum", "SampleCount")

  /** Accuracy handed to percentile_approx — shared with the streaming
    * pipeline so both paths run the identical GK summary. */
  private[graft] val PercentileAccuracy = 100000

  /** Total function: malformed ("p1.2.3", "p.") and out-of-range
    * ("p200") forms return None so callers fail fast with a clear
    * "unsupported statistic" instead of a mid-stream
    * NumberFormatException or QuantileSummaries range crash. */
  private[graft] def percentileFraction(stat: String): Option[Double] =
    if (stat.length > 1 && stat.head == 'p' && stat.tail.forall(c => c.isDigit || c == '.'))
      try {
        val f = stat.tail.toDouble / 100.0
        if (f > 0.0 && f <= 1.0) Some(f) else None
      } catch { case _: NumberFormatException => None }
    else None

  /** Fails on a typo'd or out-of-range statistic — the one check the
    * batch aggregation and the streaming alarm pipeline share. Without
    * it an unmatched statistic silently produces NULL metricvalue rows
    * (batch) or dies mid-stream when the first window closes. */
  private[graft] def requireStatistic(statistic: String): Unit =
    require(statistic != null && (standardStats.contains(statistic) ||
      percentileFraction(statistic).isDefined), s"unsupported statistic: $statistic")

  /** The distinct statistics of `owner`'s definition side: bounded as
    * definition metadata, each checked by [[requireStatistic]]. */
  private[graft] def requireStatistics(stats: Seq[String], owner: String): Seq[String] = {
    val distinct = stats.distinct
    DriverBounds.requireBound(distinct.length, 10000L,
      s"$owner distinct statistics (definition metadata)")
    distinct.foreach(requireStatistic)
    distinct
  }

  /** One statistic's aggregate over `valueCol`: the streaming
    * [[graft.streaming.StreamingStatAgg]]'s aggregate, and the rule of
    * its batch reference `ComposedReferences.aggregateOne` (test scope).
    * Average divides AFTER casting the exact decimal sum to double, as
    * [[aggregate]] does. */
  private[graft] def statColumn(statistic: String, valueCol: String): Column = {
    requireStatistic(statistic)
    val v = col(valueCol)
    val dec = v.cast("decimal(28,8)")
    statistic match {
      case "Average"     => sum(dec).cast("double") / count(v)
      case "Sum"         => sum(dec).cast("double")
      case "Minimum"     => min(v)
      case "Maximum"     => max(v)
      case "SampleCount" => count(v).cast("double")
      case p => percentile_approx(v, lit(percentileFraction(p).get), lit(PercentileAccuracy))
    }
  }

  /** Drops NaN and ±Infinity values (no-data; see the object doc). */
  private[graft] def finite(datapoints: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol)
    datapoints.filter(v.isNull || (!isnan(v) && !v.isin(Double.PositiveInfinity, Double.NegativeInfinity)))
  }

  /**
   * Aggregate datapoints into per-series statistic windows.
   *
   * @param datapoints fact table with columns (series_id, ts:timestamp, value:double)
   * @param defs       definition table with (unique_id, statistic, period, frequency)
   *                   — collected once, with a bound, and broadcast
   * @param frequency  O-14 frequency filter (minute/hour/day), or null for all
   * @return (series_id, statistic, period, frequency, window_start:long, metricvalue:double)
   */
  def aggregate(datapoints: DataFrame, defs: DataFrame, frequency: String = null): DataFrame = {
    val defsF = if (frequency == null) defs else defs.filter(col("frequency") === frequency)

    // The definition side is collected once: its distinct pNN
    // statistics are definition METADATA (a handful of strings), not
    // data — resolving them driver-side keeps percentile_approx's
    // fraction foldable for codegen — and the broadcast below reads a
    // local relation of the same rows instead of re-planning the side.
    val (defRows, defsLocal) = DriverBounds.collectDefinitions(
      defsF.select("unique_id", "statistic", "period", "frequency"),
      "StatWindowAgg definitions")
    val pStats: Seq[(String, Double)] =
      requireStatistics(defRows.map(_.getString(1)).toSeq, "StatWindowAgg")
        .flatMap(s => percentileFraction(s).map(s -> _))

    val dps = finite(datapoints, "value")
    val joined = dps.join(broadcast(defsLocal),
      dps("series_id") === defsLocal("unique_id"), "inner")

    // O-17: windows are per-period; period is a group key so series
    // with different periods coexist in one pass.
    val windowStart = (floor(unix_timestamp(col("ts")) / col("period")) * col("period")).cast("long")

    val dec = col("value").cast("decimal(28,8)")
    val baseAggs = Seq[Column](
      count(col("value")).as("_count"),
      sum(dec).as("_sum"),
      min(col("value")).as("_min"),
      max(col("value")).as("_max"))
    // ONE shared percentile_approx over the fraction ARRAY: K separate
    // calls would maintain K independent GK summaries per group (each
    // at accuracy 100000) for the same inserted values — same results,
    // K× the aggregation state and CPU.
    val pAggs =
      if (pStats.isEmpty) Nil
      else Seq(percentile_approx(col("value"),
        array(pStats.map(p => lit(p._2)): _*), lit(PercentileAccuracy)).as("_pq"))

    val grouped = joined
      .groupBy(col("series_id"), col("statistic"), col("period"), col("frequency"),
        windowStart.as("window_start"))
      .agg(baseAggs.head, (baseAggs.tail ++ pAggs): _*)

    // Average divides AFTER casting the exact decimal sum to double so
    // the result doesn't depend on engine-specific decimal-division
    // scale rules (double ÷ long is IEEE-deterministic everywhere).
    val standard = when(col("statistic") === "Average",
        col("_sum").cast("double") / col("_count"))
      .when(col("statistic") === "Sum", col("_sum").cast("double"))
      .when(col("statistic") === "Minimum", col("_min"))
      .when(col("statistic") === "Maximum", col("_max"))
      .when(col("statistic") === "SampleCount", col("_count").cast("double"))
    val metricValue = pStats.zipWithIndex.foldLeft(standard) {
      case (acc, ((s, _), i)) =>
        acc.when(col("statistic") === s, col("_pq").getItem(i))
    }

    grouped.select(col("series_id"), col("statistic"), col("period"), col("frequency"),
      col("window_start"), metricValue.as("metricvalue"))
  }
}
