package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.KeyFns

/**
 * Enrichment joins between fact streams and the (tiny) definition set
 * (O-20/O-21/O-22). The reference does all three as driver-side nested
 * loops over in-memory definition lists; at scale the fact side is
 * huge, so every variant here is an explicit broadcast hash join on the
 * defs side — zero shuffle of the facts.
 */
object EnrichmentJoins {

  /**
   * O-20: results ⋈ definitions on unique_id
   * (lambda/metric_stream_producer.py:106-123). Left join: results for
   * unknown series pass through with null enrichment, matching the
   * reference's "skip non-matching metrics, keep the record" loop.
   *
   * Divergence from reference (intended semantics, SURVEY.md §2 quirk
   * (a)): metadata/dimensions maps are per-definition, not accumulated
   * across iterations — no cross-record leakage.
   */
  def enrichResults(results: DataFrame, defs: DataFrame): DataFrame = {
    val d = defs.select(
      col("unique_id"),
      col("namespace"), col("name"), col("period"), col("statistic"),
      col("metadata"), col("dimensions"))
    results.join(broadcast(d), results("id") === d("unique_id"), "left")
      .drop("unique_id")
  }

  /**
   * O-21: alarms ⋈ definitions on expression-derived keys
   * (lambda/sla_stream_producer.py:66-70): the alarm side key is
   * "-".join(AlarmName.split('-')[3:-5]), the defs side is
   * alarm_unique_id() minus its trailing hyphen (pre-computed as
   * `alarm_key` in DefinitionExport.seriesKeys). Equi-join on derived
   * keys → still hashable → still broadcastable.
   */
  def enrichAlarms(alarms: DataFrame, seriesKeys: DataFrame,
      region: String = graft.registry.DefinitionRegistry.DefaultRegion): DataFrame = {
    val d = seriesKeys.select(
      col("alarm_key"),
      col("namespace").as("metricnamespace"),
      col("name").as("metricname"),
      col("period").as("metricperiod"),
      col("frequency").as("metricfrequency"),
      col("statistic").as("metricstatistic"),
      col("metadata"))
    // the alarm-name suffix length depends on the REGION's hyphen
    // token count — "us-east-1" carries 3, "local-1" carries 2; a
    // hardcoded count would leave residue tokens in the derived key
    // and the join would silently never match (all-null enrichment)
    val regionTokens = region.count(_ == '-') + 1
    alarms.join(broadcast(d),
      KeyFns.alarmNameToKey(alarms("alarmname"), regionTokens) === d("alarm_key"),
      "left")
      .drop("alarm_key")
  }

  /**
   * O-22: membership semi-join resolving an alarm to its SLA
   * (lambda/sla_parse.py:26-46): an SLA matches iff its
   * {lower(metric_name), frequency, lower(dimension_value)} all appear
   * in the token list derived from the alarm name.
   *
   * Divergence from reference (intended semantics, quirk (b)):
   * non-matching SLAs are skipped, not a hard error.
   *
   * Membership of lower(dimension_value) is an equi-join: each alarm
   * fans out to its distinct derived tokens, which hash-join on
   * lower(dimension_value), and the other two tokens are checked on the
   * matched pairs only. A distinct token matches a value at most once,
   * so each matching (alarm, SLA) pair is still one row.
   *
   * @param alarms  (alarmname, ...) fact side
   * @param slaDefs (metric_name, frequency, dimension_value, ...) —
   *                tiny; broadcast. dimension_value = the last
   *                non-*Bucket dimension's value (sla_parse.py:40-44).
   */
  def resolveSlas(alarms: DataFrame, slaDefs: DataFrame): DataFrame = {
    val tokens = KeyFns.alarmDerivedTokens(col("alarmname"))
    val withTokens = alarms.withColumn("_derived", tokens)
      .withColumn("_token", explode(array_distinct(col("_derived"))))
    val matched = withTokens.join(broadcast(slaDefs),
      col("_token") === lower(slaDefs("dimension_value")) &&
      array_contains(col("_derived"), lower(slaDefs("metric_name"))) &&
      array_contains(col("_derived"), slaDefs("frequency")),
      "inner")
    matched.drop("_derived", "_token")
  }
}
