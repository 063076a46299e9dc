package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Column-level key derivations (O-29…O-32) — the Spark expressions that
 * compute, at scale and inside codegen, the same strings the model
 * derives per-object (graft.model.MetricLike; reference:
 * dataquality/metric.py:92-155, lambda/sla_parse.py:27-29,
 * lambda/sla_stream_producer.py:68-69).
 *
 * Everything here composes org.apache.spark.sql.functions built-ins
 * only, so the derivations stay in WholeStageCodegen — no UDFs.
 */
object KeyFns {

  /** O-30: unique_id — concat parts, strip non-word chars, lowercase
    * (metric.py:144-155). Callers pre-concat dimension name/value pairs
    * (minus *Bucket dims) into `parts`. */
  def uniqueId(parts: Column*): Column =
    lower(regexp_replace(concat_ws("", parts: _*), "\\W+", ""))

  /** O-31: alarm_unique_id — hyphen-joined with trailing '-', '/'
    * removed, lowercase (metric.py:131-142). */
  def alarmUniqueId(parts: Column*): Column =
    lower(regexp_replace(concat(concat_ws("-", parts: _*), lit("-")), "/", ""))

  /** O-31: widget title — "<name> per <frequency>-<dim values>",
    * '/' removed, lowercase (metric.py:118-129). */
  def widgetTitle(name: Column, frequency: Column, dimValues: Column): Column =
    lower(regexp_replace(
      concat(name, lit(" per "), frequency, lit("-"), coalesce(dimValues, lit(""))),
      "/", ""))

  /** O-32 (sla_stream_producer.py:68): alarm name → join key. Alarm
    * names are "data-gov-<alarm_unique_id>SLA-Alarm-<region>"
    * (cw_alarm.py:37), so the key = alarm_unique_id (sans trailing
    * hyphen) is recovered by dropping the 2 leading tokens and the
    * 2 + regionTokens trailing ones.
    *
    * Divergence from reference (intended semantics): the reference
    * slices [3:-5], which assumes a 3-token region AND swallows the
    * namespace token — for any 1-token namespace its alarms⋈defs join
    * silently never matches (sla_stream_producer.py:66-70). We keep
    * the namespace token so the join actually joins. */
  def alarmNameToKey(alarmName: Column, regionTokens: Int = 2): Column = {
    val parts = split(alarmName, "-")
    array_join(
      slice(parts, lit(3), greatest(size(parts) - lit(4 + regionTokens), lit(0))),
      "-")
  }

  /** O-32 (sla_parse.py:27-29): alarm name → the 3 derived match tokens
    * (token[3], token[4], tokens[6:] hyphen-joined) computed on the
    * prefix before "-SLA". */
  def alarmDerivedTokens(alarmName: Column): Column = {
    val prefix = when(instr(alarmName, "-SLA") > 0,
      substring_index(alarmName, "-SLA", 1)).otherwise(alarmName)
    val parts = split(prefix, "-")
    array(
      try_element_at(parts, lit(4)),
      try_element_at(parts, lit(5)),
      array_join(slice(parts, lit(7), greatest(size(parts) - lit(6), lit(0))), "-"))
  }
}
