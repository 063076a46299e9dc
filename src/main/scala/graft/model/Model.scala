package graft.model

/**
 * Definition model for the metrics/SLA engine — the typed Scala
 * counterpart of the reference's Python definition classes
 * (reference: dataquality/dataset.py:3-18, dataquality/metric.py:9-182,
 * dataquality/sla.py:4-33, dataquality/set.py:12-48).
 *
 * Unlike the reference (mutable objects, back-registration into their
 * set via `metric_set.add(self)`, dynamic module loading), this model
 * is immutable case classes assembled by a compiled registry
 * (graft.registry.DefinitionRegistry). Sets own their members.
 */

/** Pointer to a lake table (reference: dataquality/dataset.py:3-18).
  * `alias` defaults to the table name when empty. */
final case class TableRef(
    database: String,
    table: String,
    aliasOpt: String = "",
    catalog: String = "") {
  def alias: String = if (aliasOpt.isEmpty) table else aliasOpt
}

/** Name/value pair keying a metric series (metric.py:9-24). */
final case class Dimension(name: String, value: String)

/** Name/value annotation carried with the metric (metric.py:41-48). */
final case class Metadata(name: String, value: String)

/** Dashboard grouping (metric.py:26-39). */
final case class Widget(dashboardName: String, dashboardCategory: Option[String] = None)

/** Scrape frequency with its CloudWatch period in seconds
  * (metric.py:61-63, 92-101). */
sealed abstract class Frequency(val name: String, val periodSeconds: Int)
object Frequency {
  case object Minute extends Frequency("minute", 60)
  case object Hour   extends Frequency("hour", 3600)
  case object Day    extends Frequency("day", 86400)
  val all: Seq[Frequency] = Seq(Minute, Hour, Day)
  def fromName(s: String): Frequency = all.find(_.name == s).getOrElse(
    throw new IllegalArgumentException(s"unknown frequency: $s"))
}

/**
 * A scrape-able metric series (metric.py:50-155).
 *
 * Key-derivation semantics are golden-matched to the reference:
 *  - uniqueId        (metric.py:144-155): concat namespace+name+frequency
 *    + (dim.name+dim.value for dims whose name does NOT end in "Bucket"),
 *    strip non-word chars, lowercase.
 *  - alarmUniqueId   (metric.py:131-142): hyphen-joined with trailing '-',
 *    '/' removed, lowercase.
 *  - widgetTitle     (metric.py:118-129): "<name> per <frequency>-" +
 *    non-Bucket dim values, '/' removed, lowercase.
 */
sealed trait MetricLike {
  def namespace: String
  def name: String
  def frequency: Frequency
  def statistic: String
  def metadata: Seq[Metadata]
  def dimensions: Seq[Dimension]
  def dashboard: Widget
  def periodOverride: Option[Int]

  final def period: Int = periodOverride.getOrElse(frequency.periodSeconds)

  private def activeDims: Seq[Dimension] =
    dimensions.filterNot(_.name.endsWith("Bucket"))

  final def uniqueId: String = {
    val raw = namespace + name + frequency.name +
      activeDims.map(d => d.name + d.value).mkString
    // Locale.ROOT: default-locale lowercasing diverges from Spark's
    // locale-independent lower() on the column side (Turkish dotless-i
    // would split the model key from the KeyFns-derived join key)
    raw.replaceAll("\\W+", "").toLowerCase(java.util.Locale.ROOT)
  }

  final def alarmUniqueId: String = {
    val raw = namespace + "-" + name + "-" + frequency.name + "-" +
      activeDims.map(d => d.name + "-" + d.value + "-").mkString
    raw.replace("/", "").toLowerCase(java.util.Locale.ROOT)
  }

  final def widgetTitle: String = {
    val raw = name + " per " + frequency.name + "-" +
      activeDims.map(_.value).mkString
    raw.replace("/", "").toLowerCase(java.util.Locale.ROOT)
  }

  /** CloudWatch-alarm-style name for this series' SLA alarm
    * (cdk_constructs/cw_alarm.py naming + stacks/metrics_streamer.py:277-288:
    * "data-gov-<alarm_unique_id()>SLA-Alarm-<region>"). */
  final def alarmName(region: String): String =
    s"data-gov-${alarmUniqueId}SLA-Alarm-$region"
}

/** Plain operational metric (metric.py:50-155). */
final case class Metric(
    namespace: String,
    name: String,
    frequency: Frequency,
    statistic: String,
    dashboard: Widget,
    metadata: Seq[Metadata] = Nil,
    dimensions: Seq[Dimension] = Nil,
    periodOverride: Option[Int] = None) extends MetricLike

/** Metric measured against a specific dataset (metric.py:157-167). */
final case class DataSetMetric(
    dataset: TableRef,
    namespace: String,
    name: String,
    frequency: Frequency,
    statistic: String,
    dashboard: Widget,
    metadata: Seq[Metadata] = Nil,
    dimensions: Seq[Dimension] = Nil,
    periodOverride: Option[Int] = None) extends MetricLike

/** Metric computed by an arbitrary SQL query over lake tables
  * (metric.py:169-182) — the analytics hot path. */
final case class BusinessMetric(
    query: String,
    dataset: TableRef,
    referenceDatasets: Seq[TableRef],
    namespace: String,
    name: String,
    frequency: Frequency,
    statistic: String,
    dashboard: Widget,
    metadata: Seq[Metadata] = Nil,
    dimensions: Seq[Dimension] = Nil,
    periodOverride: Option[Int] = None) extends MetricLike {
  /** All tables the query touches (primary + references), deduped
    * (glue/business_metrics.py:29-33 semantics, O-16). */
  def allDatasets: Seq[TableRef] = (dataset +: referenceDatasets).distinct
}

/** Named group of metrics + optional schedule (set.py:12-30). */
final case class MetricSet(
    name: String,
    metrics: Seq[MetricLike],
    schedule: Option[String] = None)

/** CloudWatch comparison operators used by SLAs (cw_alarm.py:42-45).
  * `breaches` compares in Spark SQL's double ordering: NaN equals
  * itself and sorts above every other double, so `NaN > 5.0` breaches
  * here exactly as it does in a SQL predicate. */
sealed abstract class ComparisonOperator(val name: String) {
  def breaches(value: Double, threshold: Double): Boolean
}
object ComparisonOperator {
  import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
  case object GreaterThanThreshold extends ComparisonOperator("GREATER_THAN_THRESHOLD") {
    def breaches(v: Double, t: Double): Boolean = compareDoubles(v, t) > 0
  }
  case object GreaterThanOrEqualToThreshold extends ComparisonOperator("GREATER_THAN_OR_EQUAL_TO_THRESHOLD") {
    def breaches(v: Double, t: Double): Boolean = compareDoubles(v, t) >= 0
  }
  case object LessThanThreshold extends ComparisonOperator("LESS_THAN_THRESHOLD") {
    def breaches(v: Double, t: Double): Boolean = compareDoubles(v, t) < 0
  }
  case object LessThanOrEqualToThreshold extends ComparisonOperator("LESS_THAN_OR_EQUAL_TO_THRESHOLD") {
    def breaches(v: Double, t: Double): Boolean = compareDoubles(v, t) <= 0
  }
  val all: Seq[ComparisonOperator] = Seq(
    GreaterThanThreshold, GreaterThanOrEqualToThreshold,
    LessThanThreshold, LessThanOrEqualToThreshold)
  def fromName(s: String): ComparisonOperator = all.find(_.name == s).getOrElse(
    throw new IllegalArgumentException(s"unknown comparison operator: $s"))
}

/** Missing-data policies (cw_alarm.py:46-49; CloudWatch semantics).
  * `missingVote` is the vote a slot without a datapoint casts; IGNORE
  * and MISSING abstain (None). */
sealed abstract class TreatMissingData(val name: String, val missingVote: Option[Boolean])
object TreatMissingData {
  case object NotBreaching extends TreatMissingData("NOT_BREACHING", Some(false))
  case object Breaching    extends TreatMissingData("BREACHING", Some(true))
  case object Ignore       extends TreatMissingData("IGNORE", None)
  case object Missing      extends TreatMissingData("MISSING", None)
  val all: Seq[TreatMissingData] = Seq(NotBreaching, Breaching, Ignore, Missing)
  def fromName(s: String): TreatMissingData = all.find(_.name == s).getOrElse(
    throw new IllegalArgumentException(s"unknown treat_missing_data: $s"))
}

/** SLA over a metric (sla.py:4-33; defaults match sla.py:16-21). */
final case class SLA(
    metric: MetricLike,
    shortDescription: String,
    details: String,
    threshold: Double,
    comparisonOperator: ComparisonOperator,
    treatMissingData: TreatMissingData = TreatMissingData.NotBreaching,
    severity: String = "default",
    datapointsToAlarm: Int = 1,
    evaluationPeriods: Int = 1,
    snsEnabled: Boolean = false)

/** Named group of SLAs (set.py:36-48). */
final case class SLASet(name: String, slas: Seq[SLA])

/** One CloudWatch-style MetricDataQuery entry (stream.py:33-43). */
final case class MetricDataQuery(id: String, namespace: String, name: String,
    dimensions: Seq[Dimension], period: Int, stat: String)

/** Flattens metric sets into one stream of series and renders the
  * frequency-filtered query batch (stream.py:7-45, O-14/O-18). */
final case class MetricStream(metricSets: Seq[MetricSet]) {
  val metrics: Seq[MetricLike] = metricSets.flatMap(_.metrics)

  def metricDataQueries(frequency: Frequency): Seq[MetricDataQuery] =
    metrics.filter(_.frequency == frequency).map { m =>
      MetricDataQuery(m.uniqueId, m.namespace, m.name, m.dimensions, m.period, m.statistic)
    }
}

/** Per-account definitions (replaces dynamic module discovery,
  * definitions/definition.py:10-80 — see SURVEY.md §7 "What's hard" #3). */
final case class AccountDefinition(
    account: String,
    metricSets: Seq[MetricSet],
    slaSets: Seq[SLASet]) {
  def metricSet(name: String): MetricSet =
    metricSets.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no metric set '$name' for account $account"))
  def allSlas: Seq[SLA] = slaSets.flatMap(_.slas)
}
