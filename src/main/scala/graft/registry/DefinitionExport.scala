package graft.registry

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.catalog.Schemas
import graft.model._

/**
 * Flattens account definitions into the JSON-shaped metric_defs /
 * sla_defs tables (O-11; reference: definitions/definition.py:82-137 —
 * "metadata-as-data"). Nested structures become JSON object strings
 * exactly as the reference's json.dumps of name→value maps
 * (definition.py:97-116).
 *
 * Each table is a local relation of driver rows, as the reference
 * keeps its definition set in memory (SURVEY.md O-20/O-21). Projecting,
 * filtering or collecting one runs no Spark job, and the operators that
 * read a definition side collect it once, with a bound
 * ([[graft.pipeline.DriverBounds.DefinitionRows]]).
 *
 * Divergence from reference (intended semantics, SURVEY.md §2 quirks
 * (d)): we build fresh rows instead of mutating live definition
 * objects via __dict__.
 */
object DefinitionExport {

  /** Minimal JSON object encoder for flat string maps — preserves
    * insertion order like Python dict + json.dumps. */
  private[graft] def jsonObject(pairs: Seq[(String, String)]): String =
    pairs.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }
      .mkString("{", ", ", "}")

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metadataJson(m: Seq[Metadata]): String =
    if (m.isEmpty) null else jsonObject(m.map(x => x.name -> x.value))

  private def dimensionsJson(d: Seq[Dimension]): String =
    if (d.isEmpty) null else jsonObject(d.map(x => x.name -> x.value))

  private def datasetJson(t: TableRef): String =
    jsonObject(Seq("database" -> t.database, "table" -> t.table,
      "catalog" -> t.catalog, "alias" -> t.alias))

  def metricDefs(spark: SparkSession, defs: Seq[AccountDefinition]): DataFrame = {
    val rows = for {
      d <- defs
      set <- d.metricSets
      m <- set.metrics
    } yield {
      val (dataset, refDatasets, query) = m match {
        case bm: BusinessMetric =>
          (datasetJson(bm.dataset),
            "[" + bm.referenceDatasets.map(datasetJson).mkString(", ") + "]",
            bm.query)
        case dm: DataSetMetric => (datasetJson(dm.dataset), null, null)
        case _ => (null, null, null)
      }
      Row(m.namespace, m.name, m.frequency.name, m.period, m.statistic,
        metadataJson(m.metadata), dimensionsJson(m.dimensions),
        set.name, null, m.dashboard.dashboardName, d.account,
        dataset, refDatasets, query)
    }
    spark.createDataFrame(rows.asJava, Schemas.metricDefs)
  }

  def slaDefs(spark: SparkSession, defs: Seq[AccountDefinition]): DataFrame = {
    val rows = for {
      d <- defs
      set <- d.slaSets
      sla <- set.slas
    } yield Row(
      // the reference catalog types threshold as int
      // (glue_catalog_construct.py:308-367); exporting a fractional
      // threshold would silently truncate it (0.95 → 0, an alarm that
      // can never breach) — fail loudly instead
      null, {
        require(sla.threshold.isWhole,
          s"sla_defs schema stores threshold as int (reference catalog " +
            s"parity); fractional threshold ${sla.threshold} for " +
            s"${sla.metric.name} would truncate silently")
        sla.threshold.toInt
      }, sla.comparisonOperator.name,
      sla.datapointsToAlarm, sla.evaluationPeriods, sla.treatMissingData.name,
      sla.severity, sla.shortDescription, sla.details,
      sla.metric.namespace, sla.metric.name, set.name,
      metadataJson(sla.metric.metadata), dimensionsJson(sla.metric.dimensions),
      d.account)
    spark.createDataFrame(rows.asJava, Schemas.slaDefs)
  }

  /** Dump both definition tables as JSON files (O-11; reference deploys
    * metrics.json / slas.json to s3://…/definitions/,
    * stacks/centralized_resources.py:171-192). */
  def dump(spark: SparkSession, defs: Seq[AccountDefinition], outDir: String): Unit = {
    metricDefs(spark, defs).coalesce(1).write.mode("overwrite").json(s"$outDir/metrics")
    slaDefs(spark, defs).coalesce(1).write.mode("overwrite").json(s"$outDir/slas")
  }

  /** Series-key lookup table used by enrichment joins (O-20): one row
    * per metric with its derived unique_id and alarm key, broadcast to
    * the fact side of joins; the window operator collects it once,
    * with a bound. */
  def seriesKeys(spark: SparkSession, defs: Seq[AccountDefinition]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("unique_id", StringType),
      StructField("alarm_key", StringType),
      StructField("namespace", StringType),
      StructField("name", StringType),
      StructField("frequency", StringType),
      StructField("period", IntegerType),
      StructField("statistic", StringType),
      StructField("metadata", StringType),
      StructField("dimensions", StringType)))
    val rows = for {
      d <- defs
      set <- d.metricSets
      m <- set.metrics
    } yield Row(m.uniqueId, m.alarmUniqueId.dropRight(1), m.namespace, m.name,
      m.frequency.name, m.period, m.statistic,
      metadataJson(m.metadata), dimensionsJson(m.dimensions))
    spark.createDataFrame(rows.asJava, schema)
  }
}
