package graft.metrics

import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.catalog.Tables
import graft.model._
import graft.registry.{DefinitionExport, DefinitionRegistry}

/**
 * Business-metric engine — the analytics hot path (SURVEY.md §3.1;
 * reference: glue/business_metrics.py).
 *
 * Lifecycle per run: select the named metric set (O-15), dedupe the
 * datasets it touches (O-16), register them as views (O-1), execute
 * each BusinessMetric's SQL via spark.sql (delegated wholesale to
 * Catalyst), extract the scalar as row 0 / col 0 with a limit(1) guard
 * (O-19, business_metrics.py:40), and append non-null results to the
 * metrics_published sink (O-7, the local stand-in for
 * cloudwatch.put_metric_data, business_metrics.py:42-57).
 *
 * Divergence from reference (intended semantics, SURVEY.md §2 quirk
 * (c)): non-Business metrics in the set are skipped rather than
 * crashing on a missing `.dataset`.
 */
object MetricsJob {

  val publishedSchema: StructType = StructType(Seq(
    StructField("namespace", StringType),
    StructField("name", StringType),
    StructField("dimensions", StringType),   // JSON object string
    StructField("publishtime", StringType),  // ISO-8601 UTC
    StructField("metricvalue", DoubleType)))

  final case class Published(metric: BusinessMetric, value: Double)

  /** Execute one metric set's business metrics and return the rows that
    * would be published. `collectionTime` is injected (never wall-clock)
    * so runs are reproducible — tests and the oracle depend on it. */
  def run(
      spark: SparkSession,
      sfDir: String,
      account: String = DefinitionRegistry.DefaultAccount,
      metricSetName: String = DefinitionRegistry.businessMetricSet.name,
      collectionTime: Instant = Instant.EPOCH): DataFrame = {

    val set = DefinitionRegistry.forAccount(account).metricSet(metricSetName)
    val business = set.metrics.collect { case bm: BusinessMetric => bm }

    // O-16: distinct datasets across the set, registered once.
    Tables.registerDatasets(spark, sfDir, business.flatMap(_.allDatasets))

    // Metrics in a set are independent — submit their jobs
    // concurrently (the reference loops sequentially on a 5-DPU Glue
    // job; Spark's scheduler interleaves the stages here). Result
    // order stays definition order via Future.traverse.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val published = Await.result(Future.traverse(business) { m => Future {
      // O-19: scalar = first row, first column; limit(1) keeps the
      // driver fetch to a single row no matter what the query returns.
      val head = spark.sql(m.query).limit(1).collect().headOption
      // scala.math.BigDecimal extends java.lang.Number, so one case
      // covers every numeric scalar a query can produce
      val value = head.flatMap(r => Option(r.get(0))).map {
        case n: java.lang.Number => n.doubleValue()
        case other => other.toString.toDouble
      }
      // null result → suppress publish (business_metrics.py:46).
      value.map(v => Published(m, v))
    }}, Duration.Inf).flatten

    toPublishedDf(spark, published, collectionTime)
  }

  private def toPublishedDf(
      spark: SparkSession, published: Seq[Published], at: Instant): DataFrame = {
    val rows = published.map { p =>
      Row(p.metric.namespace, p.metric.name,
        DefinitionExport.jsonObject(p.metric.dimensions.map(d => d.name -> d.value)),
        at.toString, p.value)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), publishedSchema)
  }

  /** Append published metrics to the local metrics_published table. */
  def publish(df: DataFrame, outDir: String): Unit =
    df.write.mode("append").parquet(s"$outDir/metrics_published")
}
