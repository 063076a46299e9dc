package perfbench

import java.time.Instant

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.Tables
import graft.metrics.MetricsJob
import graft.model.BusinessMetric
import graft.registry.DefinitionRegistry

/**
 * The scheduled business-metrics job of the lake: each run has its own
 * `collectionTime`, registers the datasets of the registry's metric sets
 * (`Tables.registerDatasets`), runs `tpch_business` on account 1 and
 * `supplier_quality` on account 2 (`MetricsJob.run`) and appends the
 * results to `metrics_published` (`MetricsJob.publish`). Catalyst
 * planning and parquet scans dominate; the same table is scanned by
 * several metrics. The input is TPC-H-shaped tables holding only the
 * columns these queries read; the planted truth is every metric's exact
 * scalar.
 */
final class BusinessSql(spark: SparkSession, seed: Long, scale: Double) {
  private val lineitems = math.max(2000L, (100000 * scale).round)
  private val orders = lineitems / 4
  private val customers = lineitems / 40
  private val parts = (lineitems / 30).toInt
  private val suppliers = lineitems / 600
  private val base = Instant.parse("2024-03-10T00:00:00Z")

  private val sets = Seq(
    DefinitionRegistry.DefaultAccount -> DefinitionRegistry.businessMetricSet.name,
    DefinitionRegistry.SecondAccount -> "supplier_quality")
  private val refs = sets.flatMap { case (acct, set) =>
    DefinitionRegistry.forAccount(acct).metricSet(set).metrics
      .collect { case bm: BusinessMetric => bm.allDatasets }.flatten
  }.distinct

  // planted truth, set by generate
  private var lake = ""
  private var expected = Map.empty[String, Double]

  def generate(dir: String): Unit = {
    import BusinessSql._
    lake = dir
    val dec = DecimalType(15, 2)
    def write(table: String, n: Long, schema: StructType, row: (Long, Long) => Row): Unit = {
      val s = seed
      val rdd = spark.sparkContext.range(0L, n, 1L, 4).map(i => row(s, i))
      spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(s"$dir/$table.parquet")
    }
    val p = parts
    write("lineitem", lineitems, StructType(Seq(StructField("l_partkey", IntegerType),
      StructField("l_extendedprice", dec), StructField("l_discount", dec))),
      (s, i) => { val (k, price, disc) = lineitem(s, i, p); Row(k, price.bigDecimal, disc.bigDecimal) })
    write("orders", orders, StructType(Seq(StructField("o_orderstatus", StringType),
      StructField("o_totalprice", dec))),
      (s, i) => { val (st, price) = order(s, i); Row(st, price.bigDecimal) })
    write("customer", customers, StructType(Seq(StructField("c_acctbal", dec))),
      (s, i) => Row(balance(s, 3, i).bigDecimal))
    write("part", parts.toLong, StructType(Seq(StructField("p_partkey", IntegerType),
      StructField("p_size", IntegerType))),
      (s, i) => Row(i.toInt + 1, partSize(s, i.toInt + 1)))
    write("supplier", suppliers, StructType(Seq(StructField("s_acctbal", dec))),
      (s, i) => Row(balance(s, 5, i).bigDecimal))

    // the same row functions, folded here into the expected scalars
    var revenue = BigDecimal(0)
    val sold = new java.util.BitSet(parts + 1)
    var large = 0L
    var li = 0L
    while (li < lineitems) {
      val (k, price, disc) = lineitem(seed, li, parts)
      revenue += price * (BigDecimal(1) - disc)
      sold.set(k)
      if (partSize(seed, k) > 25) large += 1
      li += 1
    }
    val finished = (0L until orders).count(i => order(seed, i)._1 == "F").toLong
    val custSum = (0L until customers).map(i => balance(seed, 3, i)).sum
    val negSuppliers = (0L until suppliers).count(i => balance(seed, 5, i) < 0).toLong
    expected = Map(
      "TotalRevenue" -> revenue.toDouble,
      "FinishedOrders" -> finished.toDouble,
      "AvgAccountBalance" -> custSum.toDouble / customers,
      "DistinctPartsSold" -> sold.cardinality().toDouble,
      "LargePartLines" -> large.toDouble,
      "NegativeBalanceSuppliers" -> negSuppliers.toDouble)
  }

  private def published = s"$lake/published"

  /** Run `i` of the job: register, run both sets, publish. Returns the
    * number of rows published. */
  def run(tr: Tracer, i: Int): Long = {
    val at = base.plusSeconds(3600L * i)
    tr.span("catalog") { Tables.registerDatasets(spark, lake, refs) }
    val results = tr.span("bizmetrics.run") {
      sets.map { case (acct, set) => MetricsJob.run(spark, lake, acct, set, at).persist() }
    }
    tr.span("bizmetrics.publish") { results.foreach(MetricsJob.publish(_, published)) }
    val n = results.map(_.count()).sum
    results.foreach(_.unpersist())
    n
  }

  def checks(i: Int): Seq[Check] = {
    val at = base.plusSeconds(3600L * i).toString
    val got = spark.read.parquet(s"$published/metrics_published")
      .filter(col("publishtime") === at).select("name", "metricvalue").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    Seq(Check("business_sql.published", expected, got))
  }

  /** Alter one published value, so a test can show the check sees it. */
  private[perfbench] def corruptOutputs(i: Int): Unit = {
    val at = base.plusSeconds(3600L * i).toString
    val path = s"$published/metrics_published"
    val df = spark.read.parquet(path).persist()
    df.count()
    df.withColumn("metricvalue", when(col("publishtime") === at && col("name") === "FinishedOrders",
      col("metricvalue") + 1).otherwise(col("metricvalue")))
      .write.mode("overwrite").parquet(path + ".tmp")
    df.unpersist()
    Stats.deleteTree(path)
    java.nio.file.Files.move(java.nio.file.Paths.get(path + ".tmp"), java.nio.file.Paths.get(path))
  }
}

/** Deterministic row functions: row `i` of a table depends only on
  * (seed, i), so Spark tasks generate the rows and the generator folds
  * the same rows into the expected scalars. */
object BusinessSql {
  private val Statuses = Array("F", "O", "P")

  private def cents(r: java.util.SplittableRandom, lo: Long, hi: Long): BigDecimal =
    BigDecimal(lo + r.nextLong(hi - lo + 1), 2)

  def lineitem(seed: Long, i: Long, parts: Int): (Int, BigDecimal, BigDecimal) = {
    val r = Truth.rng(seed, 1, i)
    (1 + r.nextInt(parts), cents(r, 90000L, 10000000L), cents(r, 0L, 10L))
  }

  def order(seed: Long, i: Long): (String, BigDecimal) = {
    val r = Truth.rng(seed, 2, i)
    (Statuses(r.nextInt(3)), cents(r, 85000L, 50000000L))
  }

  def balance(seed: Long, table: Long, i: Long): BigDecimal =
    cents(Truth.rng(seed, table, i), -99999L, 999999L)

  def partSize(seed: Long, key: Int): Int = 1 + Truth.rng(seed, 4, key.toLong).nextInt(50)
}
