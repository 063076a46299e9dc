package graft

import org.apache.spark.sql.SparkSession

/** The one local session the harness mains (`Bench`, `Verify`,
  * `PlanDump`) run on, so their numbers and plans come from the same
  * settings. `MetricsMain` is the production job and
  * builds its own session from deployment settings. */
object LocalSession {

  /** Core count: SPARK_GRAFT_CPUS, else the caller's default. */
  def cpus(default: => Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def apply(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Interleaved sweeps put ~300 codegen units (74 queries × ~4
      // whole-stage/expression units) between a query's consecutive
      // trials; the default codegen cache (100 entries, static conf
      // spark.sql.codegen.cache.maxEntries) evicts a query's compiled
      // classes before its next trial, so EVERY trial would repay
      // janino compilation + JIT — a fixed ~100-200 ms tax that is
      // pure harness artifact (a real cluster job compiles once and
      // runs for hours). Sizing the cache to hold the full sweep keeps
      // the steady-state-codegen regime the medians are meant to
      // measure. Cache entries are generated-class references — a few
      // thousand is a trivial heap cost.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
