package perfbench

import org.apache.spark.sql.SparkSession

/** One output check: the program's value against the planted truth. */
final case class Check(name: String, expected: Any, actual: Any) {
  def ok: Boolean = expected == actual
  def describe: String =
    if (ok) s"ok   $name" else s"FAIL $name: expected ${brief(expected)}, got ${brief(actual)}"
  private def brief(x: Any): String = x match {
    case s: Iterable[_] if s.size > 6 => s"${s.size} items, e.g. ${s.take(3).mkString(", ")}"
    case other => String.valueOf(other)
  }
}

/** What one batch cycle reports besides its wall time.
  *
  * @param resultLatencyS time from cycle start (input landed) until the
  *                       workload's primary result was written
  * @param inputRecords   records read by the stage that consumes the input
  * @param inputStageS    seconds of that stage
  * @param inputStageCpuS CPU seconds the JVM spent in that stage
  * @param storedRatio    bytes the cycle left in its output tables per
  *                       byte of input it read
  * @param counters       layer counts the benchmark measured itself
  *                       (`<layer>.<counter>`), e.g. rows out of a layer */
final case class CycleOut(resultLatencyS: Double, inputRecords: Long, inputStageS: Double,
    inputStageCpuS: Double, storedRatio: Double, counters: Map[String, Double])

/**
 * A batch workload: a seeded generator that writes the inputs and plants
 * ground truth, and one cycle of the pipeline — one scheduled run that
 * starts from landed input and ends when the outputs are written.
 * The program only ever sees the generated files.
 */
abstract class BatchWorkload(val spark: SparkSession, val seed: Long, val scale: Double) {
  def name: String

  /** Write the inputs under `dir` and record the ground truth. */
  def generate(dir: String): Unit

  /** Run one cycle over the inputs of the last `generate`, writing under `outDir`. */
  def cycle(tr: Tracer, outDir: String, i: Int): CycleOut

  /** Compare the cycle's outputs (on disk and as collected) with the truth. */
  def checks(outDir: String, i: Int): Seq[Check]

  /** Release what a cycle cached. */
  def cleanup(): Unit = ()
}

object Workloads {
  val batch: Map[String, (SparkSession, Long, Double) => BatchWorkload] = Map(
    "lake_jobs" -> ((s, seed, sc) => new LakeJobsWorkload(s, seed, sc)),
    "sla_fanout" -> ((s, seed, sc) => new SlaFanoutWorkload(s, seed, sc)))
  val stream = "stream_alarms"
  val names: Seq[String] = batch.keys.toSeq.sorted :+ stream

  /** Cores for Spark `local[k]`: at most 4; the streaming workload
    * leaves one core to its open-loop generator thread. */
  def cores(workload: String): Int = {
    val n = math.min(Runtime.getRuntime.availableProcessors(), 4)
    if (workload == stream) math.max(1, n - 1) else n
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep the status store small, so retained heap reflects the
      // pipeline and not how many cycles a run happened to fit
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
