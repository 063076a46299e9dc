package graft

import java.nio.file.{Files, Paths}

/** Optimization-round evidence tool: dumps `.explain("formatted")` for
  * the named queries to `<outDir>/<query>_<tag>.txt` — the
  * before/after plan files the optimization judge checks claims
  * against (plans/r17/...), and the way to regenerate any plan PLANS.md
  * shows. Runs on the bench's session settings ([[LocalSession]]) and
  * sf, so the plans match what the bench times.
  *
  * Usage: runMain graft.PlanDump <tag> <outDir> <query>[,<query>...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <outDir> <q1,q2,...>")
    val tag = args(0)
    val outDir = Paths.get(args(1))
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.cpus(32), logLevel = "ERROR")
    Files.createDirectories(outDir)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$tag.txt"), txt)
      println(s"wrote ${outDir.resolve(s"${name}_$tag.txt")}")
    }
    spark.stop()
  }
}
