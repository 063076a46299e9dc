package graft

import org.apache.spark.sql.functions._

class RunMetricsSpec extends SparkTestBase {

  test("RunMetrics splits construction from execution by job start time") {
    val metrics = RunMetrics.attach(spark)
    try {
      metrics.reset()
      // construction: one eager localCheckpoint job
      val cp = spark.range(1000).toDF("v").localCheckpoint()
      val builtMs = System.currentTimeMillis()
      // execution: an aggregation over a shuffle
      cp.groupBy((col("v") % 7).as("k")).count().queryExecution.toRdd.count()
      // read right after the drain inside `read`: no sleep
      val (construct, all) = metrics.read(builtMs)
      assert(construct.jobs == 1, s"construction: $construct")
      assert(all.jobs > construct.jobs, s"all: $all")
      assert(all.stages >= 2, s"all: $all")
      assert(all.tasks > 0, s"all: $all")
      assert(all.shuffleWriteB > 0, s"all: $all")
      assert(all.shuffleReadB > 0, s"all: $all")
      assert(metrics.stageTaskMs.values.map(_.size).sum == all.tasks)
      // reset forgets the run
      metrics.reset()
      assert(metrics.read()._2 == RunCounters())
    } finally metrics.detach()
  }
}
