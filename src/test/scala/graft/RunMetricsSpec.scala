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

  test("RunMetrics task skew: worst max/median over stages past the floors, else 1.0") {
    val metrics = RunMetrics.attach(spark)
    // one stage, one task per partition, each task sleeping ms(index)
    def stage(ms: Int => Int, tasks: Int): Unit = {
      spark.sparkContext.parallelize(0 until tasks, tasks)
        .mapPartitionsWithIndex { (i, it) => Thread.sleep(ms(i)); it }
        .count()
    }
    try {
      metrics.reset()
      stage(i => if (i == 7) 400 else 60, tasks = 8)
      assert(metrics.maxOverMedianTask > 4.0, metrics.stageTaskMs)
      // under the task-count floor: 7 tasks
      metrics.reset()
      stage(i => if (i == 6) 400 else 60, tasks = 7)
      assert(metrics.maxOverMedianTask == 1.0, metrics.stageTaskMs)
      // under the median floor: 8 tasks, median a few ms
      metrics.reset()
      stage(i => if (i == 7) 400 else 0, tasks = 8)
      assert(metrics.maxOverMedianTask == 1.0, metrics.stageTaskMs)
      // under the max floor: 8 tasks, slowest 100 ms
      metrics.reset()
      stage(i => if (i == 7) 100 else 60, tasks = 8)
      assert(metrics.maxOverMedianTask == 1.0, metrics.stageTaskMs)
    } finally metrics.detach()
  }
}
