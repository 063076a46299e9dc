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

  test("definition sides run no construction job; a broadcast of one runs one job") {
    import spark.implicits._
    import graft.operators.{AlarmStateMachine, StatWindowAgg}
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    val dps = Seq(("u1", ts, 1.0), ("u2", ts, 2.0)).toDF("series_id", "ts", "value")
    // local relations of several rows, as DefinitionExport builds them
    // (Catalyst folds a distinct over a one-row table, which would hide
    // a query on the definition side)
    val defs = Seq(("u1", "Sum", 60, "minute"), ("u2", "p90", 60, "minute"),
      ("u3", "Average", 3600, "hour")).toDF("unique_id", "statistic", "period", "frequency")
    val slaCols = Seq("series_id", "period", "threshold", "comparison_operator",
      "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")
    val slas = Seq(("u1", 60, 1.5, "GREATER_THAN_THRESHOLD", 1, 1, "MISSING"),
      ("u1", 60, 3.0, "GREATER_THAN_OR_EQUAL_TO_THRESHOLD", 2, 3, "BREACHING"))
      .toDF(slaCols: _*)
    val series = Seq(("u1", 0L, 2.0)).toDF("series_id", "window_start", "metricvalue")
    val metrics = RunMetrics.attach(spark)
    def jobs[T](body: => T): Int = {
      metrics.reset()
      body
      metrics.read()._2.jobs
    }
    try {
      // a distinct query on a definition side would run 2 jobs here
      // (an AQE shuffle stage and the result stage)
      assert(jobs(StatWindowAgg.aggregate(dps, defs)) == 0)
      assert(jobs(StatWindowAgg.aggregate(dps, defs, "minute")) == 0)
      assert(jobs(AlarmStateMachine.evaluate(series, slas)) == 0)
      // a non-local SLA table is collected by exactly one job
      val ranged = spark.range(0, 2, 1, 1).selectExpr("concat('u', id) AS series_id",
        "60 * (id + 1) AS period", "1.5 AS threshold", "'GREATER_THAN_THRESHOLD' AS comparison_operator",
        "1 AS datapoints_to_alarm", "1 AS evaluation_periods", "'MISSING' AS treat_missing_data")
      assert(jobs(AlarmStateMachine.evaluate(series, ranged)) == 1)
      // executing them runs no job for the definitions either: the
      // lookup ships them as a broadcast variable where a broadcast
      // join of the local relation ran one job each
      assert(jobs(StatWindowAgg.aggregate(dps, defs).collect()) == 2)
      assert(jobs(AlarmStateMachine.evaluate(series, slas).collect()) == 2)
      // a broadcast of a local relation still runs one job, which
      // ships the driver rows (LocalTableScanExec collects through the
      // generic RDD path); with the result stage over the one-partition
      // fact side that makes two
      val facts = spark.range(0, 4, 1, 1).selectExpr("concat('u', id) AS unique_id")
      assert(jobs(facts.join(broadcast(defs), "unique_id").collect()) == 2)
    } finally metrics.detach()
  }

  test("a lake ingest micro-batch runs its landing, one metadata pass and the errors write") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String](4)
    val good =
      """{"collectiontime":"2024-01-02T03:00:00","namespace":"NS","name":"N",
        |"period":3600,"frequency":"hour","statistic":"Sum","metadata":null,
        |"dimensions":null,"accountid":"a","metrictimestamp":"2024-01-02T03:00:00",
        |"metricvalue":7.5,"id":"u1","label":"N"}""".stripMargin.replace("\n", "")
    val metrics = RunMetrics.attach(spark)
    val q = graft.streaming.LakeIngest.start(mem.toDF(),
      Files.createTempDirectory("lakejobs").toString,
      Files.createTempDirectory("lakejobserr").toString,
      Files.createTempDirectory("ckptjobs").toString,
      trigger = Trigger.ProcessingTime("1 second"), compactLagBatches = 1)
    try {
      metrics.reset()
      mem.addData("{ not json }" +: Seq.fill(7)(good): _*)
      q.processAllAvailable()
      // the landing (the batch cache stage, the rebalance's AQE shuffle
      // stage and the write), the metadata groupBy (a shuffle stage and
      // the collect) and the errors write; a separate corrupt check and
      // touched-partition collect make 7
      assert(metrics.read()._2.jobs == 6, s"${metrics.read()._2}")
    } finally { q.stop(); metrics.detach() }
  }
}
