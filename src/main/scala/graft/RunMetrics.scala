package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftListenerBus, SparkSession}

/** Spark counters summed over a set of jobs. `stages` counts submitted
  * stages (a stage skipped because its shuffle output exists does not
  * count); `gcMs` sums per-task GC time; `peakTaskMemB` is the largest
  * per-task peak execution memory. */
final case class RunCounters(jobs: Int = 0, stages: Int = 0, tasks: Long = 0,
    shuffleReadB: Long = 0, shuffleWriteB: Long = 0, spillMemB: Long = 0,
    spillDiskB: Long = 0, gcMs: Long = 0, peakTaskMemB: Long = 0) {

  def +(o: RunCounters): RunCounters = RunCounters(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, shuffleReadB + o.shuffleReadB,
    shuffleWriteB + o.shuffleWriteB, spillMemB + o.spillMemB,
    spillDiskB + o.spillDiskB, gcMs + o.gcMs,
    math.max(peakTaskMemB, o.peakTaskMemB))

  /** The counters as JSON object fields (no braces), in the names of
    * `BENCH_DETAIL.json`'s run records. */
  def jsonFields: String =
    s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""shuffle_read_b":$shuffleReadB,"shuffle_write_b":$shuffleWriteB,""" +
      s""""spill_mem_b":$spillMemB,"spill_disk_b":$spillDiskB,""" +
      s""""gc_ms":$gcMs,"peak_task_mem_b":$peakTaskMemB"""
}

/**
 * The harness's one SparkListener: per-job counters (stages, tasks,
 * shuffle, spill, GC, peak task memory) tagged with each job's start
 * time, plus per-stage task run times for skew. Attribution is by
 * time: a caller that notes a wall-clock instant between two phases
 * of a run (construction, then execution) splits the jobs by whether
 * they started before it, which also covers jobs submitted from other
 * threads.
 *
 * Events arrive asynchronously; `reset` and every read first drain the
 * listener bus, so the counts are complete without a sleep and no
 * event of an earlier run lands in the next one.
 */
final class RunMetrics private (spark: SparkSession) extends SparkListener {

  private final class Job(val startMs: Long) {
    var c = RunCounters(jobs = 1)
  }

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def jobOf(stage: Int): Option[Job] = stageJob.get(stage).flatMap(jobs.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    jobOf(e.stageInfo.stageId).foreach(j => j.c = j.c.copy(stages = j.c.stages + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOf(e.stageId).foreach { j =>
      j.c = j.c + Option(e.taskMetrics).fold(RunCounters(tasks = 1)) { m =>
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        RunCounters(tasks = 1,
          shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
          spillMemB = m.memoryBytesSpilled, spillDiskB = m.diskBytesSpilled,
          gcMs = m.jvmGCTime, peakTaskMemB = m.peakExecutionMemory)
      }
    }
  }

  /** Forget every job seen so far. */
  def reset(): Unit = {
    GraftListenerBus.drain(spark)
    synchronized { jobs.clear(); stageJob.clear(); taskMs.clear() }
  }

  /** (jobs started at or before `splitMs`, all jobs) since the last
    * `reset`. `splitMs` is wall-clock milliseconds, the clock of a
    * job's start time. */
  def read(splitMs: Long = Long.MaxValue): (RunCounters, RunCounters) = {
    GraftListenerBus.drain(spark)
    synchronized {
      val (early, late) = jobs.values.partition(_.startMs <= splitMs)
      val before = early.map(_.c).foldLeft(RunCounters())(_ + _)
      (before, late.map(_.c).foldLeft(before)(_ + _))
    }
  }

  /** Task run times (ms) per stage since the last `reset`. */
  def stageTaskMs: Map[Int, Seq[Long]] = {
    GraftListenerBus.drain(spark)
    synchronized(taskMs.map { case (s, ts) => s -> ts.toVector }.toMap)
  }

  /** Task skew since the last `reset`: the worst max/median task run
    * time over stages with ≥ 8 tasks, max task ≥ 200 ms AND median
    * task ≥ 50 ms; 1.0 when no stage qualifies. A stage whose median
    * is a few milliseconds can show an 8×+ max/median from a single GC
    * pause or scheduler hiccup — that is task-launch jitter, not data
    * skew, and at real scale such a stage is nowhere near the critical
    * path. The floors keep the number about load imbalance a cluster
    * would feel. */
  def maxOverMedianTask: Double = {
    var worst = 1.0
    stageTaskMs.values.foreach { tasks =>
      if (tasks.length >= 8) {
        val durs = tasks.sorted
        val max = durs.last
        val med = durs(durs.length / 2)
        if (max >= 200 && med >= 50 && max.toDouble / med > worst)
          worst = max.toDouble / med
      }
    }
    worst
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)
}

object RunMetrics {
  def attach(spark: SparkSession): RunMetrics = {
    val m = new RunMetrics(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
