package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call the benchmark makes into a layer.
  * Spans of one cycle share `cycle`; `parent` is the enclosing span's
  * id, or -1 for a cycle's root. */
final case class Span(id: Int, name: String, cycle: Int, parent: Int,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One finished Dataset action, as the QueryExecutionListener saw it:
  * planning time, file scans, and for a file write its path and rows. */
final case class QueryEvent(planEndMs: Long, planMs: Double, scans: Int,
    writePath: Option[String], rowsWritten: Long)

/**
 * Span recorder plus counter attribution, kept in memory until the run
 * ends. Spans come from the benchmark's own calls; the counters come
 * from a SparkListener (jobs, stages, tasks, shuffle, spill, GC, task
 * memory, bytes read), a QueryExecutionListener (Catalyst phase times
 * from `QueryExecution.tracker`, file scans, write paths) and a
 * StreamingQueryListener (micro-batch progress).
 *
 * Attribution is by time: layer calls are sequential, so a job belongs
 * to the innermost span open when it started. That also covers jobs
 * submitted from other threads (MetricsJob's Future pool), which a
 * thread-local tag would miss.
 *
 * Until `attach` is called `span` only runs its body and no listener is
 * registered; `attach`/`detach` switch tracing per cycle so one run can
 * measure its own overhead.
 */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int] // ids of open spans, innermost first
  private var pending = Map.empty[Int, (String, Int, Int, Long, Long)]
  private var nextId = 0
  private var cycleId = -1
  private var on = false

  /** per job: its start time and its tasks' counters */
  private val jobs = mutable.LinkedHashMap.empty[Int, (Long, Counters)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val queries = mutable.ArrayBuffer.empty[QueryEvent]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val c = new Counters
      c.jobs = 1
      c.stages = e.stageIds.size
      jobs(e.jobId) = (e.time, c)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); (_, c) <- jobs.get(j); m <- Option(e.taskMetrics)) {
        c.tasks += 1
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.bytesRead += m.inputMetrics.bytesRead
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private object queryListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      val planEnd = phases.get("planning").map(_.endTimeMs)
        .getOrElse(System.currentTimeMillis())
      val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }.size
      val write = qe.analyzed.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      }
      val rows = collectWithSubqueries(qe.executedPlan) {
        case d: DataWritingCommandExec => d.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      Tracer.this.synchronized { queries += QueryEvent(planEnd, planMs, scans, write, rows) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Register the three listeners (idempotent). */
  def attach(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Unregister the listeners after draining the events already posted. */
  def detach(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.BenchAccess.drainListenerBus(spark)

  def startCycle(i: Int): Unit = cycleId = i

  /** Time `body` as a span named `name` (`<layer>` or `<layer>.<step>`). */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = beginSpan(name)
      try body finally endSpan(id)
    }

  private def beginSpan(name: String): Int = synchronized {
    val id = nextId
    nextId += 1
    pending += id -> (name, cycleId, open.headOption.getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    open = id :: open
    id
  }

  private def endSpan(id: Int): Unit = synchronized {
    val (name, cyc, parent, startMs, startNs) = pending(id)
    pending -= id
    open = open.filterNot(_ == id)
    spans += Span(id, name, cyc, parent, startMs, System.currentTimeMillis(),
      startNs, System.nanoTime())
  }

  /** Record an interval measured elsewhere (a streaming trigger) as a
    * child of `parent`. */
  def addSpan(name: String, parent: Int, startMs: Long, endMs: Long): Unit = synchronized {
    val id = nextId
    nextId += 1
    val nowMs = System.currentTimeMillis()
    val nowNs = System.nanoTime()
    def ns(ms: Long) = nowNs - (nowMs - ms) * 1000000L
    spans += Span(id, name, cycleId, parent, startMs, endMs, ns(startMs), ns(endMs))
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def progressEvents: Seq[StreamingQueryProgress] = synchronized(progress.toList)

  /** Spark counters attributed to each span id (innermost span open
    * when the job started / the query finished planning). */
  def attributed(cycle: Int): Map[Int, Counters] = synchronized {
    val cs = spans.filter(_.cycle == cycle)
    def owner(ms: Long): Option[Span] =
      cs.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(s => -s.startNs).headOption
    val acc = mutable.Map.empty[Int, Counters]
    def at(s: Span) = acc.getOrElseUpdate(s.id, new Counters)
    jobs.values.foreach { case (startMs, j) => owner(startMs).foreach(at(_) += j) }
    queries.foreach { q =>
      owner(q.planEndMs).foreach { s =>
        val c = at(s)
        c.planMs += q.planMs; c.scans += q.scans
        q.writePath.foreach { p =>
          if (p.endsWith(".__compact__")) c.compactions += 1
          val table = p.split('/').last
          c.rowsWritten += table -> (c.rowsWritten.getOrElse(table, 0L) + q.rowsWritten)
        }
      }
    }
    acc.toMap
  }

  /** Self time of each span: its duration minus the part of it that
    * its child spans cover. */
  def selfSeconds(cycle: Int): Map[Int, Double] = synchronized {
    val cs = spans.filter(_.cycle == cycle)
    cs.map { s =>
      val kids = cs.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L
      var cur = Long.MinValue
      kids.foreach { case (a0, b0) =>
        val a = math.max(a0, math.max(cur, s.startNs))
        val b = math.min(b0, s.endNs)
        if (b > a) covered += b - a
        cur = math.max(cur, b0)
      }
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  /** Spans as JSON lines, written when the run ends. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","cycle":${s.cycle},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark counters of one job, or summed over the jobs and queries
  * attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var peakExecMem = 0L
  var planMs = 0.0
  var scans = 0L
  var compactions = 0L
  /** rows written per output directory name */
  var rowsWritten = Map.empty[String, Long]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs; bytesRead += o.bytesRead
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    planMs += o.planMs; scans += o.scans; compactions += o.compactions
    o.rowsWritten.foreach { case (k, v) => rowsWritten += k -> (rowsWritten.getOrElse(k, 0L) + v) }
  }
}
