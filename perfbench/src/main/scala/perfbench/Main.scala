package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/**
 * Benchmark entry point: one workload, one seed, one run.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *       --work-dir <dir> [--t0-ms <epoch ms the launcher started the JVM>]
 *
 * Prints one `metric <name> = <value> <unit>` line per metric, one line
 * per output check, and as its last line the JSON result. With
 * `--trace 0` the JSON carries the end-to-end metrics; with `--trace 1`
 * the per-layer metrics of the traced cycles, and the spans are written
 * to `<work-dir>/<workload>-seed<n>.spans.jsonl`.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      workDir: String, t0Ms: Long)

  /** Input generation is repeated and its median reported, so set-up
    * time is steady; the warm-up cycle runs once (cold JIT). A run times
    * cycles until `--seconds` have passed, at least two. A traced run
    * traces every second cycle and times at least three, so the untraced
    * cycles on both sides of a traced one give its overhead even while
    * cycles still speed up. */
  val GenReps = 3
  val WarmupCycles = 1
  val MinCycles = 2
  /** Untimed open-loop ticks before the streaming window opens. */
  val WarmupTicks = 8

  final case class Outcome(endToEnd: Seq[(String, Double, String)],
      perLayer: Map[String, Double], extra: Seq[(String, Double, String)],
      checks: Seq[Check], attempted: Long, failed: Long)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = Workloads.session(Workloads.cores(a.workload), a.workDir)
    val code = try {
      val tracer = new Tracer(spark)
      val o = if (a.workload == Workloads.stream) runStream(spark, a, tracer)
        else runBatch(spark, Workloads.batch(a.workload)(spark, a.seed, 1.0), a, tracer)
      if (a.trace) tracer.writeSpans(java.nio.file.Paths.get(a.workDir,
        s"${a.workload}-seed${a.seed}.spans.jsonl"))
      report(a, o)
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${a.workload} failed")
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(code)
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    val wl = m.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))
    require(Workloads.names.contains(wl), s"unknown workload $wl (${Workloads.names.mkString(", ")})")
    Args(wl, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1",
      new java.io.File(m.getOrElse("work-dir", "perfbench-work")).getAbsolutePath,
      m.get("t0-ms").map(_.toLong).getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime))
  }

  private def secondsSince(ns: Long): Double = (System.nanoTime() - ns) / 1e9

  /** Old-generation occupancy right after a full collection. */
  def oldGenAfterGcMb(): Double = {
    // the second collection finds what the first one's reference
    // processing (Spark's ContextCleaner) has released in between
    System.gc()
    Thread.sleep(50)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed).sum / 1048576.0
  }

  // ---------------------------------------------------------------- batch

  def runBatch(spark: SparkSession, wl: BatchWorkload, a: Args, tr: Tracer): Outcome = {
    val sessionS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    val genS = (0 until GenReps).map { r =>
      val dir = s"${a.workDir}/input-$r"
      Stats.deleteTree(dir)
      val t = System.nanoTime()
      wl.generate(dir)
      val s = secondsSince(t)
      if (r > 0) Stats.deleteTree(s"${a.workDir}/input-${r - 1}")
      s
    }

    val checks = mutable.ArrayBuffer.empty[Check]
    var attempted = 0L
    var failed = 0L
    /** Run, check and clean up cycle `i`; None when it threw. Every
      * cycle computes the same outputs from the same inputs, so only
      * the first timed cycle of a run is checked. */
    def runCycle(i: Int, traced: Boolean, check: Boolean): Option[(Double, Double, CycleOut, Double)] = {
      val out = s"${a.workDir}/out-$i"
      if (traced) tr.attach() else tr.detach()
      tr.startCycle(i)
      val res = try {
        val t = System.nanoTime()
        val c0 = Stats.cpuSeconds()
        val o = tr.span("cycle")(wl.cycle(tr, out, i))
        val wall = secondsSince(t)
        val cpu = Stats.cpuSeconds() - c0
        if (traced) tr.drain()
        val cs = if (check) wl.checks(out, i) else Nil
        checks ++= cs
        attempted += cs.size
        failed += cs.count(!_.ok)
        Some((wall, cpu, o, if (i < 0) 0.0 else oldGenAfterGcMb()))
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: cycle $i failed: $e")
          e.printStackTrace()
          attempted += 1
          failed += 1
          None
      }
      wl.cleanup()
      Stats.deleteTree(out)
      res
    }

    val tw = System.nanoTime()
    (0 until WarmupCycles).foreach(i => runCycle(-1 - i, traced = false, check = false))
    val setupS = sessionS + Stats.median(genS) + secondsSince(tw)

    final case class Timed(wall: Double, cpu: Double, out: CycleOut, heapMb: Double, traced: Boolean)
    val timed = mutable.ArrayBuffer.empty[Timed]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    var i = 0
    val minCycles = if (a.trace) MinCycles + 1 else MinCycles
    while (secondsSince(t0) < a.seconds || i < minCycles) {
      val traced = a.trace && i % 2 == 1
      runCycle(i, traced, check = i == 0).foreach { case (wall, cpu, o, heap) =>
        timed += Timed(wall, cpu, o, heap, traced)
        if (traced) layers += batchLayerMetrics(tr, i, wall, o)
      }
      i += 1
    }
    tr.detach()
    require(timed.nonEmpty, "no cycle completed")

    val plain = timed.filterNot(_.traced).toSeq
    val base = if (plain.nonEmpty) plain else timed.toSeq
    def med(f: Timed => Double) = Stats.median(base.map(f))
    val cycleS = med(_.wall)
    val perLayer =
      if (layers.isEmpty) Map.empty[String, Double]
      else {
        val keys = layers.flatMap(_.keys).distinct
        keys.map(k => k -> Stats.median(layers.map(_.getOrElse(k, 0.0)).toSeq)).toMap +
          ("trace.overhead_s" -> (Stats.median(timed.filter(_.traced).map(_.wall).toSeq) - cycleS))
      }
    // wall-clock figures are printed but carry no bound: on a shared
    // host they follow the neighbours' CPU steal (see README.md)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("cycle_cpu_s", med(_.cpu), "s"),
      ("records_per_cpu_s", med(c => c.out.inputRecords / c.out.inputStageCpuS), "1/s"),
      ("stored_bytes_per_input_byte", med(_.out.storedRatio), "ratio"),
      ("peak_heap_mb", timed.map(_.heapMb).max, "MB"))
    val extra = Seq(
      ("cycle_s", cycleS, "s"),
      ("result_latency_ms", med(_.out.resultLatencyS * 1000), "ms"),
      ("records_per_s", med(c => c.out.inputRecords / c.out.inputStageS), "1/s"),
      ("cycles", timed.size.toDouble, "count"),
      ("traced_cycles", timed.count(_.traced).toDouble, "count"))
    println(s"samples cycle_s = ${timed.map(c => f"${c.wall}%.3f").mkString(" ")}, " +
      s"cycle_cpu_s = ${timed.map(c => f"${c.cpu}%.2f").mkString(" ")} " +
      s"(setup: session ${f"$sessionS%.2f"}, generate ${genS.map(g => f"$g%.2f").mkString(" ")})")
    Outcome(e2e, perLayer, extra, checks.toSeq, attempted, failed)
  }

  /** Per-layer metrics of one traced cycle. */
  def batchLayerMetrics(tr: Tracer, i: Int, wall: Double, o: CycleOut): Map[String, Double] = {
    val spans = tr.allSpans.filter(_.cycle == i)
    val byId = tr.attributed(i)
    val self = tr.selfSeconds(i)
    def secs(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def counters(pred: Span => Boolean): Counters = {
      val c = new Counters
      spans.filter(pred).foreach(s => byId.get(s.id).foreach(c += _))
      c
    }
    def sparkOf(layer: String): Map[String, Double] = {
      val c = counters(_.layer == layer)
      Map(s"$layer.jobs" -> c.jobs.toDouble, s"$layer.stages" -> c.stages.toDouble,
        s"$layer.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
        s"$layer.spill_bytes" -> c.spillBytes.toDouble, s"$layer.gc_ms" -> c.gcMs.toDouble,
        s"$layer.plan_ms" -> c.planMs)
    }
    val all = counters(_ => true)
    val biz = counters(_.layer == "bizmetrics")
    val inc = counters(_.layer == "incidents")
    val cycleSpan = spans.find(_.name == "cycle")
    val ingestRuns = cycleSpan.toSeq.flatMap { c =>
      tr.progressEvents.filter(p => p.name == "lake_ingest" && {
        val ms = StreamAlarmsWorkload.progressStartMs(p)
        c.startMs <= ms && ms <= c.endMs
      })
    }.filter(_.numInputRows > 0)
    val selfByLayer = spans.groupBy(_.layer).map { case (l, ss) => s"$l.self_s" -> ss.map(s => self(s.id)).sum }
    sparkOf("windows") ++ sparkOf("alarms") ++ selfByLayer ++ o.counters ++ Map(
      "cycle.s" -> wall,
      "ingest.s" -> secs("ingest"),
      "ingest.batches" -> ingestRuns.size.toDouble,
      "ingest.trigger_ms_p50" ->
        (if (ingestRuns.isEmpty) 0.0 else Stats.median(ingestRuns.map(StreamAlarmsWorkload.triggerMs))),
      "ingest.add_batch_ms" -> ingestRuns.map(p =>
        Option(p.durationMs.get("addBatch")).map(_.doubleValue).getOrElse(0.0)).sum,
      "ingest.records_in" -> ingestRuns.map(_.numInputRows.toDouble).sum,
      "ingest.compactions" -> counters(_.layer == "ingest").compactions.toDouble,
      "partition.retention_s" -> secs("partition.retention"),
      "partition.gaps_s" -> secs("partition.gaps"),
      "registry.export_s" -> secs("registry"),
      "windows.s" -> secs("windows"),
      "alarms.s" -> secs("alarms"),
      "incidents.s" -> secs("incidents"),
      "incidents.rows" -> inc.rowsWritten.getOrElse("incidents", 0L).toDouble,
      "incidents.sla_records" -> inc.rowsWritten.getOrElse("slas", 0L).toDouble,
      "records.s" -> secs("records"),
      "catalog.register_s" -> secs("catalog"),
      "bizmetrics.run_s" -> secs("bizmetrics.run"),
      "bizmetrics.publish_s" -> secs("bizmetrics.publish"),
      "bizmetrics.jobs" -> biz.jobs.toDouble,
      "bizmetrics.scans" -> biz.scans.toDouble,
      "bizmetrics.bytes_read" -> biz.bytesRead.toDouble,
      "bizmetrics.plan_ms" -> biz.planMs,
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> all.spillBytes.toDouble,
      "spark.gc_ms" -> all.gcMs.toDouble,
      "spark.peak_exec_mem_mb" -> all.peakExecMem / 1048576.0,
      "trace.spans" -> spans.size.toDouble)
  }

  // ---------------------------------------------------------------- stream

  def runStream(spark: SparkSession, a: Args, tr: Tracer): Outcome = {
    import StreamAlarmsWorkload._
    val sessionS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    val ts = System.nanoTime()
    val wl = new StreamAlarmsWorkload(spark, a.seed, 1.0)
    wl.tick(0) // builds the planted episodes
    val loop = new wl.Loop(a.workDir, TickMs)
    val nanoToMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    def sleepUntil(ns: Long): Unit = {
      val w = ns - System.nanoTime()
      if (w > 0) Thread.sleep(w / 1000000L, (w % 1000000L).toInt)
    }
    val ticks = math.max(4, (a.seconds * 1000L / TickMs).toInt)
    val w0 = WarmupTicks
    val half = w0 + ticks / 2
    val w1 = w0 + ticks
    try {
      sleepUntil(loop.due(w0))
      val setupS = sessionS + secondsSince(ts)
      if (a.trace) {
        sleepUntil(loop.due(half))
        tr.attach()
        tr.startCycle(0)
        tr.span("stream.run")(sleepUntil(loop.due(w1)))
      } else sleepUntil(loop.due(w1))
      tr.detach()
      val heap = oldGenAfterGcMb()
      // the data batch of the last tick ran after the watermark batch
      // of the tick before it, so windows up to lastTick - 2 are closed
      val lastTick = loop.finish(w1 + 1) - 1
      val lastWindow = lastTick - 2
      val progress = loop.progress
      val sink = sinkRows(loop)
      val closed = sink.map(t => (t._1, t._2, t._3, t._4))
        .filter(t => loop.closingTick(t._2) <= lastWindow + 1).sorted

      /** Per-tick view of the ticks due in [from, to): processing
        * seconds of the micro-batches that ended at that tick's offset
        * (its data batch and the watermark batch that closes windows),
        * alarm latencies from when the closing tick was due. */
      def window(from: Int, to: Int) = {
        val perTick = progress.groupBy(endOffset).collect {
          case (off, ps) if off >= from && off < to => ps.map(triggerMs).sum / 1000.0
        }.toSeq
        val lat = sink.collect {
          case (_, ws, _, _, at) if { val k = loop.closingTick(ws); k >= from && k < to } =>
            (at - loop.due(loop.closingTick(ws))) / 1e6
        }
        val inWin = progress.filter { p =>
          val ms = progressStartMs(p)
          ms >= loop.due(from) / 1000000L + nanoToMs && ms < loop.due(to) / 1000000L + nanoToMs
        }
        (perTick, lat, inWin)
      }
      val (perTick, lat, _) = window(w0, w1)
      require(perTick.nonEmpty && lat.nonEmpty, "no tick was processed in the timed window")

      val checks = Seq(
        Check("stream_alarms.transitions", wl.expected(lastWindow), closed),
        Check("stream_alarms.batch_parity", wl.batchTransitions(lastTick, lastWindow),
          closed.filter(t => loop.closingTick(t._2) > 1)))
      loop.stop()

      val cycleS = Stats.median(perTick)
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("cycle_s", cycleS, "s"),
        ("result_latency_ms", Stats.median(lat), "ms"),
        ("records_per_s", Stats.median(perTick.map(wl.series / _)), "1/s"),
        ("peak_heap_mb", heap, "MB"))
      val keepup = {
        val done = progress.filter(p => progressStartMs(p) < loop.due(w1) / 1000000L + nanoToMs)
          .map(endOffset).maxOption.getOrElse(-1L)
        (math.min(done + 1, w1) - w0).toDouble / (w1 - w0)
      }
      val extra = Seq(
        ("alarm_latency_p50_ms", Stats.median(lat), "ms"),
        ("alarm_latency_p99_ms", Stats.quantile(lat, 0.99), "ms"),
        ("transitions_timed", lat.size.toDouble, "count"),
        ("stream_keepup_ratio", keepup, "ratio"),
        ("offered_rows_per_s", wl.series * 1000.0 / TickMs, "1/s"))

      val perLayer = if (!a.trace) Map.empty[String, Double] else {
        val (tTick, tLat, tProg) = window(half, w1)
        val (uTick, _, _) = window(w0, half)
        val run = tr.allSpans.find(_.name == "stream.run")
        run.foreach(r => tProg.foreach { p =>
          val ms = progressStartMs(p)
          tr.addSpan("stream.trigger", r.id, ms, ms + triggerMs(p).toLong)
        })
        val all = new Counters
        tr.attributed(0).values.foreach(all += _)
        val self = tr.selfSeconds(0)
        val state = tProg.lastOption.flatMap(_.stateOperators.headOption)
        def evMs(p: StreamingQueryProgress, k: String) =
          Option(p.eventTime.get(k)).map(s => java.time.Instant.parse(s).toEpochMilli)
        val wmLag = tProg.flatMap(p => for (mx <- evMs(p, "max"); wm <- evMs(p, "watermark"))
          yield (mx - wm) / 1000.0)
        val late = (half until w1).flatMap(k => Option(loop.lateMs.get(k)).map(_.doubleValue))
        val rows = tProg.map(_.numInputRows.toDouble).sum
        val busy = tProg.map(triggerMs).sum / 1000.0
        Map(
          "stream.triggers" -> tProg.size.toDouble,
          "stream.trigger_ms_p50" -> (if (tProg.isEmpty) 0.0 else Stats.median(tProg.map(triggerMs))),
          "stream.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "stream.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
          "stream.rows_updated" -> tProg.flatMap(_.stateOperators.headOption).map(_.numRowsUpdated.toDouble).sum,
          "stream.processed_rows_per_s" -> (if (busy > 0) rows / busy else 0.0),
          "stream.watermark_lag_s" -> (if (wmLag.isEmpty) 0.0 else Stats.median(wmLag)),
          "stream.alarm_latency_p50_ms" -> (if (tLat.isEmpty) 0.0 else Stats.median(tLat)),
          "stream.alarm_latency_p99_ms" -> (if (tLat.isEmpty) 0.0 else Stats.quantile(tLat, 0.99)),
          "stream.keepup_ratio" -> keepup,
          // the run span's time outside any micro-batch: the query idle
          "stream.self_s" -> run.map(r => self(r.id)).getOrElse(0.0),
          "gen.late_ms_max" -> (if (late.isEmpty) 0.0 else late.max),
          "gen.offered_rows" -> (w1 - half).toDouble * wl.series,
          "cycle.s" -> (if (tTick.isEmpty) 0.0 else Stats.median(tTick)),
          "spark.jobs" -> all.jobs.toDouble,
          "spark.stages" -> all.stages.toDouble,
          "spark.tasks" -> all.tasks.toDouble,
          "spark.shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble,
          "spark.spill_bytes" -> all.spillBytes.toDouble,
          "spark.gc_ms" -> all.gcMs.toDouble,
          "spark.peak_exec_mem_mb" -> all.peakExecMem / 1048576.0,
          "trace.spans" -> tr.allSpans.size.toDouble,
          "trace.overhead_s" -> ((if (tTick.isEmpty) 0.0 else Stats.median(tTick)) -
            (if (uTick.isEmpty) 0.0 else Stats.median(uTick))))
      }
      Outcome(e2e, perLayer, extra, checks, checks.size.toLong, checks.count(!_.ok).toLong)
    } finally loop.stop()
  }

  // ---------------------------------------------------------------- output

  /** Every per-layer metric of the batch workloads with its unit; a layer
    * the workload does not run reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.s" -> "s", "ingest.batches" -> "count", "ingest.trigger_ms_p50" -> "ms",
    "ingest.add_batch_ms" -> "ms", "ingest.records_in" -> "count",
    "ingest.records_corrupt" -> "count", "ingest.files_written" -> "count",
    "ingest.bytes_written" -> "bytes", "ingest.partitions_touched" -> "count",
    "ingest.compactions" -> "count", "ingest.self_s" -> "s",
    "partition.retention_s" -> "s", "partition.dropped" -> "count", "partition.gaps_s" -> "s",
    "partition.gap_rows" -> "count", "partition.files_per_partition" -> "ratio",
    "partition.self_s" -> "s",
    "catalog.register_s" -> "s", "catalog.self_s" -> "s",
    "bizmetrics.run_s" -> "s", "bizmetrics.publish_s" -> "s", "bizmetrics.jobs" -> "count",
    "bizmetrics.scans" -> "count", "bizmetrics.bytes_read" -> "bytes",
    "bizmetrics.plan_ms" -> "ms", "bizmetrics.published" -> "count", "bizmetrics.self_s" -> "s",
    "registry.export_s" -> "s", "registry.series" -> "count", "registry.self_s" -> "s",
    "windows.s" -> "s", "windows.rows_in" -> "count", "windows.rows_out" -> "count",
    "windows.jobs" -> "count", "windows.stages" -> "count",
    "windows.shuffle_write_bytes" -> "bytes", "windows.spill_bytes" -> "bytes",
    "windows.gc_ms" -> "ms", "windows.plan_ms" -> "ms", "windows.self_s" -> "s",
    "alarms.s" -> "s", "alarms.slots" -> "count", "alarms.real_ratio" -> "ratio",
    "alarms.transitions" -> "count", "alarms.jobs" -> "count", "alarms.stages" -> "count",
    "alarms.shuffle_write_bytes" -> "bytes", "alarms.spill_bytes" -> "bytes",
    "alarms.gc_ms" -> "ms", "alarms.plan_ms" -> "ms", "alarms.self_s" -> "s",
    "incidents.s" -> "s", "incidents.rows" -> "count", "incidents.sla_records" -> "count",
    "incidents.self_s" -> "s",
    "records.s" -> "s", "records.files_written" -> "count", "records.bytes_written" -> "bytes",
    "records.self_s" -> "s") ++ commonLayers

  /** Per-layer metrics of the streaming workload. */
  val StreamPerLayer: Seq[(String, String)] = Seq(
    "stream.triggers" -> "count", "stream.trigger_ms_p50" -> "ms", "stream.state_rows" -> "count",
    "stream.state_bytes" -> "bytes", "stream.rows_updated" -> "count",
    "stream.processed_rows_per_s" -> "1/s", "stream.watermark_lag_s" -> "s",
    "stream.alarm_latency_p50_ms" -> "ms", "stream.alarm_latency_p99_ms" -> "ms",
    "stream.keepup_ratio" -> "ratio", "stream.self_s" -> "s",
    "gen.late_ms_max" -> "ms", "gen.offered_rows" -> "count") ++ commonLayers

  private def commonLayers: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms", "spark.peak_exec_mem_mb" -> "MB",
    "cycle.s" -> "s", "cycle.self_s" -> "s",
    "trace.overhead_s" -> "s", "trace.spans" -> "count")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def report(a: Args, o: Outcome): Unit = {
    o.checks.filterNot(_.ok).foreach(c => println(s"check ${c.describe}"))
    println(s"checks ${o.checks.count(_.ok)}/${o.checks.size} ok")
    val shown = o.endToEnd ++ o.extra ++ Seq(
      ("wrong_results", o.checks.count(!_.ok).toDouble, "count"),
      ("error_rate", if (o.attempted == 0) 0.0 else o.failed.toDouble / o.attempted, "ratio"))
    shown.foreach { case (n, v, u) => println(s"metric $n = ${num(v)} $u") }
    val metrics =
      if (a.trace) {
        (if (a.workload == Workloads.stream) StreamPerLayer else PerLayer).map { case (n, u) => (n, o.perLayer.getOrElse(n, 0.0), u) }
          .tap(_.foreach { case (n, v, u) => println(s"layer $n = ${num(v)} $u") })
      } else o.endToEnd
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${o.failed == 0}, "attempted": ${math.max(1L, o.attempted)}, """ +
      s""""failed": ${o.failed}, "metrics": {${body.mkString(", ")}}}""")
  }

  implicit private class Tap[A](private val a: A) extends AnyVal {
    def tap(f: A => Unit): A = { f(a); a }
  }
}
