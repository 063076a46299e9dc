package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests, at tiny input sizes: a cycle of every
  * workload passes its checks, a seed fixes the inputs byte for byte,
  * and an altered output is caught. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Paths.get(sys.props("user.dir"), "..", ".bench_build", "test-work")
    .normalize().toString
  private lazy val spark: SparkSession = Workloads.session(2, work)
  private val tiny = 0.05

  override def afterAll(): Unit = {
    spark.stop()
    Stats.deleteTree(work)
  }

  /** Digests of the data files under `dir` (names carry random ids). */
  private def digests(dir: String): Seq[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.map { p =>
      MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toSeq.sorted
    finally s.close()
  }

  private def firstFile(dir: String): java.nio.file.Path = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(p => p.toString.endsWith(".parquet")).findFirst().get() finally s.close()
  }

  for (name <- Workloads.batch.keys.toSeq.sorted) {
    def make(seed: Long) = Workloads.batch(name)(spark, seed, tiny)

    test(s"$name: one tiny cycle passes every check") {
      val wl = make(7)
      wl.generate(s"$work/$name/in")
      val tr = new Tracer(spark)
      wl.cycle(tr, s"$work/$name/out", 0)
      val cs = wl.checks(s"$work/$name/out", 0)
      assert(cs.nonEmpty)
      assert(cs.forall(_.ok), cs.filterNot(_.ok).map(_.describe).mkString("\n"))
      wl.cleanup()
    }

    test(s"$name: the same seed gives byte-identical inputs") {
      val a = make(11)
      a.generate(s"$work/$name/seed-a")
      val b = make(11)
      b.generate(s"$work/$name/seed-b")
      val c = make(12)
      c.generate(s"$work/$name/seed-c")
      val da = digests(s"$work/$name/seed-a")
      assert(da.nonEmpty)
      assert(da == digests(s"$work/$name/seed-b"))
      assert(da != digests(s"$work/$name/seed-c"))
    }
  }

  test("lake_jobs: an altered lake or published value is caught") {
    val wl = new LakeJobsWorkload(spark, 5, tiny)
    wl.generate(s"$work/alter-lake/in")
    val out = s"$work/alter-lake/out"
    wl.cycle(new Tracer(spark), out, 3)
    assert(wl.checks(out, 3).forall(_.ok))
    Files.delete(firstFile(s"$out/lake"))
    wl.corruptOutputs(3)
    val failed = wl.checks(out, 3).filterNot(_.ok).map(_.name).toSet
    assert(failed == Set("lake_jobs.good_records", "business_sql.published"), failed)
  }

  test("sla_fanout: an altered SLA-record or incident table is caught") {
    val wl = new SlaFanoutWorkload(spark, 5, tiny)
    wl.generate(s"$work/alter-fanout/in")
    val out = s"$work/alter-fanout/out"
    wl.cycle(new Tracer(spark), out, 0)
    assert(wl.checks(out, 0).forall(_.ok))
    Files.delete(firstFile(s"$out/slas"))
    Files.delete(firstFile(s"$out/incidents"))
    val failed = wl.checks(out, 0).filterNot(_.ok).map(_.name).toSet
    assert(failed.contains("sla_fanout.sla_records"), failed)
    assert(failed.contains("sla_fanout.incident_rows"), failed)
    wl.cleanup()
  }

  test("stream_alarms: the open loop matches the planted truth and the batch machine") {
    val wl = new StreamAlarmsWorkload(spark, 3, 0.02)
    val loop = new wl.Loop(s"$work/stream", 400L)
    try {
      Thread.sleep(400L * 12)
      val lastTick = loop.finish(12) - 1
      val got = StreamAlarmsWorkload.sinkRows(loop).map(t => (t._1, t._2, t._3, t._4))
        .filter(t => loop.closingTick(t._2) <= lastTick - 1).sorted
      assert(got.nonEmpty)
      assert(got == wl.expected(lastTick - 2))
      assert(got.filter(t => loop.closingTick(t._2) > 1) == wl.batchTransitions(lastTick, lastTick - 2))
      // a dropped transition is caught
      assert(got.tail != wl.expected(lastTick - 2))
    } finally loop.stop()
  }

  test("tracer: jobs go to the innermost span and self time excludes children") {
    val tr = new Tracer(spark)
    tr.attach()
    tr.startCycle(42)
    tr.span("cycle") {
      Thread.sleep(50)
      tr.span("windows") { spark.range(100).count(); Thread.sleep(50) }
    }
    tr.drain()
    tr.detach()
    val spans = tr.allSpans.filter(_.cycle == 42)
    val outer = spans.find(_.name == "cycle").get
    val inner = spans.find(_.name == "windows").get
    assert(inner.parent == outer.id)
    val byId = tr.attributed(42)
    assert(byId.get(inner.id).exists(_.jobs >= 1))
    assert(byId.get(outer.id).forall(_.jobs == 0))
    val self = tr.selfSeconds(42)
    assert(math.abs(self(outer.id) - (outer.seconds - inner.seconds)) < 1e-6)
    assert(self(inner.id) == inner.seconds)
  }
}
