package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Global-window allowlist, asserted the way PlanSweepSpec asserts
 * no-cartesian (round-15, closing the round-14 verdict's residual
 * nit #2): an unpartitioned window (`Window.orderBy(...)` with no
 * partition key, or `Window.partitionBy()` with zero keys) funnels
 * its whole input through ONE task — acceptable only when the input
 * is bounded by construction, and every such site must document that
 * bound. Until this spec, the six documented-bounded sites were
 * "reviewed, not asserted": the test log printed the WindowExec
 * single-partition warning 9+ times with nothing tying each to its
 * bound, and a NEW unbounded global window would have shipped
 * silently.
 *
 * The check is a source lint (comment lines excluded), not a plan
 * walk: plan-level WindowExec inspection only sees the queries a
 * test happens to execute, while every `Window.orderBy` in
 * `src/main` is reachable. A planted global window — new file or new
 * site in an allowlisted file — changes the observed multiset and
 * fails the diff below.
 *
 * Current allowlist (site → documented bound). The first version of
 * this spec scanned line-by-line and counted Corpus.scala at 2; the
 * whole-file scan below found FOUR more multi-line-form sites that
 * had shipped unasserted — all bounded on inspection, which is the
 * lint earning its keep in its first week:
 *  - pipeline/Corpus.scala: 6 — tokenBudget's prefix window (runs
 *    on the CUT BUCKET only, ~1/10000 of the corpus, ~760); the two
 *    64-bucket post-prune global ranks (trending ~1291, vocabShift
 *    ~1383); the pruned rank-table cumulative (~1296); the
 *    distinct-score rank (~1488); textRank's kw_rank over a
 *    `.limit(k)` frame (~1882).
 *  - pipeline/Bm25.scala: 1 — global top-k rank AFTER topKPrune
 *    (input ≤ k·partitions rows).
 *  - operators/Skyline.scala: 1 — the bucket table (fixed bucket
 *    count, never the data).
 *  - operators/Profiling.scala: 1 — benfordDigits' whole-frame sum
 *    over the 9-row digit table.
 *
 * UnigramLm's usage ranks left this list in round 15 (two-phase
 * prefix-scan rank, `UnigramLm.usageRank`); don't re-add a global
 * window there — at 100 TB the piece inventory is tens of millions
 * of rows and the shrink schedule keeps 80% per round, so no
 * pre-prune bounds it.
 *
 * The same lint runs over `src/test`, where an unpartitioned window
 * is a naive reference an optimized operator is checked against. Its
 * allowlist is PipelineSpec.scala: 1 — tokenBudgetSelect's cumulative
 * reference window over the sf0.001 fixture. Keeping test sites
 * listed keeps the "No Partition Defined" WindowExec warnings in the
 * test log down to the ones named here.
 *
 * The other tests are source lints of the same kind: `src/main`
 * reaches the native expressions by class, never by SQL name; the
 * harness keeps one session factory (`LocalSession`, plus the
 * production `MetricsMain`) and one SparkListener (`RunMetrics`) — a
 * second builder or listener is how settings and counters drifted
 * apart across a dozen mains before; and `src/main` reads exactly the
 * listed `SPARK_GRAFT_*` environment keys, so a knob cannot come back
 * without this list changing with it; the only `main`s are the
 * harness mains `Bench`, `Verify` and `PlanDump` and the production
 * `MetricsMain`; and each streaming or lake
 * mechanism has one home — MemoryStream replays live in
 * `PipelineReplay`, `AlarmStream` holds the one per-slot alarm machine
 * (its state and step) and no stateful wiring, the batch walk keeps no
 * vote window of its own, and only `RecordShape` writes the lake partition
 * layout; `src/main` holds one rendition of each operator, its
 * parity references living in `ComposedReferences`; and `src/main`
 * writes session conf only in sessions it owns.
 */
class GlobalWindowLintSpec extends AnyFunSuite {

  private val allowlist = Map(
    "pipeline/Corpus.scala" -> 6,
    "pipeline/Bm25.scala" -> 1,
    "operators/Skyline.scala" -> 1,
    "operators/Profiling.scala" -> 1)

  private val testAllowlist = Map("graft/PipelineSpec.scala" -> 1)

  /** (path relative to `root`, source) of every `.scala` file under
    * `root`, with block and line comments stripped (round-15 review):
    * block comments go so Packing.scala's doc, which NAMES the
    * anti-pattern it avoids, doesn't count as a site. */
  private def sources(root: String): Seq[(String, String)] = {
    val base = java.nio.file.Paths.get(root)
    val stream = java.nio.file.Files.walk(base)
    try {
      val out = Seq.newBuilder[(String, String)]
      stream.iterator().forEachRemaining { p =>
        if (p.toString.endsWith(".scala"))
          out += base.relativize(p).toString ->
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
              .replaceAll("(?s)/\\*.*?\\*/", " ")
              .replaceAll("//[^\n]*", " ")
      }
      out.result()
    } finally stream.close()
  }

  /** Match count of `pat` per file under `root`, files without a
    * match left out. */
  private def countSites(root: String, pat: java.util.regex.Pattern)
      : Map[String, Int] =
    sources(root).map { case (rel, src) =>
      val m = pat.matcher(src)
      var n = 0
      while (m.find()) n += 1
      rel -> n
    }.filter(_._2 > 0).toMap

  // whole-file scan (round-15 review): a line-by-line scan misses
  // `Window\n  .orderBy(` — ordinary formatter output — which is
  // exactly the silent-ship this spec exists to prevent. `\bWindow`
  // keeps WindowSpec variables like `partitionedWindow.orderBy(` from
  // false-positiving.
  private val globalWindow = java.util.regex.Pattern.compile(
    "\\bWindow\\s*\\.\\s*(orderBy\\s*\\(|partitionBy\\s*\\(\\s*\\))")

  test("every unpartitioned window in src/main is a documented-bounded site") {
    val found = countSites("src/main/scala/graft", globalWindow)
    assert(found == allowlist,
      s"""unpartitioned-window sites drifted from the documented-bounded
         |allowlist.
         |  observed: ${found.toSeq.sortBy(_._1).mkString(", ")}
         |  allowed:  ${allowlist.toSeq.sortBy(_._1).mkString(", ")}
         |A NEW site must either partition its window, use the two-phase
         |prefix-scan rank idiom (Packing.streamPacks / UnigramLm.usageRank),
         |or document its input bound and join this allowlist.""".stripMargin)
  }

  test("every unpartitioned window in src/test is a documented reference") {
    val found = countSites("src/test/scala", globalWindow)
    assert(found == testAllowlist,
      s"""observed: ${found.toSeq.sortBy(_._1).mkString(", ")}
         |allowed:  ${testAllowlist.toSeq.sortBy(_._1).mkString(", ")}
         |Partition the window, or name the reference it is and join the
         |test allowlist.""".stripMargin)
  }

  test("src/main reaches native expressions by class, never by SQL name") {
    // the Column API builds each native expression directly; SQL names
    // live only in GraftExtensions. A string lookup in src/main works
    // only on sessions someone registered first (the "undefined
    // function md5_fold31" bug class on a vanilla session).
    val names = graft.plans.GraftExtensions.functions.map(_._1.funcName)
    val pat = java.util.regex.Pattern.compile(
      "call_function\\s*\\(\\s*\"(" + names.mkString("|") + ")\"" +
        "|createOrReplaceTempFunction|\\bNativeFns\\b")
    val hits = sources("src/main/scala").flatMap { case (rel, src) =>
      val m = pat.matcher(src)
      Iterator.continually(m).takeWhile(_.find()).map(h => s"$rel: ${h.group()}")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("src/main builds sessions in one factory and listens in one listener") {
    val pats = Map(
      "SparkSession.builder()" -> "\\bSparkSession\\s*\\.\\s*builder\\b",
      "SparkListener" -> "\\b(extends|new)\\s+([\\w.]+\\.)?SparkListener\\b")
    val found = pats.toSeq.flatMap { case (k, re) =>
      countSites("src/main/scala", java.util.regex.Pattern.compile(re))
        .map { case (rel, n) => (k, rel) -> n }
    }.toMap
    val allowed = Map(
      ("SparkSession.builder()", "graft/LocalSession.scala") -> 1,
      ("SparkSession.builder()", "graft/metrics/MetricsMain.scala") -> 1,
      ("SparkListener", "graft/RunMetrics.scala") -> 1)
    assert(found == allowed,
      s"""observed: ${found.toSeq.sortBy(_._1).mkString(", ")}
         |A new session goes through graft.LocalSession; new counters go
         |into graft.RunMetrics.""".stripMargin)
  }

  test("src/main reads exactly the listed SPARK_GRAFT_* keys") {
    // Every key is a configuration the tests and the benchmark must
    // cover; a new one must be added here on purpose.
    val keys = Set("CPUS", "SF_DIR", "ONLY", "SKIP", "TRIALS", "WARMUP",
      "WALL_BUDGET").map("SPARK_GRAFT_" + _)
    val pat = java.util.regex.Pattern.compile("SPARK_GRAFT_[A-Z0-9_]+")
    val found = sources("src/main").flatMap { case (_, src) =>
      val m = pat.matcher(src)
      Iterator.continually(m).takeWhile(_.find()).map(_.group())
    }.toSet
    assert(found == keys,
      s"""added: ${(found -- keys).toSeq.sorted.mkString(", ")}
         |missing: ${(keys -- found).toSeq.sorted.mkString(", ")}""".stripMargin)
  }

  test("src/main defines main in Bench, Verify, PlanDump and MetricsMain only") {
    // A profile or forensic run is a Bench run (its run records carry
    // the counters), not a new main with its own harness and schema.
    val defMain = java.util.regex.Pattern.compile("\\bdef\\s+main\\s*\\(")
    val objectName = java.util.regex.Pattern.compile("\\bobject\\s+(\\w+)")
    val found = sources("src/main/scala").flatMap { case (rel, src) =>
      val pkg = rel.stripPrefix("graft/").split('/').init
      val m = defMain.matcher(src)
      Iterator.continually(m).takeWhile(_.find()).map { h =>
        // the object that encloses this main: the last one declared before it
        val o = objectName.matcher(src.substring(0, h.start()))
        val name = Iterator.continually(o).takeWhile(_.find())
          .map(_.group(1)).toSeq.lastOption.getOrElse("?")
        (pkg :+ name).mkString(".")
      }
    }.toSet
    assert(found == Set("Bench", "Verify", "PlanDump", "metrics.MetricsMain"),
      s"observed: ${found.toSeq.sorted.mkString(", ")}")
  }

  test("src/main keeps one replay harness, one alarm operator and one lake write site") {
    val homes = Seq(
      "MemoryStream" -> ("\\bMemoryStream\\b", "graft/streaming/PipelineReplay.scala"),
      // the literal key list or the schema's name list
      "partitionBy(\"region\"" -> (
        "\\.partitionBy\\s*\\(\\s*(\"region\"|Schemas\\s*\\.\\s*partitionColumnNames)",
        "graft/operators/RecordShape.scala"),
      // the alarm machine both operators step
      "case class AlarmState" -> ("\\bcase\\s+class\\s+AlarmState\\b",
        "graft/streaming/AlarmStream.scala"),
      "the per-slot step" -> ("\\bdef\\s+(stepSlot|applySlot)\\b",
        "graft/streaming/AlarmStream.scala"))
    val strays = homes.flatMap { case (what, (re, home)) =>
      countSites("src/main/scala", java.util.regex.Pattern.compile(re))
        .keys.filter(_ != home).map(rel => s"$what in $rel (belongs in $home)")
    } ++ countSites("src/main/scala/graft/streaming/AlarmStream.scala",
        java.util.regex.Pattern.compile("\\bflatMapGroupsWithState\\b"))
      .keys.map(_ => "flatMapGroupsWithState in streaming/AlarmStream.scala " +
        "(the operator is StreamingAlarmPipeline.evaluateStream)") ++
      countSites("src/main/scala/graft/operators/AlarmStateMachine.scala",
        java.util.regex.Pattern.compile("\\bQueue\\b"))
      .keys.map(_ => "a Queue vote window in operators/AlarmStateMachine.scala " +
        "(the walk steps AlarmStream.stepSlot)")
    assert(strays.isEmpty, strays.mkString("\n"))
  }

  test("src/main writes session conf only in its own sessions") {
    // A conf write on a caller's session changes it under every other
    // thread's queries; a production setting goes in the session's
    // builder. PipelineReplay writes to its own child session. Tables
    // still sets nanosAsLong per read until the lake tables carry
    // declared schemas (ROADMAP direction 1).
    val pat = java.util.regex.Pattern.compile("\\bconf\\s*\\.\\s*(set|unset)\\s*\\(")
    val allowed = Set("graft/streaming/PipelineReplay.scala", "graft/catalog/Tables.scala")
    val strays = countSites("src/main/scala", pat).keySet -- allowed
    assert(strays.isEmpty, s"conf.set/conf.unset in: ${strays.toSeq.sorted.mkString(", ")}")
  }

  test("src/main builds definition and published tables as local relations") {
    // A local relation keeps its rows on the driver: projecting or
    // collecting it runs no Spark job, where an RDD of the same rows
    // runs one each time (ENGINE.md "Definition sides").
    val pat = java.util.regex.Pattern.compile("\\bsparkContext\\s*\\.\\s*parallelize\\b")
    val strays = Seq("registry", "metrics").flatMap(pkg =>
      countSites(s"src/main/scala/graft/$pkg", pat).keys.map(rel => s"graft/$pkg/$rel"))
    assert(strays.isEmpty, s"sparkContext.parallelize in: ${strays.sorted.mkString(", ")}")
  }

  test("src/main keeps one rendition per operator") {
    // A second rendition kept as a parity reference lives in
    // ComposedReferences (test scope); one with no caller is deleted.
    val pat = java.util.regex.Pattern.compile(
      "\\bdef\\s+(\\w+(Staged|Looped|Composed)|foldDot|wordNgrams|aggregateOne" +
        "|bruteForceTopKAgg|entriesToJson|mgAdd)\\b")
    val hits = sources("src/main/scala").flatMap { case (rel, src) =>
      val m = pat.matcher(src)
      Iterator.continually(m).takeWhile(_.find()).map(h => s"$rel: ${h.group()}")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
