package graft

/**
 * Whole-surface plan guard: every declared query's physical plan must
 * be free of CartesianProduct. Individual operator specs assert their
 * own plan shapes (broadcast sides, pushdown, codegen); this sweep
 * catches the regression class where a future join-condition edit
 * silently degrades SOME query on the surface to an O(n²) cartesian —
 * at 100 TB that is the difference between a job and an outage.
 */
class PlanSweepSpec extends SparkTestBase {

  test("no CartesianProduct in any declared query plan") {
    // bm_published: reference-parity crossJoin opt-in (the reference
    // enables spark.sql.crossJoin.enabled for user SQL, SURVEY §3.1) —
    // user-authored metric SQL may legitimately cross-join tiny tables.
    // q_*_stream_parity: building those frames runs the streaming
    // replay harnesses (PipelineReplay); their plan
    // shapes are covered by their own specs.
    // Derived by the `_stream_parity` naming convention over the whole
    // declared surface (same round-13 fix as Bench.streamingQueries):
    // a hand-written list missed q_cusum_stream_parity and both
    // q_sjoin parities when round 12 added them, and a registry-scoped
    // set would still miss parity rows living outside
    // StreamParityEntries (q_alarm_stream_parity is in MetricsEntries).
    val exempt =
      SparkEntry.queries.keySet.filter(_.endsWith("_stream_parity")) +
        "bm_published"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if exempt(name) => None
      case (name, fn) =>
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"cartesian product in: ${offenders.mkString(", ")}")
  }
}
