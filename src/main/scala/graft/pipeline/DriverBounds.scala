package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}

/**
 * Loud-failure guard for the engine's few driver-side collects.
 *
 * Every `.collect()` in `src/main` is bounded by construction (bucket
 * tables, planner stats, k-bounded pools — see ENGINE.md's collect
 * audit), but through round 12 the bounds were ASSUMED, not asserted:
 * a caller outside the documented regime would OOM the driver instead
 * of getting an error naming the contract it broke. `boundedCollect`
 * makes the bound part of the execution: it fetches at most `cap + 1`
 * rows (the `limit` keeps an out-of-regime input from ever
 * materializing on the driver) and fails with the operator's
 * documented regime if the cap is exceeded.
 */
object DriverBounds {

  /** Row bound on a collected definition side: the window and alarm
    * operators' definition tables (one row per series or per SLA),
    * which they look up by series id instead of joining (ENGINE.md
    * "Definition sides"). */
  val DefinitionRows = 100000L

  def boundedCollect(df: DataFrame, cap: Long, what: String): Array[Row] = {
    require(cap >= 0 && cap < Int.MaxValue,
      s"$what: driver-collect cap must be in [0, Int.MaxValue)")
    // limit(cap+1), not a bare collect: the guard must hold BEFORE the
    // out-of-bound result lands on the driver, or the require is
    // post-mortem to the OOM it exists to prevent.
    val rows = df.limit(cap.toInt + 1).collect()
    requireBound(rows.length, cap, what)
    rows
  }

  /** Fails when `n` driver-side values exceed `cap`, naming `what`. */
  def requireBound(n: Long, cap: Long, what: String): Unit =
    require(n <= cap,
      s"$what: driver-side collect exceeds its documented bound of " +
        s"$cap rows — the input is outside this operator's regime; " +
        "see the operator's scaladoc for the distributed alternative")

  /** A definition side held on the driver: `df`'s rows collected once
    * under [[DefinitionRows]]. The operators check them there and ship
    * them as one broadcast variable ([[graft.plans.DefinitionLookup]]),
    * so the rows never enter generated code. */
  def collectDefinitions(df: DataFrame, what: String): Array[Row] =
    boundedCollect(df, DefinitionRows, what)
}
