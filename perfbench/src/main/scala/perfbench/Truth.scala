package perfbench

import java.util.SplittableRandom

import graft.model.{ComparisonOperator, TreatMissingData}

/** Planted ground truth shared by the generators: breach episodes and
  * the alarm states they must produce. */
object Truth {

  /** Window value levels: normal, warning breach, critical breach.
    * Every datapoint of a window lies in its level's range, so any
    * statistic of the window (Average, Maximum, Minimum, pNN) does too. */
  val LevelRange: Array[(Double, Double)] = Array((10.0, 40.0), (55.0, 70.0), (80.0, 95.0))
  val WarnThreshold = 50
  val CritThreshold = 75
  /** SampleCount series encode the level in the datapoint count. */
  val CountByLevel: Array[Int] = Array(2, 5, 8)
  val WarnCount = 3
  val CritCount = 6

  /** Per-series random source: the same (seed, series) pair always gives
    * the same stream, whatever order series are generated in. */
  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream << 40) ^ index)

  /** Breach episodes: normal stretches broken by episodes of 2–6
    * windows at warning or critical level. */
  def levels(r: SplittableRandom, n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (i > 0 && r.nextDouble() < 0.15) {
        val lvl = 1 + r.nextInt(2)
        val len = 2 + r.nextInt(5)
        var j = 0
        while (j < len && i < n) { out(i) = lvl; i += 1; j += 1 }
      } else i += 1
    }
    out
  }

  /** A value in `level`'s range, rounded to cents so decimal sums are exact. */
  def value(r: SplittableRandom, level: Int): Double = {
    val (lo, hi) = LevelRange(level)
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  }

  final case class Sla(threshold: Double, op: ComparisonOperator, m: Int, n: Int,
      policy: TreatMissingData)

  /**
   * Reference CloudWatch M-of-N evaluation over a densified slot
   * sequence (`None` = missing slot), written from the alarm semantics
   * independently of the program's operators. Returns the state after
   * each slot.
   */
  def states(breach: Array[Option[Boolean]], sla: Sla): Array[String] = {
    val n = math.max(sla.n, 1)
    val slotVotes = breach.map(_.orElse(sla.policy match {
      case TreatMissingData.NotBreaching => Some(false)
      case TreatMissingData.Breaching => Some(true)
      case _ => None
    }))
    val real = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    breach.indices.map { i =>
      breach(i).foreach(real += _)
      val lastN = (math.max(0, i - n + 1) to i)
      val counted = sla.policy match {
        case TreatMissingData.Ignore | TreatMissingData.Missing => real.takeRight(n).count(identity)
        case _ => lastN.count(j => slotVotes(j).contains(true))
      }
      if (sla.policy == TreatMissingData.Missing && !lastN.exists(j => breach(j).isDefined))
        "INSUFFICIENT_DATA"
      else if (counted >= sla.m) "ALARM"
      else "OK"
    }.toArray
  }

  /** Transitions (slot index, previous state, new state). With no
    * `initial` state the first slot has no predecessor (batch
    * semantics); the streaming machine starts from INSUFFICIENT_DATA. */
  def transitions(st: Array[String], initial: Option[String]): Seq[(Int, String, String)] =
    st.indices.flatMap { i =>
      val prev = if (i == 0) initial else Some(st(i - 1))
      prev.filter(_ != st(i)).map(p => (i, p, st(i)))
    }

  def breaches(level: Int, warning: Boolean): Boolean =
    if (warning) level >= 1 else level >= 2
}

/** Small numeric and file helpers. */
object Stats {
  /** CPU seconds this JVM has used, all threads. */
  def cpuSeconds(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Total size of the files with `suffix` under `dir`, and their count. */
  def filesUnder(dir: String, suffix: String = ".parquet"): (Long, Int) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        val fs = s.iterator()
        var bytes = 0L
        var n = 0
        while (fs.hasNext) {
          val p = fs.next()
          if (java.nio.file.Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix)) {
            bytes += java.nio.file.Files.size(p); n += 1
          }
        }
        (bytes, n)
      } finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }
}
