package graft

/**
 * The host-weather canary pair Bench reads around its sweeps (round 14).
 *
 *  - [[spin]]: fixed deterministic CPU work (`threads` threads, each
 *    a constant-iteration integer mix loop). Wall time on a quiet
 *    host is a constant; under external load / cgroup throttle it
 *    inflates proportionally to stolen CPU. Register-resident, so
 *    BLIND to memory-bandwidth contention.
 *  - [[bw]]: stream-sums a 512 MiB long array across `threads`
 *    threads, 8 passes (4 GiB of traffic per reading) — a direct
 *    effective-memory-bandwidth probe, the resource Spark queries
 *    actually contend on (round-14 forensics measured 6-7x in-run
 *    swings invisible to the spin canary).
 *
 * The sink is volatile so the JIT cannot delete the loops; the array
 * is allocated on first [[bw]] call and kept (a probe that
 * reallocates measures the allocator, not the bus).
 */
object Canary {

  @volatile private var sink = 0L

  private lazy val bwArr = new Array[Long](64 << 20) // 512 MiB

  /** Wall seconds to drain `threads` fixed-iteration spin threads. */
  def spin(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { tid =>
      new Thread(() => {
        var x = 0x9e3779b97f4a7c15L + tid
        var i = 0
        while (i < (1 << 24)) {
          x = java.lang.Long.rotateLeft(x * 0xff51afd7ed558ccdL, 31) ^ (x >>> 33)
          i += 1
        }
        sink ^= x
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Wall seconds for 8 multi-threaded stream-sum passes over the
    * 512 MiB array — lower is more effective bandwidth. */
  def bw(threads: Int): Double = {
    val arr = bwArr
    val n = arr.length
    val nt = math.max(1, threads)
    val t0 = System.nanoTime()
    val ts = (0 until nt).map { tid =>
      new Thread(() => {
        var s = 0L
        var pass = 0
        while (pass < 8) {
          var i = tid * (n / nt)
          val end = if (tid == nt - 1) n else (tid + 1) * (n / nt)
          while (i < end) { s += arr(i); i += 1 }
          pass += 1
        }
        sink ^= s
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
