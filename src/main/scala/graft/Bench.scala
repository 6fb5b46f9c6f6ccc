package graft

import org.apache.spark.sql.SparkSession

/** The perfbench session and host probes. The benchmark's engine process
  * (`perfbench/harness/Harness.scala`) builds its session here and records
  * both probes at the start and end of a traced run; it is the only code
  * that times a query.
  */
object Bench {

  /** The bench session, shared with the perfbench harness so every timed
    * run uses the same settings. */
  def buildSession(cpus: String): SparkSession =
    Session.build(Session.Profile.Bench, cpus.toInt)

  /** Effective-host-speed indexes, each a fixed single-thread workload
    * timed after one unrecorded JIT-warmup pass. Two probes with disjoint
    * blind spots, prompted by a round-14 window where bench totals on
    * identical code moved 32 → 73 s while loadavg read 0.08 (loadavg sees
    * co-tenant RUNNABLE threads, not hypervisor caps or cache/memory
    * pressure): in that window a python interpreter spin ran 1.6–2.3×
    * its same-morning time while the ALU loop below still read ~0.3 s —
    * whatever the mode was, a single probe can misread it as "host fine".
    * The ALU loop tracks frequency caps; the dependent-load walk tracks
    * memory latency (it read 152–160 ns/load in the degraded window).
    * Recording both at start/end of every artifact makes raw-total drift
    * across windows attributable mechanically, with quiet-window baselines
    * accumulating in the artifacts themselves. */
  private def spinSeconds(body: () => Long): Double = {
    val sink = body() // JIT-warmup pass; result observable so the loop can't DCE
    val t0 = System.nanoTime()
    val x = body()
    val t = (System.nanoTime() - t0) / 1e9
    if (sink + x == 42L) System.err.println("[bench] (unreachable)")
    t
  }
  /** ALU-bound: 400M long mult-adds in registers — tracks frequency caps. */
  private[graft] def cpuSpinReg(): Double = spinSeconds { () =>
    var x = 0L; var i = 0L
    while (i < 400000000L) { x += i * i; i += 1 }
    x
  }
  /** Latency-bound: 10M dependent loads on a pseudo-random 64 MB cycle —
    * tracks memory pressure (the array is rebuilt per call; ~1 s quiet).
    * 64 MB (16M Ints) exceeds this host's 54 MiB L3, so the walk misses
    * to DRAM; kept at 64 MB rather than doubled because every accumulated
    * quiet-window baseline (PERF.md, rounds/) is in
    * this probe's units — resizing it would orphan them all. On a future
    * host with L3 ≥ 64 MB the probe would read cache-resident and the
    * size (and baselines) must be revisited together. */
  private[graft] def cpuSpinMem(): Double = {
    val n = 16000000
    val next = new Array[Int](n)
    var idx = 0
    var i = 0
    while (i < n) {
      val j = ((idx + 2654435761L) % n).toInt
      next(i) = j; idx = j; i += 1
    }
    spinSeconds { () =>
      var p = 0; var k = 0
      while (k < 10000000) { p = next(p); k += 1 }
      p.toLong
    }
  }
}
