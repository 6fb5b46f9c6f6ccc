package graft

import scala.util.control.NonFatal
import graft.core.Env
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and prints
  * one JSON line. Per-query timing includes plan + execution of the full
  * result, written to Spark's `noop` sink (a `count()` would let Catalyst
  * prune every column it does not need); a warmup pass on the target dir
  * primes the JVM/codegen so the measured numbers reflect steady-state
  * throughput, not JIT cost. For a scale surface, derive the tables with
  * [[ScaleUp]] and point SPARK_GRAFT_SF_DIR and SPARK_GRAFT_BENCH_OUT at
  * them.
  */
object Bench {

  /** The bench session, shared with the perfbench harness so every timed
    * run uses the same settings. */
  def buildSession(cpus: String): SparkSession =
    Session.build(Session.Profile.Bench, cpus.toInt)

  /** Ambient load (1m, 5m) from /proc/loadavg; empty on non-Linux or any
    * read failure — best-effort context, never a reason to fail a bench. */
  private def loadavg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+").take(2).toSeq.map(_.toDouble)
      finally src.close()
    } catch { case _: Exception => Seq.empty }

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

  /** Quiet-window thresholds for the two JVM spin probes, from the
    * accumulated artifacts: spin_reg reads 0.20–0.30 s quiet (no degraded
    * window ever moved it much — it tracks frequency caps, which this host
    * doesn't apply); spin_mem reads ~0.95–1.3 s quiet and 1.47–2.2 s in
    * every documented degraded window, so the flag sits in the gap. */
  private val SpinRegFlag = 0.45
  private val SpinMemFlag = 1.35

  /** Write a bench artifact to `path`, creating its parent directory.
    * Whether the host was quiet is the artifact's own `probe_quiet`
    * field, for any consumer to check. */
  private[graft] def writeArtifact(json: String, path: String): Unit = {
    val out = new java.io.File(path)
    Option(out.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(json) finally w.close()
    System.err.println(s"[bench] full result written to $path")
  }

  /** The two renderings of one bench run: `artifactJson` is the full-
    * precision record (pass_times, noisy flags, loadavg, spin probes —
    * everything PERF.md analysis needs) written to the rounds/ snapshot;
    * `stdoutLine` is a compact equivalent (3-decimal times, no pass_times)
    * whose whole point is to FIT: the round driver keeps only the last
    * ~2000 characters of stdout and parses the JSON line from that tail,
    * and the full line has exceeded it since round 10 (`"parsed": null`
    * in every BENCH_r10..r14.json). Same metric/value/unit/queries keys,
    * same per-query minima — only precision and side-channel fields
    * differ. */
  final case class BenchOutput(stdoutLine: String, artifactJson: String)

  /** Runs `df` in full: every row of every column reaches the sink. */
  private[graft] def measure(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** %.3f with a fixed locale: the stdout line must parse as JSON on any
    * JVM default locale (a comma decimal separator would break it). */
  private def f3(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** Warmup + N measured passes (SPARK_GRAFT_PASSES, default 2) over the
    * bench set against `sfDir`; returns the one-line JSON report with the
    * per-query minimum and the pass count. */
  def run(spark: SparkSession, sfDir: String): BenchOutput = {
    // Ambient load BEFORE any engine work — the 1-min figure is pure
    // co-tenant signal (verdict r13 #3); with it in the SCALE artifacts
    // too, a "quiet window" claim on a BENCH_SF* re-cut is mechanical,
    // not narrative. The end capture is self-polluted by our own
    // threads, kept for context only.
    val loadStart = loadavg()
    val spinRegStart = cpuSpinReg()
    val spinMemStart = cpuSpinMem()
    // loud (non-fatal) schema-drift diagnosis before anything runs
    graft.core.Contract.warn(spark, sfDir)

    // SPARK_GRAFT_SKIP: comma-separated names to exclude, REPORTED in the
    // output ("no silent caps") — used by the sf10 surface for the
    // dup-density-bound trio whose exact all-pairs work is ∝ true
    // near-dup pairs and the ScaleUp corpus gives every doc `factor`
    // near-identical twins (PERF.md round 9 records the rationale and
    // the measured pair volumes; the LSH path t36 stays IN the surface).
    val requested = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // report only what was ACTUALLY skipped: a typo'd name must not let a
    // query run while the report claims it was excluded
    val skip = requested.intersect(SparkEntry.benchNames.toSet)
    (requested -- skip).foreach(n =>
      System.err.println(s"[bench] WARNING: skip name '$n' matches no bench query"))
    val names = SparkEntry.benchNames.filterNot(skip)
    // warm up on the target scale factor: the measured pass then reflects
    // steady-state codegen'd throughput, not JIT/classload cost. The
    // stderr marker names the query in flight, so a hang/OOM at a new
    // scale is attributable from the log alone (the sf10 bring-up cost a
    // debugging round without this).
    names.foreach { n =>
      System.err.println(s"[bench] warmup $n")
      try measure(SparkEntry.queries(n)(spark, sfDir))
      catch { case NonFatal(_) => () }
    }

    // two measured passes, report the per-query minimum: the steady-state
    // number, insulated from co-tenant noise on a shared machine. A query
    // that THROWS must not masquerade as a fast run: errored queries are
    // EXCLUDED from the queries/total figures entirely (their instant
    // failure time would otherwise read as a speedup next round) and
    // reported in the errors map instead.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeOnce(name: String): Double = {
      System.err.println(s"[bench] measure $name")
      val t0 = System.nanoTime()
      try measure(SparkEntry.queries(name)(spark, sfDir))
      catch { case NonFatal(e) =>
        errors.getOrElseUpdate(name,
          // ALL control chars are illegal in a JSON string — one raw \f in
          // an error message would make the whole output line unparseable
          String.valueOf(e.getMessage)
            .replaceAll("[\\x00-\\x1f\"\\\\]", " ").take(200))
      }
      (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_PASSES raises the measured-pass count (default 2, the
    // methodology every round since r1 — keep it for round-over-round
    // comparability) when a noisy co-tenant window would otherwise
    // dominate the deltas; the count is RECORDED in the output so an
    // artifact measured at a different N is never silently compared.
    val passes = math.max(1, Env.int("SPARK_GRAFT_PASSES", 2))
    val allPasses = (1 to passes).map(_ => names.map(n => n -> timeOnce(n)).toMap)
    val results = names
      .map(n => n -> allPasses.map(_(n)).min)
      .filterNot { case (n, _) => errors.contains(n) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Per-pass times, not just the min: min-of-N under suite ordering can
    // catch N cool passes and misread a cold window as a regression (q39
    // at sf10 read 10.0 s while warm converged to 6.0 — round-12 verdict).
    // `noisy` flags queries whose pass spread exceeds 1.5×, so a
    // round-over-round delta on one of them is attributed to ordering
    // noise by the artifact itself.
    val passJson = results.map { case (n, _) =>
      "\"" + n + "\":[" + allPasses.map(_(n)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val noisy = results.collect {
      case (n, mn) if mn > 0 && allPasses.map(_(n)).max / mn > 1.5 => n
    }
    val noisyJson = noisy.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val skipJson = skip.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadEnd = loadavg()
    val spinRegEnd = cpuSpinReg()
    val spinMemEnd = cpuSpinMem()
    // probe_quiet covers BOTH ends of the window: a quiet start with a
    // degraded end means the tail queries were measured slow (the r14
    // afternoon mode arrived mid-run more than once)
    val probeQuiet =
      math.max(spinRegStart, spinRegEnd) <= SpinRegFlag &&
      math.max(spinMemStart, spinMemEnd) <= SpinMemFlag
    def loadJson(l: Seq[Double]) = l.mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,"measure":"noop","queries":$qs,"pass_times":$passJson,"noisy":$noisyJson,"errors":$errJson,"skipped":$skipJson,"loadavg_start":${loadJson(loadStart)},"loadavg_end":${loadJson(loadEnd)},"spin_reg_start_sec":$spinRegStart,"spin_reg_end_sec":$spinRegEnd,"spin_mem_start_sec":$spinMemStart,"spin_mem_end_sec":$spinMemEnd,"probe_quiet":$probeQuiet,"probe_flags":{"reg":$SpinRegFlag,"mem":$SpinMemFlag},"sf":"$sfDir"}"""
    val compact =
      compactLine(total, passes, results, errors, skipJson, probeQuiet, sfDir)
    BenchOutput(compact, full)
  }

  /** Compact stdout rendering: millisecond precision (the cross-window
    * noise floor is ~50 ms, so nothing real is lost), error messages
    * truncated to 80 chars (full 200 in the artifact), no pass_times —
    * ~1.7 KB for the 63-query set, inside the driver's 2000-char tail
    * even after sbt's [success] epilogue. BenchCompactSpec pins the
    * budget against the live bench-set names. */
  private[graft] def compactLine(total: Double, passes: Int,
      results: Seq[(String, Double)],
      errors: scala.collection.Map[String, String],
      skipJson: String, probeQuiet: Boolean, sfDir: String): String = {
    val qsC = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val errC = errors.map { case (k, v) => "\"" + k + "\":\"" + v.take(80) + "\"" }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${f3(total)},"unit":"sec","passes":$passes,"measure":"noop","queries":$qsC,"errors":$errC,"skipped":$skipJson,"probe_quiet":$probeQuiet,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build(Session.Profile.Bench, Session.cpus())
    val out0 = run(spark, sfDir)
    println(out0.stdoutLine)
    // Persist the COMPLETE result to a stable repo path in addition to
    // stdout: the driver's BENCH_rN.json keeps only stdout's tail, which
    // truncated the r13 per-query map (round-13 verdict #4). One file per
    // sf tag, overwritten each run, so the latest full map per scale is
    // always diffable without reconstructing it from pairing windows. The
    // default path is relative, so a run writes into its own checkout.
    val tag = new java.io.File(sfDir).getName
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"rounds/BENCH_full_latest_$tag.json")
    try writeArtifact(out0.artifactJson, out)
    catch { case e: Exception =>
      // best-effort: a read-only checkout must not fail the bench run
      System.err.println(s"[bench] WARNING: could not write $out: ${e.getMessage}")
    }
    spark.stop()
  }
}
