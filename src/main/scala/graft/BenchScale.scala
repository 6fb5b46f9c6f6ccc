package graft


/** Standing 10× regression surface: run the full bench set against a
  * ScaleUp-derived sf1 directory and record per-query times to a JSON file,
  * so scale regressions (a rung falling over, a shuffle growing
  * super-linearly) surface EVERY round, not only when someone re-runs the
  * one-off scale experiment. Round 6's most valuable finding — q53's raw
  * edge set blowing past the local cap — only appeared at 10×; this makes
  * that class of finding routine.
  *
  * Usage: BenchScale [baseDir] [scaledDir] [factor] [jsonOut]
  * The scaled dir is built with [[ScaleUp]] iff absent (delete it to force a
  * rebuild after a testdata regeneration). The same session/harness as
  * [[Bench]], so sf0.1 and sf1 numbers are directly comparable.
  */
object BenchScale {
  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scaled = if (args.length > 1) args(1) else "/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val jsonOut = if (args.length > 3) args(3) else "/root/repo/BENCH_SF1.json"
    if (!new java.io.File(s"$scaled/documents.parquet").exists()) {
      ScaleUp.main(Array(base, scaled, factor.toString))
    }
    val spark = Session.build(Session.Profile.Bench, Session.cpus())
    val out = Bench.run(spark, scaled)
    println(out.stdoutLine)
    // record-gate aware: under SPARK_GRAFT_RECORD=1 a probe-flagged run is
    // diverted to jsonOut.flagged so BENCH_SF*.json only ever holds quiet
    // cuts (r14: the 71.4 s BENCH_SF1 was a degraded-window artifact)
    Bench.writeArtifact(out.artifactJson, jsonOut)
    spark.stop()
  }
}
