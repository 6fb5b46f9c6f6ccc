package graft

/** Plan-inspection main: prints the formatted physical plan of each named
  * query (default: the bench set) so pushdown/broadcast/codegen can be
  * audited. `scripts/run_verify.sh <sfDir> unused graft.Explain`
  *
  * Caveat: train-then-score builders (s07/s08/s09/s11/s12, t33) execute
  * their TRAINING stage at construction (centroid/codebook collects, the
  * s12 sizing count) — the plan printed is the final scoring plan. Point
  * this main at a small sfDir; it is a plan audit, not a zero-execution
  * guarantee. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.benchNames
    val spark = Session.build(Session.Profile.Check, Session.cpus())
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
