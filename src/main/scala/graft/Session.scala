package graft

import graft.core.{Env, PosixLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured. Every main and the spec
  * base build through [[build]], each with the profile it needs, so the
  * timed config and the checked config are each written once and cannot
  * drift apart between callers. */
object Session {

  /** A session config; callers pick one in code, no setting selects it. */
  sealed abstract class Profile(val logLevel: String)
  object Profile {
    /** Timed runs (the perfbench harness, through `Bench.buildSession`,
      * and StreamBench): AQE with partition coalescing, shuffled-hash joins
      * preferred, a 64 MB broadcast threshold. */
    case object Bench extends Profile("ERROR")
    /** The oracle compare and the specs (Verify, Explain, ScaleUp,
      * SparkSpec): Spark's default planner, one shuffle partition per core. */
    case object Check extends Profile("WARN")
  }

  /** Cores for `local[n]`: SPARK_GRAFT_CPUS, else every core the JVM sees. */
  def cpus(env: Map[String, String] = sys.env): Int =
    Env.int("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors, env)

  /** The settings `profile` applies on `cpus` cores, `spark.master` included. */
  def conf(profile: Profile, cpus: Int,
           env: Map[String, String] = sys.env): Map[String, String] = {
    val common = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      // no-op unless the testdata regenerates as TIMESTAMP(NANOS), in which
      // case the scan yields Long nanos and Tables.normalizeEventTs
      // re-dispatches instead of the scan throwing before dispatch
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      // Spark's default of 100 generated classes is below the warm working
      // set of the query suites and the monthly DAG (300-800 classes), so
      // a warm pass recompiled nearly all of its classes; a cached class
      // costs ~29 KB of heap (PERF.md "Generated-code cache")
      "spark.sql.codegen.cache.maxEntries" -> "512",
      // the UI is off and nothing reads the status store: keep a short
      // history of executions, jobs and stages, not Spark's 1000 of each
      "spark.sql.ui.retainedExecutions" -> "10",
      "spark.ui.retainedJobs" -> "10",
      "spark.ui.retainedStages" -> "10",
      // sets local file modes without forking `chmod` per file and directory
      "spark.hadoop.fs.file.impl" -> classOf[PosixLocalFileSystem].getName)
    profile match {
      case Profile.Check =>
        common + ("spark.sql.shuffle.partitions" -> cpus.toString)
      case Profile.Bench => common ++ Map(
        // one shuffle partition per core; AQE coalesces the small ones
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        // shuffled hash join beats sort-merge when neither side needs a sort;
        // at cluster scale the same flag holds for the non-skewed joins here
        "spark.sql.join.preferSortMergeJoin" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString,
        "spark.driver.memory" -> env.getOrElse("SPARK_DRIVER_MEM", "8g"))
    }
  }

  def build(profile: Profile, cpus: Int): SparkSession = {
    val b = SparkSession.builder()
    conf(profile, cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(profile.logLevel)
    spark
  }
}
