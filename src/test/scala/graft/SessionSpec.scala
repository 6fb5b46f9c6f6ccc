package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the single points every caller shares: the two session profiles
  * [[Session]] builds, and the bench set the `Q.bench` flags define. Pure
  * checks of the conf maps, so no session is built and the suites' shared
  * session is left alone. */
class SessionSpec extends AnyFunSuite {

  private val common = Map(
    "spark.master" -> "local[6]",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "512",
    "spark.sql.ui.retainedExecutions" -> "10",
    "spark.ui.retainedJobs" -> "10",
    "spark.ui.retainedStages" -> "10",
    "spark.hadoop.fs.file.impl" -> "graft.core.PosixLocalFileSystem")

  test("bench profile is the bench session config, key by key") {
    val want = common ++ Map(
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.join.preferSortMergeJoin" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "67108864",
      "spark.driver.memory" -> "8g")
    assert(Session.conf(Session.Profile.Bench, 6, Map.empty) == want)
    // the two env knobs the bench profile honours
    val env = Map("SPARK_GRAFT_SHUFFLE" -> "256", "SPARK_DRIVER_MEM" -> "16g")
    assert(Session.conf(Session.Profile.Bench, 6, env) == want ++ Map(
      "spark.sql.shuffle.partitions" -> "256", "spark.driver.memory" -> "16g"))
    assert(Session.Profile.Bench.logLevel == "ERROR")
  }

  test("check profile keeps Spark's default planner: no AQE or join overrides") {
    val env = Map("SPARK_GRAFT_SHUFFLE" -> "256", "SPARK_DRIVER_MEM" -> "16g")
    val got = Session.conf(Session.Profile.Check, 6, env)
    assert(got == common + ("spark.sql.shuffle.partitions" -> "6"))
    assert(!got.keys.exists(k => k.contains("adaptive") || k.contains("join") ||
      k.contains("Broadcast")))
    assert(Session.Profile.Check.logLevel == "WARN")
  }

  test("cpus reads SPARK_GRAFT_CPUS, else every core the JVM sees") {
    assert(Session.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(Session.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
  }

  test("bench set is the 63 queries the perfbench suite pins") {
    val pins = new ObjectMapper()
      .readTree(new java.io.File("perfbench/pins/query_suite.json"))
      .fieldNames().asScala.toSet
    assert(pins.size == 63)
    assert(SparkEntry.benchNames.size == SparkEntry.benchNames.distinct.size)
    assert(SparkEntry.benchNames.toSet == pins,
      s"missing ${pins -- SparkEntry.benchNames}, extra ${SparkEntry.benchNames.toSet -- pins}")
  }
}
