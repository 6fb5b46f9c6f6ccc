package graft.jobs

import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.sys.process._
import graft.SparkSpec
import graft.core.FixedClock
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The warehouse contract against the data it describes: on a warehouse
  * from `perfbench/gen_warehouse.py`, and after a cron run of [[MainDag]]
  * on it, every declared schema equals what Spark infers for that table;
  * and a read through [[Warehouse.read]] starts no Spark job. Needs python3
  * with pyarrow for the generator; cancelled without them. */
class WarehouseSpec extends SparkSpec {

  private def generate(): String = {
    val ok = try Seq("python3", "-c", "import numpy, pyarrow").! == 0
      catch { case _: java.io.IOException => false }
    assume(ok, "python3 with numpy and pyarrow is needed to generate the warehouse")
    val base = Files.createTempDirectory("warehouse").toString
    assert(Seq("python3", "perfbench/gen_warehouse.py", base, "1").! == 0)
    base
  }

  private def present(base: String): Seq[(String, String)] =
    Warehouse.schemas.keys.toSeq.sorted
      .filter { case (l, t) => new java.io.File(Warehouse.path(base, l, t)).isDirectory }

  private def mismatches(base: String, tables: Seq[(String, String)]): Seq[String] =
    tables.flatMap { case (l, t) =>
      val inferred = spark.read.parquet(Warehouse.path(base, l, t)).schema
      val declared = Warehouse.schema(l, t)
      if (inferred == declared) None
      else Some(s"$l.$t: declared ${declared.toDDL}, inferred ${inferred.toDDL}")
    }

  /** Every file under each table, to tell which tables a run rewrote. */
  private def listing(base: String): Map[(String, String), Set[String]] =
    present(base).map { case (l, t) =>
      val root = java.nio.file.Paths.get(Warehouse.path(base, l, t))
      val files = Files.walk(root)
      try (l, t) -> files.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toSet
      finally files.close()
    }.toMap

  /** A generated warehouse after the cron run for 2025-01. */
  private lazy val ran: (String, Set[(String, String)], Seq[(String, String)]) = {
    val base = generate()
    val before = listing(base)
    val n = new Pipeline.CollectingNotifier
    MainDag.run(spark, base, FixedClock(LocalDate.of(2025, 2, 15)), n)
    val after = listing(base)
    val written = after.keySet.filter(k => !before.get(k).contains(after(k)))
    (base, written, n.events.toSeq)
  }

  test("every declared table of a generated warehouse infers its declared schema") {
    val base = generate()
    val tables = present(base)
    assert(tables.size >= 45, s"only ${tables.size} declared tables generated")
    val bad = mismatches(base, tables)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("every declared table a MainDag run writes keeps its declared schema") {
    val (base, written, events) = ran
    assert(written.contains(("staging", "electricity_decarb")) &&
      written.contains(("raw", "electricity_total_decarb")),
      s"$written\n${events.mkString("\n")}")
    val bad = mismatches(base, written.toSeq.sorted)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("reading every declared table through Warehouse.read starts no Spark job") {
    val (base, _, _) = ran
    assert(present(base).size == Warehouse.schemas.size,
      s"missing: ${Warehouse.schemas.keySet -- present(base)}")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobs.merge(group, 1, (a, b) => a + b)
        if (group == "warehouse-sentinel") sentinel.countDown()
      }
    }
    def count(group: String): Int = Option(jobs.get(group)).fold(0)(_.intValue)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("warehouse-declared", "declared reads")
      Warehouse.schemas.keys.foreach { case (l, t) =>
        Warehouse.read(spark, base, l, t) }
      // the same tables read bare: inference starts jobs, so the listener
      // is seen to count
      sc.setJobGroup("warehouse-inferred", "inferred reads")
      Warehouse.schemas.keys.foreach { case (l, t) =>
        spark.read.parquet(Warehouse.path(base, l, t)) }
      // the bus delivers in order: once the sentinel's job is seen, every
      // read's job has been
      sc.setJobGroup("warehouse-sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(count("warehouse-inferred") > 0)
    assert(count("warehouse-declared") == 0)
  }
}
