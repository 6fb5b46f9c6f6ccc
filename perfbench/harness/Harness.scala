package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Bench, SparkEntry}
import graft.core.FixedClock
import graft.jobs.{MainDag, Pipeline}

/** The benchmark's engine process. It drives only the engine's public entry
  * points (`SparkEntry`, `Bench.buildSession`, `MainDag`), times every op
  * from outside, and writes its raw measurements to `<out>/raw.json`;
  * `run.py` derives the metrics and checks the outputs.
  *
  * Usage: Harness --workload W --seed N --trace 0|1 --out DIR --launched MS
  *   --data DIR [--queries A,B,..]
  *
  * `--launched` is the epoch millisecond at which run.py started this
  * process; set-up time runs from it until the session is built. `--data`
  * is the query tables' directory, or the DAG's warehouse.
  */
object Harness {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the same time
    * base as Spark's listener events. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Op(name: String, pass: Int, traced: Boolean, group: String,
                      start: Double, buildEnd: Double, end: Double, error: String) {
    def json: Map[String, Any] = Map("name" -> name, "pass" -> pass, "traced" -> traced,
      "group" -> group, "start" -> start, "build_end" -> buildEnd, "end" -> end,
      "ok" -> error.isEmpty, "error" -> error)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap still in use after full collections: the heap pools' usage as
    * the last collection left them. The pauses let Spark's context cleaner
    * release the RDDs and broadcasts the first collections found dead. */
  private def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed)
      .sum / 1048576.0
  }

  /** 1-minute load average, or -1 where /proc is unavailable. */
  private def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+").head.toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  private def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  /** Closed-loop runner shared by both workloads: one op at a time, each
    * tagged with its own job group so the recorder can link Spark's events
    * back to it. Traced passes install the recorder's hooks for their
    * duration only. */
  final class Runner(spark: SparkSession) {
    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val recorder = new Recorder
    val checkErrors = scala.collection.mutable.Map.empty[String, String]
    private var seq = 0
    private var untimedMs = 0.0
    def nextGroup(): String = { seq += 1; s"op-$seq" }

    def pass[A](idx: Int, traced: Boolean)(body: => A): A = {
      if (traced) {
        spark.sparkContext.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      }
      val (g0, t0) = (gcMs, nowMs)
      untimedMs = 0.0
      try body finally {
        val t1 = nowMs
        if (traced) {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          spark.listenerManager.unregister(recorder)
          spark.sparkContext.removeSparkListener(recorder)
        }
        passes += Map("pass" -> idx, "traced" -> traced, "start" -> t0, "end" -> t1,
          "wall_s" -> (t1 - t0 - untimedMs) / 1000.0, "untimed_s" -> untimedMs / 1000.0,
          "gc_ms" -> (gcMs - g0))
      }
    }

    /** One query op: build the plan, then write the full result to `sink`.
      * With `check`, the built plan is then run once more into it, after
      * the op's end; that time is taken out of the pass. */
    def query(name: String, idx: Int, traced: Boolean, build: () => DataFrame,
              sink: DataFrame => Unit, check: Option[DataFrame => Unit] = None): Op = {
      val g = nextGroup()
      spark.sparkContext.setJobGroup(g, name, interruptOnCancel = false)
      val t0 = nowMs
      var t1 = t0
      var df: DataFrame = null
      val err = try {
        df = build()
        t1 = nowMs
        sink(df)
        ""
      } catch { case e: Throwable => message(e) }
      val op = Op(name, idx, traced, g, t0, if (t1 == t0) nowMs else t1, nowMs, err)
      spark.sparkContext.clearJobGroup()
      ops += op
      check.foreach { c =>
        val c0 = nowMs
        try { if (df == null) throw new IllegalStateException(err) else c(df) }
        catch { case e: Throwable => checkErrors(name) = message(e) }
        untimedMs += nowMs - c0
      }
      op
    }
  }

  // ---------------------------------------------------------------- query suite

  /** Every timed pass writes each full result to `noop`. In the first warm
    * pass each query's plan is then written once more, untimed, to parquet
    * under `<out>/results`, the output check's input, so the check sees the
    * results the warmed session gives. */
  private def querySuite(spark: SparkSession, a: Map[String, String], seed: Long,
                         traced: Boolean, out: Path): Map[String, Any] = {
    val dir = a("data")
    val names =
      if (a("queries") == "ALL") SparkEntry.benchNames else a("queries").split(",").toSeq
    val unknown = names.filterNot(SparkEntry.benchNames.contains)
    require(unknown.isEmpty, s"not bench queries: ${unknown.mkString(", ")}")
    val builders = SparkEntry.queries
    def order(pass: Int) = new scala.util.Random(seed * 7919L + pass).shuffle(names)
    val r = new Runner(spark)
    val results = out.resolve("results")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // cold: the first unwarmed pass in a fresh process, in the listed order
    // (a query's cold cost depends on what ran before it)
    r.pass(0, traced = false) {
      names.foreach(n => r.query(n, 0, traced = false, () => builders(n)(spark, dir), noop))
    }
    def parquet(n: String)(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(results.resolve(n).toString)
    // warm phase: one whole pass, so every run does the same work. A traced
    // run adds a traced pass and another untraced one, so the tracing
    // overhead is measured on equal work on both sides of the traced pass.
    for (idx <- 1 to (if (traced) 3 else 1)) {
      val tr = idx == 2
      r.pass(idx, tr) {
        order(idx).foreach(n => r.query(n, idx, tr, () => builders(n)(spark, dir), noop,
          if (idx == 1) Some(parquet(n) _) else None))
      }
    }
    val heap = liveHeapMb()
    val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    Map("ops" -> r.ops.map(_.json).toList, "passes" -> r.passes.toList,
      "live_heap_mb" -> heap, "cached_bytes" -> cached, "check_errors" -> r.checkErrors.toMap,
      "oracle" -> SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) },
      "families" -> families, "trace" -> (if (traced) r.recorder.snapshot else Map.empty))
  }

  /** Registry module of each bench query, for the per-family rows. */
  private def families: Map[String, String] = {
    import graft.queries._
    Seq("relational" -> RelationalQueries.all, "events" -> EventQueries.all,
      "text" -> TextQueries.all, "vector" -> VectorQueries.all,
      "financial" -> FinancialQueries.all, "model" -> ModelQueries.all,
      "jobs" -> JobQueries.all, "multimodal" -> MultimodalQueries.all)
      .flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
  }

  // ---------------------------------------------------------------- DAG backfill

  /** Times each `Pipeline` job from outside: the notifier is called on the
    * driver thread right after a job ends, so the interval between two
    * calls is the job's wall time; it also tags the next job's Spark work
    * with a fresh job group. */
  final class TimingNotifier(spark: SparkSession, r: Runner, idx: Int, traced: Boolean)
      extends Pipeline.Notifier {
    private var group = ""
    private var last = 0.0
    def begin(): Unit = { group = r.nextGroup(); last = nowMs
      spark.sparkContext.setJobGroup(group, "dag", interruptOnCancel = false) }
    private def done(job: String, err: String): Unit = {
      val t = nowMs
      r.ops += Op(job, idx, traced, group, last, last, t, err)
      begin()
    }
    override def success(job: String): Unit = done(job, "")
    override def failure(job: String, e: Throwable): Unit = done(job, message(e))
  }

  /** The cron run's date; it reports the previous month, 2025-01, the
    * month the generated warehouse (perfbench/gen_warehouse.py) ends on. */
  val DagClock: LocalDate = LocalDate.of(2025, 2, 15)

  /** The app layer: the jobs from the first `staging_to_app` one to the end
    * of the DAG, what a retry after an app-layer failure re-runs. */
  def appLayer(jobs: Seq[Pipeline.Job]): Seq[Pipeline.Job] = {
    val app = jobs.dropWhile(!_.name.startsWith("staging_to_app:"))
    require(app.nonEmpty, "MainDag has no staging_to_app job")
    app
  }

  /** One pass: the whole cron month through `MainDag.run`, or with
    * `appOnly` its app layer through `Pipeline.run`. */
  private def dagRun(spark: SparkSession, r: Runner, base: String, idx: Int,
                     traced: Boolean, appOnly: Boolean): Unit = r.pass(idx, traced) {
    val n = new TimingNotifier(spark, r, idx, traced)
    val clock = FixedClock(DagClock)
    n.begin()
    if (appOnly) Pipeline.run(spark, appLayer(MainDag.jobs(base, clock)), n)
    else MainDag.run(spark, base, clock, n)
    spark.sparkContext.clearJobGroup()
  }

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }

  /** The cold pass is the cron invocation for the reporting month in a
    * fresh process. The warm pass re-runs the month's app layer, as a retry
    * after an app-layer failure does. A traced run then re-runs the whole
    * month, traced; a second untraced app-layer pass after it would cancel
    * the warm-up trend in the tracing overhead, but would take a traced run
    * too close to the 180 s a run may take on a slow host. The warehouse is
    * snapshotted after the cold pass, and run.py checks that the re-runs
    * left every table unchanged. */
  private def dagBackfill(spark: SparkSession, base: String, traced: Boolean,
                          out: Path): Map[String, Any] = {
    val r = new Runner(spark)
    dagRun(spark, r, base, 0, traced = false, appOnly = false)
    val snap = out.resolve("wh_after_cold")
    copyTree(Paths.get(base), snap)
    dagRun(spark, r, base, 1, traced = false, appOnly = true)
    if (traced) dagRun(spark, r, base, 2, traced = true, appOnly = false)
    val heap = liveHeapMb()
    val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    Map("ops" -> r.ops.map(_.json).toList, "passes" -> r.passes.toList,
      "live_heap_mb" -> heap, "cached_bytes" -> cached, "snapshot" -> snap.toString,
      "trace" -> (if (traced) r.recorder.snapshot else Map.empty))
  }

  // ---------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val traced = a.getOrElse("trace", "0") == "1"
    val out = Paths.get(a("out"))
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val dag = workload == "dag_backfill"
    Files.createDirectories(out)

    // set-up: process start until the session is built; run.py adds the
    // warehouse generation for the DAG
    val spark = Bench.buildSession(cpus)
    val setupS = (nowMs - a("launched").toDouble) / 1000.0
    // the host-speed probes take about 7 s, so only the traced run pays them
    def spins(): Seq[Double] =
      if (traced) Seq(Bench.cpuSpinReg(), Bench.cpuSpinMem()) else Seq(-1.0, -1.0)
    val (loadStart, spinStart) = (loadavg(), spins())
    val body =
      if (dag) dagBackfill(spark, a("data"), traced, out)
      else querySuite(spark, a, seed, traced, out)
    val (loadEnd, spinEnd) = (loadavg(), spins())

    val conf = spark.conf.getAll
    val config = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "nproc" -> cpus.toInt,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> conf.getOrElse("spark.sql.shuffle.partitions", ""),
      "aqe" -> conf.getOrElse("spark.sql.adaptive.enabled", ""),
      "prefer_sort_merge_join" -> conf.getOrElse("spark.sql.join.preferSortMergeJoin", ""),
      "broadcast_threshold" -> conf.getOrElse("spark.sql.autoBroadcastJoinThreshold", ""),
      "measure" -> (if (dag) "MainDag.run writes" else "noop"),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spin_reg_start_s" -> spinStart(0), "spin_mem_start_s" -> spinStart(1),
      "spin_reg_end_s" -> spinEnd(0), "spin_mem_end_s" -> spinEnd(1),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd)
    val raw = body ++ Map("config" -> config, "setup_s" -> setupS)
    Files.writeString(out.resolve("raw.json"), Json(raw))
    spark.stop()
  }
}

/** Minimal JSON rendering for the raw measurement file. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
