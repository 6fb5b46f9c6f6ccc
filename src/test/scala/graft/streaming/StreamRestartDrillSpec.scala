package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec
import graft.jobs.{CrashFileSystem, CrashFsBudget, SemDeDupIndex}
import org.apache.spark.sql.DataFrame

/** Streaming restart drill (r14 verdict ask: make "replay-before-compact
  * is the natural restart order for a streaming foreachBatch" a SPEC, not
  * a sentence). A streaming ingest feeding its index through the
  * fault-injecting `crashfs:` filesystem is killed at RANDOM write
  * boundaries mid-microbatch; the stream is then restarted from its
  * checkpoint with NO manual index surgery — Structured Streaming
  * re-delivers the uncommitted batch with the same batchId, and the
  * index append's overwrite-own-partition idempotency absorbs the
  * replay over whatever half-written state the kill left. Only THEN does
  * the operator runbook run (clear the dead append's lease, compact) —
  * the replay-before-compact order the LsmCompact contract requires, here
  * arising naturally from "restart the stream, then do maintenance".
  * Drilled on SemDedupStream → SemDeDupIndex, whose removals DELTAS are
  * the aggregate state the r14 compact-first double-ingest permanently
  * corrupted. Digest (index
  * content, partition layout ignored: the removals algebra is
  * microbatch-slicing-independent, and a replayed wider batch 0 after an
  * offsets-log-less crash is legal slicing) must equal an uninterrupted
  * reference run's, for every random kill point.
  */
class StreamRestartDrillSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def vec(axis: Int, wiggle: Float): Seq[Float] = {
    val v = Array.fill(8)(0.001f)
    v(axis) = 1.0f
    v((axis + 3) % 8) = wiggle
    v.toSeq
  }

  private val all: Seq[(Long, Seq[Float])] =
    (0L until 18L).map(i => (i, vec((i % 3).toInt, 0.001f * (i / 3))))
  private val built = all.take(6)
  private val arrivals = Seq(all.slice(6, 12), all.drop(12))

  private def df(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.map { case (id, e) => (id, e, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")

  private def addBatch(dir: java.nio.file.Path, name: String,
                       rows: Seq[(Long, Seq[Float])]): Unit = {
    val stage = Files.createTempDirectory(s"restart_stage_$name")
    df(rows).coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(Paths.get(part), dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def sortedRows(d: DataFrame): Seq[Seq[Any]] =
    d.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  /** One drillable stream family: offline build, the streaming ingest
    * face, the lease root the runbook clears, the compact step, and a
    * logical content digest (partition layout ignored). */
  private case class StreamDrill(
      name: String,
      build: String => Unit,
      start: (java.nio.file.Path, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery,
      leaseRoot: String,
      compact: String => Unit,
      digest: String => Seq[Seq[Any]])

  private val semDrill = StreamDrill(
    name = "semdedup",
    build = p => SemDeDupIndex.build(
      df(built).select("vec_id", "embedding"), p, k = 3),
    start = (dir, p, ck) =>
      SemDedupStream.ingestDeduped(spark, dir.toString, p, ck),
    leaseRoot = "members",
    compact = p => { SemDeDupIndex.compact(spark, p); () },
    digest = p => sortedRows(SemDeDupIndex.removals(spark, p)) ++
      sortedRows(spark.read.parquet(s"$p/members").drop("ingest_batch")))

  /** Drive the ingest: start the stream, drain each arrival file in its
    * own processAllAvailable window. Any step may die on an injected
    * crash — the first failure aborts the drive (the stream is dead) and
    * is reported to the caller. */
  private def drive(d: StreamDrill, dir: java.nio.file.Path, idx: String,
                    ckpt: String): Option[Throwable] = {
    addBatch(dir, "b1", arrivals.head)
    val q = d.start(dir, idx, ckpt)
    try {
      q.processAllAvailable()
      addBatch(dir, "b2", arrivals(1))
      q.processAllAvailable()
      None
    } catch { case e: Throwable => Some(e) }
    finally {
      try q.stop()
      catch { case _: Throwable => () } // a killed query may refuse stop()
    }
  }

  private def clearDeadLeases(idxLocalDir: String, root: String): Unit = {
    val rootDir = new java.io.File(idxLocalDir, root)
    Option(rootDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_append_")).foreach(_.delete())
  }

  test("random mid-batch kills of a streaming index ingest heal by checkpoint restart, then compact") {
    conf.set("fs.crashfs.impl", classOf[CrashFileSystem].getName)
    val rnd = new scala.util.Random(15)
    var kills = 0
    var attempts = 0
    for (d <- Seq(semDrill)) {
      // uninterrupted reference (plain local path; logical digests make
      // the filesystem scheme irrelevant)
      val refIdx = Files.createTempDirectory(s"restart_ref_${d.name}").toString
      CrashFsBudget.disarm()
      d.build(refIdx)
      assert(drive(d, Files.createTempDirectory(s"restart_refin_${d.name}"),
        refIdx, Files.createTempDirectory(s"restart_refck_${d.name}").toString)
        .isEmpty, s"${d.name}: reference drive crashed without fault injection")
      val wantPreCompact = d.digest(refIdx)
      d.compact(refIdx)
      val want = d.digest(refIdx)
      assert(want.nonEmpty, s"${d.name}: empty reference digest")

      // count post-build stream-side write boundaries through crashfs
      val cntLocal = Files.createTempDirectory(s"restart_cnt_${d.name}").toString
      val cntIdx = s"crashfs:$cntLocal"
      CrashFsBudget.disarm()
      d.build(cntIdx)
      CrashFsBudget.seen.set(0L)
      assert(drive(d, Files.createTempDirectory(s"restart_cntin_${d.name}"),
        cntIdx, Files.createTempDirectory(s"restart_cntck_${d.name}").toString)
        .isEmpty, s"${d.name}: crashfs-clean drive crashed without fault injection")
      val postBuild = CrashFsBudget.seen.get()
      assert(postBuild > 10,
        s"${d.name}: suspiciously few post-build write ops ($postBuild)")
      assert(d.digest(cntIdx) == wantPreCompact,
        s"${d.name}: crashfs-clean stream diverged from the file:// reference")

      for (attempt <- 1 to 4) {
        attempts += 1
        val b = rnd.between(1L, postBuild + 1L)
        val local = Files.createTempDirectory(
          s"restart_idx_${d.name}_$attempt").toString
        val idx = s"crashfs:$local"
        val dir = Files.createTempDirectory(s"restart_in_${d.name}_$attempt")
        val ckpt = Files.createTempDirectory(
          s"restart_ck_${d.name}_$attempt").toString
        CrashFsBudget.disarm()
        d.build(idx)
        CrashFsBudget.arm(b)
        val died = try drive(d, dir, idx, ckpt) finally CrashFsBudget.disarm()
        if (died.isDefined) kills += 1

        // restart from the checkpoint: ensure every arrival file is
        // present (the kill may have landed before b2 was even added),
        // then a FRESH query on the same checkpoint replays the
        // uncommitted batch with its original batchId — no index surgery
        // happens before this
        addBatch(dir, "b1", arrivals.head)
        addBatch(dir, "b2", arrivals(1))
        val q2 = d.start(dir, idx, ckpt)
        try q2.processAllAvailable() finally q2.stop()
        assert(d.digest(idx) == wantPreCompact,
          s"${d.name} attempt $attempt (budget $b, died=${died.isDefined}): " +
            "restart replay did not converge to the reference state")

        // only now the maintenance runbook: clear the dead append's
        // lease, compact — replay-before-compact held by construction
        clearDeadLeases(local, d.leaseRoot)
        d.compact(idx)
        assert(d.digest(idx) == want,
          s"${d.name} attempt $attempt (budget $b): post-compact state diverged")
      }
    }
    assert(kills * 2 >= attempts,
      s"only $kills/$attempts random budgets actually killed a stream — " +
        "the drill is not exercising the crash window")
  }
}
