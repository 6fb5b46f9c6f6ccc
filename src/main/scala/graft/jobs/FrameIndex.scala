package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.FrameDedup

/** Disk-backed video frame-level near-dup index with incremental append —
  * the fifth member of the LSM index family (AnnIndex, NearDupIndex,
  * BpeVocabIndex, SemDeDupIndex), giving the v06 gate's semantics an
  * ingest face: each arriving batch of videos is flagged against the
  * whole stored corpus WITHOUT rescanning stored payload bytes — only
  * the stored FINGERPRINT SETS (a fixed few hundred bytes per video,
  * whatever the payload size) are re-read.
  *
  * Layout under `path` (the family's shared crash/replay contract —
  * batch partitioning, `_compacting` fence + `_append_*` leases,
  * [[LsmCompact]] fold):
  *  - `dictionary/` — (frame_fp): the candidate whitelist, FROZEN at
  *    build with minDf = 1 (a build-time singleton must stay pairable
  *    when its twin arrives later; only the boilerplate UPPER cap
  *    freezes — a frame above it at build stays excluded even if the
  *    corpus outgrows the cap's build-time meaning, the same
  *    conservative drift contract as AnnIndex's frozen centroids and
  *    NearDupIndex's frozen rarity ranks; rebuild() refreshes);
  *  - `framesets/ingest_batch=<b>/` — (media_id, fps, n): one row per
  *    video, its sorted distinct sampled-frame fingerprints + count.
  *    [[build]] owns batch 0; each append overwrites ONLY its own
  *    partition, so a re-delivered foreachBatch batch reproduces its
  *    rows instead of duplicating them;
  *  - `meta/` — build parameters, read back by append so the two sides
  *    can never disagree on geometry or threshold.
  *
  * Scale shape: append fingerprints only the new payloads (scan ∝
  * batch), candidates come from dictionary-capped shared-frame buckets
  * with the fresh batch on one side (pair work ∝ batch × bucket
  * occupancy, never video×video), and the Jaccard denominators ride the
  * stored per-video counts — exact under ANY slicing of arrivals
  * because a pair's verdict depends only on its two immutable frame
  * sets, and the (stored ∪ fresh) × fresh ∪ fresh × stored scheme
  * surfaces each fresh-touching pair exactly once
  * (FrameIndexSpec proves both against a plain-Scala reference). */
object FrameIndex {

  private def framesetsPart(path: String, b: Long) =
    s"$path/framesets/ingest_batch=$b"

  /** Build the index from scratch over (media_id, payload) rows —
    * ingest batch 0. The input must come from the source corpus, never
    * lazily from `path` itself (LsmCompact.clearAppendedBatches runs
    * eagerly first — see its caller contract). */
  def build(media: DataFrame, path: String,
            frameLen: Int = 32, stride: Int = 4, maxDf: Int = 20,
            jNum: Int = 1, jDen: Int = 2): Unit = {
    val spark = media.sparkSession
    import spark.implicits._
    LsmCompact.clearAppendedBatches(spark, s"$path/framesets")
    val frames = FrameDedup.frameFingerprints(media, frameLen, stride)
    FrameDedup.frameDictionary(frames, minDf = 1, maxDf = maxDf)
      .write.mode("overwrite").parquet(s"$path/dictionary")
    FrameDedup.frameSets(frames)
      .write.mode("overwrite").parquet(framesetsPart(path, 0L))
    Seq((frameLen, stride, maxDf, jNum, jDen))
      .toDF("frame_len", "stride", "max_df", "j_num", "j_den")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Flag arrival batch `batchId` (> 0, strictly increasing in arrival
    * order) against the stored corpus and absorb it into the index.
    * Returns (a_id, b_id, shared, n_a, n_b, jaccard) covering new×stored
    * and new×new pairs under the FROZEN dictionary. The batch's frame
    * sets are written FIRST and read back as the fresh side; the stored
    * side filters `ingest_batch < batchId`, so neither a replay racing
    * later batches nor lazy consumption can see batches that arrived
    * afterwards — and the returned frame is MATERIALIZED
    * (localCheckpoint) because that stored side is a lazy disk filter a
    * later [[compact]] would otherwise fold future batches into. */
  def append(spark: SparkSession, path: String, batchId: Long,
             newMedia: DataFrame): DataFrame = {
    require(batchId > 0, s"batch id $batchId: build owns 0, appends are > 0")
    LsmCompact.withAppendLease(spark, s"$path/framesets") {
      val m = spark.read.parquet(s"$path/meta").head()
      val (frameLen, stride, jNum, jDen) = (m.getAs[Int]("frame_len"),
        m.getAs[Int]("stride"), m.getAs[Int]("j_num"), m.getAs[Int]("j_den"))
      val dict = readDictionary(spark, path)
      FrameDedup.frameSets(
          FrameDedup.frameFingerprints(newMedia, frameLen, stride))
        .write.mode("overwrite").parquet(framesetsPart(path, batchId))
      val fresh = spark.read.parquet(framesetsPart(path, batchId))
      val stored = spark.read.parquet(s"$path/framesets")
        .filter(col("ingest_batch") < batchId).drop("ingest_batch")
      FrameDedup.incrementalPairs(stored, fresh, dict, jNum, jDen)
        .localCheckpoint() // pin the < batchId snapshot against compact()
    }
  }

  /** Fold every framesets `ingest_batch` partition back into batch 0 —
    * the family's LSM compaction ([[AnnIndex.compact]] scaladoc carries
    * the shared crash contract; run with ingest paused — the lease fence
    * converts a violation into an error). Returns the folded batch ids.
    *
    * `refreshDictionary = true` additionally recomputes the candidate
    * dictionary from the FOLDED frame sets (minDf = 1, meta's maxDf) —
    * the opt-in remedy for frozen-dictionary drift: a frame first seen
    * AFTER build is invisible to the frozen whitelist, so pairs among
    * post-build arrivals sharing only such frames are silently missed
    * (recall decays as the corpus outgrows the build half — measured in
    * PERF.md "Round 12 delta"), and a build-time under-cap
    * frame the corpus has since made boilerplate keeps generating
    * candidates. The refresh restores from-scratch dictionary semantics
    * at every compaction, bounding drift by the compaction cadence. It
    * is OPT-IN because it changes which pairs LATER appends can emit —
    * the default keeps the strict frozen contract (append results
    * depend only on build-time state + the batch, the family's replay
    * guarantee). Already-emitted pairs are never retracted; stored ×
    * stored pairs that become eligible under the refreshed dictionary
    * surface only through a from-scratch pair pass (FrameDedup.selfPairs
    * over the folded sets), not retroactively. */
  def compact(spark: SparkSession, path: String,
              refreshDictionary: Boolean = false): Seq[Long] = {
    val folded = LsmCompact.fold(spark, s"$path/framesets", "media_id",
      (folded, target) => folded.write.mode("overwrite").parquet(target))
    if (refreshDictionary) {
      val maxDf = spark.read.parquet(s"$path/meta").head().getAs[Int]("max_df")
      // df per fingerprint = videos containing it; `fps` is distinct per
      // video by construction, so exploding the stored sets IS the df
      // count — no payload rescan
      val frames = spark.read.parquet(s"$path/framesets")
        .select(col("media_id"), explode(col("fps")).as("frame_fp"))
      // write-then-swap, rename-ASIDE (not delete-first): a crash
      // between a delete and the follow-up rename would leave the index
      // with NO dictionary at all. The swap here keeps a complete
      // dictionary readable at every instant: (1) write the refresh to
      // dictionary_refresh, (2) move the live dir aside to
      // dictionary_old, (3) promote the refresh, (4) drop the old copy.
      // The only crash window with dictionary/ absent is between (2) and
      // (3), where dictionary_refresh is complete — [[readDictionary]]
      // falls back to it, so appends resumed after ANY crash point see a
      // whole dictionary (old pre-(2), refresh in the gap, new post-(3)).
      val tmp = s"$path/dictionary_refresh"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
      val dst = new org.apache.hadoop.fs.Path(s"$path/dictionary")
      val tmpP = new org.apache.hadoop.fs.Path(tmp)
      healDictionary(fs, path)
      FrameDedup.frameDictionary(frames, minDf = 1, maxDf = maxDf)
        .write.mode("overwrite").parquet(tmp)
      val old = new org.apache.hadoop.fs.Path(s"$path/dictionary_old")
      fs.delete(old, true) // stale leftover from a crashed prior refresh
      if (fs.exists(dst))  // absent only if the heal above ALSO crashed
        require(fs.rename(dst, old),
          s"dictionary refresh: move-aside rename failed for $path")
      require(fs.rename(tmpP, dst),
        s"dictionary refresh: promote rename failed for $path")
      fs.delete(old, true)
    }
    folded
  }

  /** Heal BEFORE recomputing a refresh: after a move-aside/promote crash,
    * `dictionary/` is absent and `dictionary_refresh` holds the ONLY
    * complete copy (the state [[readDictionary]]'s fallback serves).
    * Overwriting that copy in place would reopen a no-dictionary window
    * if the recovery run ALSO crashes mid-write — promote it first, so
    * the refresh recompute only ever overwrites a copy that
    * `dictionary/` still duplicates. Completeness check = the parquet
    * commit's `_SUCCESS` marker (absent while a write is in flight or
    * after a mid-write crash — a partial refresh is left for the
    * recompute to overwrite). */
  private[jobs] def healDictionary(fs: org.apache.hadoop.fs.FileSystem,
                                   path: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(s"$path/dictionary")
    val tmpP = new org.apache.hadoop.fs.Path(s"$path/dictionary_refresh")
    if (!fs.exists(dst) &&
        fs.exists(new org.apache.hadoop.fs.Path(tmpP, "_SUCCESS")))
      require(fs.rename(tmpP, dst),
        s"dictionary refresh: heal-promote rename failed for $path")
  }

  /** Read the candidate dictionary, falling back to a completed
    * `dictionary_refresh` when `dictionary/` is absent — the state a
    * crash inside [[compact]]'s swap window (between move-aside and
    * promote) leaves behind. Either location holds a COMPLETE
    * dictionary (refresh is fully written before any rename), so the
    * fallback never observes a partial one. */
  private[jobs] def readDictionary(spark: SparkSession,
                                   path: String): DataFrame = {
    val dst = s"$path/dictionary"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dst), spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(dst)))
      spark.read.parquet(dst)
    else spark.read.parquet(s"$path/dictionary_refresh")
  }
}
