package graft.jobs

import java.nio.file.Files
import graft.SparkSpec
import graft.operators.{KMeans, SemDedup}
import org.apache.spark.sql.DataFrame

/** The incremental semantic-dedup append must be EXACT under the frozen
  * clustering: after any slicing of arrivals, the stored removals table
  * equals a from-scratch batch run (assignTo + shadowPairs + removals)
  * over everything ingested, against the SAME build-time centroids —
  * because the shadow-pair set partitions disjointly across batches and
  * both removals aggregates are commutative monoids (min, sum). Also pins
  * the direction subtlety: a late LOW-id arrival must flip an already-
  * stored member's removed status. */
class SemDeDupIndexSpec extends SparkSpec {

  // three well-separated directions (cross-group cos ~ 0 < tau), tight
  // within-group perturbations (cos ~ 1 >= tau); 8 dims — the operators
  // take any dimensionality
  private def vec(axis: Int, wiggle: Float): Seq[Float] = {
    val v = Array.fill(8)(0.001f)
    v(axis) = 1.0f
    v((axis + 3) % 8) = wiggle
    v.toSeq
  }

  private val all: Seq[(Long, Seq[Float])] =
    (0L until 24L).map(i => (i, vec((i % 3).toInt, 0.001f * (i / 3))))

  private def df(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def table(d: DataFrame): Seq[(Long, Long, Long, Long)] =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq.sorted

  /** From-scratch batch removals over `rows` under centroids trained on
    * `trainRows` — the contract's right-hand side. */
  private def batchRemovals(trainRows: Seq[(Long, Seq[Float])],
                            rows: Seq[(Long, Seq[Float])]): Seq[(Long, Long, Long, Long)] = {
    val (_, cents) = KMeans.lloyd(df(trainRows), "vec_id", "embedding",
      k = 3, iters = 2)
    val assign = KMeans.assignTo(df(rows), "vec_id", "embedding", cents)
    table(SemDedup.removals(SemDedup.shadowPairs(
      SemDedup.members(df(rows), assign))))
  }

  test("append after sliced arrival equals the batch run — two slicings") {
    for ((name, slices) <- Seq(
      ("by-thirds", Seq(all.take(8), all.slice(8, 16), all.drop(16))),
      ("interleaved", Seq(all.filter(_._1 % 3 == 0),
        all.filter(_._1 % 3 == 1), all.filter(_._1 % 3 == 2))))) {
      val want = batchRemovals(slices.head, all)
      val dir = Files.createTempDirectory(s"semdedup_idx_$name").toString
      SemDeDupIndex.build(df(slices.head), dir, k = 3)
      val last = slices.tail.zipWithIndex.map { case (s, i) =>
        SemDeDupIndex.append(spark, dir, i + 1L, df(s)) }.last
      assert(table(last) == want, s"slicing $name diverged")
      assert(table(SemDeDupIndex.removals(spark, dir)) == want)
      assert(want.nonEmpty, "weak fixture: no shadows at all")
      // crash/replay contract: re-delivering an EARLIER batch id after
      // later batches landed overwrites its own partitions with identical
      // content (stored side is ingest_batch < id) — removals unchanged
      SemDeDupIndex.append(spark, dir, 1L, df(slices(1)))
      assert(table(SemDeDupIndex.removals(spark, dir)) == want,
        s"replaying batch 1 under $name changed the removals table")
    }
  }

  test("a late low-id arrival flips a stored member's removed status") {
    // ids 4 and 7 share a direction; 7 arrives first ALONE in its group
    // (batch-mates 0 and 2 sit on the other axes), 4 arrives later with a
    // lower id and shadows it
    val first = Seq(all(7), all(0), all(2))
    val dir = Files.createTempDirectory("semdedup_idx_low").toString
    SemDeDupIndex.build(df(first), dir, k = 3)
    val before = table(SemDeDupIndex.removals(spark, dir))
    assert(!before.exists(_._1 == 7L), s"7 must start kept, got $before")
    val after = table(SemDeDupIndex.append(spark, dir, 1L, df(Seq(all(4)))))
    val row = after.find(_._1 == 7L)
    assert(row.exists(_._3 == 4L),
      s"7 must now be shadowed with kept_by=4, got $after")
    assert(table(SemDeDupIndex.removals(spark, dir)) == after)
    // and it matches the batch run under the same frozen centroids
    assert(after == batchRemovals(first, first :+ all(4)))
  }

  test("compact folds members only, leaves removals exact, and future appends still match the batch run") {
    val slices = Seq(all.take(8), all.slice(8, 16), all.slice(16, 20))
    val dir = Files.createTempDirectory("semdedup_idx_compact").toString
    SemDeDupIndex.build(df(slices.head), dir, k = 3)
    SemDeDupIndex.append(spark, dir, 1L, df(slices(1)))
    SemDeDupIndex.append(spark, dir, 2L, df(slices(2)))
    val before = table(SemDeDupIndex.removals(spark, dir))

    assert(SemDeDupIndex.compact(spark, dir) == Seq(1L, 2L))

    // members folded to one partition, content intact, removals unchanged
    val members = spark.read.parquet(s"$dir/members")
    assert(members.selectExpr("cast(ingest_batch as long)").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(members.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
      == (0L until 20L))
    assert(table(SemDeDupIndex.removals(spark, dir)) == before)
    // deltas are untouched (they need no compaction and must not fold)
    val deltaBatches = spark.read.parquet(s"$dir/deltas")
      .selectExpr("cast(ingest_batch as long)").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(deltaBatches == Seq(0L, 1L, 2L), s"deltas changed: $deltaBatches")
    // idempotent when already compact
    assert(SemDeDupIndex.compact(spark, dir).isEmpty)

    // an append AFTER compaction still equals the from-scratch batch run
    // (stored side = all members in batch 0 < 3, same content as before)
    SemDeDupIndex.append(spark, dir, 3L, df(all.drop(20)))
    assert(table(SemDeDupIndex.removals(spark, dir))
      == batchRemovals(slices.head, all))

    // crash healing: replicate the exact crashed-compact state — duplicate
    // member COPIES in a stray higher batch, no delta — then the re-run
    // folds them away and removals stay exact
    val stray = spark.read.parquet(s"$dir/members")
      .filter(org.apache.spark.sql.functions.col("vec_id").between(8, 15))
      .drop("ingest_batch").localCheckpoint()
    stray.write.mode("overwrite").parquet(s"$dir/members/ingest_batch=4")
    assert(SemDeDupIndex.compact(spark, dir) == Seq(3L, 4L))
    val healed = spark.read.parquet(s"$dir/members")
    assert(healed.count() == 24L, "heal left duplicate members")
    assert(table(SemDeDupIndex.removals(spark, dir))
      == batchRemovals(slices.head, all))
  }

  test("block-split pair grid is an exact refinement: any blocks == blocks=1") {
    // the round-11 s11 scale fix: sub-splitting each cluster's pair join
    // into (cluster, iBlock, jBlock) tiles must reproduce the EXACT pair
    // set (every a<b pair meets in precisely one tile) — on real
    // embeddings, for several block factors, down to the cosine values.
    val e = spark.read.parquet(s"$sfSmoke/embeddings.parquet")
      .select("vec_id", "embedding")
    val (assign, _) = KMeans.lloyd(e, "vec_id", "embedding", k = 8, iters = 2)
    val m = SemDedup.members(e, assign)
    def pairs(blocks: Int) =
      SemDedup.shadowPairs(m, blocks).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
    val base = pairs(1)
    assert(base.nonEmpty, "no shadow pairs on the smoke embeddings")
    for (b <- Seq(2, 3, 4))
      assert(pairs(b) == base, s"blocks=$b diverged from the unblocked pair set")
    // round 12: PER-CLUSTER block factors (the size-aware straggler fix)
    // are the same exact refinement — a pair's two sides read the SAME
    // cluster's B_c, so it still meets in exactly one tile. Deliberately
    // adversarial maps: skewed, partial (missing clusters fall back to
    // B=1), and B exceeding small cluster sizes.
    def sizedPairs(m2: Map[Long, Int]) =
      SemDedup.shadowPairsSized(m, m2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
    val clusters = assign.select("cluster").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val skewed = clusters.zipWithIndex
      .map { case (c, i) => c -> (1 + (i % 5) * 3) }.toMap
    val partial = skewed.filter { case (c, _) => c % 2 == 0 }
    val oversized = clusters.map(_ -> 16).toMap
    for ((tag, m2) <- Seq(("skewed", skewed), ("partial", partial),
        ("oversized", oversized)))
      assert(sizedPairs(m2) == base,
        s"per-cluster map '$tag' diverged from the unblocked pair set")
    // and the production derivation itself (sizes → B_c) is exact too
    val derived = graft.queries.VectorQueries.blocksBySize(
      graft.queries.VectorQueries.clusterSizes(assign))
    assert(sizedPairs(derived) == base,
      "blocksBySize-derived map diverged from the unblocked pair set")
  }

  test("incremental pair joins broadcast a small fresh batch — no forced shuffle") {
    // evidence for the ADVICE-r11 fix (incrementalShadowPairs passes
    // hintShuffle = false): against a parquet-backed stored side, the
    // executed plan must broadcast the tiny fresh batch in the pair
    // joins — the unconditional shuffle_hash hint this replaces made
    // every microbatch shuffle the FULL stored members side. AQE decides
    // from actual runtime sizes, so the tiny side broadcasts regardless
    // of static estimates; the pin asserts no sort-merge or shuffled-hash
    // join survives anywhere in the final plan.
    val rows = (0L until 3000L)
      .map(i => (i, vec((i % 3).toInt, 0.001f * (i % 7))))
    val (_, cents) = KMeans.lloyd(df(rows), "vec_id", "embedding", 3, 2)
    val m = SemDedup.members(df(rows),
      KMeans.assignTo(df(rows), "vec_id", "embedding", cents))
    val dir = Files.createTempDirectory("semdedup_bcast").toString
    m.write.parquet(s"$dir/members")
    val stored = spark.read.parquet(s"$dir/members")
    val freshRows = (9000L until 9008L)
      .map(i => (i, vec((i % 3).toInt, 0.002f)))
    val fresh = SemDedup.members(df(freshRows),
      KMeans.assignTo(df(freshRows), "vec_id", "embedding", cents))
    val out = SemDedup.removals(
      SemDedup.incrementalShadowPairs(stored, fresh))
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"fresh batch was not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"a shuffle join survived in the incremental pair plan:\n$plan")
  }

  test("members accumulate exactly the ingested vectors") {
    val dir = Files.createTempDirectory("semdedup_idx_members").toString
    SemDeDupIndex.build(df(all.take(10)), dir, k = 3)
    SemDeDupIndex.append(spark, dir, 1L, df(all.drop(10)))
    val stored = spark.read.parquet(s"$dir/members")
      .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(stored == (0L until 24L))
    // and a replayed append leaves no duplicate members behind
    SemDeDupIndex.append(spark, dir, 1L, df(all.drop(10)))
    assert(spark.read.parquet(s"$dir/members").count() == 24L)
  }
}
