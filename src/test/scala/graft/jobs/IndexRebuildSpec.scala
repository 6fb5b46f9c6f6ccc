package graft.jobs

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Rebuilding an index IN PLACE over a path that already holds appended
  * batches — the drift remedy every index's append scaladoc prescribes —
  * must start clean: build() owns only batch 0's subtree on the write
  * side, so without an explicit clear the stale `ingest_batch >= 1`
  * partitions (assigned under the OLD centroids / dictionary / histogram)
  * would silently survive into the fresh index. Each test dirties a path
  * with an append, rebuilds over a DIFFERENT corpus, and asserts the
  * index equals a fresh-path build over that corpus alone. */
class IndexRebuildSpec extends SparkSpec {
  import spark.implicits._

  private def batchesUnder(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      .map(_.getName).toSeq.sorted

  private def vec(axis: Int, wiggle: Float): Seq[Float] = {
    val v = Array.fill(8)(0.001f)
    v(axis) = 1.0f
    v((axis + 3) % 8) = wiggle
    v.toSeq
  }
  private def vecs(ids: Range) =
    ids.map(i => (i.toLong, vec(i % 3, 0.001f * (i / 3)))).toDF("vec_id", "embedding")

  test("SemDeDupIndex.build over a dirty path clears appended members and deltas") {
    val dir = Files.createTempDirectory("semdedup_rebuild").toString
    SemDeDupIndex.build(vecs(0 until 12), dir, k = 3)
    SemDeDupIndex.append(spark, dir, 1L, vecs(12 until 24))
    assert(batchesUnder(s"$dir/members").size == 2, "fixture did not dirty the path")

    // rebuild over a different corpus (ids 30..41) in place
    val rebuilt = vecs(30 until 42)
    SemDeDupIndex.build(rebuilt, dir, k = 3)
    assert(batchesUnder(s"$dir/members") == Seq("ingest_batch=0"))
    assert(batchesUnder(s"$dir/deltas") == Seq("ingest_batch=0"))
    val storedIds = spark.read.parquet(s"$dir/members")
      .select("vec_id").as[Long].collect().toSet
    assert(storedIds == (30L until 42L).toSet,
      s"stale members leaked into the rebuild: $storedIds")

    // removals equal a fresh-path build over the same corpus
    val fresh = Files.createTempDirectory("semdedup_rebuild_ref").toString
    SemDeDupIndex.build(rebuilt, fresh, k = 3)
    def tab(p: String) = SemDeDupIndex.removals(spark, p).collect()
      .map(_.toString).toSeq.sorted
    assert(tab(dir) == tab(fresh), "rebuild diverged from a clean build")
  }

  test("AnnIndex.build over a dirty path clears appended vector batches") {
    val e = spark.read.parquet(s"$sfSmoke/embeddings.parquet")
    val dir = Files.createTempDirectory("ann_rebuild").toString
    AnnIndex.build(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      k = 4, iters = 2, dir)
    AnnIndex.append(spark, dir, 1L, e.filter(col("vec_id") % 2 === 1))
    assert(batchesUnder(s"$dir/vectors").size == 2, "fixture did not dirty the path")

    val rebuilt = e.filter(col("vec_id") % 3 === 0)
    AnnIndex.build(rebuilt, "vec_id", "embedding", k = 4, iters = 2, dir)
    assert(batchesUnder(s"$dir/vectors") == Seq("ingest_batch=0"))
    val storedIds = spark.read.parquet(s"$dir/vectors")
      .select("vec_id").as[Long].collect().toSet
    val wantIds = rebuilt.select("vec_id").as[Long].collect().toSet
    assert(storedIds == wantIds,
      "vectors assigned under the old centroids leaked into the rebuild")
  }

  test("AnnIndex.build with a smaller k after a Sink write drops the old clusters") {
    // a dynamic-overwrite Sink write earlier in the session must not turn
    // build's overwrite of batch 0 dynamic: clusters 2 and 3 of the k = 4
    // build would then survive the k = 2 rebuild
    graft.core.Sink.overwritePartitions(Seq(("2026-01", 1.0)).toDF("period", "amount"),
      Files.createTempDirectory("ann_rebuild_sink").toString + "/t", Seq("period"))
    val e = spark.read.parquet(s"$sfSmoke/embeddings.parquet")
    val dir = Files.createTempDirectory("ann_rebuild_k").toString
    AnnIndex.build(e, "vec_id", "embedding", k = 4, iters = 2, dir)
    AnnIndex.build(e, "vec_id", "embedding", k = 2, iters = 2, dir)
    val clusters = spark.read.parquet(s"$dir/vectors")
      .select("cluster").distinct().as[Int].collect().toSet
    assert(clusters == Set(0, 1))
  }

  test("NearDupIndex.build over a dirty path clears appended doc sets") {
    val a = Seq(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "eta theta iota kappa lambda mu").toDF("doc_id", "text")
    val b = Seq(10L -> "nu xi omicron pi rho sigma").toDF("doc_id", "text")
    val c = Seq(20L -> "tau upsilon phi chi psi omega",
      21L -> "tau upsilon phi chi psi omegb").toDF("doc_id", "text")
    val dir = Files.createTempDirectory("neardup_rebuild").toString
    NearDupIndex.build(a, dir, gramLen = 4, capNum = 9, capDen = 10)
    NearDupIndex.append(spark, dir, 1L, b)
    assert(batchesUnder(s"$dir/docsets").size == 2, "fixture did not dirty the path")

    NearDupIndex.build(c, dir, gramLen = 4, capNum = 9, capDen = 10)
    assert(batchesUnder(s"$dir/docsets") == Seq("ingest_batch=0"))
    val storedIds = spark.read.parquet(s"$dir/docsets")
      .select("doc_id").as[Long].collect().toSet
    assert(storedIds == Set(20L, 21L),
      s"doc sets fingerprinted under the old dictionary leaked: $storedIds")
  }

  test("BpeVocabIndex.build over a dirty path clears refreshed histograms") {
    val a = Seq(1L -> "low lower lowest").toDF("id", "text")
    val b = Seq(2L -> "new newer newest").toDF("id", "text")
    val c = Seq(3L -> "wide wider widest").toDF("id", "text")
    val dir = Files.createTempDirectory("bpe_rebuild").toString
    BpeVocabIndex.build(a, dir, rounds = 3)
    BpeVocabIndex.refresh(spark, dir, 1L, b)
    assert(batchesUnder(s"$dir/word_counts").size == 2,
      "fixture did not dirty the path")

    BpeVocabIndex.build(c, dir, rounds = 3)
    assert(batchesUnder(s"$dir/word_counts") == Seq("ingest_batch=0"))
    def counts(p: String) = BpeVocabIndex.counts(spark, p).collect()
      .map(_.toString).toSet
    val fresh = Files.createTempDirectory("bpe_rebuild_ref").toString
    BpeVocabIndex.build(c, fresh, rounds = 3)
    assert(counts(dir) == counts(fresh),
      "stale batch histograms summed into the rebuilt vocabulary")
    def merges(p: String) = BpeVocabIndex.merges(spark, p).collect()
      .map(_.toString).toSeq.sorted
    assert(merges(dir) == merges(fresh))
  }
}
