package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.SparkSpec

/** Streaming LSH near-dup must (1) match the batch t07 pair set exactly
  * when state is uncapped, (2) be arrival-order-free, (3) keep flagging
  * against a full bucket without growing it. */
class NearDupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def addBatch(dir: java.nio.file.Path, name: String,
                       rows: Seq[(Long, String)]): Unit = {
    val stage = Files.createTempDirectory(s"neardup_stage_$name")
    rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(Paths.get(part), dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private val corpus: Seq[(Long, String)] = {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      1L -> base,
      2L -> base, // exact dup of 1 → collides in every band
      3L -> (base + " lambda"), // near mutation
      4L -> base.replace("kappa", "omega"), // near mutation
      5L -> "totally different words nothing shared with the others at all",
      6L -> (base + " lambda"), // exact dup of 3, lands in a LATER batch
      7L -> "totally different words nothing shared with the others at all")
  }

  test("cross-batch hits equal the batch t07 pair set (parity + order-free)") {
    // two arrival orders over the same corpus must both reproduce the
    // batch self-join pairs — every pair is emitted when its later member
    // arrives, so the set cannot depend on file order
    val splits = Seq(
      Seq("b1" -> corpus.take(4), "b2" -> corpus.drop(4)),
      Seq("b1" -> corpus.drop(4), "b2" -> corpus.take(4)))
    val expected = NearDupStream
      .batchPairs(corpus.toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toSet
    // sanity on the fixture: exact dups pair, the unrelated docs pair only
    // with each other, and at least one pair crosses the batch boundary
    assert(expected.contains((1L, 2L)) && expected.contains((3L, 6L)))
    assert(expected.contains((5L, 7L)))
    for ((split, i) <- splits.zipWithIndex) {
      val dir = Files.createTempDirectory(s"neardup_stream_$i")
      split.foreach { case (name, rows) => addBatch(dir, name, rows) }
      val got = NearDupStream.runOnce(spark, dir.toString, s"neardup_hits_$i")
        .as[(Long, Long)].collect().toSet
      assert(got == expected, s"order $i: $got != $expected")
    }
  }

  test("streaming scheme is byte-identical to the GATED t07 query's bands") {
    // bandKeys is the one definition both sides use in production code, so
    // pin it against the independently-written t07 registry SQL-equivalent
    // (min over exploded postings) rather than against itself
    val dir = Files.createTempDirectory("neardup_t07")
    corpus.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val t07 = graft.SparkEntry.queries("t07_minhash_lsh")(spark, dir.toString)
      .as[(Long, Long)].collect().toSet
    val mine = NearDupStream.batchPairs(
      spark.read.parquet(dir.resolve("documents.parquet").toString))
      .as[(Long, Long)].collect().toSet
    assert(mine == t07 && t07.nonEmpty)
  }

  test("an at-least-once replay never burns bucket slots") {
    // the corpus dir is written by an at-least-once foreachBatch: a replayed
    // file re-delivers docs 1 and 2. Without the membership guard the
    // replay would re-insert doc 1 into the cap-3 bucket, crowding out doc
    // 3's slot and silently losing the (3,4) pair
    val same = "identical text repeated in every single document here"
    val dir = Files.createTempDirectory("neardup_replay")
    addBatch(dir, "b1", Seq(1L -> same, 2L -> same))
    addBatch(dir, "b1_replay", Seq(1L -> same, 2L -> same))
    addBatch(dir, "b2", Seq(3L -> same))
    addBatch(dir, "b3", Seq(4L -> same))
    val got = NearDupStream.runOnce(spark, dir.toString, "neardup_replay",
      maxPerBucket = 3)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L)))
  }

  test("full bucket keeps flagging but stops growing (maxPerBucket)") {
    val same = "identical text repeated in every single document here"
    val dir = Files.createTempDirectory("neardup_cap")
    addBatch(dir, "b1", Seq(1L -> same, 2L -> same, 3L -> same))
    addBatch(dir, "b2", Seq(4L -> same))
    val got = NearDupStream.runOnce(spark, dir.toString, "neardup_cap",
      maxPerBucket = 2)
      .as[(Long, Long)].collect().toSet
    // seen caps at {1, 2}: 3 and 4 still flag against 1 and 2 (the dedup
    // decision is preserved) but never against each other
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)))
  }
}
