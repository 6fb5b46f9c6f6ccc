package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The distinct (density-constant) ScaleUp mode must deliver what the
  * scaling measurements assume: within one replica the corpus's near-dup
  * structure is EXACTLY the base corpus's (bijective word rename / signed
  * coordinate permutation), while across replicas docs stop being
  * near-dups — so true pair volume grows ∝ factor, not ∝ factor². */
class ScaleUpSpec extends SparkSpec {

  private lazy val out = {
    val dir = Files.createTempDirectory("scaleup_distinct").toString
    ScaleUp.run(spark, sfSmoke, dir, factor = 3, mode = "distinct")
    dir
  }

  private def wordSet(text: String): Set[String] =
    text.split(" ").filter(_.nonEmpty).toSet

  private def jac(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else a.intersect(b).size.toDouble / a.union(b).size.toDouble

  test("distinct mode: ids are unique and replica counts are exact") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val base = spark.read.parquet(s"$sfSmoke/documents.parquet")
    assert(docs.count() == 3 * base.count())
    assert(docs.select("doc_id").distinct().count() == docs.count())
    val embs = spark.read.parquet(s"$out/embeddings.parquet")
    assert(embs.select("vec_id").distinct().count() == embs.count())
  }

  test("distinct mode: within-replica word-set Jaccard equals the base corpus's exactly") {
    val base = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(12).collect()
      .map(r => r.getLong(0) -> wordSet(r.getString(1)))
    // replica 1 of the same docs (offset = 10^9 at smoke scale)
    val off = 1000000000L
    val ids = base.map(_._1 + off).toSeq
    val rep = spark.read.parquet(s"$out/documents.parquet")
      .filter(col("doc_id").isin(ids: _*))
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0) - off) -> wordSet(r.getString(1))).toMap
    for {
      (ia, sa) <- base; (ib, sb) <- base if ia < ib
    } assert(jac(sa, sb) == jac(rep(ia), rep(ib)),
      s"jaccard($ia,$ib) drifted in replica 1")
  }

  test("distinct mode: the same doc across replicas stops being a near-dup") {
    val off = 1000000000L
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val a = docs.filter(col("doc_id") === 5).select("text").head().getString(0)
    val r1 = docs.filter(col("doc_id") === 5 + off).select("text").head().getString(0)
    val r2 = docs.filter(col("doc_id") === 5 + 2 * off).select("text").head().getString(0)
    // bijectively renamed words share (almost) nothing at the word level —
    // two independent ciphers CAN map short words onto each other
    // (perm_r1(w) == perm_r2(w') has ~1/62 odds per 1-char word pair), so
    // the invariant is "far below near-dup range", not exact zero
    assert(jac(wordSet(a), wordSet(r1)) < 0.05)
    assert(jac(wordSet(r1), wordSet(r2)) < 0.05)
    // and the texts are not equal (exact-dup-free)
    assert(a != r1 && r1 != r2)
  }

  test("distinct mode: signed permutation preserves intra-replica quantized dots exactly, kills cross-replica cosine") {
    val off = 1000000000L
    val base = spark.read.parquet(s"$sfSmoke/embeddings.parquet")
      .filter(col("vec_id") < 40)
    val scaled = spark.read.parquet(s"$out/embeddings.parquet")
    val rep1 = scaled.filter(col("vec_id") >= off && col("vec_id") < off + 40)
      .select((col("vec_id") - off).as("vec_id"), col("embedding"))
    // the multiset of per-coordinate products is preserved EXACTLY by a
    // signed permutation ((−a)(−b) == ab in IEEE float): compare the
    // sorted product arrays pairwise — a stronger, float-exact form of
    // "inner products preserved" that no summation order can blur
    def dots(d: org.apache.spark.sql.DataFrame): Map[(Long, Long), Seq[Float]] =
      d.as("x").join(d.select(col("vec_id").as("vid2"),
          col("embedding").as("emb2")),
          col("vec_id") < col("vid2"))
        .select(col("vec_id"), col("vid2"),
          sort_array(zip_with(col("embedding"), col("emb2"),
            (a, b) => a * b)).as("prods"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Float](2)).toMap
    val bd = dots(base.select("vec_id", "embedding"))
    val rd = dots(rep1)
    assert(bd.nonEmpty && bd == rd,
      "intra-replica product multisets drifted under the permutation")
    // cross-replica: the SAME vector against its permuted self decorrelates —
    // the pairs that were exact dups (cos 1.0) in dense mode. Deterministic
    // data, so the bound is stable; τ=0.3 is the semdedup prune threshold.
    val self = base.select(col("vec_id"), col("embedding"))
      .join(rep1.select(col("vec_id"), col("embedding").as("emb2")), "vec_id")
      .select(
        graft.functions.VectorExpressions.quantizedDot(
          col("embedding"), col("emb2")).cast("double").as("dot"),
        graft.functions.VectorExpressions.quantizedNorm2(col("embedding"))
          .cast("double").as("n2a"),
        graft.functions.VectorExpressions.quantizedNorm2(col("emb2"))
          .cast("double").as("n2b"))
      .select((col("dot") / (sqrt(col("n2a")) * sqrt(col("n2b")))).as("cos"))
      .collect().map(_.getDouble(0))
    // at d = 64 a perfectly decorrelated pair has cos σ ≈ 1/√64 = 0.125,
    // so a rare tail above τ is expected of ANY orthogonal scramble; the
    // density claim needs the BULK below τ and no mass near 1.0
    val absCos = self.map(math.abs)
    assert(absCos.sum / absCos.length < 0.15,
      s"mean |cos| ${absCos.sum / absCos.length} — permutation failed to decorrelate")
    assert(absCos.count(_ >= 0.3).toDouble / absCos.length <= 0.1,
      s"${absCos.count(_ >= 0.3)}/${absCos.length} self-pairs ≥ τ")
    assert(absCos.max < 0.7, s"a self-pair stayed close to exact-dup: ${absCos.max}")
  }

  test("distinct mode: replica transforms stay pairwise-distinct at factor ≥ d") {
    // the rejected ROTATION design pigeonholed at factor ≥ d: replicas
    // with equal rotation mod d shared the whole permutation, so their
    // cosine was ±Σ±v_j²/‖v‖² — above τ for energy-concentrated vectors.
    // Full seeded permutations must make 100 tags (a single-pass
    // factor-100 build, d = 64) pairwise distinct in BOTH perm and signs,
    // and identity exactly at tag 0.
    val d = 64
    val perms = (0 until 100).map(r => ScaleUp.permFor(r.toLong, d).toSeq)
    val signs = (0 until 100).map(r => ScaleUp.signsFor(r.toLong, d).toSeq)
    assert(perms(0) == (0 until d))
    assert(signs(0) == Seq.fill(d)(1f))
    assert(perms.distinct.size == 100, "permutation collision across tags")
    assert(signs.distinct.size == 100, "sign-pattern collision across tags")
    // and a chained pass's tags (docMult = 1000) collide with nothing here
    val chained = (1 until 10).map(r => ScaleUp.permFor(r * 1000L, d).toSeq)
    assert((perms ++ chained).distinct.size == 109)
  }

  test("distinct_wide: within-replica Jaccard exact, cross-replica disjoint, refuses non-ASCII input") {
    val dir = Files.createTempDirectory("scaleup_wide").toString
    ScaleUp.run(spark, sfSmoke, dir, factor = 3, mode = "distinct_wide")
    val off = 1000000000L
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = spark.read.parquet(s"$sfSmoke/documents.parquet")
    assert(docs.count() == 3 * base.count())
    // within-replica: word-set Jaccard preserved exactly (bijection)
    val b = base.select("doc_id", "text").orderBy("doc_id").limit(8).collect()
      .map(r => r.getLong(0) -> wordSet(r.getString(1)))
    val ids = b.map(_._1 + off).toSeq
    val rep = docs.filter(col("doc_id").isin(ids: _*))
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0) - off) -> wordSet(r.getString(1))).toMap
    for { (ia, sa) <- b; (ib, sb) <- b if ia < ib }
      assert(jac(sa, sb) == jac(rep(ia), rep(ib)), s"jaccard($ia,$ib) drifted")
    // cross-replica: wide families share chars only by subset birthday —
    // whole WORDS colliding is vanishing
    val a = docs.filter(col("doc_id") === 5).head().getAs[String]("text")
    val r1 = docs.filter(col("doc_id") === 5 + off).head().getAs[String]("text")
    val r2 = docs.filter(col("doc_id") === 5 + 2 * off).head().getAs[String]("text")
    assert(jac(wordSet(a), wordSet(r1)) == 0.0)
    assert(jac(wordSet(r1), wordSet(r2)) == 0.0)
    // every ciphered char is from the 2-byte single-code-unit pool and
    // replica 0 is byte-identical to the BASE TABLE's row (comparing the
    // scaled frame against itself here was vacuous — review finding)
    assert(r1.forall(c => c == ' ' || (c >= 0x100 && c <= 0x7FF)),
      "non-pool char in wide replica")
    val baseText5 = base.filter(col("doc_id") === 5).head().getAs[String]("text")
    assert(a == baseText5, "wide replica 0 drifted from the base corpus")
    // chaining / non-ASCII input refused loudly
    val err = intercept[IllegalArgumentException] {
      ScaleUp.run(spark, dir, Files.createTempDirectory("w2").toString,
        factor = 2, mode = "distinct_wide")
    }
    assert(err.getMessage.contains("pure-ASCII"))
  }

  test("distinct_wide: 1000 family char sets are pairwise gram-disjoint enough") {
    // the property the 62-char cipher measurably lost at ~1000 families:
    // count pairwise char-set overlaps across 1000 wide ciphers — a
    // 4-gram collision needs 4 aligned shared chars, so small overlaps
    // are harmless (expected ~62²/1792 ≈ 2 shared chars per pair); what
    // must NOT happen is wholesale char-set reuse
    val sets = (0 until 1000).map(r => ScaleUp.cipherToWide(r.toLong).toSet)
    assert(sets.head == ScaleUp.alphabet.toSet)
    var worst = 0
    for (i <- 1 until 1000; j <- (i + 1) until 1000 by 97) { // strided sample
      val o = (sets(i) intersect sets(j)).size
      if (o > worst) worst = o
    }
    assert(worst <= 12, s"a sampled family pair shares $worst chars")
    assert(sets.drop(1).forall(_.size == 62))
    // production tags are r * docMult; cover a docMult > 1 seed family
    // (base ids >= 1e9 make docMult 1000) — a correlated-seed degeneracy
    // there must fail here, not on a surface
    val strided = (1 until 1000).map(r => ScaleUp.cipherToWide(r * 1000L).toSet)
    var worstS = 0
    for (i <- 0 until strided.length; j <- (i + 1) until strided.length by 97) {
      val o = (strided(i) intersect strided(j)).size
      if (o > worstS) worstS = o
    }
    assert(worstS <= 12, s"a sampled strided-tag pair shares $worstS chars")
  }

  test("dense mode first application reproduces the legacy layout shape") {
    val dir = Files.createTempDirectory("scaleup_dense").toString
    ScaleUp.run(spark, sfSmoke, dir, factor = 2, mode = "dense")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = spark.read.parquet(s"$sfSmoke/documents.parquet")
    assert(docs.count() == 2 * base.count())
    // replica 1 text = base text + " r1" (docMult = 1 on first application)
    val t0 = base.filter(col("doc_id") === 3).head().getAs[String]("text")
    val t1 = docs.filter(col("doc_id") === 3 + 1000000000L)
      .head().getAs[String]("text")
    assert(t1 == t0 + " r1")
  }
}
