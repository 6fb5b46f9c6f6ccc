package graft.operators

import graft.{SparkEntry, SparkSpec}

/** ANN QUALITY measurement, not just determinism: the pruned search paths
  * (IVF 1-probe s02, IVF 2-probe s05, cosine-LSH s06) are oracle-proven to
  * compute exactly what they claim, but what they claim is approximate —
  * this spec quantifies recall against the exact brute-force top-k (s01)
  * on the same corpus, so a regression in index quality (bad centroids,
  * broken banding) fails the suite even while hashes still match.
  *
  * The corpus and all paths are deterministic, so the measured recalls are
  * stable constants, asserted as floors (not equalities) to stay robust to
  * benign query-set changes.
  */
class AnnRecallSpec extends SparkSpec {

  private def topK(name: String, k: Int): Map[Long, Seq[Long]] =
    SparkEntry.queries(name)(spark, sfSmoke)
      .select("q_id", "c_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(_._3 <= k)
      .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._3).map(_._2).toSeq }

  private def recallAgainstTruth(got: Map[Long, Seq[Long]],
                                 truth: Map[Long, Seq[Long]]): Double = {
    val hits = truth.toSeq.map { case (q, t) =>
      got.getOrElse(q, Nil).count(t.contains).toDouble / t.size
    }
    hits.sum / hits.size
  }

  test("IVF 2-probe recall@3 dominates 1-probe; k-means-trained index beats the raw label index") {
    val truth = topK("s01_knn_brute", 3)
    val r1 = recallAgainstTruth(topK("s02_knn_ivf_label", 3), truth)
    val r2 = recallAgainstTruth(topK("s05_knn_ivf_multiprobe", 3), truth)

    // same 2-probe search over the LEARNED index: assign the corpus with
    // Lloyd's (operators/KMeans), probe each query's 2 nearest learned
    // centroids by exact integer distance, re-rank exactly
    val e = spark.read.parquet(s"$sfSmoke/embeddings.parquet")
    val (assign, cents) = KMeans.lloyd(e, "vec_id", "embedding", k = 8, iters = 4)
    val centArr = cents.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (c, xs) =>
        c -> xs.sortBy(_._2).map(_._3)
      }
    val vecs = e.selectExpr("vec_id",
        "transform(embedding, v -> CAST(floor(v*1000.0+0.5) AS BIGINT)) AS qv")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val assigned = assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def nearest2(q: Array[Long]): Seq[Long] =
      centArr.toSeq.map { case (c, cv) =>
        (cv.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum, c)
      }.sorted.take(2).map(_._2)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      dot / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val kmeansGot = truth.keys.map { q =>
      val probes = nearest2(vecs(q)).toSet
      val cands = vecs.keys.filter(c => c != q && probes.contains(assigned(c)))
      q -> cands.toSeq.map(c => (-cos(vecs(q), vecs(c)), c)).sorted.take(3).map(_._2)
    }.toMap
    val rk = recallAgainstTruth(kmeansGot, truth)

    info(s"recall@3: label 1-probe=$r1, label 2-probe=$r2, kmeans 2-probe=$rk")
    // measured constants on this deterministic corpus: 0.0 / 0.2 / 0.93.
    // The raw source label is a POOR coarse quantizer (recall 0-0.2) —
    // which is precisely why the engine ships a trainer: the same 2-probe
    // search over KMeans.lloyd assignments recalls 0.93. Floors sit just
    // under the measured values so an index-quality regression fails.
    assert(r2 >= r1, s"2-probe recall $r2 below 1-probe $r1")
    assert(rk > r2 + 0.3, s"k-means index recall $rk does not clearly beat label index $r2")
    assert(rk >= 0.85, s"k-means 2-probe recall@3 degraded to $rk")
  }

  test("LSH near-dup finds every pair the exact blocked search finds above its threshold") {
    // s04 = exact cosine pairs blocked by label (ground truth within
    // blocks); s06 = LSH candidates re-ranked exactly. Every s04 pair with
    // cos >= s06's 0.35 threshold AND matching at least one LSH band should
    // appear in s06; measure containment instead of assuming it.
    val exact = SparkEntry.queries("s04_embedding_neardup")(spark, sfSmoke)
      .select("a_id", "b_id", "cos_sim").collect()
      .filter(_.getDouble(2) >= 0.35)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("s06_lsh_neardup")(spark, sfSmoke)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = exact.count(lsh.contains)
    info(s"LSH recall on strong pairs: $found of ${exact.size}")
    // measured constant on this deterministic corpus: 5/14 ≈ 0.36, in line
    // with the analytic 1-(1-p^4)^4 ≈ 0.45 at cos 0.35 — assert a floor
    // just below it so a banding regression (wrong plane math, broken
    // bucketing) fails while the inherent LSH tradeoff does not
    assert(exact.isEmpty || found.toDouble / exact.size >= 0.3,
      s"LSH recalled $found of ${exact.size} strong pairs")
    assert(lsh.nonEmpty)
  }
}
