package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The native argmin kernel must agree with an independent driver-side
  * reference on BOTH execution paths — generated code (the DataFrame run)
  * and interpreted eval (constant-folding / fallback contexts) — including
  * distance ties (lower cluster id wins) and Long-range arithmetic. */
class NearestCentroidSpec extends SparkSpec {
  import spark.implicits._

  private def reference(q: Array[Long], cents: Seq[(Long, Array[Long])]): (Long, Long) =
    cents.map { case (id, c) =>
      val n = math.min(q.length, c.length)
      var acc = 0L
      var i = 0
      while (i < n) { val d = q(i) - c(i); acc += d * d; i += 1 }
      (acc, id)
    }.min

  private val gen = for {
    dim <- Gen.choose(1, 8)
    k <- Gen.choose(1, 5)
    vecs <- Gen.listOfN(6, Gen.listOfN(dim, Gen.choose(-2000L, 2000L)))
    cents <- Gen.listOfN(k, Gen.listOfN(dim, Gen.choose(-2000L, 2000L)))
  } yield (vecs.map(_.toArray), cents.map(_.toArray))

  test("codegen path matches the driver-side reference (property)") {
    val prop = Prop.forAll(gen) { case (vecs, cents) =>
      val books = cents.zipWithIndex.map { case (c, j) => (j.toLong, c) }
      val got = vecs.zipWithIndex.toDF("qv", "i")
        .withColumn("best", graft.operators.KMeans.bestCentroid(books, col("qv")))
        .select(col("i"), col("best.dist"), col("best.cluster"))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      vecs.zipWithIndex.forall { case (q, i) => got(i) == reference(q, books) }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- large-k: the group-pruned EXACT path (k >= Threshold) ----

  test("pruned path (k >= 128) matches the reference on clustered centroids (property)") {
    // clustered centroids make pruning actually fire; a tiny coordinate
    // domain forces frequent exact distance TIES (the lower-id rule) and
    // duplicate centroid vectors under different ids
    val bigGen = for {
      dim <- Gen.choose(2, 6)
      k <- Gen.choose(VectorExpressions.PrunedCentroidIndex.Threshold, 200)
      nClusters <- Gen.choose(2, 8)
      centers <- Gen.listOfN(nClusters, Gen.listOfN(dim, Gen.choose(-5000L, 5000L)))
      offsets <- Gen.listOfN(k, Gen.listOfN(dim, Gen.choose(-3L, 3L)))
      pick <- Gen.listOfN(k, Gen.choose(0, nClusters - 1))
      vecs <- Gen.listOfN(8, Gen.listOfN(dim, Gen.choose(-6000L, 6000L)))
    } yield {
      val cents = offsets.zip(pick).map { case (o, p) =>
        centers(p).zip(o).map { case (c, d) => c + d }.toArray
      }
      // queries: 4 random + 4 sitting exactly ON a centroid (dist-0 ties)
      (vecs.map(_.toArray) ++ cents.take(4).map(_.clone()), cents)
    }
    val prop = Prop.forAll(bigGen) { case (vecs, cents) =>
      val books = cents.zipWithIndex.map { case (c, j) => (j.toLong, c) }
      val got = vecs.zipWithIndex.toDF("qv", "i")
        .withColumn("best", graft.operators.KMeans.bestCentroid(books, col("qv")))
        .select(col("i"), col("best.dist"), col("best.cluster"))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      vecs.zipWithIndex.forall { case (q, i) => got(i) == reference(q, books) }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("pruned path: duplicate centroids tie to the lower id; dim-mismatch rows fall back") {
    val base = Array.tabulate(150)(j =>
      Array(j.toLong * 10, (j % 7).toLong, -j.toLong, 3L))
    // centroid 149 duplicates centroid 3 exactly — id 3 must win for a
    // query sitting on it
    base(149) = base(3).clone()
    val books = base.zipWithIndex.map { case (c, j) => (j.toLong, c) }.toSeq
    val queries = Seq(
      base(3).clone(),             // exact duplicate-pair hit: tie -> id 3
      Array(0L, 0L, 0L, 0L),
      Array(1500L, 3L, -150L, 3L), // equidistant-ish mid-cluster
      Array(7L, 7L),               // SHORTER than dim: truncated semantics
      Array(7L, 7L, 7L, 7L, 7L, 7L)) // LONGER than dim
    val got = queries.zipWithIndex.toDF("qv", "i")
      .withColumn("best", graft.operators.KMeans.bestCentroid(books, col("qv")))
      .select(col("i"), col("best.dist"), col("best.cluster"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    queries.zipWithIndex.foreach { case (q, i) =>
      assert(got(i) == reference(q, books), s"query $i diverged")
    }
    assert(got(0)._2 == 3L, "duplicate-centroid tie must resolve to the lower id")
  }

  test("pruned path: generated code COMPILES (no silent interpreter fallback) and matches") {
    // DataFrame runs fall back to interpreted execution silently if
    // expression codegen fails to compile, so the property tests above
    // cannot by themselves prove the large-k generated branch is valid
    // Java — generate the projection directly: Janino rejection throws
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types._
    val cents = (0 until 140).map(j => (j.toLong, Array(j.toLong * 7, (j % 11).toLong, -j.toLong)))
    val expr = VectorExpressions.NearestCentroid(
      BoundReference(0, ArrayType(LongType), nullable = true),
      Literal.create(cents.map(_._2.toSeq), ArrayType(ArrayType(LongType))),
      Literal.create(cents.map(_._1), ArrayType(LongType)))
    val proj = GenerateMutableProjection.generate(Seq(expr))
    for (q <- Seq(Array(0L, 0L, 0L), Array(490L, 5L, -70L), Array(973L, 10L, -139L),
        Array(1L, 2L))) { // incl. a dim-mismatch row through generated code
      val row = proj(InternalRow(ArrayData.toArrayData(q))).getStruct(0, 2)
      assert((row.getLong(0), row.getLong(1)) == reference(q, cents),
        s"generated code diverged on ${q.toSeq}")
    }
  }

  test("large-k RAGGED matrix stays on the flat path with truncated semantics") {
    // parseCentroids imposes no rectangularity; the flat loop defines
    // min(n, row.length) truncation, which the triangle bound cannot
    // reproduce — a ragged matrix must compute, not throw
    val base = Array.tabulate(150)(j => Array(j.toLong, j.toLong * 2, j.toLong * 3))
    base(77) = Array(77L) // ragged row
    val books = base.zipWithIndex.map { case (c, j) => (j.toLong, c) }.toSeq
    val queries = Seq(Array(77L, 0L, 0L), Array(10L, 20L, 30L))
    val got = queries.zipWithIndex.toDF("qv", "i")
      .withColumn("best", graft.operators.KMeans.bestCentroid(books, col("qv")))
      .select(col("i"), col("best.dist"), col("best.cluster"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    queries.zipWithIndex.foreach { case (q, i) =>
      assert(got(i) == reference(q, books), s"query $i diverged on ragged matrix")
    }
    // the short row wins query 0 outright: its truncated distance is 0
    assert(got(0) == ((0L, 77L)))
  }

  test("pruned path: interpreted eval matches codegen at large k") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types._
    val cents = (0 until 130).map(j => (j.toLong, Array(j.toLong * 5, -j.toLong)))
    val expr = VectorExpressions.NearestCentroid(
      BoundReference(0, ArrayType(LongType), nullable = true),
      Literal.create(cents.map(_._2.toSeq), ArrayType(ArrayType(LongType))),
      Literal.create(cents.map(_._1), ArrayType(LongType)))
    for (q <- Seq(Array(0L, 0L), Array(322L, -64L), Array(645L, -129L))) {
      val got = expr.eval(InternalRow(ArrayData.toArrayData(q)))
        .asInstanceOf[InternalRow]
      assert((got.getLong(0), got.getLong(1)) == reference(q, cents),
        s"eval diverged on ${q.toSeq}")
    }
    assert(expr.eval(InternalRow(null)) == null)
  }

  test("interpreted eval path matches the reference, ties to the lower id") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types._
    // two centroids EQUIDISTANT from the query: id 0 must win
    val cents = Seq((0L, Array(10L, 0L)), (1L, Array(-10L, 0L)))
    val expr = VectorExpressions.NearestCentroid(
      BoundReference(0, ArrayType(LongType), nullable = true),
      Literal.create(cents.map(_._2.toSeq), ArrayType(ArrayType(LongType))),
      Literal.create(cents.map(_._1), ArrayType(LongType)))
    val row = InternalRow(ArrayData.toArrayData(Array(0L, 7L)))
    val got = expr.eval(row).asInstanceOf[InternalRow]
    assert((got.getLong(0), got.getLong(1)) == (149L, 0L)) // 100+49, tie -> id 0
    // null input -> null result (row survives, matches nothing)
    assert(expr.eval(InternalRow(null)) == null)
  }
}
