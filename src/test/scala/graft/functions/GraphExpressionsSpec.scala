package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphExpressionsSpec extends SparkSpec {

  test("unordered_pairs emits every pair min-first regardless of input order") {
    import spark.implicits._
    val got = Seq(Seq(3L, 1L, 2L)).toDF("ids")
      .select(explode(call_function("graft_unordered_pairs", col("ids"))).as("e"))
      .select(col("e.a"), col("e.b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("unordered_pairs of empty and singleton arrays explode to zero rows") {
    import spark.implicits._
    val got = Seq(Seq.empty[Long], Seq(7L)).toDF("ids")
      .select(explode(call_function("graft_unordered_pairs", col("ids"))))
    assert(got.count() == 0L)
  }

  test("interpreted eval agrees with the codegen path") {
    // the static-forwarder pattern shares one body, but pin it anyway:
    // evaluate the expression directly (interpreted) and via a projection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val arr = new GenericArrayData(Array[Any](5L, 9L, 1L))
    val out = GraphExpressions.unorderedPairsEval(arr)
    val pairs = (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 2); (r.getLong(0), r.getLong(1))
    }.toSet
    assert(pairs == Set((1L, 5L), (1L, 9L), (5L, 9L)))
  }

  test("unordered_pairs refuses a group whose pair count overflows Int") {
    val big = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      new Array[Any](70000)) // 70000*69999/2 > Int.MaxValue
    val e = intercept[IllegalArgumentException] {
      GraphExpressions.unorderedPairsEval(big)
    }
    assert(e.getMessage.contains("pair within a smaller group key"))
  }

  test("coOccurrenceEdges equals the self-join edge build on random data") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    // groups of skewed size incl. empties-by-absence and singletons; ids
    // repeat within groups to exercise collect_set's dedup
    val rows = for {
      g <- 0L until 40L
      _ <- 0 until (1 + r.nextInt(6))
    } yield (g, r.nextInt(12).toLong)
    val items = rows.toDF("o", "p")
    val dItems = items.distinct()
    val expected = dItems.as("x")
      .join(dItems.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = graft.operators.Graph.coOccurrenceEdges(items, "o", "p")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }
}
