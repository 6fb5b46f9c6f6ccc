package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** AsofPickSorted must agree with the interpretable HOF formulation
  * (filter to __t <= t, take the last element's payload) on sorted arrays,
  * return null when nothing qualifies or inputs are null, and behave
  * identically in codegen (df.select) and interpreted (eval) paths. */
class TimeExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    // (search time, array of (t, payload))
    (5L, Seq((1L, "a"), (3L, "b"), (7L, "c"))),
    (0L, Seq((1L, "a"), (3L, "b"))),              // before first -> null
    (3L, Seq((1L, "a"), (3L, "b"), (7L, "c"))),   // equal time inclusive
    (100L, Seq((1L, "a"), (3L, "b"), (7L, "c"))), // after last -> last
    (4L, Seq((4L, "only"))),
    (3L, Seq((4L, "only")))                       // single miss -> null
  ).toDF("t", "raw")
    .withColumn("arr", expr(
      "transform(raw, e -> struct(e._1 as __t, struct(e._2 as v) as __p))"))

  test("asofPickSorted picks the last element at-or-before t (codegen path)") {
    val got = fixture
      .select(TimeExpressions.asofPickSorted(col("arr"), col("t")).as("p"))
      .select(col("p.v")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(got == Seq("b", null, "b", "c", "only", null))
  }

  test("asofPickSorted equals the HOF formulation on random sorted arrays") {
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(300) {
      val n = rnd.nextInt(6)
      val ts = Seq.fill(n)(rnd.nextInt(40).toLong).sorted
      (rnd.nextInt(40).toLong, ts.zipWithIndex.map { case (t, j) => (t, s"p$j") })
    }
    val df = rows.toDF("t", "raw")
      .withColumn("arr", expr(
        "transform(raw, e -> struct(e._1 as __t, struct(e._2 as v) as __p))"))
      .select(
        TimeExpressions.asofPickSorted(col("arr"), col("t")).as("fast"),
        expr("try_element_at(filter(arr, e -> e.__t <= t), -1).__p").as("hof"))
    df.collect().foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch: $r")
      if (!r.isNullAt(0))
        assert(r.getStruct(0) == r.getStruct(1), s"pick mismatch: $r")
    }
  }

  test("asofPickSorted nulls through null array or null time") {
    val df = Seq(
      (Some(5L), Some(Seq((1L, "a")))),
      (None, Some(Seq((1L, "a")))),
      (Some(5L), None)
    ).toDF("t", "raw")
      .withColumn("arr", expr(
        "transform(raw, e -> struct(e._1 as __t, struct(e._2 as v) as __p))"))
      .select(TimeExpressions.asofPickSorted(col("arr"), col("t")).as("p"))
    val got = df.collect().map(_.isNullAt(0)).toSeq
    assert(got == Seq(false, true, true))
  }
}
