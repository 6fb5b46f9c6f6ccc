package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def hofDot = {
    // the composable HOF formulation the expressions replace — used as the
    // semantic reference
    def qz(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000.0) + lit(0.5)).cast("long")
    (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => qz(x) * qz(y)), lit(0L), (acc, z) => acc + z)
  }

  test("quantizedDot/Norm2 equal the HOF formulation on real embeddings") {
    val e = spark.read.parquet(s"$sfSmoke/embeddings.parquet").limit(50)
    val cmp = e.select(
      VectorExpressions.quantizedDot(col("embedding"), col("embedding")).as("native"),
      hofDot(col("embedding"), col("embedding")).as("hof"),
      VectorExpressions.quantizedNorm2(col("embedding")).as("native_n2"))
    val rows = cmp.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1)) // dot(self) == HOF dot(self)
      assert(r.getLong(0) == r.getLong(2)) // dot(self) == norm2
    }
  }

  test("expressions survive both codegen and interpreted paths") {
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 0.5f))).toDF("a", "b")
    val got = df.select(
      VectorExpressions.quantizedDot(col("a"), col("b")).as("d"),
      VectorExpressions.quantizedNorm2(col("a")).as("n")).head()
    // (1000*3000) + (2000*500) = 4_000_000 ; 1000^2 + 2000^2 = 5_000_000
    assert(got.getLong(0) == 4000000L && got.getLong(1) == 5000000L)
    // force the interpreted path (eval) via a non-codegen context: filter on
    // the expression inside a UDF-less local relation still goes through
    // codegen, so call eval directly instead
    import org.apache.spark.sql.catalyst.expressions.Literal
    val lit1 = Literal.create(Array(1.0f, 2.0f),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val dot = VectorExpressions.QuantizedDot(lit1, lit1)
    assert(dot.eval(null) == 5000000L)
    val n2 = VectorExpressions.QuantizedNorm2(lit1)
    assert(n2.eval(null) == 5000000L)
  }

  test("preQuantizedDot over quantizeVec equals quantizedDot on real embeddings") {
    // the SemDeDup pair-loop split: quantize once per row, int-dot per
    // pair — must produce the identical integers to the fused expression
    // (and hence identical cosines/hashes) on every real vector, both
    // codegen and interpreted
    val e = spark.read.parquet(s"$sfSmoke/embeddings.parquet").limit(100)
    val prev = e.select(col("vec_id"), col("embedding"))
      .withColumnRenamed("vec_id", "b_id").withColumnRenamed("embedding", "b_emb")
    val pairs = e.limit(10).crossJoin(prev)
    val cmp = pairs.select(
      VectorExpressions.preQuantizedDot(
        VectorExpressions.quantizeVec(col("embedding")),
        VectorExpressions.quantizeVec(col("b_emb"))).as("split"),
      VectorExpressions.quantizedDot(col("embedding"), col("b_emb")).as("fused"))
    assert(cmp.filter(col("split") =!= col("fused")).count() == 0)
    // interpreted path
    import org.apache.spark.sql.catalyst.expressions.Literal
    val lit1 = Literal.create(Array(1.25f, -2.0f),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val q = VectorExpressions.QuantizeVec(lit1)
    val arr = q.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(arr.toIntArray().toSeq == Seq(1250, -2000))
    assert(VectorExpressions.PreQuantizedDot(q, q).eval(null) ==
      1250L * 1250L + 2000L * 2000L)
  }

  test("quantizeVec fails loudly when a quantized value overflows Int") {
    // parity contract: the fused expressions quantize to LONG, so an
    // element with |x| > ~2.1e6 must ERROR here (Math.toIntExact), never
    // silently saturate and diverge from the fused path — both codegen
    // and interpreted
    val df = Seq(Tuple1(Array(3.0e6f))).toDF("a")
    val thrown = intercept[Exception] {
      df.select(VectorExpressions.quantizeVec(col("a"))).collect()
    }
    def rootCauses(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(rootCauses)
    assert(rootCauses(thrown).exists(_.isInstanceOf[ArithmeticException]),
      s"expected ArithmeticException in cause chain, got $thrown")
    import org.apache.spark.sql.catalyst.expressions.Literal
    val lit1 = Literal.create(Array(3.0e6f),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    intercept[ArithmeticException] {
      VectorExpressions.QuantizeVec(lit1).eval(null)
    }
    // the boundary itself still fits: Int.MaxValue milli-units
    val ok = Literal.create(Array(2147483.0f),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val arr = VectorExpressions.QuantizeVec(ok).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(arr.numElements() == 1)
  }

  test("null input yields null, not a crash") {
    val df = Seq((Some(Array(1.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    val r = df.select(VectorExpressions.quantizedDot(col("a"), col("b")).as("d"))
      .head()
    assert(r.isNullAt(0))
  }
}
