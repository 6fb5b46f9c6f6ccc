package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression for the co-occurrence edge build: all
  * unordered pairs of a distinct id array, canonicalized (a = min,
  * b = max) — the compiled replacement for the interpreted
  * `transform(sequence(...), i -> ...)` / `slice` HOF chain that made the
  * collect_set edge-build form lose to the self-join form when it was
  * first measured (round 13: 40 M interpreted struct constructions cost
  * 160 s of task time; HOFs have no codegen and break the enclosing
  * whole-stage span). With this kernel the group-then-explode plan keeps
  * its structural savings — one exchange round instead of two and no
  * sort-merge sorts — while the pair generation runs inside the generated
  * stage like any built-in expression.
  *
  * Contract: input array<bigint> with DISTINCT elements (collect_set's
  * output); order does not matter — each pair is emitted min-first, so
  * downstream canonical-edge consumers ([[graft.operators.Graph]]) never
  * re-compare. k distinct ids yield k·(k−1)/2 structs; arrays with fewer
  * than two elements yield an empty array (the row drops at the explode).
  * Output is quadratic in k by definition — callers pair WITHIN a small
  * group key (co-purchase: TPC-H orders hold ≤ 7 items at every scale
  * factor); a group so hot that k·(k−1)/2 overflows Int is refused loudly
  * rather than truncated.
  */
object GraphExpressions {

  /** struct(a, b) element type of [[UnorderedPairs]] — a/b keep the Graph
    * module's canonical-edge column names. */
  private val pairType = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false)))

  case class UnorderedPairs(child: Expression) extends UnaryExpression {

    override def dataType: DataType = ArrayType(pairType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"expected array<bigint>, got ${other.simpleString}")
      }

    override def nullSafeEval(input: Any): Any =
      GraphExpressions.unorderedPairsEval(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.GraphExpressions.unorderedPairsEval($c);
      """)

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Shared eval/codegen body (the file family's static-forwarder pattern:
    * one loop for both paths, so interpreted and generated results cannot
    * drift). */
  def unorderedPairsEval(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val total = n.toLong * (n - 1L) / 2L
    require(total <= Int.MaxValue,
      s"unordered_pairs: $n elements yield $total pairs (> Int.MaxValue); " +
        "pair within a smaller group key")
    val out = new Array[Any](total.toInt)
    var k = 0
    var i = 0
    while (i < n) {
      val x = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        val y = arr.getLong(j)
        out(k) =
          if (x <= y) new GenericInternalRow(Array[Any](x, y))
          else new GenericInternalRow(Array[Any](y, x))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
