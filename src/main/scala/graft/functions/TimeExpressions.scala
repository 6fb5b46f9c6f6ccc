package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native kernel behind the broadcast as-of join
  * ([[graft.operators.Relational.asofJoinBroadcast]]): binary search over a
  * per-key time-sorted struct array.
  *
  * The broadcast as-of shape exists because BOTH other as-of forms (the
  * union+window composition and the co-partitioned sorted-merge exec)
  * shuffle the LEFT side — at the design point that side is the 100 TB
  * event stream, and when the right side is dimension-sized (price/rate/
  * config histories), shuffling the big side to meet it is the wrong plan.
  * Packing the right side as one sorted array per key and broadcasting it
  * turns the as-of into a map-only operator over the left: zero left
  * exchange, O(log h) per row (h = per-key history length).
  */
object TimeExpressions {

  /** `AsofPickSorted(arr, t)`: last element `e` of `arr` (sorted ascending
    * by `e.__t`) with `e.__t <= t`, returning its `__p` payload struct;
    * null when no element qualifies (or either input is null). Array
    * entries must have non-null `__t` — the packing wrapper filters null
    * right times before collect, same contract as the other as-of forms.
    *
    * Expected input shape: `array<struct<__t: T, __p: struct<...>>>` with
    * `t: T` for the same integral/date/timestamp type T (their physical
    * representations are int or long, so the comparison loop is primitive
    * arithmetic in both the interpreted and generated paths).
    */
  case class AsofPickSorted(left: Expression, right: Expression)
      extends BinaryExpression {

    private def elemStruct: StructType =
      left.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

    private def timeType: DataType = elemStruct.fields(0).dataType

    private def payloadType: StructType =
      elemStruct.fields(1).dataType.asInstanceOf[StructType]

    override def dataType: DataType = payloadType

    // even with both inputs non-null the search can come up empty
    override def nullable: Boolean = true

    private def timeIsLong: Boolean = timeType match {
      case TimestampType | TimestampNTZType | LongType => true
      case DateType | IntegerType => false
      case other => throw new IllegalStateException(s"unchecked time type $other")
    }

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def timeOk(t: DataType): Boolean = t match {
        case TimestampType | TimestampNTZType | LongType | DateType | IntegerType => true
        case _ => false
      }
      left.dataType match {
        case ArrayType(s: StructType, _)
            if s.length == 2 && timeOk(s.fields(0).dataType) &&
              s.fields(1).dataType.isInstanceOf[StructType] &&
              s.fields(0).dataType == right.dataType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case _ =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            "expected (array<struct<__t: integral/date/timestamp, __p: struct>>, __t's type), " +
              s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
      }
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val a = left.eval(input)
      val b = right.eval(input)
      if (a == null || b == null) return null
      val arr = a.asInstanceOf[ArrayData]
      val t = b.asInstanceOf[Number].longValue()
      val pFields = payloadType.length
      var lo = 0
      var hi = arr.numElements() - 1
      var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val e = arr.getStruct(mid, 2)
        val mt = if (timeIsLong) e.getLong(0) else e.getInt(0).toLong
        if (mt <= t) { ans = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (ans < 0) null else arr.getStruct(ans, 2).getStruct(1, pFields)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val lo = ctx.freshName("lo"); val hi = ctx.freshName("hi")
        val mid = ctx.freshName("mid"); val ans = ctx.freshName("ans")
        val mt = ctx.freshName("mt")
        val getT = if (timeIsLong) "getLong(0)" else "getInt(0)"
        s"""
          int $lo = 0; int $hi = $a.numElements() - 1; int $ans = -1;
          while ($lo <= $hi) {
            int $mid = ($lo + $hi) >>> 1;
            long $mt = (long) $a.getStruct($mid, 2).$getT;
            if ($mt <= (long) $b) { $ans = $mid; $lo = $mid + 1; }
            else { $hi = $mid - 1; }
          }
          if ($ans < 0) { ${ev.isNull} = true; }
          else { ${ev.value} = $a.getStruct($ans, 2).getStruct(1, ${payloadType.length}); }
        """
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def asofPickSorted(arr: Column, t: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_asof_pick_sorted", arr, t)
}
