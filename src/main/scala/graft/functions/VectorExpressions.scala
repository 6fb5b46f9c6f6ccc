package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** Native Catalyst expressions for the similarity-search hot path.
  *
  * The composable formulation (`aggregate(zip_with(...))`) runs on Spark's
  * interpreted higher-order-function path — one closure invocation per
  * element per pair. These expressions generate a tight Java loop over the
  * primitive float arrays instead (`doGenCode`), keeping the whole knn stage
  * inside whole-stage codegen. Semantics are bit-identical to the HOF form:
  * each element is quantized to exact milli-units
  * (`(long) floor(x * 1000.0 + 0.5)`) and accumulated in a long, so the
  * result is the same exact integer the DuckDB oracle computes.
  *
  * This is preference order (b) from the build rules: a scalar `Expression`
  * with codegen, chosen over a UDF because the loop inlines into the
  * generated stage with no boxing or Row conversion.
  */
object VectorExpressions {

  private val quantJava = "(long) java.lang.Math.floor(%s * 1000.0d + 0.5d)"

  /** Exact quantized dot product of two array<float> columns → long. */
  case class QuantizedDot(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = LongType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      (left.dataType, right.dataType) match {
        case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case _ =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"expected (array<float>, array<float>), got " +
              s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
      }
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0L
      var i = 0
      while (i < n) {
        val xv = math.floor(x.getFloat(i) * 1000.0 + 0.5).toLong
        val yv = math.floor(y.getFloat(i) * 1000.0 + 0.5).toLong
        acc += xv * yv
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val qx = quantJava.format(s"$a.getFloat($i)")
        val qy = quantJava.format(s"$b.getFloat($i)")
        s"""
          int $n = java.lang.Math.min($a.numElements(), $b.numElements());
          long $acc = 0L;
          for (int $i = 0; $i < $n; $i++) {
            $acc += ($qx) * ($qy);
          }
          ${ev.value} = $acc;
        """
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Quantize an array<float> once to its exact milli-unit integers
    * (array<int>). Factoring the quantization OUT of the pair loop is the
    * SemDeDup hot-path lever: [[QuantizedDot]] re-derives both sides'
    * integers on every evaluation — 128 double floors per pair, paid
    * (cluster-size)² times — while a members row is quantized exactly once
    * here and the O(pairs) inner loop degrades to [[PreQuantizedDot]]'s
    * pure int multiply-add. The integers are identical by construction, so
    * every downstream cosine/hash is unchanged. Unit-scale embedding
    * elements quantize to ±O(10³), far inside int — but the fit is
    * ASSERTED, not assumed (Math.toIntExact in both eval paths): the fused
    * expressions ([[QuantizedDot]]/[[QuantizedNorm2]]) quantize to LONG, so
    * an element with |x| > ~2.1e6 would otherwise saturate here SILENTLY
    * and diverge from the fused path, breaking the identical-integers
    * parity contract SemDedup's split hot path is built on. Out-of-range
    * data fails loudly instead (ArithmeticException). */
  case class QuantizeVec(child: Expression) extends UnaryExpression {

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val n = x.numElements()
      val out = new Array[Int](n)
      var i = 0
      while (i < n) {
        out(i) = java.lang.Math.toIntExact(
          math.floor(x.getFloat(i) * 1000.0 + 0.5).toLong)
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val arr = ctx.freshName("arr")
        s"""
          int $n = $a.numElements();
          int[] $arr = new int[$n];
          for (int $i = 0; $i < $n; $i++) {
            $arr[$i] = java.lang.Math.toIntExact(
              (long) java.lang.Math.floor($a.getFloat($i) * 1000.0d + 0.5d));
          }
          ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($arr);
        """
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Dot product of two pre-quantized array<int> columns → long: the
    * O(pairs) companion of [[QuantizeVec]] — nothing but int loads and a
    * widening multiply-add in the generated loop. */
  case class PreQuantizedDot(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = LongType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0L
      var i = 0
      while (i < n) {
        acc += x.getInt(i).toLong * y.getInt(i).toLong
        i += 1
      }
      acc
    }

    // The simple single-accumulator loop stays — a 4-way independent-
    // accumulator unroll was tried round 13 and measured SLOWER (0.80×
    // in an interleaved single-threaded microbench, 128-dim int dot):
    // HotSpot's C2 auto-vectorizes the canonical `acc += (long)a*b`
    // reduction, and the hand-unrolled four-chain form defeats that
    // vectorizer. Keep the shape the JIT recognizes.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        s"""
          int $n = java.lang.Math.min($a.numElements(), $b.numElements());
          long $acc = 0L;
          for (int $i = 0; $i < $n; $i++) {
            $acc += (long) $a.getInt($i) * (long) $b.getInt($i);
          }
          ${ev.value} = $acc;
        """
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Exact quantized squared L2 norm of an array<float> column → long. */
  case class QuantizedNorm2(child: Expression) extends UnaryExpression {

    override def dataType: DataType = LongType

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var acc = 0L
      var i = 0
      val n = x.numElements()
      while (i < n) {
        val xv = math.floor(x.getFloat(i) * 1000.0 + 0.5).toLong
        acc += xv * xv
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val v = ctx.freshName("v")
        val qx = quantJava.format(s"$a.getFloat($i)")
        s"""
          int $n = $a.numElements();
          long $acc = 0L;
          for (int $i = 0; $i < $n; $i++) {
            long $v = $qx;
            $acc += $v * $v;
          }
          ${ev.value} = $acc;
        """
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Nearest centroid of a quantized vector against a FOLDABLE centroid
    * matrix → struct(dist, cluster): one codegen'd k×d loop over the matrix
    * (embedded as a primitive `long[][]` reference object) replacing the
    * k-element array_min over k interpreted aggregate(zip_with(...)) chains
    * — the assignment kernel of [[graft.operators.KMeans]] (Lloyd
    * iterations, index maintenance) and [[graft.operators.Pq]] (subspace
    * encode). Semantics are identical to the HOF form: exact integer
    * squared L2 over already-quantized BIGINT vectors, ties to the LOWER
    * cluster id (the struct total order array_min implied). Inputs must be
    * null-free (the quantization transform guarantees it).
    *
    * `centsLit`/`idsLit` must be literals (typedlit) — checked at analysis
    * — so the matrix folds once per plan, not per row. */
  case class NearestCentroid(vec: Expression, centsLit: Expression,
                             idsLit: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

    override def first: Expression = vec
    override def second: Expression = centsLit
    override def third: Expression = idsLit

    override def dataType: DataType =
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dist", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster", LongType, nullable = false)))

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = (vec.dataType, centsLit.dataType, idsLit.dataType) match {
        case (ArrayType(LongType, _),
              ArrayType(ArrayType(LongType, _), _),
              ArrayType(LongType, _)) => centsLit.foldable && idsLit.foldable
        case _ => false
      }
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "expected (array<bigint>, foldable array<array<bigint>>, foldable " +
          s"array<bigint>), got (${vec.dataType.simpleString}, " +
          s"${centsLit.dataType.simpleString}, ${idsLit.dataType.simpleString})")
    }

    @transient private lazy val matrix: Array[Array[Long]] = {
      val ad = centsLit.eval(null).asInstanceOf[ArrayData]
      Array.tabulate(ad.numElements())(j =>
        ad.getArray(j).toLongArray())
    }
    @transient private lazy val ids: Array[Long] =
      idsLit.eval(null).asInstanceOf[ArrayData].toLongArray()
    // large k goes through the group-pruned index (EXACT, see the class
    // scaladoc); small k keeps the flat loop — the k'·d coarse pass plus
    // per-row bookkeeping only pays for itself once the flat scan is wide.
    // A RAGGED matrix also stays flat: the flat loop defines truncated
    // min(n, row.length) semantics per row, which the triangle bound
    // cannot reproduce (it needs one full coordinate set).
    @transient private lazy val prunedIdx: PrunedCentroidIndex =
      if (matrix.length >= PrunedCentroidIndex.Threshold &&
          matrix.forall(_.length == matrix(0).length))
        new PrunedCentroidIndex(matrix, ids)
      else null

    private def best(q: ArrayData): (Long, Long) = {
      if (prunedIdx != null) {
        val r = prunedIdx.best(q)
        return (r(0), r(1))
      }
      var bestD = Long.MaxValue
      var bestC = Long.MaxValue
      var j = 0
      while (j < matrix.length) {
        val c = matrix(j)
        val n = math.min(q.numElements(), c.length)
        var acc = 0L
        var i = 0
        while (i < n) { val d = q.getLong(i) - c(i); acc += d * d; i += 1 }
        if (acc < bestD || (acc == bestD && ids(j) < bestC)) {
          bestD = acc; bestC = ids(j)
        }
        j += 1
      }
      (bestD, bestC)
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val q = vec.eval(input)
      if (q == null) null
      else {
        val (d, c) = best(q.asInstanceOf[ArrayData])
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](d, c))
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (q, _, _) => {
        if (prunedIdx != null) {
          // the index is built ONCE here on the driver and ships inside the
          // generated class's references; best() returns a thread-local
          // 2-long scratch the row constructor copies out of immediately
          val idxRef = ctx.addReferenceObj("prunedIdx", prunedIdx,
            classOf[PrunedCentroidIndex].getName)
          val r = ctx.freshName("r")
          s"""
            long[] $r = $idxRef.best($q);
            ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              new Object[]{java.lang.Long.valueOf($r[0]), java.lang.Long.valueOf($r[1])});
          """
        } else {
        val m = ctx.addReferenceObj("centMatrix", matrix, "long[][]")
        val idRef = ctx.addReferenceObj("centIds", ids, "long[]")
        val j = ctx.freshName("j")
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        val row = ctx.freshName("row")
        val bestD = ctx.freshName("bestD")
        val bestC = ctx.freshName("bestC")
        s"""
          long $bestD = Long.MAX_VALUE;
          long $bestC = Long.MAX_VALUE;
          for (int $j = 0; $j < $m.length; $j++) {
            long[] $row = $m[$j];
            int $n = java.lang.Math.min($q.numElements(), $row.length);
            long $acc = 0L;
            for (int $i = 0; $i < $n; $i++) {
              long $d = $q.getLong($i) - $row[$i];
              $acc += $d * $d;
            }
            if ($acc < $bestD || ($acc == $bestD && $idRef[$j] < $bestC)) {
              $bestD = $acc;
              $bestC = $idRef[$j];
            }
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            new Object[]{java.lang.Long.valueOf($bestD), java.lang.Long.valueOf($bestC)});
        """
        }
      })

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression,
        newThird: Expression): Expression =
      copy(vec = newFirst, centsLit = newSecond, idsLit = newThird)
  }

  /** EXACT nearest-centroid search with triangle-inequality group pruning —
    * the large-k assignment path of [[NearestCentroid]].
    *
    * The flat argmin loop is O(k·d) per row; with k ∝ corpus (the
    * SemDeDup/IVF deployment regime, s12's k = n/2500) assignment becomes
    * the quadratic wall AFTER pair work is linearized — at factor 1000
    * (k = 8000 over 20 M vectors) it is ~10¹³ multiply-adds. This index
    * clusters the k CENTROIDS into g ≈ √k coarse groups once on the driver
    * (a mini-Lloyd over k points — k·d is KBs), stores each group's exact
    * max member-to-coarse-center squared distance r², and per row:
    *
    *  1. computes the g coarse distances (g·d work),
    *  2. visits groups in ascending coarse-distance order (tightens the
    *     running best early),
    *  3. skips a whole group when the triangle inequality proves no member
    *     can beat the running best: ‖x−c‖ ≥ ‖x−m_g‖ − ‖c−m_g‖ for every
    *     member c of group g, so the group's minimum possible squared
    *     distance is (√cd − √r²)², and `cd > bestD + r² + 2·√(bestD·r²)`
    *     (the squared form of √cd > √bestD + √r²) proves it strictly
    *     exceeds bestD.
    *
    * EXACTNESS, not approximation: the prune test errs conservative — it
    * adds a `2.0 + 1e-9·cd` margin that exceeds the accumulated double
    * rounding of the bound's terms by ~10⁶× at EVERY magnitude (the
    * terms round relatively, ≤ ~5 ulp, so a fixed margin alone would
    * stop covering them past 2⁵³), and it is
    * STRICT, so a member tied with the running best (equal distance,
    * lower-id tiebreak pending) is never pruned. Rows whose
    * dimensionality differs from the matrix's fall back to the flat scan
    * (the triangle bound only holds over the full coordinate set), and a
    * RAGGED matrix never builds the index at all — the flat loop's
    * truncated per-row semantics stay authoritative. The
    * result is bit-identical to the flat loop at any k — pruning is a
    * speed lever only, so [[graft.operators.KMeans]] semantics (and the
    * s11 hash gate pinning them) are untouched.
    *
    * Worst case (centroids with no cluster structure) degrades to the flat
    * scan plus ~√k·d overhead (≈1–2% at k = 8000); the measured win on the
    * density surfaces is in PERF.md. The codegen path builds the index
    * once on the driver and ships it inside the generated class's
    * references (only the per-thread scratch is rebuilt per JVM); the
    * interpreted-eval fallback instead rebuilds it lazily per
    * deserialized expression copy (~0.2 s at k = 8000) — acceptable
    * because every hot path here runs whole-stage codegen. */
  final class PrunedCentroidIndex(val matrix: Array[Array[Long]],
                                  val ids: Array[Long]) extends Serializable {
    private val k = matrix.length
    private val dim = if (k == 0) 0 else matrix(0).length
    require(k > 0 && matrix.forall(_.length == dim),
      "pruned index needs a non-empty rectangular centroid matrix")

    private def dist2(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }

    // g coarse groups from a deterministic mini-Lloyd over the centroids:
    // seeds evenly spaced in id order, 4 assignment passes, integer
    // round-half-up recenter (floor((2s+c)/(2c)) — the engine's own rule).
    // Grouping quality affects SPEED only; exactness never depends on it.
    private val (coarse: Array[Array[Long]],
                 members: Array[Array[Int]],
                 r2: Array[Long]) = {
      val g0 = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
      var centers = Array.tabulate(g0)(j => matrix(((j.toLong * k) / g0).toInt))
      val assign = new Array[Int](k)
      var pass = 0
      while (pass < 4) {
        var c = 0
        while (c < k) {
          var bd = Long.MaxValue; var bj = 0; var j = 0
          while (j < centers.length) {
            val d = dist2(matrix(c), centers(j))
            if (d < bd) { bd = d; bj = j }
            j += 1
          }
          assign(c) = bj
          c += 1
        }
        val sums = Array.ofDim[Long](centers.length, dim)
        val cnts = new Array[Long](centers.length)
        var c2 = 0
        while (c2 < k) {
          val j = assign(c2); cnts(j) += 1
          var i = 0
          while (i < dim) { sums(j)(i) += matrix(c2)(i); i += 1 }
          c2 += 1
        }
        centers = Array.tabulate(centers.length) { j =>
          if (cnts(j) == 0) centers(j) // empty: keep (dropped below)
          else Array.tabulate(dim)(i =>
            Math.floorDiv(2L * sums(j)(i) + cnts(j), 2L * cnts(j)))
        }
        pass += 1
      }
      val byGroup = (0 until k).groupBy(assign)
      val live = byGroup.keys.toArray.sorted
      (live.map(centers),
        live.map(j => byGroup(j).toArray),
        live.map(j => byGroup(j).map(c => dist2(matrix(c), centers(j))).max))
    }
    private val nGroups = coarse.length

    // per-thread scratch: coarse distances, visit order, and the 2-long
    // result the caller copies out of immediately — zero per-row allocation
    @transient private lazy val scratch =
      new ThreadLocal[(Array[Long], Array[Int], Array[Long])] {
        override def initialValue() =
          (new Array[Long](nGroups), new Array[Int](nGroups), new Array[Long](2))
      }

    private def scanGroup(q: ArrayData, gi: Int, out: Array[Long]): Unit = {
      val ms = members(gi)
      var mi = 0
      while (mi < ms.length) {
        val j = ms(mi)
        val row = matrix(j)
        var acc = 0L
        var i = 0
        while (i < dim) { val d = q.getLong(i) - row(i); acc += d * d; i += 1 }
        if (acc < out(0) || (acc == out(0) && ids(j) < out(1))) {
          out(0) = acc; out(1) = ids(j)
        }
        mi += 1
      }
    }

    /** struct(dist, cluster) packed as the thread-local {dist, id} pair;
      * identical to the flat loop's result for every input. */
    def best(q: ArrayData): Array[Long] = {
      val (cd, ord, out) = scratch.get()
      out(0) = Long.MaxValue
      out(1) = Long.MaxValue
      if (q.numElements() != dim) { // no full-dim triangle bound: flat scan
        var gi = 0
        while (gi < nGroups) { scanGroupTrunc(q, gi, out); gi += 1 }
        return out
      }
      var gi = 0
      while (gi < nGroups) {
        var acc = 0L
        val m = coarse(gi)
        var i = 0
        while (i < dim) { val d = q.getLong(i) - m(i); acc += d * d; i += 1 }
        cd(gi) = acc
        ord(gi) = gi
        gi += 1
      }
      // insertion sort by coarse distance (g ≈ √k elements)
      var a = 1
      while (a < nGroups) {
        val o = ord(a); val key = cd(o)
        var b = a - 1
        while (b >= 0 && cd(ord(b)) > key) { ord(b + 1) = ord(b); b -= 1 }
        ord(b + 1) = o
        a += 1
      }
      var oi = 0
      while (oi < nGroups) {
        val g = ord(oi)
        // margin scales with magnitude: the bound's terms round relatively
        // (≤ ~4 ulp ≈ 1e-15·value once past 2⁵³), so a FIXED +2.0 margin
        // stops covering the rounding when squared distances exceed 2⁵³ —
        // 1e-9·cd is 10⁶× the worst accumulated error at every magnitude
        // while costing a vanishing fraction of pruning power
        val skip = out(0) != Long.MaxValue &&
          cd(g).toDouble > out(0).toDouble + r2(g).toDouble +
            2.0 * math.sqrt(out(0).toDouble * r2(g).toDouble) +
            2.0 + 1e-9 * cd(g).toDouble
        if (!skip) scanGroup(q, g, out)
        oi += 1
      }
      out
    }

    /** flat fallback for dimensionality-mismatched rows — mirrors the
      * small-k loop's min(n, row.length) semantics exactly. */
    private def scanGroupTrunc(q: ArrayData, gi: Int, out: Array[Long]): Unit = {
      val ms = members(gi)
      var mi = 0
      while (mi < ms.length) {
        val j = ms(mi)
        val row = matrix(j)
        val n = math.min(q.numElements(), row.length)
        var acc = 0L
        var i = 0
        while (i < n) { val d = q.getLong(i) - row(i); acc += d * d; i += 1 }
        if (acc < out(0) || (acc == out(0) && ids(j) < out(1))) {
          out(0) = acc; out(1) = ids(j)
        }
        mi += 1
      }
    }
  }

  object PrunedCentroidIndex {
    /** centroid count at which [[NearestCentroid]] switches to the pruned
      * index; below it the flat loop's simplicity wins (s11's k = 8 and
      * Pq's k = 16 subspace codebooks stay on the flat path). */
    val Threshold = 128
  }

  def quantizedDot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_quantized_dot", a, b)

  def quantizedNorm2(a: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_quantized_norm2", a)

  def nearestCentroid(vec: Column, cents: Column, ids: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "graft_nearest_centroid", vec, cents, ids)

  def quantizeVec(a: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_quantize_vec", a)

  def preQuantizedDot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_prequantized_dot", a, b)
}
