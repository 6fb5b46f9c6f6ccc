package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the near-dup hot path: distinct character
  * n-grams of a string column in first-occurrence order — semantically
  * identical to `array_distinct(transform(sequence(1, length(text)-n+1),
  * i -> substr(text, i, n)))` but generated as one tight Java loop with a
  * hash set instead of three interpreted higher-order passes that
  * materialize an intermediate position array and a full gram array before
  * deduplication. Texts shorter than n yield an empty array (no
  * descending-sequence footgun).
  *
  * Preference order (b) from the build rules: a scalar `Expression` with
  * `doGenCode`, inlining into whole-stage codegen.
  */
object TextExpressions {

  case class DistinctCharGrams(child: Expression, n: Int) extends UnaryExpression {

    require(n >= 1, s"gram length must be >= 1, got $n")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"expected string, got ${other.simpleString}")
      }

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val set = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + n <= s.length) {
        set.add(s.substring(i, i + n))
        i += 1
      }
      val arr = new Array[Any](set.size)
      val it = set.iterator()
      var k = 0
      while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(arr)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val s = ctx.freshName("s")
        val set = ctx.freshName("set")
        val i = ctx.freshName("i")
        val arr = ctx.freshName("arr")
        val k = ctx.freshName("k")
        val it = ctx.freshName("it")
        // raw types: janino's generics support is not worth relying on
        s"""
          java.lang.String $s = $c.toString();
          java.util.LinkedHashSet $set = new java.util.LinkedHashSet();
          for (int $i = 0; $i + $n <= $s.length(); $i++) {
            $set.add($s.substring($i, $i + $n));
          }
          Object[] $arr = new Object[$set.size()];
          int $k = 0;
          for (java.util.Iterator $it = $set.iterator(); $it.hasNext(); ) {
            $arr[$k++] = org.apache.spark.unsafe.types.UTF8String.fromString(
              (java.lang.String) $it.next());
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
        """
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Distinct word n-grams (space-separated) in first-occurrence order —
    * the word-level twin of [[DistinctCharGrams]], and the hot inner loop
    * of the whole word-gram family (t17 decontamination, t32 fuzzy
    * decontamination, the corpus pipeline). Semantically identical to
    * `when(size(split(text,' ')) >= n, array_distinct(transform(
    * sequence(1, size-n+1), j -> concat_ws(' ', slice(words, j, n)))))
    * .otherwise(array())` — including Spark `split`'s keep-empty-tokens
    * behavior (`limit = -1`) — but one tight generated loop instead of an
    * interpreted five-HOF chain that materializes a word array, a position
    * array, and a full gram array per row before deduplicating (HOFs have
    * no codegen, so the chain also breaks the enclosing whole-stage-codegen
    * span; measured ~2x on the t17/t32 sf0.1 plans). Texts with fewer
    * than n words yield an empty array. */
  case class DistinctWordGrams(child: Expression, n: Int) extends UnaryExpression {

    require(n >= 1, s"gram length must be >= 1, got $n")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"expected string, got ${other.simpleString}")
      }

    override def nullSafeEval(input: Any): Any =
      TextExpressions.distinctWordGramsEval(input.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.TextExpressions.distinctWordGramsEval($c, $n);
      """)

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Shared eval/codegen body of [[DistinctWordGrams]] — one copy of the
    * window loop for both execution paths (the static-forwarder pattern
    * every kernel in this file uses; per-row method-call overhead is noise
    * next to the loop body, and a single body cannot drift between the
    * interpreted and generated paths). */
  def distinctWordGramsEval(s: UTF8String, n: Int): GenericArrayData = {
    val words = s.toString.split(" ", -1)
    val set = new java.util.LinkedHashSet[String]()
    var j = 0
    while (j + n <= words.length) {
      val sb = new java.lang.StringBuilder(words(j))
      var k = 1
      while (k < n) { sb.append(' ').append(words(j + k)); k += 1 }
      set.add(sb.toString)
      j += 1
    }
    val arr = new Array[Any](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }

  /** ALL word n-gram windows in position order (non-distinct) — the
    * positional twin of [[DistinctWordGrams]], feeding the span family
    * (repeatedSpans / boilerplateSpans): `posexplode` of the result gives
    * (pos, gram) with pos the 0-based window start, exactly the
    * `transform(sequence(0, size-n), p -> ...)` contract it replaces. The
    * md5 hashing stays a separate column function AFTER the explode — md5
    * is already codegen'd; only the interpreted HOF window construction
    * needed a kernel. Texts with fewer than n words yield an empty array
    * (the row drops at the explode). */
  case class WordGramWindows(child: Expression, n: Int) extends UnaryExpression {

    require(n >= 1, s"gram length must be >= 1, got $n")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"expected string, got ${other.simpleString}")
      }

    override def nullSafeEval(input: Any): Any =
      TextExpressions.wordGramWindowsEval(input.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.TextExpressions.wordGramWindowsEval($c, $n);
      """)

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Shared eval/codegen body of [[WordGramWindows]] — see
    * [[distinctWordGramsEval]] for the single-body rationale. */
  def wordGramWindowsEval(s: UTF8String, n: Int): GenericArrayData = {
    val words = s.toString.split(" ", -1)
    val m = words.length - n + 1
    val arr = new Array[Any](math.max(m, 0))
    var j = 0
    while (j < m) {
      val sb = new java.lang.StringBuilder(words(j))
      var k = 1
      while (k < n) { sb.append(' ').append(words(j + k)); k += 1 }
      arr(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new GenericArrayData(arr)
  }

  /** MD5 MinHash signature of a string ARRAY, per row: component `s` (1-based)
    * is `min over elements x of md5("s:" + x)`, truncated to the first 8
    * bytes and formatted as 16 lowercase hex chars — bit-identical to the
    * aggregation form `min(substring(md5(concat('s:', tok)), 1, 16))` over
    * the exploded elements (fixed-width hex: lexicographic min == numeric
    * unsigned min, which is how the loop compares). Computing the signature
    * per ROW removes the explode + k-min groupBy SHUFFLE from the LSH
    * signature pass entirely: the corpus stays one row per doc through
    * signature generation, which at the design point means one scan and
    * zero exchanges until the (tiny) band join. Empty input → empty
    * signature (callers drop gram-less docs, matching the agg form where
    * such docs simply have no postings row). Null elements are SKIPPED —
    * the agg form's `min` ignores null tokens the same way — so a
    * nullable-element array is safe and an all-null array behaves like an
    * empty set (ADVICE r8: previously NPE'd). */
  case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {

    require(k >= 1, s"signature size must be >= 1, got $k")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"expected array<string>, got ${other.simpleString}")
      }

    override def nullSafeEval(input: Any): Any =
      TextExpressions.minHashSig(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.TextExpressions.minHashSig($c, $k);
      """)

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** One BPE merge application over a ' '-separated symbol STRING:
    * replace every LEFTMOST-NONOVERLAPPING adjacent (a, b) with a+b — the
    * sequential inner loop of byte-pair encoding, correctly per-row
    * because a word is the natural locality unit of BPE (merges never
    * cross word boundaries; the distributed part of training is the
    * global pair count, not this scan). The a,a,a chain merges (0,1) and
    * leaves the tail, and a symbol formed by a merge does not re-merge
    * within the same application — the reference greedy semantics.
    *
    * The state is a separator-joined STRING, not array<string>: merged
    * symbols are plain concatenations (never contain the separator, so
    * the encoding is unambiguous), and the string form is ~10× smaller
    * than an array of one-char UTF8Strings — which is what the per-round
    * corpus cache and every scan pays for. */
  case class BpeMergeApply(child: Expression, a: String, b: String)
      extends UnaryExpression {

    override def dataType: DataType = StringType

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"expected string, got ${other.simpleString}")
      }

    override def nullSafeEval(input: Any): Any =
      TextExpressions.bpeMergeApply(input.asInstanceOf[UTF8String], a, b)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val aRef = ctx.addReferenceObj("bpeA", a, "java.lang.String")
      val bRef = ctx.addReferenceObj("bpeB", b, "java.lang.String")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.TextExpressions.bpeMergeApply($c, $aRef, $bRef);
      """)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Shared eval/codegen body of [[BpeMergeApply]]. */
  def bpeMergeApply(s: UTF8String, a: String, b: String): UTF8String = {
    val toks = s.toString.split(" ", -1)
    val sb = new java.lang.StringBuilder(s.numBytes())
    var i = 0
    var first = true
    while (i < toks.length) {
      val merged = i + 1 < toks.length && toks(i) == a && toks(i + 1) == b
      if (!first) sb.append(' ')
      if (merged) { sb.append(a).append(b); i += 2 }
      else { sb.append(toks(i)); i += 1 }
      first = false
    }
    UTF8String.fromString(sb.toString)
  }

  /** Adjacent symbol pairs of a ' '-separated symbol string, each
    * pair itself encoded `a + ' ' + b` (unambiguous — symbols never
    * contain the separator). One generated loop replacing the interpreted
    * transform-to-structs HOF in the BPE pair-count pass. */
  case class BpeSymPairs(child: Expression) extends UnaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"expected string, got ${other.simpleString}")
      }

    override def nullSafeEval(input: Any): Any =
      TextExpressions.bpeSymPairs(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.TextExpressions.bpeSymPairs($c);
      """)

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Shared eval/codegen body of [[BpeSymPairs]]. */
  def bpeSymPairs(s: UTF8String): GenericArrayData = {
    val toks = s.toString.split(" ", -1)
    val m = toks.length - 1
    val out = new Array[Any](math.max(m, 0))
    var i = 0
    while (i < m) {
      out(i) = UTF8String.fromString(toks(i) + " " + toks(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** seed-prefix byte arrays ("1:".."k:") per k — computed once per k, not
    * per ROW: this is the hot signature loop, and k fresh strings + byte
    * arrays per corpus row is exactly the per-row garbage the kernel
    * exists to remove. */
  private val seedPrefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def seedPrefixes(k: Int): Array[Array[Byte]] =
    seedPrefixCache.computeIfAbsent(k,
      k => Array.tabulate(k)(s => s"${s + 1}:".getBytes("UTF-8")))

  /** Shared eval/codegen body of [[MinHashSignature]] (the object compiles
    * with static forwarders, so generated code calls it directly). */
  def minHashSig(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                 k: Int): GenericArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](0))
    val md = md5Local.get()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, -1L) // unsigned max
    val prefixes = seedPrefixes(k)
    var i = 0
    var seen = 0
    while (i < n) {
      if (arr.isNullAt(i)) { i += 1 }
      else {
      seen += 1
      val bytes = arr.getUTF8String(i).getBytes
      var j = 0
      while (j < k) {
        md.reset()
        md.update(prefixes(j))
        md.update(bytes)
        val d = md.digest()
        val v = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        if (java.lang.Long.compareUnsigned(v, mins(j)) < 0) mins(j) = v
        j += 1
      }
      i += 1
      }
    }
    // all-null array == empty set: same empty signature as n == 0
    if (seen == 0) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](k)
    var m = 0
    while (m < k) {
      out(m) = UTF8String.fromString(f"${mins(m)}%016x")
      m += 1
    }
    new GenericArrayData(out)
  }

  /** Rabin-Karp rolling-hash document fingerprint: the minimum polynomial
    * hash over all n-char windows (the winnowing representation —
    * robust to content shifts, unlike a whole-document hash). The hash of
    * window w is `sum(code(w[j]) * B^(n-1-j)) mod M` accumulated as
    * `h = (h*B + code) mod M`, all in exact long arithmetic
    * (M ~ 1e9, so h*B + 65535 < 2^63 — no overflow, and a SQL oracle can
    * reproduce the identical integer with a literal power table).
    * Returns null for texts shorter than n. */
  case class RollingMinHash(child: Expression, n: Int, base: Long, mod: Long)
      extends UnaryExpression {

    require(n >= 1 && base > 0 && mod > 1 && mod <= 4000000000L,
      "need 1 <= mod <= 4e9 so h*B + char fits a long")

    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def nullable: Boolean = true

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"expected string, got ${other.simpleString}")
      }

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      if (s.length < n) null
      else {
        var best = Long.MaxValue
        var i = 0
        while (i + n <= s.length) {
          var h = 0L
          var j = 0
          while (j < n) { h = (h * base + s.charAt(i + j).toLong) % mod; j += 1 }
          if (h < best) best = h
          i += 1
        }
        best
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val s = ctx.freshName("s")
        val best = ctx.freshName("best")
        val h = ctx.freshName("h")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        s"""
          java.lang.String $s = $c.toString();
          if ($s.length() < $n) {
            ${ev.isNull} = true;
          } else {
            long $best = java.lang.Long.MAX_VALUE;
            for (int $i = 0; $i + $n <= $s.length(); $i++) {
              long $h = 0L;
              for (int $j = 0; $j < $n; $j++) {
                $h = ($h * ${base}L + (long) $s.charAt($i + $j)) % ${mod}L;
              }
              if ($h < $best) $best = $h;
            }
            ${ev.value} = $best;
          }
        """
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Intersection SIZE of two SORTED int arrays via a two-pointer merge —
    * the near-dup exact-verify kernel. Semantically equal to
    * `size(array_intersect(a, b))` ON ITS PRECONDITION (both arrays sorted
    * ascending and duplicate-free, which NearDup's `sort_array(collect_list
    * (distinct ids))` guarantees), but with no per-row hash-set allocation
    * and no intermediate intersection array — one fused loop, O(|a|+|b|),
    * inlined into whole-stage codegen. */
  case class SortedIntersectSize(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    import org.apache.spark.sql.catalyst.util.ArrayData

    override def dataType: DataType = LongType

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case _ =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"expected (array<int>, array<int>), got " +
              s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
      }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val nx = x.numElements(); val ny = y.numElements()
      var i = 0; var j = 0; var acc = 0L
      while (i < nx && j < ny) {
        val xv = x.getInt(i); val yv = y.getInt(j)
        if (xv == yv) { acc += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
        val acc = ctx.freshName("acc")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
          int $nx = $a.numElements(); int $ny = $b.numElements();
          int $i = 0; int $j = 0; long $acc = 0L;
          while ($i < $nx && $j < $ny) {
            int $xv = $a.getInt($i); int $yv = $b.getInt($j);
            if ($xv == $yv) { $acc++; $i++; $j++; }
            else if ($xv < $yv) { $i++; } else { $j++; }
          }
          ${ev.value} = $acc;
        """
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def charGrams(text: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_char_grams", text,
      org.apache.spark.sql.functions.lit(n))

  def rollingMinHash(text: Column, n: Int, base: Long, mod: Long): Column =
    org.apache.spark.sql.functions.call_function("graft_rolling_min_hash", text,
      org.apache.spark.sql.functions.lit(n), org.apache.spark.sql.functions.lit(base),
      org.apache.spark.sql.functions.lit(mod))

  def sortedIntersectSize(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_sorted_intersect_size", a, b)

  def wordGrams(text: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_word_grams", text,
      org.apache.spark.sql.functions.lit(n))

  def wordGramWindows(text: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_word_gram_windows", text,
      org.apache.spark.sql.functions.lit(n))

  def minHashSignature(grams: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_minhash_sig", grams,
      org.apache.spark.sql.functions.lit(k))

  def bpeMerge(syms: Column, a: String, b: String): Column =
    org.apache.spark.sql.functions.call_function("graft_bpe_merge", syms,
      org.apache.spark.sql.functions.lit(a), org.apache.spark.sql.functions.lit(b))

  def bpeSymPairs(syms: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_bpe_pairs", syms)
}
