package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** DistinctCharGrams must agree with the composable HOF formulation
  * (array_distinct + transform + substr) on every input where the HOF form
  * is well-defined (length >= n), and return an empty array below that —
  * where the HOF form's sequence(1, 0) would count down and fabricate
  * grams. Covers ASCII, unicode, repeats, and both codegen and interpreted
  * eval paths. */
class TextExpressionsSpec extends SparkSpec {

  private val samples = Seq(
    "hello world hello",
    "aaaaaaa",
    "ab",
    "",
    "abcd",
    "綠電綠電憑證",       // unicode labels like the reference's category enums
    "a b a b a b",
    "the quick brown fox jumps over the lazy dog")

  test("charGrams equals the HOF formulation for length >= n") {
    import spark.implicits._
    for (n <- Seq(1, 3, 4, 5)) {
      val df = samples.toDF("text").filter(length(col("text")) >= n)
        .select(
          TextExpressions.charGrams(col("text"), n).as("native"),
          expr(s"array_distinct(transform(sequence(1, length(text) - ${n - 1}), " +
            s"i -> substr(text, i, $n)))").as("hof"))
      df.collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
      }
    }
  }

  test("charGrams yields empty array for texts shorter than n") {
    import spark.implicits._
    val out = Seq("ab", "", "abc").toDF("text")
      .select(TextExpressions.charGrams(col("text"), 4).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(out.forall(_.isEmpty))
  }

  test("rollingMinHash computes the exact min polynomial window hash") {
    import spark.implicits._
    // reference computation in plain Scala
    def ref(s: String, n: Int, b: Long, m: Long): Option[Long] =
      if (s.length < n) None
      else Some((0 to s.length - n).map { i =>
        s.substring(i, i + n).foldLeft(0L)((h, c) => (h * b + c.toLong) % m)
      }.min)
    val texts = Seq("hello world, this is a rolling hash", "aaaaaaaaaa",
      "short", "綠電綠電憑證綠電綠電憑證", "exactly8")
    val got = texts.toDF("text")
      .select(TextExpressions.rollingMinHash(col("text"), 8, 257L, 1000000007L))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    texts.zip(got).foreach { case (t, g) =>
      assert(g == ref(t, 8, 257L, 1000000007L), s"text='$t'")
    }
  }

  test("charGrams agrees between codegen and interpreted eval") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val e = TextExpressions.DistinctCharGrams(Literal("abcabcab"), 3)
    val got = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString)
    assert(got.toSeq == Seq("abc", "bca", "cab"))
  }

  test("sortedIntersectSize equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = Seq.tabulate(300) { i =>
      def set() = Seq.fill(rnd.nextInt(20))(rnd.nextInt(40)).distinct.sorted
      (i.toLong, set(), set())
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select($"id",
        TextExpressions.sortedIntersectSize($"a", $"b").as("fused"),
        size(array_intersect($"a", $"b")).cast("long").as("builtin"))
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty && got.forall { case (_, f, bi) => f == bi })
    // null input -> null, not a crash
    val nullRow = Seq((1L, Seq(1, 2), null.asInstanceOf[Seq[Int]]))
      .toDF("id", "a", "b")
      .select(TextExpressions.sortedIntersectSize($"a", $"b")).collect()
    assert(nullRow.head.isNullAt(0))
    // interpreted path agrees with codegen
    val e = TextExpressions.SortedIntersectSize(
      org.apache.spark.sql.catalyst.expressions.Literal.create(Seq(1, 3, 5, 9),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(Seq(3, 4, 9),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType)))
    assert(e.eval(null) == 2L)
  }

  test("wordGrams equals the HOF formulation it replaces, incl. empty tokens") {
    import spark.implicits._
    val texts = samples ++ Seq(
      "a  b c",       // double space -> empty token, kept by split(limit=-1)
      " leading", "trailing ", "one two one two one two")
    for (n <- Seq(1, 2, 3, 5)) {
      val df = texts.toDF("text").select(
        TextExpressions.wordGrams(col("text"), n).as("native"),
        expr(s"""CASE WHEN size(split(text, ' ')) >= $n THEN
            array_distinct(transform(sequence(1, size(split(text, ' ')) - ${n - 1}),
              j -> concat_ws(' ', slice(split(text, ' '), j, $n))))
          ELSE array() END""").as("hof"))
      df.collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
      }
    }
  }

  test("wordGramWindows equals the positional HOF formulation it replaces") {
    import spark.implicits._
    val texts = samples ++ Seq("a  b c", " leading", "trailing ",
      "one two one two one two")
    for (n <- Seq(1, 2, 3, 5)) {
      val df = texts.toDF("text").select(
        TextExpressions.wordGramWindows(col("text"), n).as("native"),
        expr(s"""CASE WHEN size(split(text, ' ')) >= $n THEN
            transform(sequence(0, size(split(text, ' ')) - $n),
              p -> array_join(slice(split(text, ' '), p + 1, $n), ' '))
          ELSE array() END""").as("hof"))
      df.collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
      }
    }
    // interpreted eval path agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val e = TextExpressions.WordGramWindows(Literal("a b a b"), 2)
    val got = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString)
    assert(got.toSeq == Seq("a b", "b a", "a b"))
  }

  test("minHashSignature skips null elements instead of NPE-ing") {
    import spark.implicits._
    // a nullable-element array (SQL arrays are nullable by default): the
    // signature must equal the one over the non-null elements, and an
    // all-null array must behave like an empty set (ADVICE r8)
    val got = Seq(
        (1L, Seq[String]("alpha", null, "beta")),
        (2L, Seq[String]("alpha", "beta")),
        (3L, Seq[String](null, null)),
        (4L, Seq.empty[String]))
      .toDF("id", "toks")
      .select($"id", TextExpressions.minHashSignature($"toks", 4).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == got(2L), "null element changed the signature")
    assert(got(3L).isEmpty && got(4L).isEmpty)
    // the SQL surface path too (registered temp function)
    val sqlGot = spark.sql(
      "SELECT graft_minhash_sig(array('alpha', CAST(NULL AS STRING), 'beta'), 4)")
      .head().getSeq[String](0)
    assert(sqlGot == got(2L))
  }

  test("wordGrams agrees between codegen and interpreted eval") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val e = TextExpressions.DistinctWordGrams(Literal("a b c a b c"), 3)
    val got = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString)
    assert(got.toSeq == Seq("a b c", "b c a", "c a b"))
    assert(TextExpressions.DistinctWordGrams(Literal("a b"), 3).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .numElements() == 0)
  }
}
