package graft.core

import java.nio.file.Files
import java.time.LocalDate
import graft.SparkSpec
import org.apache.spark.sql.functions._

class CoreSpec extends SparkSpec {
  import spark.implicits._

  test("DecarbDate windows with the January rollover") {
    val jan = FixedClock(LocalDate.of(2026, 1, 15))
    assert(DecarbDate.previousMonthWindow(jan) ==
      (LocalDate.of(2025, 12, 1), LocalDate.of(2025, 12, 31)))
    val mid = FixedClock(LocalDate.of(2026, 8, 12))
    assert(DecarbDate.previousMonthWindow(mid) ==
      (LocalDate.of(2026, 7, 1), LocalDate.of(2026, 7, 31)))
    assert(DecarbDate.rollingMonths(mid, 12) ==
      (LocalDate.of(2025, 8, 1), LocalDate.of(2026, 7, 31)))
  }

  test("reportingQuarters reproduces the quarter-branch windows") {
    // August: three completed iterations — last year's Q4, then Q1, Q2
    val aug = FixedClock(LocalDate.of(2026, 8, 12))
    val got = DecarbDate.reportingQuarters(aug)
    assert(got.map(q => (q.year, q.quarter)) == Seq(
      (2025, "Q4"), (2026, "Q1"), (2026, "Q2")))
    assert(got.head.periodStart == LocalDate.of(2025, 1, 1))
    assert(got.head.periodEnd == LocalDate.of(2025, 12, 1))
    assert(got(2).periodEnd == LocalDate.of(2026, 6, 1))
    // February: only the Q4-of-last-year iteration
    val feb = FixedClock(LocalDate.of(2026, 2, 1))
    assert(DecarbDate.reportingQuarters(feb).map(_.quarter) == Seq("Q4"))
  }

  test("overwritePartitions refreshes only the incoming partitions") {
    val dir = Files.createTempDirectory("sink").toString + "/t"
    val v1 = Seq(("2026-01", "a", 1.0), ("2026-02", "b", 2.0))
      .toDF("period", "site", "amount")
    Sink.overwritePartitions(v1, dir, Seq("period"))
    // re-run Feb with corrected data — Jan must survive untouched (S7 idempotent refresh)
    val v2 = Seq(("2026-02", "b", 20.0), ("2026-02", "c", 30.0))
      .toDF("period", "site", "amount")
    Sink.overwritePartitions(v2, dir, Seq("period"))
    val got = Sink.read(spark, dir).select("period", "site", "amount")
      .as[(String, String, Double)].collect().toSet
    assert(got == Set(("2026-01", "a", 1.0), ("2026-02", "b", 20.0),
      ("2026-02", "c", 30.0)))
  }

  test("overwritePartitions leaves the session's partition overwrite mode unchanged") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    Sink.overwritePartitions(Seq(("2026-01", 1.0)).toDF("period", "amount"),
      Files.createTempDirectory("sink_mode").toString + "/t", Seq("period"))
    assert(spark.conf.getOption(key) == before)
  }

  test("Memo supports nested builds (memoized builder loading memoized inputs)") {
    // regression: computeIfAbsent-based Memo threw "Recursive update" when a
    // memoized query builder called Memo again for its table loads and the
    // two keys landed in one hash bin — key-layout-dependent, so this pins
    // the reentrant contract directly with many nested pairs
    import graft.core.Memo
    for (i <- 1 to 64) {
      val outer = Memo(spark, s"memo-nest-outer-$i") {
        Memo(spark, s"memo-nest-inner-$i")(spark.range(i.toLong).toDF("v"))
          .withColumn("w", col("v") * 2)
      }
      assert(outer.count() == i.toLong)
      // both levels cached: same object back on re-request
      assert(Memo(spark, s"memo-nest-outer-$i")(fail("must not rebuild")) eq outer)
    }
  }

  test("overwriteWhere rewrites only touched partitions by predicate") {
    val dir = Files.createTempDirectory("sink2").toString + "/t"
    val v1 = Seq(("2026-01", "a", 1.0), ("2026-01", "x", 9.0), ("2026-02", "b", 2.0))
      .toDF("period", "site", "amount")
    Sink.overwritePartitions(v1, dir, Seq("period"))
    val fix = Seq(("2026-01", "x", 99.0)).toDF("period", "site", "amount")
    Sink.overwriteWhere(fix, dir, Seq("period"), col("site") === "x")
    val got = Sink.read(spark, dir).select("period", "site", "amount")
      .as[(String, String, Double)].collect().toSet
    assert(got == Set(("2026-01", "a", 1.0), ("2026-01", "x", 99.0),
      ("2026-02", "b", 2.0)))
  }
}
