package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("ytm computes a per-group running total ordered by month") {
    val df = Seq(
      ("A", 2024, 1, 10.0), ("A", 2024, 2, 5.0), ("A", 2024, 3, 1.0),
      ("B", 2024, 1, 7.0), ("A", 2025, 1, 2.0)
    ).toDF("site", "year", "month", "amount")
    val got = Relational.ytm(df, Seq("site", "year"), "month", "amount")
      .select("site", "year", "month", "ytm_amount")
      .as[(String, Int, Int, Double)].collect().toSet
    assert(got == Set(
      ("A", 2024, 1, 10.0), ("A", 2024, 2, 15.0), ("A", 2024, 3, 16.0),
      ("B", 2024, 1, 7.0), ("A", 2025, 1, 2.0)))
  }

  test("shareOfGroup divides by the partition total and nulls zero groups") {
    val df = Seq(("X", 2.0), ("X", 6.0), ("Y", 0.0)).toDF("g", "v")
    val got = Relational.shareOfGroup(df, Seq("g"), "v")
      .select("g", "v", "ratio").collect()
      .map(r => (r.getString(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got == Set(("X", 2.0, Some(0.25)), ("X", 6.0, Some(0.75)),
      ("Y", 0.0, None)))
  }

  test("allRollup unions detail grain with an ALL row per detail key") {
    val df = Seq(("s1", "c1", 1.0), ("s1", "c2", 2.0), ("s2", "c1", 4.0))
      .toDF("site", "cat", "amount")
    val got = Relational.allRollup(df, Seq("site"), "cat",
        Seq(sum($"amount").as("amount")))
      .as[(String, String, Double)].collect().toSet
    assert(got == Set(
      ("s1", "c1", 1.0), ("s1", "c2", 2.0), ("s2", "c1", 4.0),
      ("s1", "ALL", 3.0), ("s2", "ALL", 4.0)))
  }

  test("decode recodes through the map with default for unmapped") {
    val df = Seq("綠電", "綠證", "other").toDF("cat")
    val got = df.select(Relational.decode($"cat",
        Map("綠電" -> "green_power", "綠證" -> "rec"), $"cat").as("decoded"))
      .as[String].collect().toSet
    assert(got == Set("green_power", "rec", "other"))
  }

  test("antiJoinZeroFill synthesizes zero rows for missing keys") {
    val prev = Seq(("s1", 5.0), ("s2", 8.0)).toDF("site", "amount")
    val cur = Seq(("s1", 6.0)).toDF("site", "amount")
    val got = Relational.antiJoinZeroFill(cur, prev, Seq("site"), Seq("amount"))
      .as[(String, Double)].collect().toSet
    assert(got == Set(("s2", 0.0)))
  }

  test("latest keeps exactly the max-version row per key") {
    val df = Seq(("t", 1, "old"), ("t", 3, "new"), ("t", 2, "mid"), ("u", 1, "only"))
      .toDF("k", "version", "payload")
    val got = Relational.latest(df, Seq("k"), Seq("version"))
      .as[(String, Int, String)].collect().toSet
    assert(got == Set(("t", 3, "new"), ("u", 1, "only")))
  }

  test("asofJoin attaches the latest right row at-or-before each left time") {
    val l = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (1L, 5L, "p0"), (2L, 7L, "p3"))
      .toDF("k", "lt", "lv")
    val r = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (1L, 2L, "r2"), (3L, 1L, "rx"))
      .toDF("k", "rt", "rv")
    val got = Relational.asofJoin(l, r, Seq("k"), "lt", "rt")
      .select("k", "lt", "lv", "rt", "rv").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2),
        if (x.isNullAt(3)) -1L else x.getLong(3),
        if (x.isNullAt(4)) "" else x.getString(4))).toSet
    assert(got == Set(
      (1L, 10L, "p1", 10L, "r10"), // equal time matches (inclusive)
      (1L, 20L, "p2", 15L, "r15"),
      (1L, 5L, "p0", 2L, "r2"),
      (2L, 7L, "p3", -1L, ""))) // no right row for key => left row kept, nulls
  }

  test("asofJoinForward attaches the earliest right row at-or-after each left time") {
    val l = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 7L, "p3"))
      .toDF("k", "lt", "lv")
    val r = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (1L, 2L, "r2"), (3L, 1L, "rx"))
      .toDF("k", "rt", "rv")
    val got = Relational.asofJoinForward(l, r, Seq("k"), "lt", "rt")
      .select("k", "lt", "lv", "rt", "rv").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2),
        if (x.isNullAt(3)) -1L else x.getLong(3),
        if (x.isNullAt(4)) "" else x.getString(4))).toSet
    assert(got == Set(
      (1L, 10L, "p1", 10L, "r10"), // equal time matches (inclusive)
      (1L, 20L, "p2", -1L, ""),    // nothing after 20
      (2L, 7L, "p3", -1L, "")))
  }

  test("asofJoinForward equals the naive join-then-argmin on a random fixture") {
    val rnd = new scala.util.Random(11)
    val l = Seq.tabulate(200)(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(50).toLong, i.toLong))
      .toDF("k", "lt", "lid")
    val r = Seq.tabulate(150)(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(50).toLong * 7L % 50L, i.toLong))
      .toDF("k", "rt", "rid")
    val rd = Relational.latest(r, Seq("k", "rt"), Seq("rid"))
    val fast = Relational.asofJoinForward(l, rd, Seq("k"), "lt", "rt")
      .select("k", "lt", "lid", "rt", "rid")
    val naive = l.join(rd, l("k") === rd("k") && rd("rt") >= l("lt"), "left")
      .select(l("k"), $"lt", $"lid", (-$"rt").as("neg_rt"), $"rid")
    // argmin rt == argmax (-rt)
    val naiveBest = Relational.latest(naive, Seq("k", "lt", "lid"), Seq("neg_rt"))
      .withColumn("rt", -$"neg_rt").drop("neg_rt")
      .select("k", "lt", "lid", "rt", "rid")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        if (x.isNullAt(3)) -1L else x.getLong(3),
        if (x.isNullAt(4)) -1L else x.getLong(4))).toSet
    assert(canon(fast) == canon(naiveBest))
  }

  test("asof null times never match in either direction, left rows survive") {
    val l = Seq((1L, Some(10L), "a"), (1L, None, "b")).toDF("k", "lt", "lv")
    val r = Seq((1L, Some(5L), "r5"), (1L, Some(12L), "r12"), (1L, None, "rnull"))
      .toDF("k", "rt", "rv")
    val back = Relational.asofJoin(l, r, Seq("k"), "lt", "rt")
      .select("lv", "rv").as[(String, Option[String])].collect().toSet
    assert(back == Set(("a", Some("r5")), ("b", None)))
    val fwd = Relational.asofJoinForward(l, r, Seq("k"), "lt", "rt")
      .select("lv", "rv").as[(String, Option[String])].collect().toSet
    assert(fwd == Set(("a", Some("r12")), ("b", None)))
  }

  test("asofJoin equals the naive join-then-argmax on a random fixture") {
    val rnd = new scala.util.Random(7)
    val l = Seq.tabulate(200)(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(50).toLong, i.toLong))
      .toDF("k", "lt", "lid")
    val r = Seq.tabulate(150)(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(50).toLong * 7L % 50L, i.toLong))
      .toDF("k", "rt", "rid")
    // deterministic right side: one row per (k, rt), max rid wins
    val rd = Relational.latest(r, Seq("k", "rt"), Seq("rid"))
    val fast = Relational.asofJoin(l, rd, Seq("k"), "lt", "rt")
      .select("k", "lt", "lid", "rt", "rid")
    val naive = l.join(rd, l("k") === rd("k") && rd("rt") <= l("lt"), "left")
      .select(l("k"), $"lt", $"lid", $"rt", $"rid")
    val naiveBest = Relational.latest(naive, Seq("k", "lt", "lid"), Seq("rt"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        if (x.isNullAt(3)) -1L else x.getLong(3),
        if (x.isNullAt(4)) -1L else x.getLong(4))).toSet
    assert(canon(fast) == canon(naiveBest))
  }

  test("asofJoinBroadcast matches the composed form, null keys grouping included") {
    val rnd = new scala.util.Random(13)
    def k(): Option[Long] =
      if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(8).toLong)
    val l = Seq.tabulate(200)(i => (k(), rnd.nextInt(50).toLong, i.toLong))
      .toDF("k", "lt", "lid")
    val r = Seq.tabulate(150)(i =>
      (k(), rnd.nextInt(50).toLong * 7L % 50L, i.toLong)).toDF("k", "rt", "rid")
    // deterministic right side: one row per (k, rt) — all three forms only
    // promise a stable pick on a deduped right
    val rd = Relational.latest(r, Seq("k", "rt"), Seq("rid"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "lt", "lid", "rt", "rid").collect()
        .map(x => (if (x.isNullAt(0)) -99L else x.getLong(0), x.getLong(1),
          x.getLong(2),
          if (x.isNullAt(3)) -1L else x.getLong(3),
          if (x.isNullAt(4)) -1L else x.getLong(4))).toSet
    val composed = canon(Relational.asofJoin(l, rd, Seq("k"), "lt", "rt"))
    val bcast = canon(Relational.asofJoinBroadcast(l, rd, Seq("k"), "lt", "rt"))
    assert(bcast == composed)
    // null keys matched each other (grouping semantics), not dropped
    assert(composed.exists(t => t._1 == -99L && t._5 != -1L))
  }

  test("asofJoinAuto: broadcast under threshold, native above, composed for tiebreak") {
    val l = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 7L, "p3"))
      .toDF("k", "lt", "lv")
    val r = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (1L, 2L, "r2"))
      .toDF("k", "rt", "rv")
    val expected = Set(
      (1L, 10L, "p1", 10L, "r10"), (1L, 20L, "p2", 15L, "r15"),
      (2L, 7L, "p3", -1L, ""))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "lt", "lv", "rt", "rv").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getString(2),
          if (x.isNullAt(3)) -1L else x.getLong(3),
          if (x.isNullAt(4)) "" else x.getString(4))).toSet
    val bc = Relational.asofJoinAuto(l, r, Seq("k"), "lt", "rt",
      broadcastThreshold = Long.MaxValue)
    assert(bc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(canon(bc) == expected)
    val nat = Relational.asofJoinAuto(l, r, Seq("k"), "lt", "rt",
      broadcastThreshold = 0L)
    assert(nat.queryExecution.executedPlan.toString.contains("AsofJoin"))
    assert(canon(nat) == expected)
    val tie = Relational.asofJoinAuto(l, r, Seq("k"), "lt", "rt",
      rightTiebreak = Seq("rv"), broadcastThreshold = Long.MaxValue)
    val tiePlan = tie.queryExecution.executedPlan.toString
    assert(!tiePlan.contains("AsofJoin") && tiePlan.contains("Window"))
    assert(canon(tie) == expected)
  }

  test("asofJoinAuto: size-string conf thresholds and map payloads dispatch safely") {
    val l = Seq((1L, 10L, "p1"), (1L, 20L, "p2")).toDF("k", "lt", "lv")
    val r = Seq((1L, 10L, "r10"), (1L, 15L, "r15")).toDF("k", "rt", "rv")
    // the conf accepts byte-suffixed size strings; the default dispatch
    // path must parse them, not crash on .toLong
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      val auto = Relational.asofJoinAuto(l, r, Seq("k"), "lt", "rt")
      assert(auto.count() == 2L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // a map-typed right payload is unorderable: the broadcast form's
    // lexicographic struct sort would fail analysis, so auto must route
    // it to the native exec even under an infinite threshold
    val rm = r.withColumn("attrs", map(lit("a"), col("rv")))
    val auto2 = Relational.asofJoinAuto(l, rm, Seq("k"), "lt", "rt",
      broadcastThreshold = Long.MaxValue)
    assert(auto2.queryExecution.executedPlan.toString.contains("AsofJoin"))
    val got = auto2.select("k", "lt", "rt", "rv").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3))).toSet
    assert(got == Set((1L, 10L, 10L, "r10"), (1L, 20L, 15L, "r15")))
  }

  test("completeMonthGrid synthesizes zero rows for every missing month") {
    val df = Seq(("A", "2024-01-01", 10.0), ("A", "2024-04-01", 5.0),
      ("B", "2024-02-01", 1.0)).toDF("k", "mon", "v")
      .withColumn("mon", $"mon".cast("date"))
    val got = Relational.completeMonthGrid(df, Seq("k"), "mon", Seq("v"))
      .as[(String, java.sql.Date, Double)].collect().toSet
    // spine Jan..Apr x keys {A, B} = 8 cells, 5 of them synthesized zeros
    assert(got.size == 8)
    assert(got.count(_._3 == 0.0) == 5)
    assert(got.contains(("B", java.sql.Date.valueOf("2024-03-01"), 0.0)))
    assert(got.contains(("A", java.sql.Date.valueOf("2024-04-01"), 5.0)))
  }

  test("monthStart builds the first-of-month date") {
    val got = Seq((2024, 2)).toDF("y", "m")
      .select(Relational.monthStart($"y", $"m").cast("string")).as[String].head()
    assert(got == "2024-02-01")
  }
}
