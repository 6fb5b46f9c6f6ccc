package graft.jobs

import graft.SparkSpec

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def files(path: String, part: String): Set[String] = {
    val d = new java.io.File(path, part)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
  }

  private def writeFragmented(path: String): Unit = {
    // three appends -> partition mon=2024-01 accumulates three files;
    // mon=2024-02 written once stays single-file
    Seq((1L, "2024-01"), (2L, "2024-02")).toDF("id", "mon")
      .repartition(1).write.partitionBy("mon").mode("overwrite").parquet(path)
    Seq((3L, "2024-01")).toDF("id", "mon")
      .repartition(1).write.partitionBy("mon").mode("append").parquet(path)
    Seq((4L, "2024-01")).toDF("id", "mon")
      .repartition(1).write.partitionBy("mon").mode("append").parquet(path)
  }

  test("compactSmallFiles rewrites only fragmented partitions, same data") {
    val path = java.nio.file.Files.createTempDirectory("compact").toString
    writeFragmented(path)
    assert(files(path, "mon=2024-01").size == 3)
    val cleanBefore = files(path, "mon=2024-02")
    val before = spark.read.parquet(path).orderBy("id")
      .collect().map(_.toString).toSeq

    val rewritten = Maintenance.compactSmallFiles(spark, path, "mon")
    assert(rewritten == Seq("2024-01"))
    assert(files(path, "mon=2024-01").size == 1, "fragments not compacted")
    assert(files(path, "mon=2024-02") == cleanBefore,
      "well-formed partition was rewritten")
    val after = spark.read.parquet(path).orderBy("id")
      .collect().map(_.toString).toSeq
    assert(after == before, "compaction changed the data")
  }

  test("forgetKeys deletes rows, rewrites only touched partitions, drops emptied ones") {
    val path = java.nio.file.Files.createTempDirectory("forget").toString
    Seq((1L, "2024-01"), (2L, "2024-01"), (3L, "2024-02"), (4L, "2024-03"))
      .toDF("doc_id", "mon")
      .repartition(1).write.partitionBy("mon").mode("overwrite").parquet(path)
    val untouched = files(path, "mon=2024-01")

    // doc 3 is the only row of 2024-02 (partition empties); doc 4 leaves
    // 2024-03 intact-but-rewritten? no — 2024-03 is untouched
    val (parts, n) = Maintenance.forgetKeys(spark, path, "mon", "doc_id", Seq(3L))
    assert(parts == Seq("2024-02") && n == 1)
    assert(!new java.io.File(path, "mon=2024-02").exists(),
      "emptied partition directory must disappear")
    assert(files(path, "mon=2024-01") == untouched,
      "partition without the key was rewritten")
    val left = spark.read.parquet(path).select("doc_id")
      .as[Long].collect().toSet
    assert(left == Set(1L, 2L, 4L))

    // multi-partition forget: doc 1 (2024-01) and doc 4 (2024-03) at once
    val (parts2, n2) = Maintenance.forgetKeys(spark, path, "mon", "doc_id",
      Seq(1L, 4L, 999L))
    assert(parts2.toSet == Set("2024-01", "2024-03") && n2 == 2)
    val left2 = spark.read.parquet(path).select("doc_id")
      .as[Long].collect().toSet
    assert(left2 == Set(2L))
  }

  test("forgetKeys with no matching rows is a no-op") {
    val path = java.nio.file.Files.createTempDirectory("forget_noop").toString
    Seq((1L, "2024-01")).toDF("doc_id", "mon")
      .repartition(1).write.partitionBy("mon").mode("overwrite").parquet(path)
    val before = files(path, "mon=2024-01")
    val (parts, n) = Maintenance.forgetKeys(spark, path, "mon", "doc_id", Seq(42L))
    assert(parts.isEmpty && n == 0)
    assert(files(path, "mon=2024-01") == before)
  }

  test("compaction is target-size-aware: big partitions keep multiple files") {
    val path = java.nio.file.Files.createTempDirectory("compact_size").toString
    (1 to 4).foreach { i =>
      Seq((i.toLong, "2024-01")).toDF("id", "mon")
        .repartition(1).write.partitionBy("mon").mode("append").parquet(path)
    }
    val dir = new java.io.File(path, "mon=2024-01")
    val total = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length()).sum
    // target = half the partition: 4 fragments must compact to exactly 2
    // files, not 1 — a partition bigger than one target file stays parallel
    val rewritten = Maintenance.compactSmallFiles(spark, path, "mon",
      targetFileBytes = (total + 1) / 2)
    assert(rewritten == Seq("2024-01"))
    assert(files(path, "mon=2024-01").size == 2,
      s"expected 2 target-sized files, got ${files(path, "mon=2024-01").size}")
    assert(spark.read.parquet(path).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))

    // a partition already holding target-sized files is NOT re-binned even
    // though it has more than maxFilesPerPartition files
    val again = Maintenance.compactSmallFiles(spark, path, "mon",
      targetFileBytes = 10L) // every file is over-target
    assert(again.isEmpty, "well-sized partition was rewritten")
  }

  test("forgetKeys keeps null-key rows in touched partitions") {
    val path = java.nio.file.Files.createTempDirectory("forget_null").toString
    // 2024-01 holds a targeted row AND a null-key row; 2024-02 holds ONLY
    // a null-key row plus a targeted row — under three-valued logic a bare
    // `!isin` filter would delete the null rows and drop 2024-02 entirely
    Seq((Some(1L), "2024-01"), (None, "2024-01"),
        (Some(3L), "2024-02"), (None, "2024-02"))
      .toDF("doc_id", "mon")
      .repartition(1).write.partitionBy("mon").mode("overwrite").parquet(path)

    val (parts, n) = Maintenance.forgetKeys(spark, path, "mon", "doc_id", Seq(1L, 3L))
    assert(parts.toSet == Set("2024-01", "2024-02") && n == 2)
    assert(new java.io.File(path, "mon=2024-02").exists(),
      "partition holding a null-key row must survive the forget")
    val left = spark.read.parquet(path)
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(left == Set((None, "2024-01"), (None, "2024-02")),
      s"null-key rows were lost: $left")
  }

  test("compactSmallFiles round-trips partition values needing path escaping") {
    val path = java.nio.file.Files.createTempDirectory("compact_esc").toString
    // a space and a colon both live in the directory name Hive-escaped
    // (mon=a%20b%3Ac); naive reuse of the dir name as the VALUE would
    // rewrite into a double-escaped sibling and split the partition
    Seq((1L, "a b:c")).toDF("id", "mon")
      .repartition(1).write.partitionBy("mon").mode("overwrite").parquet(path)
    Seq((2L, "a b:c")).toDF("id", "mon")
      .repartition(1).write.partitionBy("mon").mode("append").parquet(path)
    val dirs0 = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs0.size == 1)

    val rewritten = Maintenance.compactSmallFiles(spark, path, "mon")
    assert(rewritten == Seq("a b:c"))
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == dirs0, s"partition split/double-escaped: $dirs")
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a b:c"), (2L, "a b:c")))
  }

  test("forgetKeys drops an emptied partition whose value needs escaping") {
    val path = java.nio.file.Files.createTempDirectory("forget_esc").toString
    Seq((1L, "a b"), (2L, "plain")).toDF("doc_id", "mon")
      .repartition(1).write.partitionBy("mon").mode("overwrite").parquet(path)
    val (parts, n) = Maintenance.forgetKeys(spark, path, "mon", "doc_id", Seq(1L))
    assert(parts == Seq("a b") && n == 1)
    val dirs = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("mon=plain"), s"escaped empty partition not dropped: $dirs")
  }
}
