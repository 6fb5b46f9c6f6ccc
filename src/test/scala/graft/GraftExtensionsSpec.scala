package graft

/** The extension class must make every native expression callable from SQL
  * with no imperative registration anywhere. spark.sql.extensions is a
  * STATIC conf — it only applies when the JVM's first session is built —
  * so the shared SparkSpec session carries it (as do the Verify main and
  * the perfbench session), and this spec asserts the functions resolve
  * there. */
class GraftExtensionsSpec extends SparkSpec {

  test("native expressions resolve via spark.sql.extensions") {
    val row = spark.sql(
      """SELECT
           graft_quantized_dot(array(CAST(1.5 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS d,
           graft_quantized_norm2(array(CAST(1.5 AS FLOAT))) AS n2,
           graft_char_grams('abab', 2) AS g,
           graft_rolling_min_hash('abcdefgh', 8, 257L, 1000000007L) AS rh
      """).collect().head
    assert(row.getLong(0) == 1500L * 2000L)
    assert(row.getLong(1) == 1500L * 1500L)
    assert(row.getSeq[String](2) == Seq("ab", "ba"))
    // reference rolling hash of the single 8-char window
    val ref = "abcdefgh".foldLeft(0L)((h, c) => (h * 257 + c.toLong) % 1000000007L)
    assert(row.getLong(3) == ref)
    // every native function, listed by name so a table entry cannot go
    // missing unnoticed
    val all = Set("graft_char_grams", "graft_word_grams", "graft_word_gram_windows",
      "graft_minhash_sig", "graft_bpe_merge", "graft_bpe_pairs",
      "graft_rolling_min_hash", "graft_sorted_intersect_size",
      "graft_quantized_dot", "graft_quantized_norm2", "graft_nearest_centroid",
      "graft_quantize_vec", "graft_prequantized_dot", "graft_unordered_pairs",
      "graft_asof_pick_sorted", "graft_bloom_agg", "graft_bloom_contains")
    val listed = spark.sql("SHOW FUNCTIONS LIKE 'graft_*'").collect()
      .map(_.getString(0)).toSet
    assert(listed == all)
    for (name <- all)
      assert(spark.sql(s"DESCRIBE FUNCTION $name").collect()
        .exists(_.getString(0).startsWith(s"Function: $name")), name)
  }

  test("nothing in src/main adds to a session or sets a conf outside Jdbc") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val hits = for {
      f <- files(root)
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      tok <- Seq("createOrReplaceTempFunction", "extraStrategies",
        "extraOptimizations", "conf.set(")
      if src.contains(tok)
    } yield s"${f.getName}: $tok"
    assert(hits == Seq("Jdbc.scala: conf.set("))
  }
}
