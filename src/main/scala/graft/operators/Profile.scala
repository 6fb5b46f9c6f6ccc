package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dataset profiling — the data-quality pass an ingest pipeline runs before
  * trusting a new drop: per-column row/null/distinct counts in ONE scan.
  *
  * Reference scope: the reference eyeballs frames ad hoc (`print(df)` in
  * the jobs modules, passim); a 100 TB ingest needs the machine-readable
  * form.
  *
  * Scale design: columns are melted to (column, value) long format with
  * `stack` (codegen'd, no shuffle), then one aggregation with #cols groups.
  * Values are compared as canonical strings only for distinct-COUNTING —
  * counts are representation-independent, so the result is engine-neutral
  * and exact. For cardinalities where exact distinct is too hot, swap the
  * `count_distinct` for the KMV sketch (q33) — same plan shape.
  *
  * The expectation form [[checkNotNull]] turns the profile into a gate:
  * violations (null keys, empty frames) fail fast instead of poisoning
  * downstream joins — the `raise`-on-bad-frame pattern of the reference's
  * jobs, distributed.
  */
object Profile {

  /** (column, n_rows, n_null, n_distinct) per listed column, one scan.
    * The melt is built from typed Columns (no SQL-string splicing), so any
    * legal column name — quotes, backticks, spaces — profiles cleanly. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty && cols.forall(df.columns.contains),
      s"unknown columns in ${cols.mkString(",")}")
    val melted = cols.map(c =>
      struct(lit(c).as("column"), col(c).cast("string").as("value")))
    df.select(explode(array(melted: _*)).as("cv"))
      .select(col("cv.column").as("column"), col("cv.value").as("value"))
      .groupBy(col("column"))
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("value"))).as("n_null"),
        count_distinct(col("value")).as("n_distinct"))
  }

  /** Null-check gate: rows of (column, n_null) for listed columns that
    * contain ANY null — empty result = frame passes. */
  def checkNotNull(df: DataFrame, cols: Seq[String]): DataFrame =
    profile(df, cols)
      .filter(col("n_null") > 0)
      .select(col("column"), col("n_null"))

  /** Distribution drift between two dataset snapshots — the ingest QA gate
    * that catches a composition shift (a crawler dropping a language, a
    * source exploding) BEFORE a bad drop trains: per-value shares of `key`
    * in each snapshot in ppm, their absolute drift, side by side. Total
    * variation distance = Σ drift_ppm / 2e6. Each side is one
    * partial-aggregable count; the share join is value-cardinality-sized
    * (broadcast); all integer arithmetic — deterministic at any partition
    * count and cross-engine (oracle-gated as q52). Missing values on either
    * side count as share 0 (full outer join), which is exactly the signal
    * a vanished language should raise. */
  def distributionDrift(a: DataFrame, b: DataFrame, key: String): DataFrame = {
    def shares(df: DataFrame, side: String) = {
      val counts = df.groupBy(col(key).cast("string").as("key"))
        .agg(count(lit(1)).as(s"cnt_$side"))
      // the scalar total is Σ cnt = count(*) of the side — taken directly
      // from the input as a COUNT aggregate (column-pruned scan; parquet
      // answers it from footer row counts) instead of re-deriving the
      // whole counts subtree, whose groupBy re-scanned and re-shuffled
      // the side a second time just to attach one number (r15). Same
      // integer, same broadcast-crossJoin plan shape.
      counts.crossJoin(broadcast(
          df.agg(count(lit(1)).as(s"total_$side"))))
        .withColumn(s"share_${side}_ppm",
          expr(s"cnt_$side * 1000000 div total_$side"))
        .select(col("key"), col(s"share_${side}_ppm"))
    }
    shares(a, "a").join(shares(b, "b"), Seq("key"), "full_outer")
      .na.fill(0L, Seq("share_a_ppm", "share_b_ppm"))
      .withColumn("drift_ppm",
        abs(col("share_a_ppm") - col("share_b_ppm")))
  }

  /** Join-key skew diagnosis — the pre-flight for [[Scale.saltedJoin]]: the
    * `topK` hottest key values with row count, corpus share (ppm), and the
    * salt factor that would spread that key across mean-sized reducers at
    * the given `parallelism` (rec_salt = ceil(cnt · parallelism / total); a
    * uniform key recommends 1 — no salting). One partial-aggregable groupBy
    * plus a TakeOrderedAndProject top-k (per-partition heads merged on the
    * driver — never a global sort), so diagnosing a 100 TB fact key costs
    * one scan. All outputs integer arithmetic: deterministic at any
    * partition count, oracle-gated as q51. */
  def keySkew(df: DataFrame, key: String, topK: Int = 10,
              parallelism: Int = 32): DataFrame = {
    val counts = df.groupBy(col(key).cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
    // Σ cnt = count(*) of the input: a COUNT-pruned scan (parquet footer
    // row counts) instead of re-deriving the counts subtree — the old
    // scalar re-scanned AND re-shuffled the 100 TB fact input a second
    // time to attach one number (r15). Same integer, same plan shape.
    val tot = df.agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("cnt * 1000000 div total"))
      .withColumn("rec_salt",
        expr(s"(cnt * $parallelism + total - 1) div total"))
      .orderBy(col("cnt").desc, col("key"))
      .limit(topK)
      .select(col("key"), col("cnt"), col("share_ppm"), col("rec_salt"))
  }
}
