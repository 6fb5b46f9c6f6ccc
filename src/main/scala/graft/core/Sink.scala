package graft.core

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** Idempotent keyed-overwrite writers — the engine-side port of the
  * reference's delete-then-append refresh (S7): every monthly job deletes the
  * affected window then bulk-appends
  * (reference: jobs/raw_to_staging.py:201-205, jobs/source_to_raw/
  * fem_ratio.py:51-57, jobs/csr_etl.py:73-79).
  *
  * On a 100 TB lake the correct mechanism is dynamic partition overwrite:
  * write only the partitions present in the incoming batch, atomically, with
  * no read-modify-write of the rest of the table. The table must be
  * partitioned by the refresh key (the reference's `period_start` month —
  * SURVEY.md §1.5), which also gives every downstream scan partition pruning.
  */
object Sink {

  /** Overwrite exactly the partitions present in `df`; leave all others.
    * Equivalent to the reference's `DELETE WHERE period_start IN (...)` +
    * append, but atomic per-partition and shuffle-free beyond the write. */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    // a per-write option, not the session conf: every other overwrite in
    // the session keeps Spark's static mode (AnnIndex.build relies on it)
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Full-table replace — the reference's TRUNCATE+insert
    * (reference: Model/Factory_elect_simulator_update.py:129-142). */
  def replaceAll(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Plain append — the reference's chunked `to_sql(if_exists='append')`
    * (reference: models/engine.py:40-58); batching is the writer's concern
    * (JDBC `batchsize` / parquet row groups), not the caller's. */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Read back a table written by the writers above. */
  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** True only for the "no table at this path yet" analysis failure.
    * Catching AnalysisException wholesale would also swallow schema drift /
    * missing-column errors and silently treat CORRUPT state as ABSENT
    * state — a first-load fallback must key on this predicate alone. */
  private[graft] def pathMissing(e: org.apache.spark.sql.AnalysisException): Boolean =
    Option(e.getCondition).exists {
      // UNABLE_TO_INFER_SCHEMA is parquet's "directory exists but holds no
      // data files" — the state of a pre-created empty table dir. Corrupt
      // files fail differently (footer SparkException), not here.
      case "PATH_NOT_FOUND" | "UNABLE_TO_INFER_SCHEMA" => true
      case _ => false
    } || e.getMessage.contains("Path does not exist")

  /** Keyed delete-then-append for non-partition-aligned predicates: rewrite
    * only the partitions that contain matching rows, dropping matches and
    * unioning the replacement. This is the general fallback the JDBC sink
    * would implement transactionally; on files it is a partition-scoped
    * read-modify-write (still bounded by the touched partitions, never the
    * whole table). */
  def overwriteWhere(df: DataFrame, path: String, partitionCols: Seq[String],
                     matches: Column): Unit = {
    val spark = df.sparkSession
    // first-ever write: nothing to delete, plain partition overwrite
    val existing =
      try spark.read.parquet(path)
      catch {
        case e: org.apache.spark.sql.AnalysisException if pathMissing(e) =>
          overwritePartitions(df, path, partitionCols)
          return
      }
    val touched = existing.filter(matches).select(partitionCols.map(col): _*).distinct()
    // a NULL match must mean KEEP: `!matches` is NULL (not true) for rows
    // where the predicate is NULL (e.g. a forall over a NULL array), and a
    // bare filter would silently delete them — the same three-valued-logic
    // trap Maintenance.forgetKeys fixed for null keys
    val kept = existing.join(touched, partitionCols)
      .filter(!coalesce(matches, lit(false)))
    overwritePartitions(kept.unionByName(df), path, partitionCols)
  }
}
