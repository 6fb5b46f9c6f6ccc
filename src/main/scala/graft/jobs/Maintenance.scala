package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Warehouse maintenance: the two rewrite jobs a parquet medallion layout
  * needs at scale that the reference (one small Postgres) never faces.
  *
  *  - Small-file compaction: every incremental refresh
  *    (`Sink.overwritePartitions`, streaming foreachBatch appends) leaves
  *    another file per partition; at 100 TB the scan's task count — and the
  *    namenode/listing load — grows with FILES, not bytes. Compaction
  *    rewrites only the partitions that have fragmented, one partition at a
  *    time, leaving well-formed partitions byte-identical.
  *
  *  - Targeted key deletion (right-to-be-forgotten / takedown): a training
  *    corpus must honor removal requests without rewriting the warehouse.
  *    The touched partitions are found with a column-pruned scan of ONLY
  *    (key, partition) — parquet reads two columns, not the payload — then
  *    just those partitions are rewritten without the keys.
  *
  * Both use `localCheckpoint` before the overwrite: Spark refuses a write
  * that reads from the path being overwritten, and materializing first is
  * the supported self-rewrite pattern (same trick as Graph's iteration).
  */
object Maintenance {

  private def partitionDirs(path: String, partitionCol: String): Seq[java.io.File] = {
    val root = new java.io.File(path)
    Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith(s"$partitionCol="))
  }

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Rewrite every partition that has fragmented into more than
    * `maxFilesPerPartition` files into `ceil(bytes / targetFileBytes)`
    * files each (at least one — a small partition compacts to a single
    * file, a 100 GB partition keeps enough files to stay parallel and
    * task-sized); all other partitions are untouched (asserted by file
    * identity in MaintenanceSpec). A partition already at or under the
    * file-count budget is never rewritten even if its files are small —
    * compaction is for FRAGMENTATION, not re-binning. Returns the
    * rewritten partition values. */
  def compactSmallFiles(spark: SparkSession, path: String, partitionCol: String,
                        maxFilesPerPartition: Int = 1,
                        targetFileBytes: Long = 128L << 20): Seq[String] = {
    // one listing + stat pass per partition: the (bytes, count) pair feeds
    // both the fragmentation test and the output bin count
    val fragmented = partitionDirs(path, partitionCol)
      .map { d => val fs = parquetFiles(d); (d, fs.size, fs.map(_.length()).sum) }
      .filter { case (_, nFiles, bytes) =>
        // fragmented = over the file budget AND over-split for its size:
        // a partition legitimately holding N target-sized files stays put
        nFiles > math.max(maxFilesPerPartition.toLong,
          (bytes + targetFileBytes - 1) / targetFileBytes)
      }
    fragmented.map { case (d, _, bytes) =>
      // directory names carry the Hive-escaped form (space → %20 etc.);
      // unescape before re-using as the column VALUE, or the rewrite
      // double-escapes (mon=a%2520b) and splits the partition
      val value = ExternalCatalogUtils.unescapePathName(
        d.getName.stripPrefix(s"$partitionCol="))
      val nOut = math.max(1L,
        (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val compacted = spark.read.parquet(d.toString)
        .withColumn(partitionCol, lit(value))
        .coalesce(nOut)
        .localCheckpoint() // materialize BEFORE overwriting what we read
      graft.core.Sink.overwritePartitions(compacted, path, Seq(partitionCol))
      value
    }
  }

  /** Delete every row whose `keyCol` is in `keys`, rewriting only the
    * partitions that contain such rows. Partitions left empty by the
    * delete are removed entirely (dynamic overwrite cannot express an
    * empty partition). Returns (partitions rewritten, rows deleted). */
  def forgetKeys(spark: SparkSession, path: String, partitionCol: String,
                 keyCol: String, keys: Seq[Any]): (Seq[String], Long) = {
    val t = spark.read.parquet(path)
    // column-pruned probe: reads only (key, partition) columns
    val touched = t.filter(col(keyCol).isin(keys: _*))
      .groupBy(col(partitionCol)).agg(count(lit(1)).as("n_hit"))
      .collect().map(r => (r.get(0).toString, r.getLong(1)))
    if (touched.isEmpty) return (Seq.empty, 0L)
    val touchedVals = touched.map(_._1)
    val kept = t
      .filter(col(partitionCol).cast("string").isin(touchedVals.toIndexedSeq: _*))
      // NULL keys must survive: `!isin` is NULL (not true) for a null key
      // under three-valued logic, so a bare filter would silently delete
      // every null-key row in a touched partition
      .filter(col(keyCol).isNull || !col(keyCol).isin(keys: _*))
      .localCheckpoint()
    val keptPerPart = kept.groupBy(col(partitionCol)).agg(count(lit(1)))
      .collect().map(_.get(0).toString).toSet
    if (!kept.isEmpty)
      graft.core.Sink.overwritePartitions(kept, path, Seq(partitionCol))
    // partitions whose every row was deleted: drop the directory
    touchedVals.filterNot(keptPerPart).foreach { v =>
      // touchedVals hold raw column VALUES; the directory name is escaped
      val dir = new java.io.File(
        path, s"$partitionCol=${ExternalCatalogUtils.escapePathName(v)}")
      parquetFiles(dir).foreach(_.delete())
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      dir.delete()
    }
    (touchedVals.toSeq, touched.map(_._2).sum)
  }
}
