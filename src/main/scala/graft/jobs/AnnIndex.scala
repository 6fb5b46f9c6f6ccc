package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.KMeans

/** IVF index as a DISK LAYOUT: k-means training (operators/KMeans) plus a
  * cluster-partitioned parquet directory, so an ANN probe is partition
  * pruning — the query reads exactly `nProbe` clusters' directories and
  * never touches the rest of the corpus. This is the piece that turns
  * s02/s05's "probe one cluster" plan shape into physical I/O savings at
  * 100 TB: listing-time pruning on `cluster=` directories, the same
  * mechanism the warehouse uses for `period_start` refresh (ScaleSpec
  * proves the pruning metric).
  *
  * Layout: `<path>/vectors/ingest_batch=<b>/cluster=<c>/…` (id, embedding
  * per row) and `<path>/centroids` (cluster, i, cv — exact quantized
  * integers). The outer `ingest_batch` level carries the SemDeDupIndex
  * crash/replay contract: [[build]] owns batch 0, each [[append]] writes
  * ONLY its own `ingest_batch=b` subtree with mode=overwrite, so a
  * crashed or re-delivered append(b) (Structured Streaming re-runs
  * foreachBatch with the SAME batchId) reproduces its partitions instead
  * of duplicating vectors — the property a bare mode=append lacks.
  * Probes prune on `cluster` exactly as before (partition pruning applies
  * per-column, independent of directory nesting order).
  */
object AnnIndex {

  private def vectorsPart(path: String, b: Long) =
    s"$path/vectors/ingest_batch=$b"

  /** Train and write the index (ingest batch 0); returns the per-cluster
    * row counts. Rebuild-safe over a dirty path: any `ingest_batch >= 1`
    * partitions a previous life of the index appended are cleared FIRST —
    * batch 0's own overwrite only replaces its subtree, so without the
    * clear an in-place rebuild (the drift remedy [[append]] prescribes)
    * would mix vectors assigned under the OLD centroids into every later
    * probe (IndexRebuildSpec). */
  def build(embeddings: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int, path: String): DataFrame = {
    LsmCompact.clearAppendedBatches(embeddings.sparkSession, s"$path/vectors")
    val (assign, cents) = KMeans.lloyd(embeddings, idCol, vecCol, k, iters)
    embeddings
      .join(assign.select(col("id").as(idCol), col("cluster")), idCol)
      // co-locate each cluster in one task so each cluster= directory holds
      // one file — the probe's I/O is then exactly nProbe files
      .repartition(k, col("cluster"))
      .write.partitionBy("cluster").mode("overwrite")
      .parquet(vectorsPart(path, 0L))
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    embeddings.sparkSession.read.parquet(s"$path/vectors")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_vectors"))
  }

  /** Incremental maintenance: assign arrival batch `batchId` (> 0,
    * strictly increasing in arrival order) to the existing centroids
    * (KMeans.assignTo — map-only, no retraining) and land it in its own
    * `ingest_batch` partition, deterministically overwriting it — the
    * idempotent foreachBatch contract. Probes keep pruning to the same `cluster=`
    * values; each append adds one file per touched cluster, so probe I/O
    * grows by one file per increment — rebuild (compact) when the
    * increment count matters, exactly like any LSM-ish layout. Like
    * SemDeDupIndex (and unlike BpeVocabIndex), the CLUSTERING is frozen:
    * under embedding drift recall decays until [[build]] re-runs. Returns
    * the per-cluster counts of the INCREMENT only — rescanning the whole
    * layout for a return value would cost O(full index) read I/O per
    * append. */
  def append(spark: SparkSession, path: String, batchId: Long,
             newVectors: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(batchId > 0, s"batch id $batchId: build owns 0, appends are > 0")
    LsmCompact.withAppendLease(spark, s"$path/vectors") {
      val cents = spark.read.parquet(s"$path/centroids")
      val k = cents.agg(countDistinct(col("cluster"))).head().getLong(0).toInt
      val assign = KMeans.assignTo(newVectors, idCol, vecCol, cents)
      newVectors
        .join(assign.select(col("id").as(idCol), col("cluster")), idCol)
        .repartition(k, col("cluster"))
        .write.partitionBy("cluster").mode("overwrite")
        .parquet(vectorsPart(path, batchId))
      assign.groupBy(col("cluster")).agg(count(lit(1)).as("n_appended"))
    }
  }

  /** Fold every `ingest_batch` partition back into batch 0 — the LSM
    * compaction [[append]]'s contract defers to: probe I/O returns to one
    * file per cluster (append adds one file per touched cluster per
    * increment), and the batch counter can restart above 0. Centroids are
    * untouched; the fold is pure data movement.
    *
    * Crash contract (weaker than append's, like any two-step LSM
    * compaction without a manifest): the fold WRITES batch 0 before it
    * deletes the higher batches, so a crash between the two leaves
    * transient duplicate copies visible to [[search]] until compact
    * re-runs — the `dropDuplicates(idCol)` in the fold makes the re-run
    * heal exactly (duplicate copies are byte-identical rows). Run it in a
    * maintenance window with ingest paused; appends racing a compact
    * could land a batch id the delete step then removes.
    *
    * Returns the batch ids that were folded away (empty = nothing to do). */
  def compact(spark: SparkSession, path: String,
              idCol: String = "vec_id"): Seq[Long] = {
    val k = spark.read.parquet(s"$path/centroids")
      .agg(countDistinct(col("cluster"))).head().getLong(0).toInt
    LsmCompact.fold(spark, s"$path/vectors", idCol, (folded, target) =>
      folded.repartition(k, col("cluster"))
        .write.partitionBy("cluster").mode("overwrite")
        .parquet(target))
  }

  /** Exact integer squared distance of a quantized query to each stored
    * centroid, on the driver — k·dim longs, the same scalar math the
    * trainer uses. */
  private[graft] def probeClusters(spark: SparkSession, path: String,
                                   q: Array[Long], nProbe: Int): Seq[Long] = {
    val cents = KMeans.parseCentroids(spark.read.parquet(s"$path/centroids").collect())
    cents.map { case (c, cv) =>
      (cv.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum, c)
    }.sorted.take(nProbe).map(_._2)
  }

  /** Top-k cosine neighbors of `query`, reading ONLY the probed cluster
    * partitions. Scores use the engine's exact quantized integers. */
  def search(spark: SparkSession, path: String, query: Array[Float],
             k: Int, nProbe: Int): DataFrame = {
    val qQuant = query.map(x => math.floor(x * 1000.0 + 0.5).toLong)
    val probes = probeClusters(spark, path, qQuant, nProbe)
    val qLit = array(query.toIndexedSeq.map(lit(_)): _*).cast("array<float>")
    val cand = spark.read.parquet(s"$path/vectors")
      .filter(col("cluster").isin(probes.toIndexedSeq: _*))
    cand
      .withColumn("dot",
        graft.functions.VectorExpressions.quantizedDot(col("embedding"), qLit))
      .withColumn("n2",
        graft.functions.VectorExpressions.quantizedNorm2(col("embedding")))
      .withColumn("cos_sim", col("dot").cast("double") /
        (sqrt(col("n2").cast("double")) *
          math.sqrt(qQuant.map(x => x * x).sum.toDouble)))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cluster"), col("cos_sim"))
  }
}
