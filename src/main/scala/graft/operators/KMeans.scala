package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the trainer that
  * BUILDS the coarse IVF index the search queries (s02/s05) probe, rather
  * than consuming a pre-assigned cluster label.
  *
  * Reference scope: the reference pipeline ships model-side clustering only
  * implicitly (plant groupings in Model/Factory_elect_simulator_update.py);
  * this operator is part of the training-data-pipeline mandate (ANN index
  * construction at corpus scale).
  *
  * Scale design (the MLlib shape):
  *  - Vectors are quantized once to exact milli-unit integers
  *    (`floor(x*1000+0.5)` — same convention as every other vector op here),
  *    so distances are exact BIGINTs: associative, partition-order-free,
  *    hash-identical across engines.
  *  - Assignment is a map-only pass: the k·dim centroid matrix is collected
  *    to the driver (k·dim ≤ a few KB — the one legitimate driver-side
  *    materialization, exactly what MLlib's KMeans does each iteration) and
  *    re-embedded as literal arrays, so each iteration is one scan with no
  *    join and no lineage growth.
  *  - The centroid update is one shuffle with k·dim groups (map-side
  *    combinable sum), then integer rounding via the exact rational
  *    round-half-up `floor((2s+c)/(2c))`: numerator and denominator stay
  *    ≪ 2^53, the quotient is ≥ 1/(2c) away from an integer whenever it is
  *    not exactly one, so the IEEE double division floors identically in any
  *    engine.
  *  - Ties (equal distance to two centroids) break to the lower cluster id
  *    via `array_min` over `struct(dist, cluster)` — total order, so the
  *    result is deterministic at any partitioning.
  *  - Clusters that lose all members simply drop out of the next round
  *    (no respawn heuristic), matching the unrolled SQL oracle.
  */
object KMeans {

  /** `best = struct(dist, cluster)` over literal centroid arrays — the ONE
    * distance kernel (exact quantized integers, ties to the lower cluster
    * id via the struct total order) shared by the trainer's per-iteration
    * assignment, the maintenance-path assignTo, and Pq's per-subspace
    * encoder. `in` is the quantized BIGINT vector column to score. */
  private[graft] def bestCentroid(cents: Seq[(Long, Array[Long])],
                                  in: Column = col("qv")): Column = {
    // ONE 2-D literal (k×dim ArrayData) + a native codegen'd argmin loop
    // (functions/VectorExpressions.NearestCentroid), not k·dim unrolled
    // lit() nodes feeding interpreted zip_with/aggregate chains: the
    // unrolled tree made Catalyst analysis of every assignment pass cost
    // hundreds of ms and the higher-order functions ran one closure per
    // element per centroid per row. The kernel is a tight long[][] loop
    // with identical exact-integer arithmetic and the same
    // (dist, cluster) total order, ties to the lower cluster id.
    graft.functions.VectorExpressions.nearestCentroid(in,
      typedlit(cents.map(_._2.toSeq)), typedlit(cents.map(_._1)))
  }

  /** Parse a collected long-format centroid frame (cluster, i, cv) into the
    * driver-side matrix shape; shared with AnnIndex's probe. */
  private[graft] def parseCentroids(
      rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Array[Long])] =
    rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (c, xs) => (c, xs.sortBy(_._2).map(_._3)) }
      .toSeq.sortBy(_._1)

  /** (assignments, centroids) after `iters` assignment passes.
    *
    * `iters = n` means: assign against the seeds, then (recenter → reassign)
    * n−1 times — i.e. the returned assignment is against the (n−1)-th
    * recentered centroids, which are also returned long-format.
    *
    * @param df      input with an id column and an `array<float>` vector column
    * @param idCol   unique row id (also the seed order)
    * @param vecCol  embedding column
    * @param k       cluster count; seeds are the k smallest ids' vectors
    * @param iters   assignment passes, ≥ 1
    * @return assignments (id, cluster, dist) and centroids (cluster, i, cv)
    */
  def lloyd(df: DataFrame, idCol: String, vecCol: String, k: Int,
            iters: Int): (DataFrame, DataFrame) = {
    require(k > 0 && iters > 0, s"k=$k iters=$iters must be positive")
    val q = df.select(col(idCol).as("id"),
      expr(s"transform($vecCol, v -> CAST(floor(v*1000.0+0.5) AS BIGINT))")
        .as("qv"))

    // seeds: vectors of the k smallest ids, cluster = seed rank. The ONE
    // TakeOrdered job also yields the dimensionality — no separate probe.
    val seedRows = q.orderBy(col("id")).limit(k).collect()
    require(seedRows.nonEmpty, "k-means needs a non-empty input")
    var centroids: Seq[(Long, Array[Long])] =
      seedRows.zipWithIndex.map { case (r, j) =>
        (j.toLong, r.getSeq[Long](1).toArray)
      }.toSeq
    val dim = centroids.head._2.length

    // map-only pass: id, qv, best = struct(dist, cluster) over literal centroids
    def assign(cents: Seq[(Long, Array[Long])]): DataFrame =
      q.withColumn("best", bestCentroid(cents))

    for (_ <- 1 until iters) {
      // one shuffle, k·dim groups, partial-aggregated map-side
      val upd = assign(centroids)
        .select(col("best.cluster").as("cluster"),
          posexplode(col("qv")).as(Seq("i0", "v")))
        .groupBy(col("cluster"), (col("i0") + 1).as("i"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
        .withColumn("cv",
          floor((lit(2.0) * col("s") + col("c")) / (lit(2.0) * col("c")))
            .cast("long"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("cv")))),
          s => s.getField("cv")).as("cent"))
      centroids = upd.collect().map { r =>
        (r.getLong(0), r.getSeq[Long](1).toArray)
      }.toSeq.sortBy(_._1)
      require(centroids.forall(_._2.length == dim), "ragged centroid")
    }

    val centDf = {
      val rows = centroids.flatMap { case (j, cv) =>
        cv.zipWithIndex.map { case (v, i0) => (j, i0 + 1, v) }
      }
      val spark = df.sparkSession
      import spark.implicits._
      rows.toDF("cluster", "i", "cv")
    }
    val finalAssign = assign(centroids)
      .select(col("id"), col("best.cluster").as("cluster"),
        col("best.dist").as("dist"))
    (finalAssign, centDf)
  }

  /** Map-only assignment of each row to its nearest centroid against a
    * STORED long-format centroid frame (cluster, i, cv) — the
    * index-MAINTENANCE path: new vectors join an existing IVF index
    * without retraining (AnnIndex.append). Same kernel ([[bestCentroid]])
    * and therefore the same total order as the trainer; the centroid
    * matrix is collected (k·dim ≤ KBs) and re-embedded as literals, so
    * the pass is one scan — no join, no shuffle. */
  def assignTo(df: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame): DataFrame = {
    val cents = parseCentroids(centroids.collect())
    require(cents.nonEmpty, "assignTo needs at least one centroid")
    df.select(col(idCol).as("id"),
        expr(s"transform($vecCol, v -> CAST(floor(v*1000.0+0.5) AS BIGINT))")
          .as("qv"))
      .withColumn("best", bestCentroid(cents))
      .select(col("id"), col("best.cluster").as("cluster"),
        col("best.dist").as("dist"))
  }
}
