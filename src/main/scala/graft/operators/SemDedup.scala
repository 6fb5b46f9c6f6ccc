package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

/** SemDeDup primitives (Abbas et al. 2023) shared by the batch gates
  * (s11/s12/s13 in queries/VectorQueries) and the incremental index
  * ([[graft.jobs.SemDeDupIndex]]).
  *
  * Semantics (the s11 hash-gated contract): cluster membership bounds the
  * quadratic comparison — pairs never cross a cluster boundary — and a
  * vector is REMOVED iff ANY lower-id clustermate has quantized cosine
  * ≥ [[TAU]]. The removals row is
  * `(removed_id, cluster, kept_by = min shadower, n_shadows = count)`.
  *
  * Why the incremental form is EXACT, not approximate: with the cluster
  * assignment FROZEN, the shadow-pair set over `old ∪ new` partitions
  * cleanly into (pairs within old) ∪ (pairs touching new), and both
  * removals aggregates are commutative monoids — `kept_by` is a min,
  * `n_shadows` is a count-sum. So the removals table is ADDITIVE under any
  * slicing of the corpus into arrival batches (the same sufficient-
  * statistic argument as [[Bpe.wordCounts]] for the BPE refresh): merge
  * per-batch aggregates with (min, sum) and the result equals the
  * from-scratch batch run. Per batch, work is (batch × cluster-size) —
  * old×old pairs are never recomputed, and at 100 TB the corpus
  * embeddings are never rescanned.
  *
  * All cosine arithmetic is the engine-wide exact-integer quantization
  * (`floor(x*1000+0.5)` milli-units — see VectorQueries' scaladoc), so
  * every form is hash-identical across engines and partitionings.
  */
object SemDedup {

  /** Cosine shadow threshold — one constant so the batch gates and the
    * disk index can never disagree. */
  val TAU = 0.3

  /** Members frame `(vec_id, cluster, embedding, n2)` from vectors and an
    * assignment `(id, cluster)` (KMeans.lloyd / KMeans.assignTo output).
    * The squared norm is precomputed once here so pair scoring only does
    * the dot product. */
  def members(e: DataFrame, assign: DataFrame): DataFrame =
    e.join(assign.select(col("id").as("vec_id"), col("cluster")), "vec_id")
      .select(col("vec_id"), col("cluster"), col("embedding"),
        VectorExpressions.quantizedNorm2(col("embedding")).as("n2"))

  private def aSide(m: DataFrame): DataFrame =
    m.select(col("cluster"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("n2").as("a_n2"))
  private def bSide(m: DataFrame): DataFrame =
    m.select(col("cluster"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("n2").as("b_n2"))

  /** The quantized member frame (cluster, vec_id, q, s) BOTH sides of a
    * self pair join consume — same quantizeVec / hoisted-sqrt expressions
    * scoredPairs applies per side, computed once here so the batch forms
    * can materialize it (r15): the lazy DAG re-ran the members join (a
    * full embeddings scan + a vec_id exchange) and the per-member
    * quantization once per side. Identical integers/doubles — only the
    * evaluation point moves. */
  private def quantizedMembers(m: DataFrame): DataFrame =
    m.select(col("cluster"), col("vec_id"),
      VectorExpressions.quantizeVec(col("embedding")).as("q"),
      sqrt(col("n2").cast("double")).as("s"))
  private def aSideQ(mq: DataFrame): DataFrame =
    mq.select(col("cluster"), col("vec_id").as("a_id"),
      col("q").as("a_q"), col("s").as("a_s"))
  private def bSideQ(mq: DataFrame): DataFrame =
    mq.select(col("cluster"), col("vec_id").as("b_id"),
      col("q").as("b_q"), col("s").as("b_s"))

  /** Within-cluster ordered pairs `a_id < b_id` with cos ≥ [[TAU]]:
    * `(cluster, a_id, b_id, cos_sim)`. The join key is the cluster id, so
    * the shuffle is cluster-partitioned and the pairwise work per cluster
    * is (size²)/2 — cluster count is THE scale lever (see s12).
    *
    * `blocksOf` removes the OTHER ceiling: with few clusters (s11's fixed
    * k=8) the cluster-keyed shuffle has at most k populated reducers, so
    * one stage owns ~n²/k comparisons at parallelism k (the round-10 pin:
    * 3.4 effective cores of 32 at sf10). Sub-splitting each cluster's
    * pair grid into (iBlock, jBlock) tiles — each member's home block is
    * `id mod B`, side a replicated across every partner jBlock, side
    * b across every partner iBlock — is an EXACT refinement: a pair
    * (a, b) meets in precisely the task (cluster, blk(a), blk(b)), so the
    * pair set (and every downstream hash) is identical while the stage's
    * task grid grows k → Σ_c B_c². Comparison work is unchanged; the
    * price is B× shuffle replication of the member rows, which is
    * linear in n and irrelevant next to the quadratic compare.
    *
    * B is a PER-ROW column over the cluster id (`blocksOf`), not one
    * uniform constant: a uniform B makes the LARGEST cluster's tiles the
    * stage's stragglers (round-11 pin: 17.6 of 32 effective cores at sf10
    * came from the big cluster's tile finishing last). Deriving B_c from
    * the measured per-cluster size (see VectorQueries.blocksBySize)
    * equalizes tile side size_c/B_c across clusters — still the same
    * exact one-tile-per-pair refinement, because both sides of a pair
    * read the SAME cluster's B_c. */
  private def scoredPairs(a: DataFrame, b: DataFrame,
                          blocksOf: Option[Column] = None,
                          hintShuffle: Boolean,
                          tiles: Option[Int] = None): DataFrame = {
    // quantize each member ONCE (linear) so the O(pairs) join condition is
    // PreQuantizedDot's bare int multiply-add — QuantizedDot re-floors both
    // float vectors on every pair, 128 double floors × (cluster-size)²
    // evaluations (the dominant cost of the old plan). Same integers, same
    // cosine, same hashes.
    // ... and likewise each member's sqrt norm: cos = dot / (a_s · b_s)
    // is the identical IEEE op graph to dot / (sqrt(a_n2)·sqrt(b_n2)) —
    // each sqrt is exact on the same long — just hoisted out of the
    // quadratic loop.
    val aq = a.withColumn("a_q", VectorExpressions.quantizeVec(col("a_emb")))
      .withColumn("a_s", sqrt(col("a_n2").cast("double")))
      .drop("a_emb", "a_n2")
    val bq = b.withColumn("b_q", VectorExpressions.quantizeVec(col("b_emb")))
      .withColumn("b_s", sqrt(col("b_n2").cast("double")))
      .drop("b_emb", "b_n2")
    scoredPairsQ(aq, bq, blocksOf, hintShuffle, tiles)
  }

  /** [[scoredPairs]] over ALREADY-quantized sides (cluster, a_id, a_q,
    * a_s) / (cluster, b_id, b_q, b_s) — the entry the batch forms use so
    * one materialized quantized-member frame feeds both sides. */
  private def scoredPairsQ(aq: DataFrame, bq: DataFrame,
                           blocksOf: Option[Column],
                           hintShuffle: Boolean = true,
                           tiles: Option[Int] = None): DataFrame = {
    val (ak, bk, keys) = blocksOf match {
      case None => (aq, bq, Seq("cluster"))
      case Some(bCol) =>
        val grid = explode(sequence(lit(0), bCol - 1))
        (aq.withColumn("ib", pmod(col("a_id"), bCol).cast("int"))
           .withColumn("jb", grid),
         bq.withColumn("jb", pmod(col("b_id"), bCol).cast("int"))
           .withColumn("ib", grid),
         Seq("cluster", "ib", "jb"))
    }
    // the BATCH pair stage must be a shuffled HASH join: static estimates
    // on the Generate/aggregate subtrees otherwise pick sort-merge, whose
    // buffered duplicate-key groups (a whole cluster tile per key) cost
    // more per pair and spill on the big tiles (measured 3.5× at sf10).
    // The INCREMENTAL/streaming form, whose fresh b-side is typically
    // tiny, deliberately passes hintShuffle = false: Catalyst's broadcast
    // choice is right there, and an unconditional shuffle_hash would make
    // every microbatch pay a full shuffle of the stored members side
    // (ADVICE r11).
    // A tile is the smallest schedulable unit of pair work, so the
    // EXCHANGE must not stack big tiles: with the session default (~one
    // partition per core) the tile keys hash into ~cores bins, and
    // balls-into-bins stacks several tiles in the worst bin — measured
    // round 12 (PERF.md "Round 12 delta": 181 tiles into 32 partitions,
    // 1972 s of task time at 176 s wall, 11 effective cores of 32; round
    // 11's 17.6/32 pin was the same mechanism, and a 396-tile grid into
    // 32 bins ran 3× the task TIME of the spread shape — stacked build
    // tables blow the probe loop out of cache on top of the wall-clock
    // imbalance).
    // Whenever a big blocked grid is in play (`tiles` — callers gate it
    // on measured pair work), both sides are explicitly repartitioned on
    // the tile key into 4×tiles partitions — mostly one tile per
    // partition, wall ≈ the largest tile — via REPARTITION_BY_NUM, which
    // AQE never coalesces (byte-proportional coalescing is exactly wrong
    // for a stage whose cost is quadratic in rows per partition).
    val (akP, bkP) = tiles match {
      case Some(t) =>
        // Long arithmetic: t is capped at Int.MaxValue for huge grids,
        // where 4 * t as Int wraps negative — exactly the regime the cap
        // exists for.
        val nParts = math.min(4096L, 4L * t).toInt
        (ak.repartition(nParts, keys.map(col): _*),
         bk.repartition(nParts, keys.map(col): _*))
      case _ => (ak, bk)
    }
    val bkHinted = if (hintShuffle) bkP.hint("shuffle_hash") else bkP
    akP.join(bkHinted, keys).filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim",
        VectorExpressions.preQuantizedDot(col("a_q"), col("b_q"))
          .cast("double") / (col("a_s") * col("b_s")))
      .filter(col("cos_sim") >= TAU)
      .select(col("cluster"), col("a_id"), col("b_id"), col("cos_sim"))
  }

  /** All shadow pairs of one members frame (the batch form), uniform
    * block factor. The quantized member frame is materialized once and
    * feeds both join sides (r15 — see [[quantizedMembers]]). */
  def shadowPairs(m: DataFrame, blocks: Int = 1): DataFrame = {
    val mq = quantizedMembers(m).localCheckpoint()
    scoredPairsQ(aSideQ(mq), bSideQ(mq),
      if (blocks <= 1) None else Some(lit(blocks)))
  }

  /** Tile count of a per-cluster block map: Σ B_c² — the blocked join's
    * schedulable task-grid size, which [[scoredPairs]] sizes its exchange
    * from. */
  private def tileCount(byCluster: Map[Long, Int]): Int = {
    val s = byCluster.values.foldLeft(0L)((acc, b) => acc + b.toLong * b)
    math.min(s, Int.MaxValue.toLong).toInt
  }

  /** Batch shadow pairs with a SIZE-AWARE per-cluster block factor: each
    * cluster c splits its pair grid into B_c² tiles, so tile work
    * (size_c/B_c)² equalizes across skewed cluster sizes instead of the
    * largest cluster's tiles straggling the stage (see
    * VectorQueries.blocksBySize for the derivation). Clusters absent from
    * the map fall back to B=1. Exact refinement — pair set and hashes
    * identical to the unblocked form for ANY map. */
  /** `spreadTiles = false` keeps the session-default exchange: the
    * one-partition-per-tile repartition pays ~4×tiles scheduled tasks,
    * which costs more than it saves when the whole pair stage is
    * sub-second — callers gate it on the measured pair work (see
    * VectorQueries.semDedup: Σ size_c² ≥ 2.56e8 pair-evals ≈ a
    * multi-second stage on 32 cores). */
  def shadowPairsSized(m: DataFrame, byCluster: Map[Long, Int],
                       spreadTiles: Boolean = true): DataFrame = {
    val mq = quantizedMembers(m).localCheckpoint()
    scoredPairsQ(aSideQ(mq), bSideQ(mq),
      if (byCluster.isEmpty || byCluster.values.forall(_ <= 1)) None
      else Some(coalesce(
        element_at(typedlit(byCluster), col("cluster")), lit(1))),
      tiles =
        if (!spreadTiles || byCluster.isEmpty ||
            byCluster.values.forall(_ <= 1)) None
        else Some(tileCount(byCluster)))
  }

  /** Shadow pairs with AT LEAST ONE side in `fresh`, each exactly once:
    * (anything × fresh) ∪ (fresh × stored) under `a_id < b_id`. The two
    * joins are disjoint (the second has a stored b-side) and both carry
    * the fresh batch on one side, so cost is batch-proportional. Note the
    * direction matters BOTH ways: a new low-id vector can shadow an OLD
    * member, flipping the old member's removed status — which the (min,
    * sum) merge in [[foldRemovals]] absorbs exactly. */
  def incrementalShadowPairs(stored: DataFrame, fresh: DataFrame): DataFrame =
    scoredPairs(aSide(stored.unionByName(fresh)), bSide(fresh),
        hintShuffle = false)
      .unionByName(scoredPairs(aSide(fresh), bSide(stored),
        hintShuffle = false))

  /** Aggregate shadow pairs to the removals table
    * `(removed_id, cluster, kept_by, n_shadows)`. */
  def removals(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("b_id").as("removed_id"), col("cluster"))
      .agg(min(col("a_id")).as("kept_by"), count(lit(1)).as("n_shadows"))

  /** Monoid fold of any number of stacked removals tables: per
    * (removed_id, cluster), kept_by = min, n_shadows = sum. Associative
    * and commutative, so per-batch aggregates fold in any order — and any
    * grouping — to the batch-run result. */
  def foldRemovals(stacked: DataFrame): DataFrame =
    stacked.groupBy(col("removed_id"), col("cluster"))
      .agg(min(col("kept_by")).as("kept_by"),
        sum(col("n_shadows")).as("n_shadows"))
}
