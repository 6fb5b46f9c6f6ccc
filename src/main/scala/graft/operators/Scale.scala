package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.graft.GraftSqlShims

/** Scale patterns for the shapes that break first at 100 TB: skewed join
  * keys and repeated co-located joins.
  *
  * These are the knobs SURVEY.md §4.3 / the build rules call out (salting for
  * skew, bucketing for shuffle-free joins); AQE's skew-join handles moderate
  * skew automatically, salting is the explicit fallback for pathological keys
  * (one key = 30% of a 100 TB fact table), bucketing is the amortization when
  * the same join key is reused across many queries of a pipeline run.
  */
object Scale {

  /** Salted equi-join for skewed left (fact) keys: the fact side gets a
    * deterministic salt in [0, saltFactor), the dimension side is replicated
    * once per salt value, and the join runs on (key, salt) — a hot key's rows
    * spread over `saltFactor` reducers instead of one. Semantics are exactly
    * the plain inner equi-join. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltFactor: Int): DataFrame = {
    val salts = dim.sparkSession.range(saltFactor.toLong)
      .select(col("id").cast("int").as("__salt"))
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(saltFactor)).cast("int"))
    val saltedDim = dim.crossJoin(broadcast(salts))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Write both sides bucketed by the join key so subsequent joins are
    * exchange-free: each bucket pair joins locally. Requires a table catalog
    * (saveAsTable); `numBuckets` should match the pipeline's reducer budget. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    numBuckets: Int): Unit =
    df.write
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** True when the executed plan of `df` contains no shuffle exchange —
    * the assertion that bucketed co-location actually engaged. */
  def isExchangeFree(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString()
    !plan.contains("Exchange hashpartitioning")
  }

  /** Exact global row numbers 1..N in `sortCols` order with NO
    * single-partition stage. `row_number() OVER (ORDER BY …)` with no
    * PARTITION BY plans as Exchange SinglePartition — every row through one
    * reducer, the canonical 100 TB killer. This instead (1) range-partitions
    * on the sort key and sorts within partitions (a total order across
    * partition boundaries — the same distributed-sort shape as orderBy), then
    * (2) assigns offsets with zipWithIndex: one narrow job counts rows per
    * partition, one maps local indices to global ids. Two passes, no wide
    * single-reducer stage, id assignment is pure per-partition arithmetic.
    *
    * `sortCols` must be a TOTAL order (include a unique tiebreaker): with
    * duplicate sort keys spanning a range boundary the tie order — and so
    * the ids — would depend on sampled boundaries. RDD is the right tool
    * here (genuine per-partition imperative logic) — but on the INTERNAL
    * row representation: `.rdd` would decode every row to an external Row
    * and `createDataFrame` would re-encode it through the RowEncoder,
    * three full materializations of the dataset. `toRdd` + one
    * UnsafeProjection per row + the internal-rows bridge
    * ([[GraftSqlShims.internalCreateDataFrame]]) keep the whole pass in
    * Tungsten format (a modest measured win at 10× — the sort itself
    * dominates — and strictly less per-row work at any scale; a
    * localCheckpoint to fold zipWithIndex's count pass into one
    * materialization measured a wash and was rejected). The result re-enters
    * the DataFrame world with the id attached (oracle-gated as q49). */
  def globalRowNumber(df: DataFrame, idCol: String, numPartitions: Int,
                      sortCols: Column*): DataFrame = {
    val sorted = df.repartitionByRange(numPartitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val outSchema = sorted.schema.add(idCol, LongType, nullable = false)
    val withId = sorted.queryExecution.toRdd.zipWithIndex()
      .mapPartitions { it =>
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
          .create(outSchema)
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
        val idRow =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        it.map { case (r, i) =>
          idRow.update(0, i + 1L)
          proj(joined(r, idRow))
            .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        }
      }
    GraftSqlShims.internalCreateDataFrame(df.sparkSession, withId, outSchema)
  }

  /** Bloom-filter semi-join reduction: build a bloom over the (selective)
    * dim side's join keys, filter the fact side with it BEFORE the shuffle
    * join. At 100 TB this is the difference between shuffling the whole fact
    * table and shuffling only ~(matching + fpp) of it; the bloom image is a
    * few MB however large the fact side is, and rides to executors in the
    * task closure like a broadcast-join map. False positives pass the filter
    * but are dropped by the join, so `bloomPrune(fact, dim…).join(dim…)` is
    * EXACTLY `fact.join(dim…)` (oracle-gated as q48). The one-row agg that
    * builds the bloom is partial-aggregable (blooms OR together), so the
    * build itself is a map-side-combined scan of the dim side only. */
  def bloomPrune(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, expectedItems: Long = 1000000L,
                 numBits: Long = 8L * 1000000L): DataFrame = {
    val bf = dim
      .agg(graft.functions.BloomExpressions
        .bloomAgg(col(dimKey), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bf == null) fact.where(lit(false)) // empty dim: inner join is empty
    else fact.where(graft.functions.BloomExpressions.mightContain(bf, col(factKey)))
  }

  /** Exact anti-join (NOT EXISTS on key equality) with BOTH sides
    * bloom-pruned — the incremental-ingest dedup primitive: "which rows of
    * this batch are NOT already in the corpus" without joining batch against
    * corpus.
    *
    * Why the plain form breaks at 100 TB: `batch.join(corpus, key,
    * "left_anti")` shuffles EVERY corpus key and every batch row, even
    * though (a) almost all batch rows miss — a bloom over the corpus keys
    * proves most non-membership without any join — and (b) the few
    * bloom-positive candidates can only match corpus keys in THEIR OWN tiny
    * key set, so a second bloom built over the candidates prunes the corpus
    * side before the verify join. What actually shuffles: the candidate
    * rows (~true-dup fraction + fpp of the batch) and the candidate-matching
    * corpus keys (~the same) — never either full input. Bloom-definite
    * non-members flow through a scan+filter with no join work at all.
    *
    * False positives on either bloom survive only to the exact verify
    * anti-join, so the composed result is EXACTLY the plain left_anti
    * (oracle-gated as t30, property-tested against the built-in anti-join in
    * ScaleSpec). Null fact keys never equal anything, so they are kept
    * unconditionally — xxhash64 hashes SQL NULL to a probeable value, which
    * would otherwise let a null key "match" the bloom.
    *
    * The two bloom builds are eager one-row aggs (partial-aggregable — each
    * is one map-side-combined scan of its own side only). The second scans
    * the fact side once more for candidates; at the design point that second
    * scan is column-pruned to the key and is the price of never shuffling
    * the corpus. */
  def bloomAntiJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                    dimKey: String, expectedItems: Long = 1000000L,
                    numBits: Long = 8L * 1000000L): DataFrame = {
    def bloomOf(df: DataFrame, key: String): Array[Byte] = df
      .where(col(key).isNotNull)
      .agg(graft.functions.BloomExpressions
        .bloomAgg(col(key), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    val bf = bloomOf(dim, dimKey)
    if (bf == null) fact // empty dim side: the anti-join keeps everything
    else {
      val might = graft.functions.BloomExpressions.mightContain(bf, col(factKey))
      val sure = fact.where(col(factKey).isNull || !might)
      val cand = fact.where(col(factKey).isNotNull && might)
      val bfc = bloomOf(cand, factKey)
      val dimPruned =
        if (bfc == null) dim.where(lit(false))
        else dim.where(
          graft.functions.BloomExpressions.mightContain(bfc, col(dimKey)))
      sure.unionByName(
        cand.join(dimPruned.select(col(dimKey).as(factKey)), Seq(factKey),
          "left_anti"))
    }
  }

  /** Z-order (Morton) key: bit-interleave of already-quantized dimension
    * columns, each in [0, 2^bits). Pure shift/mask column algebra — codegen
    * inlines it, no UDF — and exact integer, so the layout key is
    * deterministic cross-engine (oracle-gated as q44). `bits * cols.size`
    * must fit in 63 bits. */
  def zorderKey(bits: Int, cols: Column*): Column = {
    require(bits * cols.size <= 63, s"z-key needs ${bits * cols.size} bits")
    (for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(
      shiftright(c.cast("long"), i).bitwiseAND(lit(1L)),
      i * cols.size + j))
      .reduce(_ bitwiseOR _)
  }

  /** Multi-dimensional clustering for data skipping: directory partitioning
    * prunes ONE dimension and a linear sort clusters ONE column's min/max
    * stats, but a scan filtered on the OTHER dimension still reads
    * everything. Z-ordering sorts by the interleaved key so every row group
    * is a small hyper-rectangle of the dim space — a selective predicate on
    * ANY clustered dimension skips most row groups (Delta/Iceberg's OPTIMIZE
    * ZORDER; the parquet min/max machinery does the skipping, this only
    * arranges the rows). The sort is range-partition + local sort — global
    * clustering with no single-node bottleneck. One extra stats pass
    * computes each dimension's bounds for quantization (a write job already
    * scans its input; at 100 TB wire real bounds in from table stats). */
  def writeZordered(df: DataFrame, path: String, dims: Seq[String],
                    bits: Int = 12, numFiles: Int = 1,
                    rowGroupBytes: Long = 1L << 20): Unit = {
    val aggs = dims.flatMap(d => Seq(min(col(d).cast("long")).as(s"mn_$d"),
      max(col(d).cast("long")).as(s"mx_$d")))
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    val quantized = dims.zipWithIndex.map { case (d, i) =>
      val mn = bounds.getLong(2 * i)
      val range = bounds.getLong(2 * i + 1) - mn + 1
      // exact while bits + log2(range) <= 52 (double-precision product)
      ((col(d).cast("long") - lit(mn)) * lit((1L << bits).toDouble)
        / lit(range.toDouble)).cast("long")
    }
    df.withColumn("__z", zorderKey(bits, quantized: _*))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.option("parquet.block.size", rowGroupBytes)
      .mode("overwrite").parquet(path)
  }
}
