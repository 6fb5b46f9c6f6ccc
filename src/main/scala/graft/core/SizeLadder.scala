package graft.core

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The size ladder's one cap policy. A size-gated operator runs a cheap
  * rung (a driver-local loop, a broadcast join) while its input is at most
  * a cap of rows, and its distributed rung above that. A cap is the rows a
  * rung may hold in a share of one JVM heap: the driver's for a rung whose
  * data is collected, an executor's for a rung whose data is broadcast.
  * This is the only place that reads a heap size, so a cap scales with the
  * deployment instead of being a constant tuned on one box. PERF.md "Size
  * ladder" lists every budget with its cap at the bench's 4 GiB heap. */
object SizeLadder {

  /** The most elements a JVM array holds: no local rung collects more.
    * Declared before the budgets, whose default ceiling reads it. */
  val ArrayCeiling: Long = Int.MaxValue - 8

  /** Spark's hard limit on one broadcast: a cap that admits a larger
    * broadcast admits one that cannot run. */
  private val BroadcastLimitBytes = 8L << 30

  /** What one row of a rung costs, the share of the heap the rung may
    * spend, and the clamps: `floorRows` is the cap on any heap too small to
    * reach it, `maxRows` a measured ceiling below the heap-derived cap. */
  final case class Budget(bytesPerRow: Long, heapFraction: Double,
                          floorRows: Long, maxRows: Long = ArrayCeiling)

  /** Graph's collected edge set: the collected UnsafeRow batch plus the
    * primitive edge, id and dedup tables at load ≤ 0.5. */
  val LocalEdges = Budget(128L, 0.10, 1L << 16)

  /** Graph.coOccurrenceTriangleCounts' collected item rows. The heap binds
    * only small drivers here: the local rung is a single-threaded collect
    * and sort replacing a parallel build, and the measured crossover
    * (paired A/B, same window) is past 200k items (local 0.98 s against
    * distributed 1.64 s) and under 2M (3.21 s against 2.88 s). A cluster's
    * higher per-job floor moves the crossover up, never down. */
  val LocalItems = Budget(128L, 0.10, 1L << 16, maxRows = 1L << 20)

  /** Bpe's collected (syms, cnt) histogram, one row per distinct word: the
    * symbol string (which only shrinks under merges), the row and map
    * overhead. Vocabularies past the cap come from corpora whose per-round
    * pair shuffle is real work, which the distributed loop should own. */
  val LocalVocab = Budget(512L, 0.05, 1L << 12)

  /** A broadcast |V|-sized frame (long node, long rank, row overhead). */
  val BroadcastNodes = Budget(48L, 0.05, 1L << 14)

  /** A broadcast closing-edge set, held as a HashedRelation (two longs, the
    * row and the table overhead). */
  val BroadcastEdges = Budget(64L, 0.05, 1L << 14)

  /** NearDup.selfMinHashPairs checkpoints its signatures at or under this
    * many documents and recomputes them per join side above it; crossover
    * measured on the decade surfaces (OPTIMIZATION_r16.md). */
  val SigCheckpointDocs: Long = 200000L

  /** LangModel broadcasts a scoring dictionary of at most this many
    * entries and shuffle-hash joins a larger one. */
  val BroadcastDictEntries: Long = 2000000L

  /** Rows `budget` admits on a driver of `heapBytes`. */
  def driverCap(budget: Budget,
                heapBytes: Long = Runtime.getRuntime.maxMemory()): Long =
    rows(budget, heapBytes, budget.maxRows)

  /** Rows `budget` admits in a broadcast. The broadcast is resident in
    * every executor JVM, so on a cluster the binding heap is the executor
    * memory, not the possibly larger driver's: sizing a 128 GiB driver's
    * broadcast into 8 GiB executors is the OOM this guards. In local mode
    * the setting is unset and the driver JVM is the executor. The driver
    * still builds the value first, hence the min with its own heap. */
  def executorCap(budget: Budget,
                  executorMemory: Option[String] = SparkSession.active
                    .sparkContext.getConf.getOption("spark.executor.memory"),
                  heapBytes: Long = Runtime.getRuntime.maxMemory()): Long = {
    val executorBytes =
      executorMemory.map(JavaUtils.byteStringAsBytes).getOrElse(heapBytes)
    rows(budget, math.min(executorBytes, heapBytes),
      math.min(budget.maxRows, BroadcastLimitBytes / budget.bytesPerRow))
  }

  private def rows(budget: Budget, heapBytes: Long, ceiling: Long): Long =
    math.max(budget.floorRows, math.min(
      (heapBytes * budget.heapFraction).toLong / budget.bytesPerRow, ceiling))

  /** A frame persisted and counted for a local rung: `local` when its
    * rows fit the cap, `distinct` when it is the deduplicated frame. */
  final case class Sized(frame: DataFrame, local: Boolean, distinct: Boolean)

  /** The raw → distinct → distributed rungs over `raw`. A raw frame over
    * `cap` may still deduplicate under it (heavy-multiplicity producers:
    * a fact-table edge build emits one row per transaction), and the
    * distinct is never wasted: a distributed rung over a set-semantics
    * input needs exactly that frame. So: raw fits, collect it without a
    * shuffle; distinct fits, one dedup shuffle then collect; neither, the
    * distributed rung reads the returned frame. With `dedup` off the raw
    * frame is the only candidate. The caller unpersists the frame. */
  def distinctRung(raw: DataFrame, cap: Long, dedup: Boolean = true): Sized = {
    val c = math.min(cap, ArrayCeiling)
    val p = raw.persist(StorageLevel.MEMORY_AND_DISK)
    val n = p.count()
    if (n <= c || !dedup) Sized(p, n <= c, distinct = false)
    else {
      val d = p.distinct().persist(StorageLevel.MEMORY_AND_DISK)
      val local = d.count() <= c
      p.unpersist()
      Sized(d, local, distinct = true)
    }
  }
}
