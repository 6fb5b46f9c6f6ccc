package graft.operators

import graft.core.SizeLadder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Distributed graph primitives needed by the training-data pipeline —
  * currently connected components, the canonical second stage of near-dup
  * deduplication (pair edges → duplicate clusters).
  */
object Graph {

  /** Connected components by min-label propagation with pointer jumping:
    * each round every node takes the min of its own label and its
    * neighbors' labels (BSP step), then follows its label one hop
    * (label := label-of-label, the pointer-jumping step). Neighbor
    * propagation alone is diameter-bound — a near-dup CHAIN of length d
    * needs d rounds — while the jump step halves the remaining chain depth
    * every round, so convergence is O(log d) rounds total.
    *
    * Scale shape: each round is two equi-joins + one groupBy over the EDGE
    * set only — nodes outside any edge never enter the computation; every
    * round's frame is localCheckpoint'ed so lineage stays one round deep
    * (superseded rounds' blocks are reclaimed by the ContextCleaner once
    * the driver drops its reference — not synchronously). The driver loop
    * carries no data, only the converged? counter — the standard
    * iterative-algorithm shape on Spark (same as GraphX/Pregel CC).
    *
    * @param edges two-column DataFrame of undirected edges
    * @param localEdgeThreshold edge count at or below which a driver-side
    *   union-find replaces the BSP loop (stats-driven strategy choice);
    *   defaults to the heap-derived [[SizeLadder.LocalEdges]] cap
    * @return (id, component) — component = min node id reachable
    */
  def connectedComponents(
      edges: DataFrame,
      localEdgeThreshold: Long = SizeLadder.driverCap(SizeLadder.LocalEdges))
      : DataFrame = {
    val Array(srcCol, dstCol) = edges.columns
    val lvl = StorageLevel.MEMORY_AND_DISK
    // size-adaptive strategy, the same stats-driven choice a broadcast join
    // makes: a near-dup edge set is usually orders of magnitude smaller
    // than the corpus, and below the threshold a driver-side union-find
    // finishes in one collect instead of log(diameter) BSP rounds each
    // paying the per-job scheduling floor. Above it, the distributed BSP
    // path below handles edge sets that never fit one machine.
    // Duplicates are semantically harmless to min-label propagation but
    // inflate every BSP join, so the deduped frame of the middle rung is
    // the better BSP input too.
    val sized = SizeLadder.distinctRung(edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")),
      localEdgeThreshold)
    val base = sized.frame
    if (sized.local) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      base.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        val ra = find(a); val rb = find(b)
        // min root wins, so every tree's root is its component minimum
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        parent.getOrElseUpdate(math.min(ra, rb), math.min(ra, rb))
      }
      val out = parent.keysIterator.map(id => (id, find(id))).toSeq.sorted
      base.unpersist()
      val spark = edges.sparkSession
      import spark.implicits._
      return out.toDF("id", "component")
    }
    val sym = base
      .unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
      .persist(lvl)
    // localCheckpoint each round: the new label frame references the old
    // one several times (neighbor step + jump step), so carrying logical
    // lineage across rounds would grow the plan exponentially and drown
    // the driver in analysis time — the canonical iterative-DataFrame
    // trap. Checkpointing materializes the round into block storage and
    // makes the next round's plan start from a leaf.
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 64) {
      val prop = sym
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("nl")).as("min_nbr"))
        .select(col("src").as("id"), col("min_nbr"))
      val stepped = labels.select(col("id"), col("label").as("old"))
        .join(prop, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("min_nbr"), col("old"))).as("l1"))
      // pointer jump: labels always point at real node ids, and label(l)
      // is monotonically <= l, so one extra self-join halves chain depth
      val next = stepped
        .join(stepped.select(col("id").as("l1"), col("l1").as("l2")), Seq("l1"), "left")
        .select(col("id"), col("old"),
          least(col("l1"), coalesce(col("l2"), col("l1"))).as("label"))
        .localCheckpoint(true)
      changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select(col("id"), col("label"))
      rounds += 1
    }
    sym.unpersist()
    base.unpersist()
    labels.select(col("id"), col("label").as("component"))
  }

  /** Quantized PageRank — link-based quality seeding (the CCNet/Common
    * Crawl idea: rank pages by the link graph, seed document quality from
    * the rank). The recurrence runs in EXACT integer micro-units,
    *   pr' = 150000 + (85 · Σ_incoming (pr div outdeg)) div 100
    * (damping 0.85, base 0.15, unit 1e6), so — unlike float PageRank,
    * whose partial sums differ by reduction order — every iteration is
    * bit-identical at any partition count and cross-engine (oracle-gated
    * as q53 with the same unrolled recurrence in SQL).
    *
    * Scale shape: one BSP round = one equi-join of the edge set against
    * the rank frame + one partial-aggregable groupBy on dst — the
    * join-aggregate iteration GraphX/Pregel runs, expressed declaratively.
    * Size-adaptive twice over, like [[connectedComponents]]: an edge set
    * under `localEdgeThreshold` runs as a driver-side tight loop (at that
    * size the cost of the BSP form is pure per-stage scheduling floor),
    * and in the BSP form the |V|-sized rank/contribution frames broadcast
    * when |V| ≤ `broadcastNodeThreshold`, making each round a map-only
    * pass over the cached |E| — Catalyst can't choose this itself because
    * derived-frame sizes are unknown at plan time. From the fourth round
    * on, every BSP round localCheckpoints — the unrolled plan otherwise
    * gains a join+agg level per iteration and driver analysis time
    * dominates, exactly the lineage trap [[connectedComponents]]
    * documents. The result is always materialized before the internal
    * caches are released, so repeated calls do not accumulate pinned RDDs.
    * All paths run the same exact integer recurrence and are bit-equal
    * (GraphSpec).
    *
    * @param edges two-column (src, dst) directed edge frame (pass both
    *   directions for an undirected graph); duplicate edges are collapsed
    * @param iters BSP rounds to run
    * @return (node, pr) with pr in 1e-6 units (a rank of 1.0 = 1000000) */
  def pageRankQ(edges: DataFrame, iters: Int,
                broadcastNodeThreshold: Long =
                  SizeLadder.executorCap(SizeLadder.BroadcastNodes),
                dedupEdges: Boolean = true,
                localEdgeThreshold: Long =
                  SizeLadder.driverCap(SizeLadder.LocalEdges),
                undirected: Boolean = false): DataFrame = {
    val Array(srcCol, dstCol) = edges.columns
    // node ids keep their native type when src and dst agree: integer
    // keys hash and shuffle far cheaper than strings. MIXED types fall
    // back to the string encoding — boxed Integer/Long keys would never
    // unify on the driver and the output schema could only carry one of
    // the two types. A producer that already guarantees distinct edges
    // (e.g. an exploded distinct pair set) skips the collapse shuffle
    // entirely via dedupEdges = false. With undirected = true the caller
    // supplies each link ONCE and the operator emits both directions
    // itself — on the driver for the local path (halving what crosses the
    // collect) and as an explode for BSP.
    val sameType = edges.schema(0).dataType == edges.schema(1).dataType
    val e0 =
      if (sameType) edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      else edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
    // Size-adaptive strategy fork #1 (same shape as connectedComponents):
    // below the threshold the whole RAW edge set fits the driver, and a
    // tight in-memory loop replaces 4 + 3·iters shuffle stages whose
    // per-stage scheduling floor — not data — is the cost at this size.
    // The local path collects BEFORE deduplication and collapses
    // duplicates in a driver HashSet, so the Spark side of a small graph
    // is completely shuffle-free (scan → join → project → collect → one
    // in-memory cache). The recurrence is identical exact-integer
    // arithmetic, so both paths are bit-equal (GraphSpec). The raw count
    // bounds the distinct count, so the threshold still caps driver
    // memory.
    // The size check is one fully-parallel count over a persisted edge
    // frame; under the cap, the collect replays the CACHE, not the
    // upstream plan — so an expensive edge build runs exactly once with
    // no caller-side persist needed. (A limit-probe would fold the check
    // and the fetch into one pass without any cache, but executeTake runs
    // its partition waves SEQUENTIALLY — measured slower than two
    // parallel passes on a 32-core edge build.) The BSP path below also
    // reads e0 through this cache and releases it once its own |E| cache
    // is materialized. A deduped middle-rung frame is the directed BSP
    // input as it stands, and the undirected one's explode input.
    val sized = SizeLadder.distinctRung(e0, localEdgeThreshold, dedupEdges)
    if (sized.local) {
      val lf = sized.frame
      // integral keys take a fully-primitive path: executeCollect hands
      // back UnsafeRows read in place (no Row conversion), node ids
      // encode through an open-addressing long→int table, and dedup goes
      // through an open-addressing set of packed (srcId, dstId) — for a
      // 1M-edge graph the boxed-HashMap version of this loop was ~1 s of
      // allocation churn, the primitive one is tens of ms. Null slots
      // (isNullAt; getLong on one silently yields 0 and would merge
      // every null into node 0) drop the batch to the generic boxed path,
      // where null stays a distinct key like the BSP groupBy keeps it.
      val longKeys = e0.schema.forall(
        _.dataType == org.apache.spark.sql.types.LongType)
      val internal =
        if (longKeys) lf.queryExecution.executedPlan.executeCollect()
        else Array.empty[org.apache.spark.sql.catalyst.InternalRow]
      val anyNull = longKeys && {
        var i = 0; var found = false
        while (i < internal.length && !found) {
          found = internal(i).isNullAt(0) || internal(i).isNullAt(1); i += 1
        }
        found
      }
      // generic (boxed) rows when keys aren't all-long or nulls appeared;
      // null here means "take the primitive path over `internal`"
      val genericRows: Array[(Any, Any)] =
        if (longKeys && !anyNull) null
        else if (longKeys) internal.map { r =>
          val a: Any = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          val b: Any = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
          (a, b)
        }
        else lf.collect().map(r => (r.get(0), r.get(1)))
      val nRows = if (genericRows == null) internal.length else genericRows.length
      val cap = nRows * (if (undirected) 2 else 1)
      val esS = new Array[Int](cap)
      val esD = new Array[Int](cap)
      var m = 0
      val seen = if (dedupEdges) new LongOpenSet(cap) else null
      def addEdge(s: Int, d: Int): Unit = {
        if (seen == null || seen.add((s.toLong << 32) | (d.toLong & 0xffffffffL))) {
          esS(m) = s; esD(m) = d; m += 1
        }
      }
      val nodeVals: IndexedSeq[Any] =
        if (genericRows == null) {
          val idMap = new LongIdMap(2L * nRows)
          var i = 0
          while (i < nRows) {
            val s = idMap.getOrAdd(internal(i).getLong(0))
            val d = idMap.getOrAdd(internal(i).getLong(1))
            addEdge(s, d)
            if (undirected) addEdge(d, s)
            i += 1
          }
          new IndexedSeq[Any] {
            def length: Int = idMap.order.length
            def apply(j: Int): Any = java.lang.Long.valueOf(idMap.order(j))
          }
        } else {
          val idx = new java.util.HashMap[Any, Integer](nRows)
          val buf = new scala.collection.mutable.ArrayBuffer[Any]()
          def id(x: Any): Int = {
            val v = idx.get(x)
            if (v != null) v.intValue()
            else { val n = buf.size; idx.put(x, n); buf += x; n }
          }
          var i = 0
          while (i < nRows) {
            val s = id(genericRows(i)._1); val d = id(genericRows(i)._2)
            addEdge(s, d)
            if (undirected) addEdge(d, s)
            i += 1
          }
          buf.toIndexedSeq
        }
      val nV = nodeVals.size
      val outdeg = new Array[Long](nV)
      var i = 0
      while (i < m) { outdeg(esS(i)) += 1L; i += 1 }
      var pr = Array.fill(nV)(1000000L)
      for (_ <- 1 to iters) {
        val c = new Array[Long](nV)
        i = 0
        while (i < m) { c(esD(i)) += pr(esS(i)) / outdeg(esS(i)); i += 1 }
        val next = new Array[Long](nV)
        i = 0
        while (i < nV) { next(i) = 150000L + (85L * c(i)) / 100L; i += 1 }
        pr = next
      }
      lf.unpersist()
      val spark = edges.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", e0.schema.head.dataType),
        org.apache.spark.sql.types.StructField("pr",
          org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          nodeVals.indices
            .map(j => org.apache.spark.sql.Row(nodeVals(j), pr(j)))
            .asJava),
        schema)
    }
    // BSP: when the middle rung already deduped, reuse its persisted frame
    // (directly for the directed case — no second distinct; as the explode
    // input for undirected, where (a,b)/(b,a) twins still need the
    // post-explode distinct).
    val eDir =
      if (!undirected) sized.frame
      else sized.frame.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("g"))
        .select(col("g.src").as("src"), col("g.dst").as("dst"))
    val e =
      if (sized.distinct && !undirected) eDir // persisted + distinct already
      else (if (dedupEdges) eDir.distinct() else eDir)
        .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Size-adaptive join strategy, the same stats-driven fork as
    // connectedComponents: the per-round frames are |V|-sized while the
    // edge set is |E|-sized. When |V| fits a broadcast, every round is a
    // map-only pass over the CACHED edges (broadcast rank in, |V|-sized
    // partial-agg shuffle out) — never a shuffle of |E|. Catalyst can't
    // make this call itself: the rank frame is derived, so its size
    // estimate is unknown at plan time, and AQE only downgrades joins
    // stage-by-stage after shuffles are already written. Above the
    // threshold (web-scale |V|) every join stays a shuffle join.
    val nV = nodes.count()
    // nodes.count materialized the |E| cache of `e` (it derives from it);
    // the probe cache is no longer needed unless it is `e` itself
    if (sized.frame ne e) sized.frame.unpersist()
    val small = nV <= broadcastNodeThreshold
    def b(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    var pr = nodes.withColumn("pr", lit(1000000L))
    for (i <- 1 to iters) {
      // rank-per-outlink first: a |V|⋈|V| node-keyed join, not |E|⋈|V|
      val rate = deg.join(b(pr), Seq("node"))
        .select(col("node").as("src"), expr("pr div outdeg").as("r"))
      val contrib = e.join(b(rate), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("r")).as("s"))
      pr = nodes.join(b(contrib), Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(85 * coalesce(s, 0L)) div 100")).as("pr"))
      // beyond a few rounds the unrolled plan grows a join+agg level per
      // iteration and driver analysis time dominates (the same trap
      // connectedComponents hit at 228 s) — cut lineage per round rather
      // than trust callers to read a comment. Below the threshold the
      // lazy plan is cheaper than a materialization barrier.
      if (i >= 4) pr = pr.localCheckpoint(true)
    }
    // materialize the result before releasing the caches it reads from,
    // so repeated calls never leak e/withDeg for the driver's lifetime
    val out = if (iters >= 4) pr else pr.localCheckpoint(true)
    e.unpersist()
    deg.unpersist()
    nodes.unpersist()
    out
  }

  /** Per-node triangle counts via DEGREE-ORIENTED enumeration (the
    * compact-forward scheme): each undirected edge is oriented from its
    * lower-(degree, id) endpoint, wedges pair two out-edges of a common
    * source, and a wedge is a triangle when its (dst, dst) pair is itself
    * an edge (checked with a semi join against the canonical edge set).
    * Each triangle is enumerated exactly once — from its minimum-(degree,
    * id) vertex — so per-node counts are the explode of the three corners.
    *
    * Degree orientation is the scale decision: out-degrees are bounded by
    * O(√|E|) on ANY graph, so wedge volume is O(|E|^1.5) and a hub node
    * (every co-purchase graph has them) contributes √-bounded wedges
    * instead of deg² — an id-ordered enumeration (which the q56 ORACLE
    * deliberately uses: same triangle set, different construction) blows
    * up quadratically on exactly those hubs. All joins are equi-joins on
    * node keys; nothing global.
    *
    * Size ladder (r15, the connectedComponents precedent): long-keyed
    * edge sets under the driver-heap-derived `localEdgeThreshold`
    * (default [[SizeLadder.LocalEdges]]) are collected and counted by the
    * primitive [[localTriangleCounts]] kernel — the distributed plan's
    * ~25 stages are pure scheduler floor at that size (q56's sampled
    * sf0.1 graph: 4.2 s distributed vs sub-second local, same hash).
    * The kernel's own O(|E|)-computed merge-work gate falls back to the
    * distributed wedge plan on dense-but-small graphs, so neither rung
    * is ever pathological.
    *
    * @param edges canonical undirected edges: first column < second
    *   column, distinct
    * @return (node, n_tri) for nodes in ≥ 1 triangle */
  def triangleNodeCounts(edges: DataFrame,
                         broadcastEdgeThreshold: Long =
                           SizeLadder.executorCap(SizeLadder.BroadcastEdges),
                         broadcastNodeThreshold: Long =
                           SizeLadder.executorCap(SizeLadder.BroadcastNodes),
                         spreadGate: Long = wedgeSpreadGate,
                         localEdgeThreshold: Long =
                           SizeLadder.driverCap(SizeLadder.LocalEdges))
      : DataFrame = {
    val Array(ac, bc) = edges.columns.take(2)
    // Materialize the canonical edge set ONCE: it feeds THREE consumers
    // (degree counting, orientation, the closing-edge probe), and a lazy
    // frame gets its whole upstream BUILD cloned into each — q56's
    // co-purchase build (a 60M-row lineitem scan, a 20M-row (order, part)
    // distinct, the per-order pair self-join, and the edge distinct at
    // sf10) ran FOUR times in the unmaterialized plan, measured round 13
    // as the plan's largest cost block. The count doubles as the
    // broadcast-rung stat and replays the cache, not the build.
    val e = edges.select(col(ac).as("a"), col(bc).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nE = e.count()
    // Local rung of the size ladder (same shape as connectedComponents'
    // union-find rung): under the driver-heap-derived edge cap, collect
    // the canonical edge set and count with the primitive compact-forward
    // kernel — the distributed plan below is ~25 stages of 30–700 ms
    // each on a graph this size (r15 per-stage profile: wall ≈
    // scheduler floor, e.g. 381 ms wall for 8.0 s of task time over 32
    // tasks moving 3 MB), i.e. pure task/stage overhead, while the local
    // kernel does the same O(Σ od(u)+od(v)) merge work in one process.
    // Long keys only (q56's part ids; the distributed path handles any
    // type); the kernel's own work gate bails back here on the rare
    // under-cap-but-dense graph.
    val longKeys = e.schema.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longKeys && nE <= localEdgeThreshold) {
      localTriangleCounts(e) match {
        case Some(out) => e.unpersist(); return out
        case None => () // null keys or wedge-work gate: distributed path
      }
    }
    val (counts, caches) =
      triangleCountsFrame(e, nE, broadcastEdgeThreshold, broadcastNodeThreshold,
        spreadGate)
    // materialize (|V|-bounded) before releasing the caches it reads from
    val out = counts.localCheckpoint(true)
    (e +: caches).foreach(_.unpersist())
    out
  }

  /** Canonical co-occurrence edges: ids sharing a group value become an
    * edge (a < b, distinct) — the build feeding q56's co-purchase
    * graph. ONE exchange on the group key, a Tungsten
    * sortWithinPartitions, then a streaming run iterator that emits each
    * group's pairs with ZERO per-group allocation (one reused buffer per
    * partition; sorted runs make pairs canonical and dedup consecutive
    * ids for free) — then the edge distinct.
    *
    * Why this form (the five-way A/B ladder is in PERF.md "Round 14
    * delta"): the self-join pays a distinct exchange PLUS a group
    * re-shuffle and two sorts; collect_set + the compiled UnorderedPairs
    * kernel has the one-exchange shape, but its object aggregate always
    * falls to sort-based mode here and its per-group set buffers churn a
    * long-lived JVM. The sorted-run form keeps the one exchange and does
    * the sort that fallback did anyway, minus the buffers, and won at
    * sf10 and sf100d. `mapPartitions` is deliberate here — the run iteration over a
    * sorted partition has no Expression-shaped equivalent, and the
    * tuple encoder's churn measured cheaper than every agg/join form.
    *
    * Scale contract: pair volume is quadratic in GROUP size, so the
    * group key must be small-cardinality-per-group (TPC-H orders: ≤ 7
    * items at every SF); quadratic emission happens before the
    * edge-distinct exchange, so skew cost is bounded by
    * max-group-size², not any all-pairs blowup. A single hot group key
    * lands one partition — same exposure as any groupBy on the key. */
  def coOccurrenceEdges(items: DataFrame, group: String,
                        id: String): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    items.select(col(group).cast("long"), col(id).cast("long"))
      .repartition(col(group)).sortWithinPartitions(group, id)
      .as[(Long, Long)]
      .mapPartitions(sortedRunPairs)
      .toDF("a", "b").distinct()
  }

  /** Streaming pair emission over (group, id) rows SORTED by (group, id):
    * buffers one group's distinct ids (consecutive duplicates skipped),
    * yields its C(k,2) ascending pairs, reuses the buffer. Package-
    * private for direct unit testing (GraphSpec). */
  private[graft] def sortedRunPairs(
      rows: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private val buf = new scala.collection.mutable.ArrayBuffer[Long](8)
      private var i = 0
      private var j = 0
      private var pending: (Long, Long) = null
      private var active = false
      /** load the next group with >= 2 distinct ids into buf */
      private def loadGroup(): Boolean = {
        while (pending != null || rows.hasNext) {
          buf.clear()
          var g = 0L
          if (pending != null) { g = pending._1; buf += pending._2; pending = null }
          else { val r = rows.next(); g = r._1; buf += r._2 }
          var boundary = false
          while (!boundary && rows.hasNext) {
            val r = rows.next()
            if (r._1 == g) { if (buf(buf.length - 1) != r._2) buf += r._2 }
            else { pending = r; boundary = true }
          }
          if (buf.length >= 2) { i = 0; j = 1; return true }
        }
        false
      }
      def hasNext: Boolean = { if (!active) active = loadGroup(); active }
      def next(): (Long, Long) = {
        if (!hasNext) throw new NoSuchElementException("sortedRunPairs")
        val r = (buf(i), buf(j))
        j += 1
        if (j >= buf.length) { i += 1; j = i + 1; if (j >= buf.length) active = false }
        r
      }
    }

  /** Triangle counts over the co-occurrence graph of `items` — the fused
    * entry q56 uses, adding a LOCAL rung BELOW the edge build itself
    * (r16). [[coOccurrenceEdges]] → [[triangleNodeCounts]] pays two
    * exchanges (group repartition + edge distinct), an |E| cache
    * materialization and ~4 driver jobs before the existing local
    * triangle rung even sees the edges; on a small item set all of that
    * is scheduler floor. Here ONE column-pruned count sizes the item
    * set, and under the cap the items are collected raw and the edge
    * build (sorted-run pair emission + dedup) runs in-process feeding
    * the same compact-forward core — the Spark side collapses to
    * count + collect, shuffle-free. Above the cap (or on null keys /
    * a pair-volume or wedge-work gate trip) the distributed form runs
    * EXACTLY as before, the only delta being the one pruned count.
    * Same canonical edge set, same counts, bit-identical output
    * (GraphSpec pins local == distributed on random data).
    *
    * Gates, each falling back rather than degrading: `localItemThreshold`
    * (driver-heap-derived, the collect bound); `localPairGate` caps the
    * RAW per-group pair volume Σ C(k,2) computed in O(items) BEFORE any
    * pair is materialized (quadratic-in-group-size emission must not
    * wedge the driver on a hot group — same exposure the distributed
    * form documents); [[localWedgeWorkGate]] inside the counting core. */
  def coOccurrenceTriangleCounts(items: DataFrame, group: String, id: String,
      localItemThreshold: Long = SizeLadder.driverCap(SizeLadder.LocalItems),
      localPairGate: Long = SizeLadder.driverCap(SizeLadder.LocalEdges))
      : DataFrame = {
    val itemsL = items.select(col(group).cast("long").as("g"),
      col(id).cast("long").as("i"))
    val capI = math.max(0L,
      math.min(localItemThreshold, SizeLadder.ArrayCeiling)).toInt
    // Size check and fetch in ONE bounded probe: executeTake(cap + 1)
    // stops growing its partition waves the moment it holds cap + 1 rows,
    // so over the cap it reads a cap-bounded PREFIX of the scan (a full
    // count job here measured +0.4 s on the 10× surface, charged to
    // exactly the scale that then takes the distributed path anyway) and
    // under the cap the returned rows ARE the collect the local rung
    // needs — no second job. Sequential waves are fine on this input
    // (a pruned scan+filter, pennies per wave); the pageRankQ note
    // rejecting a limit-probe was about an expensive JOIN upstream that
    // each wave would re-run.
    if (capI > 0) {
      val taken = itemsL.queryExecution.executedPlan.executeTake(capI + 1)
      if (taken.length <= capI) {
        localCoOccurrenceTriangles(itemsL.sparkSession, taken, localPairGate) match {
          case Some(out) => return out
          case None => () // nulls or a gate trip: distributed path below
        }
      }
    }
    triangleNodeCounts(coOccurrenceEdges(itemsL, "g", "i"))
  }

  /** In-process twin of [[coOccurrenceEdges]] + the local triangle rung
    * over already-collected (group, id) rows: sort packed (dense-group,
    * dense-id) keys, emit each run's C(k,2) pairs (consecutive-duplicate
    * ids skipped — the [[sortedRunPairs]] contract) into a dedup map,
    * count triangles with [[localTriangleRows]]. None on null keys or a
    * gate trip. */
  private[graft] def localCoOccurrenceTriangles(
      spark: SparkSession,
      internal: Array[org.apache.spark.sql.catalyst.InternalRow],
      pairGate: Long,
      workGate: Long = localWedgeWorkGate): Option[DataFrame] = {
    val m = internal.length
    var i = 0
    while (i < m) {
      if (internal(i).isNullAt(0) || internal(i).isNullAt(1)) return None
      i += 1
    }
    if (m == 0)
      return Some(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), triSchema))
    // dense-int encodings: groups and nodes each map to insertion-order
    // ints, so one packed long per item row sorts runs with a primitive
    // Arrays.sort (no comparator boxing)
    val gMap = new LongIdMap(2L * m)
    val nodeMap = new LongIdMap(2L * m)
    val packed = new Array[Long](m)
    i = 0
    while (i < m) {
      val gi = gMap.getOrAdd(internal(i).getLong(0))
      val ni = nodeMap.getOrAdd(internal(i).getLong(1))
      packed(i) = (gi.toLong << 32) | (ni.toLong & 0xffffffffL)
      i += 1
    }
    java.util.Arrays.sort(packed)
    // raw pair volume Σ C(k,2) over distinct ids per group, gated BEFORE
    // anything quadratic is materialized
    var rawPairs = 0L
    var s = 0
    while (s < m) {
      val g = packed(s) >>> 32
      var k = 0L
      var last = -1L
      var e = s
      while (e < m && (packed(e) >>> 32) == g) {
        val v = packed(e) & 0xffffffffL
        if (v != last) { k += 1; last = v }
        e += 1
      }
      rawPairs += k * (k - 1) / 2
      s = e
    }
    if (rawPairs > pairGate || rawPairs > LongIdMap.MaxKeys) return None
    // emit + dedup: pair (u < v in dense order) packs into one long; the
    // map's insertion order IS the distinct edge list. The run buffer is
    // growable but reused (clear() keeps the backing array), so the loop
    // allocates nothing per group.
    val pairMap = new LongIdMap(rawPairs)
    val run = new scala.collection.mutable.ArrayBuffer[Int](64)
    s = 0
    while (s < m) {
      val g = packed(s) >>> 32
      run.clear()
      var last = -1L
      var e = s
      while (e < m && (packed(e) >>> 32) == g) {
        val v = packed(e) & 0xffffffffL
        if (v != last) { run += v.toInt; last = v }
        e += 1
      }
      val k = run.length
      var a = 0
      while (a < k) {
        var b = a + 1
        while (b < k) {
          pairMap.getOrAdd((run(a).toLong << 32) | (run(b).toLong & 0xffffffffL))
          b += 1
        }
        a += 1
      }
      s = e
    }
    val mE = pairMap.order.length
    val ea = new Array[Int](mE); val eb = new Array[Int](mE)
    i = 0
    while (i < mE) {
      val p = pairMap.order(i)
      ea(i) = (p >>> 32).toInt
      eb(i) = (p & 0xffffffffL).toInt
      i += 1
    }
    localTriangleRows(ea, eb, nodeMap.order.toArray, workGate)
      .map(rows => spark.createDataFrame(rows, triSchema))
  }

  /** The pre-checkpoint triangle-count plan over a PERSISTED canonical
    * edge frame `e` (columns a, b) with its materialized count `nE` —
    * split from [[triangleNodeCounts]] so PlanAuditSpec can pin the
    * physical shape (the public method returns a checkpoint scan, which
    * hides it). Returns the counts frame plus the intermediate caches the
    * caller must unpersist after materializing the result. */
  /** Single-process compact-forward triangle counting over a collected
    * canonical edge set (a < b, distinct, both columns LongType) — the
    * local rung of [[triangleNodeCounts]]'s size ladder. Orientation by
    * (degree, id) bounds out-degree at O(√|E|); per oriented edge (u→v)
    * a two-pointer merge of the SORTED N⁺(u)/N⁺(v) closes each triangle
    * exactly once (its orientation-lowest corner owns it) and increments
    * all three corners. Total merge work is Σ_{u→v}(od(u)+od(v)) ≤
    * O(|E|^1.5) worst-case; the gate computes the ACTUAL sum in O(|E|)
    * before the loop and returns None above [[localWedgeWorkGate]]
    * (caller falls back to the distributed plan), so a dense under-cap
    * graph can never wedge the driver. The collect is bounded by the
    * caller's heap-derived edge cap — same budget as the union-find rung.
    * Returns None (never a wrong answer) on null keys: the distributed
    * path keeps null as a joinable key and this kernel cannot. */
  private[graft] def localTriangleCounts(
      e: DataFrame, workGate: Long = localWedgeWorkGate): Option[DataFrame] = {
    val internal = e.queryExecution.executedPlan.executeCollect()
    val m = internal.length
    var i = 0
    while (i < m) {
      if (internal(i).isNullAt(0) || internal(i).isNullAt(1)) return None
      i += 1
    }
    val idMap = new LongIdMap(2L * m)
    val ea = new Array[Int](m); val eb = new Array[Int](m)
    i = 0
    while (i < m) {
      ea(i) = idMap.getOrAdd(internal(i).getLong(0))
      eb(i) = idMap.getOrAdd(internal(i).getLong(1))
      i += 1
    }
    localTriangleRows(ea, eb, idMap.order.toArray, workGate)
      .map(rows => e.sparkSession.createDataFrame(rows, triSchema))
  }

  private val triSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("node",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_tri",
      org.apache.spark.sql.types.LongType)))

  /** The compact-forward counting core over DENSE int edge endpoints
    * (`orig(u)` = original long id of dense node u — the orientation
    * tie-break and the output key). Shared by [[localTriangleCounts]]
    * (collected canonical edges) and [[localCoOccurrenceTriangles]]
    * (edges derived in-process from collected items, r16). Returns the
    * (node, n_tri) rows, or None when the O(|E|)-computed merge work
    * exceeds `workGate` (caller falls back to the distributed plan). */
  private def localTriangleRows(ea: Array[Int], eb: Array[Int],
      orig: Array[Long], workGate: Long)
      : Option[java.util.ArrayList[org.apache.spark.sql.Row]] = {
    val m = ea.length
    val nV = orig.length
    var i = 0
    val deg = new Array[Int](nV)
    i = 0; while (i < m) { deg(ea(i)) += 1; deg(eb(i)) += 1; i += 1 }
    // low (deg, original id) endpoint owns the oriented edge
    def ahead(u: Int, v: Int): Boolean =
      deg(u) < deg(v) ||
        (deg(u) == deg(v) && orig(u) < orig(v))
    val od = new Array[Int](nV)
    i = 0
    while (i < m) {
      if (ahead(ea(i), eb(i))) od(ea(i)) += 1 else od(eb(i)) += 1
      i += 1
    }
    val off = new Array[Int](nV + 1)
    i = 0; while (i < nV) { off(i + 1) = off(i) + od(i); i += 1 }
    val adj = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(off, nV)
    i = 0
    while (i < m) {
      if (ahead(ea(i), eb(i))) { adj(fill(ea(i))) = eb(i); fill(ea(i)) += 1 }
      else { adj(fill(eb(i))) = ea(i); fill(eb(i)) += 1 }
      i += 1
    }
    var u = 0
    while (u < nV) { java.util.Arrays.sort(adj, off(u), off(u + 1)); u += 1 }
    var work = 0L
    u = 0
    while (u < nV) {
      var j = off(u)
      while (j < off(u + 1)) { work += od(u).toLong + od(adj(j)).toLong; j += 1 }
      u += 1
    }
    if (work > workGate) return None
    val tri = new Array[Long](nV)
    u = 0
    while (u < nV) {
      var j = off(u)
      while (j < off(u + 1)) {
        val v = adj(j)
        var p = off(u); var q = off(v)
        while (p < off(u + 1) && q < off(v + 1)) {
          val x = adj(p); val y = adj(q)
          if (x == y) { tri(u) += 1; tri(v) += 1; tri(x) += 1; p += 1; q += 1 }
          else if (x < y) p += 1
          else q += 1
        }
        j += 1
      }
      u += 1
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    u = 0
    while (u < nV) {
      if (tri(u) > 0L)
        rows.add(org.apache.spark.sql.Row(orig(u), tri(u)))
      u += 1
    }
    Some(rows)
  }

  /** Merge-work ceiling for [[localTriangleCounts]] — ~2e9 int-compares
    * is a few seconds of single-core work on this kernel (measured
    * ~10⁹ compare-steps/s on primitive sorted runs); an under-edge-cap
    * graph dense enough to exceed it gets the distributed wedge plan,
    * whose spread gate is built for exactly that shape. */
  private[graft] val localWedgeWorkGate = 2000000000L

  private[graft] def triangleCountsFrame(e: DataFrame, nE: Long,
      bcastEdgeCap: Long,
      nodeCap: Long = SizeLadder.executorCap(SizeLadder.BroadcastNodes),
      spreadGate: Long = wedgeSpreadGate): (DataFrame, Seq[DataFrame]) = {
    val spark = e.sparkSession
    val deg = e.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The degree frame is |V|-sized while e is |E|-sized: below the node
    // cap the two degree attaches are broadcast joins (e never shuffles
    // for them); above it they fall back to shuffle joins — the same
    // stats-driven fork as pageRankQ, which Catalyst cannot make itself
    // (both sizes are derived, so plan-time estimates are unknown).
    // |V| ≤ 2|E| always, so when that bound already clears the cap the
    // exact count job (a per-run barrier) is skipped.
    val smallV = 2L * nE <= nodeCap || deg.count() <= nodeCap
    def bV(df: DataFrame): DataFrame = if (smallV) broadcast(df) else df
    val withDeg = e
      .join(bV(deg.select(col("n").as("a"), col("deg").as("da"))), "a")
      .join(bV(deg.select(col("n").as("b"), col("deg").as("db"))), "b")
    val oriented = withDeg.select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Wedge work per source is C(outdeg, 2) — deg²-skewed even though
    // degree orientation caps outdeg at O(√|E|). With ~one partition per
    // core, balls-into-bins stacks several heavy sources in the worst bin
    // (the semdedup tile lesson); when the measured wedge volume is big
    // enough that a stacked bin costs real wall, spread the self-join
    // input over 4× the grid so wall ≈ the heaviest source, not the
    // heaviest BIN. Below the gate the default exchange avoids the extra
    // task-floor overhead. The volume stat is one |V|-row agg over the
    // persisted oriented frame — itself a per-run barrier, so it only
    // runs when the orientation bound (Σ C(od,2) ≤ |E|·√(2|E|)/2, od ≤
    // √(2|E|)) says the gate is even reachable; small graphs skip it.
    val wedgeBound = nE * math.sqrt(2.0 * nE) / 2.0
    val wedgeWork =
      if (wedgeBound < spreadGate) 0L
      else oriented.groupBy(col("src"))
        .agg(count(lit(1)).as("od"))
        // coalesce: sum() over zero groups is NULL (empty edge frame
        // with the gate forced reachable, e.g. spreadGate = 0 in probes)
        .agg(coalesce(sum(expr("od * (od - 1) div 2")), lit(0L)))
        .head().getLong(0)
    val nP = spark.sparkContext.defaultParallelism
    val orientedW =
      if (wedgeWork >= spreadGate)
        oriented.repartition(math.min(4096L, 4L * nP).toInt, col("src"))
      else oriented
    val wedges = orientedW.as("u").join(orientedW.as("v").hint("shuffle_hash"),
        col("u.src") === col("v.src") && col("u.dst") < col("v.dst"))
      .select(col("u.src").as("s"), col("u.dst").as("p1"),
        col("v.dst").as("p2"))
    // Closing-edge probe: wedge volume is O(|E|^1.5) while the edge set
    // is |E| — when e fits an executor broadcast, the probe is a
    // BroadcastHashJoin and the wedge flow NEVER crosses an exchange
    // (generated, probed, exploded, and partially aggregated inside one
    // stage; only |V|-bounded partial counts shuffle). Above the cap the
    // semi join must shuffle the wedges, but building a hash table of the
    // |E| side beats sorting the |E|^1.5 side — hint shuffle_hash so
    // plan-time size blindness doesn't pick the sort-merge default.
    val cond = col("p1") === col("w.a") && col("p2") === col("w.b")
    val tri =
      if (nE <= bcastEdgeCap) wedges.join(broadcast(e.as("w")), cond, "left_semi")
      else wedges.join(e.as("w").hint("shuffle_hash"), cond, "left_semi")
    val counts = tri
      .select(explode(array(col("s"), col("p1"), col("p2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    (counts, Seq(deg, oriented))
  }

  /** Wedge volume (Σ C(outdeg, 2)) above which the wedge self-join input
    * is spread over a 4×cores grid — the semdedup tile-spread gate shape:
    * below it, per-bin stacking costs less than the extra task floor. 1e8
    * probe evaluations ≈ a second of single-core work. */
  private[graft] val wedgeSpreadGate = 100000000L

  /** Open-addressing long→dense-int id assignment (linear probing, load
    * ≤ 0.5) for the local-path hot loop — a boxed HashMap here costs ~1 s
    * of allocation churn per million edges. `order(i)` is the key that
    * was assigned id i. It never resizes: sized for `expectedInserts`
    * (clamped to [[LongIdMap.MaxKeys]]), it fails naming its capacity
    * when one more key would push it past half full, instead of probing a
    * full table forever. */
  private[graft] final class LongIdMap(expectedInserts: Long) {
    private val cap = LongIdMap.slots(expectedInserts)
    private val mask = cap - 1
    private val ks = new Array[Long](cap)
    private val vs = Array.fill(cap)(-1)
    val order = new scala.collection.mutable.ArrayBuffer[Long]()
    private def slot(k: Long): Int = {
      val h = k * -7046029254386353131L
      (((h >>> 32) ^ h).toInt) & mask
    }
    def getOrAdd(k: Long): Int = {
      var i = slot(k)
      while (true) {
        val v = vs(i)
        if (v == -1) {
          if (order.size == cap / 2) throw new IllegalStateException(
            s"LongIdMap is full: $cap slots hold at most ${cap / 2} keys")
          ks(i) = k; vs(i) = order.size; order += k; return order.size - 1
        }
        if (ks(i) == k) return v
        i = (i + 1) & mask
      }
      -1 // unreachable
    }
  }

  private[graft] object LongIdMap {
    /** The most keys a map is sized for: 2^30 slots, the largest power of
      * two an array holds. */
    val MaxKeys: Long = 1L << 29

    /** Table size for `expectedInserts` keys at load ≤ 0.5: a power of
      * two, at least 16, at most 2 * [[MaxKeys]]. */
    def slots(expectedInserts: Long): Int = {
      val want = 2 * math.max(1L, math.min(expectedInserts, MaxKeys))
      var c = 16
      while (c < want) c <<= 1
      c
    }
  }

  /** Open-addressing set of NON-NEGATIVE longs (the packed (srcId, dstId)
    * edge keys; both ids are dense ints ≥ 0). -1 marks an empty slot. */
  private final class LongOpenSet(expectedInserts: Int) {
    private val cap = LongIdMap.slots(expectedInserts)
    private val mask = cap - 1
    private val ks = Array.fill(cap)(-1L)
    private def slot(k: Long): Int = {
      val h = k * -7046029254386353131L
      (((h >>> 32) ^ h).toInt) & mask
    }
    /** true iff k was not present (and is now added). */
    def add(k: Long): Boolean = {
      var i = slot(k)
      while (true) {
        val cur = ks(i)
        if (cur == -1L) { ks(i) = k; return true }
        if (cur == k) return false
        i = (i + 1) & mask
      }
      false // unreachable
    }
  }
}
