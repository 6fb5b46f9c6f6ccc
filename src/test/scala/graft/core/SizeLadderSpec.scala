package graft.core

import graft.SparkSpec
import graft.operators.Graph
import org.apache.spark.network.util.JavaUtils

/** The one cap policy of the size-gated operators: every cap derives from
  * a heap, keeps its clamps at tiny and huge heaps, and reads the executor
  * memory for a broadcast; no other source file reads a heap size. */
class SizeLadderSpec extends SparkSpec {

  import SizeLadder._

  private val heaps = Seq(1L << 20, 4L << 30, 128L << 30, 1L << 62)
  private val ceiling = (Int.MaxValue - 8).toLong

  // The per-operator formulas the ladder replaced, written out as they
  // stood: Graph's local edge cap, its co-occurrence item cap, Bpe's vocab
  // cap, and Graph's executor-aware broadcast node and edge caps.
  private def localEdges(heap: Long): Long =
    math.max(1L << 16, math.min((heap * 0.10).toLong / 128L, ceiling))
  private def localItems(heap: Long): Long = math.min(1L << 20, localEdges(heap))
  private def localVocab(heap: Long): Long =
    math.max(1L << 12, math.min((heap * 0.05).toLong / 512L, ceiling))
  private def broadcast(bytesPerRow: Long, executorMemory: Option[String],
                        heap: Long): Long = {
    val h = math.min(
      executorMemory.map(JavaUtils.byteStringAsBytes).getOrElse(heap), heap)
    math.max(1L << 14, math.min(h / 20 / bytesPerRow, (8L << 30) / bytesPerRow))
  }

  test("size-ladder caps derive from the driver heap, not a per-box constant") {
    // two simulated driver sizes: the cap must scale with the heap, stay
    // inside its clamps, and keep the local rung's memory spend bounded by
    // the design fraction at BOTH sizes
    val cap4g = driverCap(LocalEdges, heapBytes = 4L << 30)
    val cap128g = driverCap(LocalEdges, heapBytes = 128L << 30)
    assert(cap4g == (4L << 30) / 10 / 128,
      s"4 GiB cap $cap4g is not heap/10/bytesPerEdge")
    assert(cap4g < cap128g, "cap must grow with the heap")
    assert(cap128g <= (Int.MaxValue - 8).toLong, "array-ceiling clamp")
    for ((heap, cap) <- Seq((4L << 30) -> cap4g, (128L << 30) -> cap128g))
      assert(cap * 128L <= heap / 10 + 128,
        s"local rung would spend ${cap * 128L} of a $heap heap")
    // tiny heap clamps to the floor; huge heap to the array ceiling
    assert(driverCap(LocalEdges, heapBytes = 1L << 20) == 1L << 16)
    assert(driverCap(LocalEdges, heapBytes = 1L << 62) == (Int.MaxValue - 8).toLong)
    val bc4g = executorCap(BroadcastNodes, None, heapBytes = 4L << 30)
    val bc128g = executorCap(BroadcastNodes, None, heapBytes = 128L << 30)
    assert(bc4g == (4L << 30) / 20 / 48 && bc4g < bc128g)
    // the upper clamp is Spark's 8 GiB broadcast hard limit in node units —
    // never a node count whose broadcast could not execute at all
    assert(bc128g == (128L << 30) / 20 / 48 &&
      executorCap(BroadcastNodes, None, heapBytes = 1L << 62) == (8L << 30) / 48)
    // session-aware derivation: spark.executor.memory (when set) binds the
    // broadcast, not the driver heap — a big-driver/small-executor cluster
    // must get the small cap. The conf is static, so the set-branch is
    // exercised with a simulated cluster value ("2g" exercises the
    // size-string parse)
    val sessionMemory = spark.sparkContext.getConf.getOption("spark.executor.memory")
    assert(executorCap(BroadcastNodes) == executorCap(BroadcastNodes, sessionMemory))
    assert(executorCap(BroadcastNodes, Some("2g")) ==
      executorCap(BroadcastNodes, None,
        heapBytes = math.min(2L << 30, Runtime.getRuntime.maxMemory())))
    assert(executorCap(BroadcastNodes, None) ==
      executorCap(BroadcastNodes, None, heapBytes = Runtime.getRuntime.maxMemory()))
    // the derived caps drive the SAME bit-equal rungs: a cap derived from a
    // simulated tiny heap forces BSP, a big one the local path — results agree
    import spark.implicits._
    val edges = (0L until 200L).map(i => (i % 40, (i * 7 + 1) % 40)).toDF("a", "b")
    val local = Graph.connectedComponents(edges,
        driverCap(LocalEdges, heapBytes = 64L << 30))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bsp = Graph.connectedComponents(edges, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local == bsp, "heap-derived rung choice changed the result")
  }

  test("every cap equals the per-operator formula it replaced, at every heap") {
    for (heap <- heaps) {
      assert(driverCap(LocalEdges, heap) == localEdges(heap), s"edges @ $heap")
      assert(driverCap(LocalItems, heap) == localItems(heap), s"items @ $heap")
      assert(driverCap(LocalVocab, heap) == localVocab(heap), s"vocab @ $heap")
      for (mem <- Seq(Some("2g"), None)) {
        assert(executorCap(BroadcastNodes, mem, heap) == broadcast(48L, mem, heap),
          s"broadcast nodes @ $heap, executor $mem")
        assert(executorCap(BroadcastEdges, mem, heap) == broadcast(64L, mem, heap),
          s"broadcast edges @ $heap, executor $mem")
      }
    }
    // the Bpe vocab cap scales with the heap between its clamps
    assert(driverCap(LocalVocab, 1L << 20) == 1L << 12)
    assert(driverCap(LocalVocab, 4L << 30) == 419430L)
    assert(driverCap(LocalVocab, 128L << 30) == 13421772L)
    assert(driverCap(LocalVocab, 1L << 62) == ceiling)
    // the measured gates are constants, not heap-derived
    assert(SigCheckpointDocs == 200000L && BroadcastDictEntries == 2000000L)
  }

  test("distinctRung: raw fit, distinct fit, neither") {
    import spark.implicits._
    // 40 raw rows, 4 distinct
    val raw = (0 until 40).map(i => ((i % 4).toLong, (i % 4 + 1).toLong)).toDF("a", "b")
    def rung(cap: Long, dedup: Boolean = true) = {
      val s = distinctRung(raw, cap, dedup)
      val rows = s.frame.count()
      s.frame.unpersist()
      (rows, s.local, s.distinct)
    }
    assert(rung(40L) == ((40L, true, false)))
    assert(rung(10L) == ((4L, true, true)))
    assert(rung(3L) == ((4L, false, true)))
    assert(rung(10L, dedup = false) == ((40L, false, false)))
  }

  test("no source file but SizeLadder reads a heap size") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val readers = files(root).filter { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      src.contains("maxMemory") || src.contains("spark.executor.memory")
    }.map(_.getName)
    assert(readers == Seq("SizeLadder.scala"))
  }
}
