package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-bounded half of the standard
  * IVF-PQ ANN design (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011; the FAISS IVF,PQ index family).
  *
  * The vector is split into `m` subspaces; each subspace gets its own
  * k-entry codebook (trained with the SAME exact-integer Lloyd trainer the
  * IVF index uses — [[KMeans.lloyd]] on the slice), and a stored vector
  * becomes `m` small code ids. At the 100 TB design point this is what
  * makes the candidate scan affordable: here 64 floats (256 B) become 4
  * ints, and an asymmetric-distance (ADC) scan reads ONLY the code
  * column — the query builds an m×k lookup table of exact integer
  * subspace distances on the driver (k·m entries, KBs), broadcast as a
  * literal, and each row's approximate distance is m array lookups + a
  * sum, fully codegen-friendly. The exact re-rank then fetches full
  * vectors for the shortlist only. Composes with [[graft.jobs.AnnIndex]]:
  * IVF prunes which partitions are READ, PQ shrinks the BYTES per row
  * read.
  *
  * Everything is deterministic: quantized integer centroids, integer
  * subspace distances, ties to the lower code id — encode and ADC scores
  * are identical at any parallelism.
  */
object Pq {

  /** Per-subspace codebooks in the trainer's quantized integer space.
    * `books(s)` holds (code, centroid) sorted by code id. */
  final case class Codebooks(m: Int, subDim: Int,
                             books: Seq[Seq[(Long, Array[Long])]])

  private def quantExpr(vecCol: String, s: Int, d: Int): Column =
    expr(s"transform(slice($vecCol, ${s * d + 1}, $d), " +
      "v -> CAST(floor(v*1000.0+0.5) AS BIGINT))")

  /** Train one k-entry codebook per subspace over the corpus. `dim` must
    * divide evenly into `m` subspaces.
    *
    * All m subspaces train TOGETHER: the seeds (the k smallest ids'
    * vectors, [[KMeans.lloyd]]'s convention) come from one TakeOrdered
    * collect that also yields the dimensionality, and each Lloyd
    * refinement is ONE scan + ONE (m·k·d)-group partial-aggregable shuffle
    * covering every subspace — not m independent lloyd() calls each with
    * its own probe/seed/recenter jobs. Per-job scheduling cost is what
    * dominates small trainings, and at 100 TB the single shared scan reads
    * the corpus once per iteration instead of m times. The arithmetic is
    * bit-identical to per-subspace lloyd: quantize-then-slice equals
    * slice-then-quantize elementwise, and the recenter groups are the same
    * (subspace, cluster, i) cells. */
  def train(df: DataFrame, idCol: String, vecCol: String,
            m: Int, k: Int, iters: Int): Codebooks = {
    require(k > 0 && iters > 0, s"k=$k iters=$iters must be positive")
    val q0 = df.select(col(idCol).as("id"),
      expr(s"transform($vecCol, v -> CAST(floor(v*1000.0+0.5) AS BIGINT))")
        .as("qv"))
    val seedRows = q0.orderBy(col("id")).limit(k).collect()
    require(seedRows.nonEmpty, "PQ training needs a non-empty input")
    val dim = seedRows.head.getSeq[Long](1).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = dim / m
    var books: Seq[Seq[(Long, Array[Long])]] = (0 until m).map { s =>
      seedRows.zipWithIndex.map { case (r, j) =>
        (j.toLong, r.getSeq[Long](1).slice(s * d, (s + 1) * d).toArray)
      }.toSeq
    }
    for (_ <- 1 until iters) {
      // per-row: m (subspace, nearest-cluster, slice) structs, exploded so
      // the recenter is one shuffle over every subspace's cells at once
      val perSub = array((0 until m).map { s =>
        val sub = expr(s"slice(qv, ${s * d + 1}, $d)")
        struct(lit(s).as("s"),
          KMeans.bestCentroid(books(s), sub).getField("cluster").as("cluster"),
          sub.as("sub"))
      }: _*)
      val upd = q0.select(explode(perSub).as("g"))
        .select(col("g.s").as("s"), col("g.cluster").as("cluster"),
          posexplode(col("g.sub")).as(Seq("i0", "v")))
        .groupBy(col("s"), col("cluster"), (col("i0") + 1).as("i"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("c"))
        .select(col("s"), col("cluster"), col("i"),
          // exact rational round-half-up — see KMeans' centroid-update note
          floor((lit(2.0) * col("sv") + col("c")) / (lit(2.0) * col("c")))
            .cast("long").as("cv"))
        .collect()
      val bySub = upd.groupBy(_.getInt(0))
      books = (0 until m).map { s =>
        bySub.getOrElse(s, Array.empty).groupBy(_.getLong(1)).map {
          case (c, rs) => (c, rs.sortBy(_.getInt(2)).map(_.getLong(3)))
        }.toSeq.sortBy(_._1)
      }
      require(books.forall(_.forall(_._2.length == d)), "ragged centroid")
    }
    Codebooks(m, d, books)
  }

  /** Map-only encode: (id, codes array<int>) — one scan, the codebooks are
    * literal arrays, no join. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             cb: Codebooks): DataFrame = {
    val codes = (0 until cb.m).map { s =>
      KMeans.bestCentroid(cb.books(s), quantExpr(vecCol, s, cb.subDim))
        .getField("cluster").cast("int")
    }
    df.select(col(idCol), array(codes: _*).as("codes"))
  }

  /** The query's m×k ADC lookup table: exact integer squared distance from
    * each query subspace to each codebook entry. Indexed by (subspace,
    * code); absent code ids (clusters that lost all members in training)
    * get MaxValue so they can never win. */
  private[graft] def lut(cb: Codebooks, query: Array[Float]): Seq[Seq[Long]] = {
    val q = query.map(x => math.floor(x * 1000.0 + 0.5).toLong)
    (0 until cb.m).map { s =>
      val qs = q.slice(s * cb.subDim, (s + 1) * cb.subDim)
      val byCode = cb.books(s).map { case (c, cv) =>
        c.toInt -> cv.zip(qs).map { case (a, b) => (a - b) * (a - b) }.sum
      }.toMap
      val maxCode = byCode.keys.max
      (0 to maxCode).map(c => byCode.getOrElse(c, Long.MaxValue))
    }
  }

  /** ADC scores over the encoded corpus: approximate squared distance =
    * sum over subspaces of the broadcast LUT entry for the row's code —
    * the scan touches only the (id, codes) columns. */
  def adcScores(encoded: DataFrame, cb: Codebooks,
                query: Array[Float]): DataFrame = {
    val lutLit = array(lut(cb, query).map(a => array(a.map(lit(_)): _*)): _*)
    encoded.withColumn("adc_dist",
      aggregate(
        transform(col("codes"), (c, s) =>
          element_at(element_at(lutLit, s + lit(1)), c + lit(1))),
        lit(0L), (acc, x) => acc + x))
  }

  /** Full IVF-PQ-style search: ADC shortlist over codes, then exact
    * quantized re-rank of the shortlist against the ORIGINAL vectors.
    * `shortlist` trades recall for re-rank cost (FAISS's nprobe/k-factor
    * knob); the re-rank join touches only shortlist-many full vectors. */
  def search(encoded: DataFrame, vectors: DataFrame, idCol: String,
             vecCol: String, cb: Codebooks, query: Array[Float],
             topK: Int, shortlist: Int): DataFrame = {
    val q = query.map(x => math.floor(x * 1000.0 + 0.5).toLong)
    val qLit = array(q.toIndexedSeq.map(lit(_)): _*)
    val short = adcScores(encoded, cb, query)
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(shortlist)
      .select(col(idCol))
    vectors.join(broadcast(short), idCol)
      .withColumn("exact_dist",
        aggregate(
          zip_with(expr(s"transform($vecCol, " +
            "v -> CAST(floor(v*1000.0+0.5) AS BIGINT))"), qLit,
            (x, c) => (x - c) * (x - c)),
          lit(0L), (acc, x) => acc + x))
      .orderBy(col("exact_dist").asc, col(idCol).asc)
      .limit(topK)
      .select(col(idCol), col("exact_dist"))
  }
}
