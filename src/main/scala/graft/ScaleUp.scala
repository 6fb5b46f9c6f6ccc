package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility: derive a larger scale factor from an existing testdata dir
  * by replicating the FACT tables `factor`× with key offsets (dimensions
  * stay fixed — the realistic shape: facts grow, dims don't), so scaling
  * behavior can be measured beyond the driver-provided SFs with the same
  * bench harness (`SPARK_GRAFT_SF_DIR=<out> graft.Bench`).
  *
  * Replication is deterministic and key-disjoint: replica i offsets every
  * surrogate key by i·10^9. Document text gets a per-replica suffix token
  * and embeddings a per-replica deterministic jitter, so replicas are
  * NEAR-duplicates, not exact ones — deliberately stressing the near-dup /
  * LSH / clustering operators with 10× docs and ~10× denser dup structure
  * (the adversarial direction for dedup at scale).
  *
  * Two corpus modes, selecting which scaling REGIME the near-dup /
  * semantic-dedup operators are measured under:
  *  - `dense` (default, the historical behavior): replicas are
  *    near-duplicates of their base doc, so true near-dup pairs grow
  *    ∝ factor² per base doc — the ADVERSARIAL regime (pathological dup
  *    density; output-bound operators are expected to grow with output).
  *  - `distinct`: replica r's text is SUBSTITUTION-CIPHERED (a seeded
  *    per-replica permutation of a 62-char alphabet, spaces fixed) — a bijection at the
  *    character level, so within one replica every similarity statistic (word sets,
  *    shingles, char n-grams and their relative document frequencies,
  *    word order) is EXACTLY the base corpus's under renaming, while
  *    across replicas grams land in disjoint cipher families; embeddings
  *    get a per-replica signed coordinate permutation (orthogonal:
  *    intra-replica inner products exact, cross-replica cosines fall to
  *    the 1/√d random-walk floor). Dup DENSITY is therefore held constant
  *    as the corpus grows — the REALISTIC regime (real corpora add dups
  *    ∝ n, not ∝ n²) — so "pairs and runtime ∝ n" is measurable instead
  *    of argued. One caveat travels with ANY bijective per-replica
  *    rename: a gram string's corpus-wide df FRACTION dilutes by
  *    1/factor (its family has the base count, the corpus is factor×
  *    bigger), so corpus-fraction-relative operators (t06's DF cap) are
  *    measured with the cap scaled by 1/factor (PERF.md "Round 9
  *    delta"), which by bijectivity reproduces the base capped-set
  *    semantics.
  *
  * Usage: ScaleUp [inDir] [outDir] [factor] [mode]
  *
  * Dense-mode ceiling: the per-replica embedding jitter amplitude is
  * (factor−1)·docMult·3e-4 and must stay ≤ 0.03 to keep replicas inside
  * near-dup range (the s11/s12 τ=0.3 prune), so dense mode refuses any
  * COMPOSED factor above ~101 — single-pass or chained. Larger factors
  * use `distinct`/`distinct_wide`, whose perturbations are exact
  * bijections at any chain depth.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val in = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "dense"
    val spark = Session.build(Session.Profile.Check, Session.cpus())
    run(spark, in, out, factor, mode)
    spark.stop()
  }

  def run(spark: SparkSession, in: String, out: String, factor: Int,
          mode: String = "dense"): Unit = {
    require(mode == "dense" || mode == "distinct" || mode == "distinct_wide",
      s"unknown mode $mode")

    // The id offset MUST be injective under COMPOSITION: sf10 is built by
    // applying ScaleUp to sf1's output, and a FIXED additive offset
    // (id + r·10⁹) collapses replica pairs with equal r₁+r₂ onto one id —
    // at sf10 that produced duplicate doc_ids, which broke every
    // unique-id-contract operator downstream (found when t32's jaccard
    // denominator hit zero: a collided id carries two texts, so its gram
    // join multiplies and `inter` overshoots the set sizes). Fix: the
    // offset is a POWER OF TEN STRICTLY ABOVE the input's max id (never
    // below the historical 10⁹, so a first application reproduces the old
    // layout bit-for-bit) — replica id ranges then never overlap however
    // many times ScaleUp chains. A power of ten also preserves
    // id % 10 == base % 10, which gate fixtures use as a base-level split.
    // Columns joined across tables (o_orderkey/l_orderkey, and
    // vec_id ⊆ doc_id) must share ONE offset, computed from the DOMAIN's
    // owning table. The same composition rule applies to every replica
    // perturbation, not just ids: the text suffix and embedding jitter are
    // scaled by `mult = offset/10⁹` (1 on a first application — legacy
    // layout bit-for-bit), so a pass-1 replica tag can never equal a
    // pass-2 tag and chained corpora stay exact-dup-free (the first sf10
    // had both id collisions AND (r₁=1,r₂=0)/(r₁=0,r₂=1) text twins —
    // the same bug class, found in review).
    val OFF = 1000000000L
    // the base side is repartitioned BEFORE the crossJoin: a small base
    // (one scan partition) × a large factor otherwise generates the whole
    // replicated table in ONE task — a factor-1000 single-pass build sat
    // single-threaded for its 600 M-row lineitem until this split the
    // generation across the session's actual cores (defaultParallelism,
    // not a hardcoded 32 — review caught both the cap under
    // SPARK_GRAFT_CPUS=64 and that a fixed number under-used wider bases)
    val genPar = spark.sparkContext.defaultParallelism
    def reps(df: DataFrame): DataFrame =
      df.repartition(genPar)
        .crossJoin(spark.range(factor).select(col("id").as("__r")))
    /** smallest power of 10 > mx, floored at the legacy 10⁹; loud on the
      * edges instead of silently colliding */
    def offsetAbove(mx: Long): Long = {
      require(mx.toString.length < 19, s"max id $mx leaves no headroom: " +
        "pow(10, 19) overflows Long and the offset would collide")
      val offv = math.max(OFF, math.pow(10.0, mx.toString.length.toDouble).toLong)
      require(offv > mx && offv <= Long.MaxValue / factor,
        s"offset $offv cannot cover factor $factor above max id $mx")
      offv
    }
    /** (min, max) of one id column, loud on empty/all-null/negative —
      * a negative id would sit BELOW replica 0's range and collide with
      * offset arithmetic that only separates ranges upward */
    def idRange(df: DataFrame, c: String): (Long, Long) = {
      val r = df.agg(org.apache.spark.sql.functions.min(col(c)),
        org.apache.spark.sql.functions.max(col(c))).head()
      require(!r.isNullAt(1), s"cannot scale an empty/all-null id column $c")
      require(r.getLong(0) >= 0,
        s"id column $c has negative min ${r.getLong(0)}: replica ranges " +
          "would overlap the base below 0")
      (r.getLong(0), r.getLong(1))
    }
    /** one offset for a whole KEY DOMAIN: the max is taken over EVERY
      * column in the domain (an orphan l_orderkey above max(o_orderkey),
      * or a vec_id above max(doc_id), must widen the offset too — the
      * owning table alone does not bound the domain) */
    def offsetForDomain(cols: (DataFrame, String)*): Long =
      offsetAbove(cols.map { case (df, c) => idRange(df, c)._2 }.max)
    def off(c: String, offset: Long): org.apache.spark.sql.Column =
      col(c) + col("__r") * offset

    // Replicated tables are REPARTITIONED before write. Without this the
    // reps() crossJoin (base scan partitions × broadcast) yields 1-2
    // output files, each one row group when under ~128 MB — an
    // UNSPLITTABLE scan, so every downstream map stage (near-dup
    // signatures, centroid assignment) ran effectively single-threaded on
    // the scaled surfaces until its first shuffle (found when a rebuilt
    // surface measured t36 3× slower than the old union-of-branches
    // build, which had incidentally written `factor` files). 32 files
    // matches the bench session's parallelism; files past 128 MB split by
    // row group on their own.
    def write(name: String, df: DataFrame, repartition: Boolean = true): Unit = {
      (if (repartition) df.repartition(32) else df)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] wrote $name")
    }

    // BEFORE writing anything: both distinct modes refuse non-ASCII input
    // loudly. A distinct pass (62-char OR wide) onto a wide corpus would
    // remap only a–z and copy every non-base family verbatim — factor×
    // exact-dup families, silently falsifying every density measurement —
    // and a late failure would also leave a half-written surface after
    // the expensive fact replication (both found in review). 62-char
    // cipher output is ASCII, so legitimate 62-char chaining passes.
    if (mode != "dense") {
      val nonAscii = graft.core.Tables(spark, in, "documents")
        .agg(coalesce(sum(expr("octet_length(text) - length(text)")), lit(0L)))
        .head().getLong(0)
      require(nonAscii == 0L,
        s"$mode needs a pure-ASCII input corpus: a ciphered pass over " +
          "non-ASCII text would copy non-base families verbatim; build " +
          "the full factor in one pass from the ASCII base")
    }

    // dimensions: copy unchanged (tiny — keep their natural layout)
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(t, graft.core.Tables(spark, in, t), repartition = false)
    }
    // orders/lineitem: replicate on the order-key spine; customers/parts/
    // suppliers are shared across replicas (fact-to-dim fan-in grows, the
    // realistic direction)
    val orders = graft.core.Tables(spark, in, "orders")
    val lineitem = graft.core.Tables(spark, in, "lineitem")
    val orderOff = offsetForDomain(orders -> "o_orderkey",
      lineitem -> "l_orderkey")
    write("orders", reps(orders)
      .withColumn("o_orderkey", off("o_orderkey", orderOff)).drop("__r"))
    write("lineitem", reps(lineitem)
      .withColumn("l_orderkey", off("l_orderkey", orderOff)).drop("__r"))
    // events: new event ids AND new users per replica (user cardinality
    // scales with volume; per-user history length stays constant)
    val events = graft.core.Tables(spark, in, "events")
    val evOff = offsetForDomain(events -> "event_id")
    val userOff = offsetForDomain(events -> "user_id")
    write("events", reps(events)
      .withColumn("event_id", off("event_id", evOff))
      .withColumn("user_id", off("user_id", userOff)).drop("__r"))
    // documents: near-dup replicas (suffix token changes a few shingles).
    // Replica 0 stays byte-identical to the base corpus — embeddings' jitter
    // is already zero at __r = 0, and keeping both sides unperturbed keeps
    // the text-side and vector-side near-dup structure consistent per doc
    val docs = graft.core.Tables(spark, in, "documents")
    val embs = graft.core.Tables(spark, in, "embeddings")
    val docOff = offsetForDomain(docs -> "doc_id", embs -> "vec_id")
    // suffix tag = __r·(docOff/10⁹): pass 1 keeps the legacy " r<r>"
    // tokens; a later pass's tags sit in a strictly higher decade than any
    // earlier pass's (offset > max id ≥ (factor-1)·prevOffset), so
    // chained replicas never produce equal texts
    val docMult = docOff / OFF
    // dense mode only: the embedding jitter below grows with docMult; past
    // two chained passes it would leave near-dup range (cos drops below
    // the s11/s12 τ=0.3 pruning threshold) and silently falsify the
    // "×factor denser dup structure" premise — refuse loudly, regenerate
    // from base instead. (distinct mode has no jitter — the signed
    // permutation composes to a signed permutation at any chain depth.)
    if (mode == "dense") {
      // the amplitude bound applies to single passes too: docMult = 1 and
      // factor >= 102 already gives (factor-1)·3e-4 > 0.03, so dense mode
      // has a hard COMPOSED-factor ceiling of ~101 (documented in the
      // usage scaladoc) — the message just names which case was hit
      val amp = (factor - 1).toDouble * docMult.toDouble * 3e-4
      require(amp <= 0.03,
        if (docMult > 1)
          s"chained jitter amplitude $amp would push replicas out of " +
            "near-dup range; rebuild from the base corpus at a single " +
            "higher factor (<= ~101) instead of chaining again"
        else
          s"dense mode caps the single-pass factor at ~101 (jitter " +
            s"amplitude (factor-1)*3e-4 = $amp > 0.03 leaves near-dup " +
            "range); use distinct/distinct_wide mode for larger factors")
    }
    // per-replica text perturbation. dense: one suffix TOKEN per doc —
    // replicas stay near-dups of the base. distinct: a per-replica
    // SUBSTITUTION CIPHER (a deterministically seeded permutation of
    // a–z, spaces fixed) — a bijection at the CHARACTER level, so every
    // similarity statistic any operator derives (word sets, word
    // shingles, char n-grams, n-gram document frequencies, word order)
    // is renamed along intact within a replica, while across replicas
    // grams land in disjoint cipher families (up to rare accidental
    // collisions of a ciphered gram with a real one). Two designs were
    // tried first and REJECTED by measurement: (1) per-word suffix tags
    // preserve word-set Jaccard but destroy the word-boundary char grams
    // that carry t06's order signal — t06 blew up 206 → 33.9 M pairs at
    // 10× (280 k even with the cap scaled); char-gram operators need a
    // char-level bijection. (2) Caesar ROTATIONS only offer 26 cipher
    // classes, so a chained factor-100 surface pigeonholes ~4 replicas
    // into each class as EXACT text copies — 206 → 1.2 M pairs at 100×.
    // Seeded full permutations (26! classes, java.util.Random is
    // algorithm-stable across JVMs) make within-pass and composed
    // cross-pass collisions vanishingly rare.
    // the cipher DOMAIN is 62 chars even though the base corpus only uses
    // a–z: 100 families of a dense gram population birthday-collide in the
    // 27⁴ ≈ 531 k char-4-gram space (measured: collisions push real grams
    // over the scaled DF cap and t06 explodes 206 → 3.6 M pairs at 100×),
    // while 63⁴ ≈ 15.7 M strings keep the families effectively disjoint.
    // Permuting the FULL 62-char set also keeps chained passes bijective:
    // a pass-2 cipher must remap whatever char set pass 1 produced.
    // Every per-replica perturbation (cipher target, coordinate
    // permutation, signs) rides ONE broadcast replica-map frame of
    // `factor` rows, joined onto the single-scan reps() expansion — the
    // first cut union'd `factor` per-replica branches, i.e. `factor` full
    // scans of the input parquet for a factor-100 build (found in review).
    // translate() rebuilds its char dict when the replace argument
    // changes, so a non-foldable per-row cipher target is supported.
    //
    // `distinct_wide` (round 9, after the 62-char cipher's measured
    // birthday bound): each replica's 62 target chars are a seeded
    // 62-subset of [[widePool]] (1,792 single-code-unit 2-byte-UTF-8
    // codepoints — see its scaladoc, incl. why a 46k CJK pool was cut),
    // making the cross-family gram space pool⁴ ≈ 1.0e13 against ~5e7
    // gram strings at 1000 families — headroom to roughly 10⁵–10⁶
    // families, where the 62-char space saturated at ~10³; three decades
    // is the VALIDATED domain. The cost is composability: a second pass
    // would only remap a–z, leaving non-base families as EXACT copies,
    // so the ASCII guard below refuses wide input (for BOTH distinct
    // modes — plain `distinct` chained onto a wide corpus has the same
    // verbatim-copy failure; 62-char output is ASCII, so legitimate
    // 62-char chaining still passes). The guard runs in [[run]]'s
    // preamble, before any table is written.
    lazy val repMap = replicaMap(spark, factor, docMult, embDim(embs), mode)
    if (mode == "dense")
      write("documents", reps(docs)
        .withColumn("doc_id", off("doc_id", docOff))
        .withColumn("text", when(col("__r") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" r"),
            (col("__r") * docMult).cast("string"))))
        .withColumn("n_chars", length(col("text")).cast("long")).drop("__r"))
    else
      write("documents", reps(docs)
        .join(broadcast(repMap.select("__r", "__to")), "__r")
        .withColumn("doc_id", off("doc_id", docOff))
        .withColumn("text", expr(s"translate(text, '$alphabet', __to)"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .drop("__r", "__to"))
    // embeddings. dense: deterministic per-replica jitter — 4th decimal on
    // a first application, ×10 per chained pass (≤0.027/component at the
    // guarded depth: inside near-dup range, outside exact-dup range).
    // distinct: a SEEDED FULL coordinate permutation + seeded balanced ±
    // signs per replica tag (see [[permFor]]/[[signsFor]]) — orthogonal,
    // so intra-replica dot products and norms are preserved EXACTLY while
    // cross-replica cosines fall toward the 1/√d random-walk floor;
    // composes to a signed permutation under chaining. Two weaker designs
    // were rejected: a fixed sign pattern + coordinate SHIFT leaves
    // cross-replica cosines at the base corpus's autocorrelation
    // (measured 0.36 at lag 1 — inside near-dup range), and a ROTATION by
    // __r·docMult pigeonholes at factor ≥ d: replicas with equal rotation
    // mod d differ only by signs, so their cosine is ±Σ±v_j²/‖v‖² — above
    // the τ=0.3 semdedup threshold for any energy-concentrated vector
    // (found in review; full permutations make a shared permutation a
    // 1-in-d! event instead of a pigeonhole certainty).
    // vec_id ⊆ doc_id domain: SHARE the documents offset so a doc and its
    // embedding stay aligned per replica; the dense jitter is scaled by
    // the same per-pass multiplier so equal-sum replica pairs (r₁+r₂) no
    // longer produce bitwise-identical vectors under chaining
    val embBase =
      if (mode == "dense") reps(embs)
      else reps(embs).join(broadcast(
        repMap.select("__r", "__perm", "__signs")), "__r")
    val perturbedEmb =
      if (mode == "dense")
        expr(s"transform(embedding, (v, i) -> v + cast(__r as float) * " +
          s"cast($docMult as float) * 1e-4f * cast(1 + pmod(i, 3) as float))")
      else
        // size(embedding) <= 0 guard: sequence(0, -1) is a [0,-1] DOWNWARD
        // ramp, not the empty array — an ungated transform turns [] into
        // [null, null] (found in review); empty and null stay themselves
        when(col("__r") === 0 || size(col("embedding")) <= 0,
          col("embedding"))
          .otherwise(expr(
            "transform(sequence(0, size(embedding) - 1), i -> " +
              "element_at(embedding, element_at(__perm, i + 1) + 1) * " +
              "element_at(__signs, i + 1))"))
    write("embeddings", embBase
      .withColumn("embedding", perturbedEmb)
      .withColumn("vec_id", off("vec_id", docOff))
      .drop("__r", "__perm", "__signs"))
  }

  val alphabet =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  /** distinct-mode cipher target for one replica tag: a seeded
    * Fisher-Yates permutation of [[alphabet]] (identity at tag 0 — replica
    * 0 stays byte-identical to the base). java.util.Random's algorithm is
    * specified, so the cipher is stable across JVMs. */
  private[graft] def cipherTo(tag: Long): String =
    if (tag == 0L) alphabet
    else {
      val arr = alphabet.toCharArray
      val rnd = new java.util.Random(tag)
      for (i <- arr.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = arr(i); arr(i) = arr(j); arr(j) = t
      }
      new String(arr)
    }

  /** the distinct_wide codepoint pool: U+0100–U+07FF — 1,792 codepoints
    * that are single UTF-16 code units (the char-gram kernels index
    * java.lang.String by code unit, so a supplementary-plane char would
    * be two "chars" and silently change every gram statistic) AND 2-byte
    * UTF-8 (a first CJK-pool cut at 3 bytes/char blew the probe box's
    * shuffle scratch: the t06 gram explode of a 1000× corpus is
    * corpus-sized). Codepoint ASSIGNMENT is irrelevant for a synthetic
    * corpus — every value here is a valid Java char and valid UTF-8. */
  private[graft] val widePool: Array[Char] =
    (0x100 to 0x7FF).map(_.toChar).toArray

  /** distinct_wide cipher target: a seeded 62-subset of [[widePool]]
    * (identity at tag 0). Two families share ~62²/1792 ≈ 2 chars in
    * expectation, but a cross-family char-GRAM collision needs every
    * position to land on shared chars in a compatible arrangement: the
    * gram space is 1792⁴ ≈ 1.0e13 against ~5e7 gram strings at 1000
    * families (expected birthday collisions ≈ 10², harmless) — where the
    * 62-char cipher's 63⁴ ≈ 1.6e7 space measurably saturated. */
  private[graft] def cipherToWide(tag: Long): String =
    if (tag == 0L) alphabet
    else {
      val rnd = new java.util.Random(tag)
      val seen = new java.util.HashSet[Char]()
      val out = new Array[Char](alphabet.length)
      var i = 0
      while (i < out.length) {
        val c = widePool(rnd.nextInt(widePool.length))
        if (seen.add(c)) { out(i) = c; i += 1 }
      }
      new String(out)
    }

  /** distinct-mode coordinate permutation for one replica tag: 0-based
    * source position per target position, identity at tag 0. */
  private[graft] def permFor(tag: Long, d: Int): Array[Int] = {
    val p = Array.range(0, d)
    if (tag != 0L) {
      val rnd = new java.util.Random(tag)
      for (i <- d - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = p(i); p(i) = p(j); p(j) = t
      }
    }
    p
  }

  /** distinct-mode ± signs for one replica tag (all +1 at tag 0). Seed is
    * decoupled from [[permFor]]'s so the sign pattern is independent of
    * the permutation prefix. */
  private[graft] def signsFor(tag: Long, d: Int): Array[Float] =
    if (tag == 0L) Array.fill(d)(1f)
    else {
      val rnd = new java.util.Random(tag ^ 0x9E3779B97F4A7C15L)
      Array.fill(d)(if (rnd.nextBoolean()) 1f else -1f)
    }

  /** embedding dimensionality, probed once (bounded: one 2-value agg);
    * loud if non-empty embeddings disagree — [[permFor]] arrays are built
    * for ONE d, and a silent skip would leave odd-sized vectors
    * unperturbed (a fake cross-replica near-dup). Empty table / all-empty
    * arrays → 0 (the when-guard keeps them unchanged). */
  private def embDim(embs: DataFrame): Int = {
    val r = embs.select(size(col("embedding")).as("s")).where(col("s") > 0)
      .agg(min(col("s")), max(col("s"))).head()
    if (r.isNullAt(0)) 0
    else {
      require(r.getInt(0) == r.getInt(1),
        s"distinct mode needs one embedding dimensionality, " +
          s"found ${r.getInt(0)}..${r.getInt(1)}")
      r.getInt(0)
    }
  }

  /** the broadcast replica-map frame: one row per replica with every
    * distinct-mode perturbation — `factor` driver-built rows, built once
    * per run (the lazy val in [[run]]). */
  private def replicaMap(spark: SparkSession, factor: Int, docMult: Long,
                         d: Int, mode: String): DataFrame = {
    val cipher: Long => String =
      if (mode == "distinct_wide") cipherToWide else cipherTo
    spark.createDataFrame((0 until factor).map { r =>
      val tag = r.toLong * docMult
      (r.toLong, cipher(tag), permFor(tag, d), signsFor(tag, d))
    }).toDF("__r", "__to", "__perm", "__signs")
  }
}
