package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language model scoring — the perplexity-proxy
  * quality filter (CCNet/Gopher style): a document whose word transitions
  * are unlike the corpus scores low and is dropped from the training mix.
  *
  * ONE definition shared by the oracle-gated query (t24_bigram_lm_score)
  * and the corpus pipeline's filter stage (jobs/CorpusPipeline), so the
  * pipeline's cut can never silently diverge from the hash-matched
  * semantics. See [[bigramScores]] for the scale analysis (two
  * partial-aggregable groupBys, the dictionary materialized once, and a
  * measured-count broadcast-vs-shuffle join decision; AQE splits the
  * zipf-skewed stop-word prefixes on the shuffle branch).
  */
object LangModel {

  /** Multinomial Naive Bayes language classifier, trained on the corpus's
    * own lang labels and evaluated on it — a TRAINED model beyond the t02
    * character heuristics, with the evaluation surface (the confusion
    * matrix) as the output, so the gate proves training, smoothing,
    * scoring, argmax, and evaluation end-to-end.
    *
    * All probabilities are Laplace-smoothed, `ln`-scored, and QUANTIZED to
    * integer 1e-4 nats (the t24 trick): per-token scores sum as exact
    * integers, so the per-doc class score is order-free and
    * partition-count-invariant, and the argmax (ties to the
    * lexicographically first language) is deterministic cross-engine.
    * Known boundary exposure (ADVICE r8, accepted): unlike the integer
    * SUMS, the per-entry quantization floor(1e4·ln(x)) is not
    * bit-identical BY CONSTRUCTION between JVM Math.log and DuckDB's libm
    * ln — a ratio landing within 1 ulp of a floor boundary could flip one
    * dictionary entry and break the t35 gate (same methodology as t24,
    * multiplied across vocab×L entries; never observed across r8–r9 runs
    * at three scales). If a flake ever appears, requantize from an
    * integer-derived representation (shared fixed-point ln table keyed on
    * the integer counts) rather than loosening the gate.
    *
    * Scale shape: training is one partial-aggregable (lang, token)
    * groupBy, MATERIALIZED once (localCheckpoint) so the vocabulary
    * scalar, the per-class totals, and the dictionary all derive from the
    * vocab×L-sized copy instead of re-scanning the corpus; the scoring
    * join side is then chosen from the dictionary's measured entry count
    * (the t24 pattern — static estimates cannot price a derived
    * aggregate), and the CHOICE now also picks the scoring SHAPE.
    *
    * Driver-job budget (r15): the model statistics cost exactly THREE
    * bounded jobs before the scoring pass — one combined
    * (count, countDistinct) aggregate over the materialized counts, one
    * L-row per-class token-total collect from the same copy, and one
    * L-row per-class doc-count collect (the lang column's only scan;
    * it also yields nDocs, so the corpus is never counted separately).
    * Priors/unseen scores are then quantized ON THE DRIVER with the
    * same-JVM `math.log`/`math.floor` and identical operation order as
    * the old executor-side expressions, so every integer is bit-identical
    * to the pre-r15 form (gate-proven). Measured with t24 (untouched,
    * same two-pass shape) as the in-window control: t35/t24 warm-min fell
    * from 1.29 (r14 quiet suite) to 0.97 at sf0.1 and ~1.12 to 0.99 at
    * SF10 — scheduler floor reclaimed at sf0.1, a real vocab-sized
    * distinct-count shuffle removed at SF10:
    *
    *  - bounded dictionary (≤ `maxBroadcastTypes`, the default regime):
    *    SINGLE-PASS scoring. The dictionary is pivoted to one row per
    *    token carrying all L quantized scores (unseen_q pre-filled per
    *    class), so each token occurrence crosses the broadcast join ONCE
    *    and the per-doc aggregate sums L columns — no ×L row explosion,
    *    no per-doc argmax window (the argmax is an inline L-element
    *    array_max with ties to the lexicographically first class, the
    *    exact row_number ordering of the old form). Token rows through
    *    the join/aggregate drop L-fold vs the exploded form.
    *  - corpus-scale dictionary (the 100 TB natural-text regime):
    *    the exploded token×L form with a dictionary-side-build
    *    shuffle-hash join under AQE (a pivoted row would not change the
    *    shuffle's key space, and the exploded form keeps per-row state
    *    flat for AQE's skew split).
    *
    * Both shapes compute the identical exact integers — per-class score =
    * prior_q + Σ_tokens (lp_q | unseen_q) — so the gate hash is
    * branch-invariant (PlanAuditSpec pins both branches and their parity).
    * The confusion rollup is L²-bounded.
    *
    * @return (true_lang, predicted, n_docs) */
  def nbLangConfusion(docs: DataFrame,
                      maxBroadcastTypes: Long =
                        graft.core.SizeLadder.BroadcastDictEntries): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok"))
    val cnt = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // ONE combined aggregate over the materialized counts yields both the
    // dictionary size (branch decision) and the vocabulary scalar
    // (smoothing denominator) — the pre-r15 separate distinct-count was a
    // second vocab-sized shuffle for a number this job already computes
    val statsRow = cnt.agg(count(lit(1)).as("n"),
      countDistinct(col("tok")).as("v")).head()
    val nEntries = statsRow.getLong(0)
    val vocab = statsRow.getLong(1)
    // two L-bounded collects (L = class count, bounded like NearDup's
    // corpus scalar): per-class token totals from the materialized copy,
    // and per-class doc counts — whose sum IS nDocs, so the lang column
    // is the only corpus scan and the old separate docs.count() job is
    // gone. Model classes keep the old inner-join semantics: a lang with
    // doc rows but no token rows (unreachable — even empty text splits to
    // one "" token) would drop from the model, not NPE.
    val totMap: Map[String, Long] = cnt.groupBy(col("lang"))
      .agg(sum(col("c")).as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val langDocs: Array[(String, Long)] = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("nd")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nDocs = langDocs.map(_._2).sum
    // driver-side quantization: same JVM Math.log/floor and identical
    // operation order (long add → double widen → divide → ln → ×1e4 →
    // floor) as the old executor-side floor(1e4·log(x)) expressions, so
    // every quantized integer is bit-identical to the pre-r15 form
    def qd(x: Double): Long = math.floor(10000.0 * math.log(x)).toLong
    val classes: Array[(String, Long, Long)] = langDocs
      .filter { case (l, _) => totMap.contains(l) }
      .map { case (l, nd) =>
        (l, qd(nd.toDouble / nDocs.toDouble),
          qd(1.0 / (totMap(l) + vocab).toDouble)) }
      .sortBy(_._1)
    // per-class smoothing denominator as a literal map: the dictionary
    // derives from the materialized counts without re-joining the totals
    val denom = typedlit(totMap.map { case (l, t) => l -> (t + vocab).toDouble })
    val dict = cnt.select(col("lang").as("model_lang"), col("tok"),
      floor(lit(10000.0) * log((col("c") + lit(1L)).cast("double") /
        element_at(denom, col("lang")))).cast("long").as("lp_q"))
    if (nEntries <= maxBroadcastTypes && classes.nonEmpty) {
      // single-pass shape: pivot the dictionary to (tok, v0..v{L-1}) with
      // each class's unseen_q as the per-element default, broadcast it,
      // and sum L columns per doc — one joined row per token occurrence
      val dictVec = dict
        .groupBy(col("tok"))
        .agg(map_from_entries(
          collect_list(struct(col("model_lang"), col("lp_q")))).as("m"))
        .select(col("tok") +: classes.zipWithIndex.map {
          case ((l, _, u), i) =>
            coalesce(element_at(col("m"), lit(l)), lit(u)).as(s"v$i") }: _*)
      val aggs = classes.zipWithIndex.map { case ((_, _, u), i) =>
        // a token absent from the WHOLE dictionary (never in this
        // self-eval, but reachable when scoring fresh docs) is unseen in
        // every class
        sum(coalesce(col(s"v$i"), lit(u))).as(s"s$i") }
      val sums = toks
        .select(col("doc_id"), col("lang").as("true_lang"), col("tok"))
        .join(broadcast(dictVec), Seq("tok"), "left")
        .groupBy(col("doc_id"), col("true_lang"))
        .agg(aggs.head, aggs.tail: _*)
      // inline argmax: max over array<struct(score, -idx)> is max score
      // with ties to the SMALLEST class index = lexicographically first
      // class (classes are sorted asc) — the old window's exact ordering
      val best = array_max(array(classes.zipWithIndex.map {
        case ((_, p, _), i) =>
          struct((lit(p) + col(s"s$i")).as("s"), lit(-i).as("ni")) }: _*))
      val langsLit = typedlit(classes.map(_._1).toSeq)
      sums
        .select(col("true_lang"),
          element_at(langsLit,
            (-best.getField("ni")).cast("int") + 1).as("predicted"))
        .groupBy(col("true_lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
    } else {
      // exploded token×L shape (also the L=0 degenerate: empty in = empty
      // out through the same plan). Priors are the L driver rows already
      // computed above, shipped as a literal frame.
      val spark = docs.sparkSession
      import spark.implicits._
      val priors = spark.createDataset(classes.toIndexedSeq)
        .toDF("model_lang", "prior_q", "unseen_q")
      val scored = toks.select(col("doc_id"), col("lang").as("true_lang"),
          col("tok"))
        .crossJoin(broadcast(priors))
        .join(dict.hint("shuffle_hash"), Seq("model_lang", "tok"), "left")
        .withColumn("qv", coalesce(col("lp_q"), col("unseen_q")))
        .groupBy(col("doc_id"), col("true_lang"), col("model_lang"),
          col("prior_q"))
        .agg(sum(col("qv")).as("sum_q"))
        .withColumn("score_q", col("prior_q") + col("sum_q"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_q").desc, col("model_lang").asc)
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy(col("true_lang"), col("model_lang").as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
    }
  }

  /** Per-document bigram log-probability under the corpus's own MLE bigram
    * model: (doc_id, n_bigrams, sum_q, avg_logp) where sum_q is the exact
    * integer sum of floor(1e4·ln P(w2|w1)) — order-free and
    * partition-count-invariant — and avg_logp = sum_q/n/1e4 is the display
    * form. Documents with fewer than two words produce no row.
    *
    * Plan shape (rebuilt for the round-10 sf10 pin — the old one-liner
    * `b ⋈ (c12 ⋈ c1)` planned PATHOLOGICALLY once the corpus outgrew the
    * gate scales, measured at sf10 in PERF.md: Catalyst's static
    * estimates, fed by the dense corpus's ~10× parquet compression,
    * priced the 27.5 M-row exploded CORPUS side under the broadcast
    * threshold and built it as the broadcast hash relation — a ~16 s
    * single-threaded stage and a driver OOM at any real scale — while c1
    * recomputed c12's whole subtree, so the corpus was scanned and
    * exploded THREE times):
    *  1. c12 is computed once and MATERIALIZED (localCheckpoint —
    *     dictionary-sized); c1 and the dictionary derive from the
    *     materialized copy, so the corpus is exploded exactly twice
    *     (count + score) whatever the plan does;
    *  2. the scoring join picks its physical side from the dictionary's
    *     now-KNOWN row count, the decision static stats cannot make: a
    *     vocabulary-bounded dictionary (≤ `maxBroadcastTypes` entries)
    *     broadcasts — the corpus never shuffles OR broadcasts — and a
    *     corpus-like dictionary (the 100 TB natural-text regime) takes
    *     the shuffle-hash join with AQE skew split, building on the
    *     dictionary side. Both branches are the same exact arithmetic;
    *     PlanAuditSpec pins each branch's shape. */
  def bigramScores(docs: DataFrame,
                   maxBroadcastTypes: Long =
                     graft.core.SizeLadder.BroadcastDictEntries): DataFrame = {
    val b = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2) // sequence() counts DOWN below 1 elem
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws)-1), j -> struct(ws[j-1] AS w1, ws[j] AS w2))")).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))
    val c12 = b.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val nTypes = c12.count() // dictionary-sized, already materialized
    // The unigram total c1 = Σ_w2 c12 is a WINDOW sum over the materialized
    // dictionary, not a groupBy + join: the join form planned as two
    // SERIALIZED dictionary-sized single-task stages inside the broadcast
    // build (c1 aggregate ~270 ms, then dict ⋈ broadcast(c1) ~285 ms at
    // sf0.1 — BenchOne stage profile, r15; both grow with the dictionary
    // at scale), where the window form is one stage over the same rows.
    // Window sum of longs — identical integers to the joined aggregate.
    // lp is also quantized INSIDE the dictionary — floor(1e4·ln(c12/c1))
    // per (w1,w2) ENTRY (nTypes evaluations) instead of per corpus
    // OCCURRENCE after the scoring join (the same hoist as SemDedup's
    // per-member sqrt). Identical doubles → identical integers, and the
    // dictionary row the scoring join carries narrows from two longs to
    // one — fewer bytes through the broadcast here and through the
    // shuffle-hash exchange in the corpus-scale branch (guide §2.3).
    val wc1 = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val dict = c12
      .withColumn("c1", sum(col("c12")).over(wc1))
      .select(col("w1"), col("w2"),
        floor(lit(10000.0) *
          log(col("c12").cast("double") / col("c1").cast("double")))
          .cast("long").as("lp"))
    val scored =
      if (nTypes <= maxBroadcastTypes) b.join(broadcast(dict), Seq("w1", "w2"))
      else b.join(dict.hint("shuffle_hash"), Seq("w1", "w2"))
    scored
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("sum_q"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_q"),
        round(col("sum_q").cast("double") / col("n_bigrams").cast("double")
          / 10000.0, 4).as("avg_logp"))
  }
}
