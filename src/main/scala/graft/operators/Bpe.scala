package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) merge training — the tokenizer-
  * vocabulary step of an LLM data pipeline (Sennrich et al. 2016).
  *
  * Design: a WORD is BPE's natural locality unit — merges never cross word
  * boundaries — so training state is the DISTINCT-WORD HISTOGRAM (round 9:
  * one (syms, cnt) row per distinct word; previously one row per word
  * occurrence), the symbol sequence a ' '-separated STRING (symbols are
  * merged character runs and never contain the separator; the string form
  * is ~10× smaller than an array of one-char UTF8Strings, which is what
  * the per-round cache and every scan pays for). Each round is:
  *   1. global pair count: one codegen kernel explode
  *      ([[graft.functions.TextExpressions.BpeSymPairs]]) over the
  *      distinct words, weighted by cnt, + one partial-aggregable groupBy
  *      (uniform pair keys — the only shuffle, vocabulary-sized);
  *   2. argmax pair (count desc, then lexicographic — deterministic),
  *      a TakeOrdered(1) driver scalar like KMeans' centroid pull;
  *   3. merge application: MAP-ONLY — the codegen kernel
  *      [[graft.functions.TextExpressions.BpeMergeApply]] rewrites each
  *      word's string in place (leftmost-nonoverlapping greedy, a,a,a →
  *      (aa),a, no re-merge of freshly formed symbols within a round).
  * Corpus size enters training ONLY through the initial word-count
  * shuffle; the histogram is additive under slicing, which powers the
  * incremental refresh ([[graft.jobs.BpeVocabIndex]]).
  * Rounds are inherently sequential (round k+1 counts the corpus AS
  * REWRITTEN by round k) — that is BPE, not a plan artifact; production
  * trainers amortize by batching merges, and each batch's re-count has
  * exactly this one-shuffle shape.
  *
  * Two earlier engine formulations were measured and replaced: per-CHAR
  * relational rows (lead-window adjacency + gaps-and-islands overlap
  * chains + anti-join deletes: 3 shuffles/round, 11–12.5 s at sf0.1) and
  * per-word ARRAY state (HOF pair explode + array cache: 3.5 s sf0.1 /
  * 29 s sf1). The DuckDB oracle (t33) still USES the relational
  * formulation, so the gate proves two independent constructions of the
  * greedy-merge semantics agree; BpeSpec additionally pins the kernels
  * against a sequential plain-Scala reference on overlap chains, ties,
  * and multichar-symbol rounds.
  */
object Bpe {

  /** One row per word: (doc_id, word_idx, syms = chars joined by ' ').
    * The empty-word filter guards split's keep-empty tokens (double or
    * leading spaces). */
  def wordSyms(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("word_idx", "word")))
      .filter(length(col("word")) >= 1)
      .select(col("doc_id"), col("word_idx").cast("long").as("word_idx"),
        expr("array_join(transform(sequence(1, length(word)), " +
          "i -> substr(word, i, 1)), ' ')").as("syms"))

  /** The distinct-word histogram (word, cnt) — BPE's SUFFICIENT STATISTIC:
    * merges never cross word boundaries, so every global pair count is
    * Σ over DISTINCT words of cnt(word) × (pairs inside the word). Two
    * consequences the engine builds on:
    *  - training cost ∝ vocabulary, not corpus: after this one
    *    partial-aggregable shuffle, every merge round explodes pairs of
    *    the distinct-word table only (a natural-language corpus has
    *    corpus/vocab ratios in the 10²–10⁴ range at 100 TB);
    *  - the histogram is ADDITIVE under any corpus slicing — counts from
    *    arrival batches merge by summation — which is what makes the
    *    incremental vocab refresh ([[graft.jobs.BpeVocabIndex]]) exact
    *    rather than approximate. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** (syms, cnt) state rows from a (word, cnt) histogram. */
  private def countSyms(wordCounts: DataFrame): DataFrame =
    wordCounts.select(
      expr("array_join(transform(sequence(1, length(word)), " +
        "i -> substr(word, i, 1)), ' ')").as("syms"),
      col("cnt"))

  /** One merge round over (doc_id, word_idx, syms) rows. `None` when no
    * adjacent pair remains anywhere in the corpus (every word fully merged
    * to a single symbol) — the caller stops early with the merges found so
    * far rather than failing partway.
    * @return Some(rewritten rows, (lhs, rhs, pairCount)), or None */
  def mergeRound(rows: DataFrame): Option[(DataFrame, (String, String, Long))] = {
    val pairs = rows.select(explode(
      graft.functions.TextExpressions.bpeSymPairs(col("syms"))).as("p"))
    // the pair string is `a + ' ' + b` with exactly one separator, so the
    // (count desc, a asc, b asc) argmax splits it back for the tie-break
    val bestRow = pairs.groupBy(col("p")).agg(count(lit(1)).as("c"))
      .select(col("c"), element_at(split(col("p"), " "), 1).as("a"),
        element_at(split(col("p"), " "), 2).as("b"))
      .orderBy(col("c").desc, col("a").asc, col("b").asc)
      .limit(1).collect()
    bestRow.headOption.map { best =>
      val (a, b, c) = (best.getString(1), best.getString(2), best.getLong(0))
      val rewritten = rows.select(col("doc_id"), col("word_idx"),
        graft.functions.TextExpressions.bpeMerge(col("syms"), a, b).as("syms"))
      (rewritten, (a, b, c))
    }
  }

  /** Train `rounds` merges; returns the merge table
    * (round, lhs, rhs, merged, pair_count, n_rows_after) — lhs/rhs, not
    * left/right: SQL keywords on the oracle surface; n_rows_after is the
    * corpus-wide symbol count after applying the round's merge
    * (separators + 1 per word — a length difference, no re-split).
    *
    * Routes through [[trainFromCounts]] over [[wordCounts]] (round 9):
    * identical output to the per-occurrence formulation — the t33/t34
    * hash gates prove it against the per-occurrence SQL oracle, BpeSpec
    * against the sequential reference — but every per-round pass touches
    * the distinct-word histogram instead of the exploded corpus. */
  def train(docs: DataFrame, rounds: Int, textCol: String = "text"): DataFrame =
    trainFromCounts(wordCounts(docs, textCol), rounds)

  /** [[train]] from a (word, cnt) histogram — the entry the incremental
    * vocab refresh uses: histograms are additive under corpus slicing, so
    * a refresh merges counts and retrains without touching raw text.
    * Stops early (merge table shorter than `rounds`) once no adjacent
    * pair remains. The state is re-persisted per round and the previous
    * round's cache released — each round's lineage would otherwise
    * recompute every prior round (measured 23% slower even at rounds = 3).
    *
    * One driver job per round (r15; was two): the argmax AND the round's
    * total pair count come from a single head() over the aggregated pair
    * histogram — min_by over the struct (-c, a, b) is exactly the old
    * (count desc, a asc, b asc) orderBy.limit(1), and sum(c) rides the
    * same 1-row aggregate. The symbol-count identity that retires the
    * separate per-round n job: Σ_word syms(word)·cnt = Σ_word
    * (pairs(word)+1)·cnt = totalPairs + Σ cnt, and Σ cnt is
    * round-INVARIANT (merges never change word multiplicities) — so
    * round r+1's totalPairs yields round r's n_rows_after for free, the
    * final round paying the one explicit length-sum job the old form
    * paid every round. Identical integers (BpeSpec pins vs the
    * sequential reference; t33/t34 pin vs the per-occurrence oracle).
    *
    * Size ladder (r16, the Graph.localTriangleCounts precedent): BPE's
    * state is the distinct-word histogram, which at sf0.1 is a few
    * thousand rows being pushed through rounds × (explode + shuffle +
    * head + kernel-rewrite + persist) — each round pure scheduler floor.
    * Under `localVocabThreshold` (default
    * [[graft.core.SizeLadder.LocalVocab]]) the histogram is collected ONCE
    * off the same aggregate job that computes Σ cnt (the row count rides
    * that 1-row agg, so the over-cap path pays ZERO extra work) and the
    * merge loop runs in-process, applying the SAME compiled kernel
    * ([[graft.functions.TextExpressions.bpeMergeApply]]) per word and the
    * same (count desc, a asc, b asc) argmax under
    * UTF8String binary comparison — bit-identical by construction, and
    * pinned: BpeSpec's reference corpora all take this rung, a dedicated
    * spec forces the distributed rung on the same corpora and asserts
    * table equality, and the t33/t34 oracle hashes are unchanged. */
  def trainFromCounts(wordCounts: DataFrame, rounds: Int,
      localVocabThreshold: Long =
        graft.core.SizeLadder.driverCap(graft.core.SizeLadder.LocalVocab))
      : DataFrame = {
    val spark = wordCounts.sparkSession
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // (a, b, pair_count, totalPairs) of the round, or None when no
    // adjacent pair remains anywhere (every word fully merged)
    def roundStat(rows: DataFrame): Option[(String, String, Long, Long)] = {
      val r = rows
        .select(explode(
          graft.functions.TextExpressions.bpeSymPairs(col("syms"))).as("p"),
          col("cnt"))
        .groupBy(col("p")).agg(sum(col("cnt")).as("c"))
        .select(col("c"), element_at(split(col("p"), " "), 1).as("a"),
          element_at(split(col("p"), " "), 2).as("b"))
        .agg(min_by(struct(col("a"), col("b"), col("c")),
          struct((-col("c")).as("nc"), col("a"), col("b"))).as("best"),
          sum(col("c")).as("tp"))
        .head()
      if (r.isNullAt(0)) None
      else {
        val best = r.getStruct(0)
        Some((best.getString(0), best.getString(1), best.getLong(2),
          r.getLong(1)))
      }
    }
    def nOf(rows: DataFrame): Long =
      Option(rows
        .agg(sum((length(col("syms")) -
          length(translate(col("syms"), " ", "")) + 1L) * col("cnt")))
        .head().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    var cur = countSyms(wordCounts).persist(MEMORY_AND_DISK)
    var prevFrame: DataFrame = null
    // Σ cnt (round-invariant) AND the vocab row count from ONE 1-row agg —
    // this job also pre-materializes the state cache the first roundStat
    // (or the local rung's collect) would otherwise build
    val firstAgg =
      cur.agg(sum(col("cnt")).as("s"), count(lit(1)).as("n")).head()
    val sumCnt =
      Option(firstAgg.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val nVocab = firstAgg.getLong(1)
    if (nVocab <= localVocabThreshold) {
      // local rung: one collect replaying the cache, then the whole merge
      // loop in-process — rounds × (shuffle + head + rewrite + persist)
      // collapse into a driver loop over the histogram
      val rows = cur.queryExecution.executedPlan.executeCollect()
      cur.unpersist(false)
      return trainLocal(spark, rows, rounds)
    }
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long, Long)]
    // the previous round's row, parked until this round's totalPairs
    // supplies its n_rows_after
    var parked: Option[(Long, String, String, String, Long)] = None
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      roundStat(cur) match {
        case None => exhausted = true
        case Some((a, b, c, tp)) =>
          parked.foreach { case (pr, pa, pb, pm, pc) =>
            merges += ((pr, pa, pb, pm, pc, tp + sumCnt))
          }
          // the roundStat job materialized `cur` from the previous
          // frame's cache; only now is that previous frame releasable
          if (prevFrame != null) prevFrame.unpersist(false)
          parked = Some((r.toLong, a, b, a + b, c))
          val next = cur.select(
            graft.functions.TextExpressions.bpeMerge(col("syms"), a, b)
              .as("syms"), col("cnt"))
            .persist(MEMORY_AND_DISK)
          prevFrame = cur
          cur = next
          r += 1
      }
    }
    // the last emitted round's n has no successor totalPairs — one
    // explicit length-sum job over its (still cached) state. On the
    // EXHAUSTED exit that job is free: the stopping roundStat just proved
    // cur has zero pairs, so n = 0 + Σ cnt = sumCnt exactly (r15 ADVICE).
    parked.foreach { case (pr, pa, pb, pm, pc) =>
      merges += ((pr, pa, pb, pm, pc, if (exhausted) sumCnt else nOf(cur)))
    }
    if (prevFrame != null) prevFrame.unpersist(false)
    cur.unpersist(false)
    import spark.implicits._
    merges.toSeq
      .toDF("round", "lhs", "rhs", "merged", "pair_count", "n_rows_after")
  }

  /** The in-process merge loop over a collected (syms, cnt) histogram —
    * the local rung of [[trainFromCounts]]'s size ladder. Semantics are
    * the distributed loop's, construct for construct: pair counts are
    * Σ cnt over the SAME adjacent-pair decomposition
    * ([[graft.functions.TextExpressions.bpeSymPairs]]: split(" ", -1),
    * i/i+1 windows), the argmax is (count desc, a asc, b asc) with a/b
    * compared as UTF8String (Spark's binary string order — java.lang
    * String order diverges on non-ASCII), and each word is rewritten by
    * the SAME compiled kernel body
    * ([[graft.functions.TextExpressions.bpeMergeApply]]). n_rows_after
    * is maintained as Σ len·cnt with per-rewrite deltas — the identity
    * the distributed loop derives from totalPairs. */
  private def trainLocal(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.catalyst.InternalRow],
      rounds: Int): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    val m = rows.length
    val words = new Array[String](m)
    val cnts = new Array[Long](m)
    var totalN = 0L
    var i = 0
    while (i < m) {
      words(i) = rows(i).getUTF8String(0).toString
      cnts(i) = rows(i).getLong(1)
      var syms = 1
      var j = 0
      val w = words(i)
      while (j < w.length) { if (w.charAt(j) == ' ') syms += 1; j += 1 }
      totalN += syms.toLong * cnts(i)
      i += 1
    }
    def u8 = UTF8String.fromString _
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // global pair counts of the current state
      val pc = new java.util.HashMap[String, Long]()
      i = 0
      while (i < m) {
        val toks = words(i).split(" ", -1)
        val c = cnts(i)
        var j = 0
        while (j + 1 < toks.length) {
          pc.merge(toks(j) + " " + toks(j + 1), c, _ + _)
          j += 1
        }
        i += 1
      }
      if (pc.isEmpty) exhausted = true
      else {
        // argmax (count desc, a asc, b asc) under UTF8String binary order
        var bestA: String = null; var bestB: String = null; var bestC = -1L
        val it = pc.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val sp = e.getKey.indexOf(' ')
          val a = e.getKey.substring(0, sp)
          val b = e.getKey.substring(sp + 1)
          val c = e.getValue
          val better = c > bestC || (c == bestC && {
            val ca = u8(a).compareTo(u8(bestA))
            ca < 0 || (ca == 0 && u8(b).compareTo(u8(bestB)) < 0)
          })
          if (better) { bestA = a; bestB = b; bestC = c }
        }
        val pairStr = bestA + " " + bestB
        i = 0
        while (i < m) {
          // substring pre-filter: "a b" appearing anywhere is a SUPERSET
          // of true adjacency (a suffix symbol can fake it), so the exact
          // kernel decides; absence is exact — symbols never contain ' '
          if (words(i).contains(pairStr)) {
            val rewritten =
              graft.functions.TextExpressions
                .bpeMergeApply(u8(words(i)), bestA, bestB).toString
            if (rewritten.length != words(i).length) {
              // each applied merge deletes exactly one ' ' (a and b chars
              // are kept, concatenated): merges applied = chars removed
              val removed = words(i).length - rewritten.length
              totalN -= removed.toLong * cnts(i)
              words(i) = rewritten
            }
          }
          i += 1
        }
        merges += ((r.toLong, bestA, bestB, bestA + bestB, bestC, totalN))
        r += 1
      }
    }
    import spark.implicits._
    merges.toSeq
      .toDF("round", "lhs", "rhs", "merged", "pair_count", "n_rows_after")
  }

  /** Encode the corpus with `rounds` freshly trained merges and emit
    * per-doc token statistics — the apply half of the tokenizer story
    * (train picks the vocabulary; this is what the pipeline runs on every
    * document thereafter). Training runs on the word histogram
    * ([[train]]); the trained merge table (a rounds-sized driver scalar,
    * like KMeans' centroid pull) is then applied to the per-doc word rows
    * as `rounds` chained MAP-ONLY kernel passes — the corpus itself is
    * never pair-exploded or shuffled until the final per-doc stats
    * groupBy. Output: (doc_id, n_tokens, n_unique_tokens) after all
    * merges. Oracle-gated as t34 against the relational formulation's
    * final corpus state. */
  def encodeStats(docs: DataFrame, rounds: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val merges = train(docs, rounds, textCol)
      .orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    var rows = wordSyms(docs, idCol, textCol)
    merges.foreach { case (a, b) =>
      rows = rows.select(col("doc_id"), col("word_idx"),
        graft.functions.TextExpressions.bpeMerge(col("syms"), a, b).as("syms"))
    }
    rows.select(col("doc_id"), explode(split(col("syms"), " ")).as("sym"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("sym")).as("n_unique_tokens"))
  }
}
