package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Exact character-n-gram Jaccard near-duplicate detection, the engine's
  * reusable core behind the t06/t11/t14 queries.
  *
  * Algorithm (all thresholds kept in integer arithmetic so the result is
  * bit-identical to a single-threaded SQL oracle):
  *  1. distinct char n-grams per doc, generated columnar-side;
  *  2. document-frequency cap: grams in more than capNum/capDen of the
  *     corpus are dropped BEFORE any pair work (stop-gram posting lists are
  *     the quadratic risk at corpus scale);
  *  3. AllPairs/PPJoin prefix filter: gram ids are ranked by global rarity,
  *     and J(A,B) >= tNum/tDen is only possible if the docs share a gram
  *     inside their first |x| - ceil(t*|x|) + 1 rarest grams — candidates
  *     come from joining those tiny prefix postings only;
  *  4. length prune (t*max(|A|,|B|) <= min(|A|,|B|)) and the PPJoin
  *     positional bound (overlap <= 1 + min remaining after each side's
  *     prefix position), both applied BEFORE the candidate shuffle;
  *  5. exact verification: set intersection of the two full gram-id sets.
  */
object NearDup {

  /** @param docs (id, text) frame — first column the doc id, second the text
    * @param gramLen character n-gram length
    * @param capNum/capDen DF cap as a fraction of the corpus (keep df*capDen <= n*capNum)
    * @param tNum/tDen Jaccard threshold as an exact rational
    * @return (a_id, b_id, jaccard) with a_id < b_id and jaccard >= t
    *
    * Results are memoized per (session, input plan, params): the plan
    * persists its doc-set frame, and the three queries sharing this core
    * (t06/t11/t14) plus every bench re-invocation would otherwise each pin
    * a fresh cached copy for the session's lifetime.
    */
  def jaccardPairs(
      docs: DataFrame,
      gramLen: Int = 4,
      capNum: Int = 1, capDen: Int = 10,
      tNum: Int = 4, tDen: Int = 5): DataFrame = {
    val slot = s"neardup:${docs.queryExecution.logical.semanticHash()}:" +
      s"$gramLen:$capNum:$capDen:$tNum:$tDen"
    val full = s"$slot:${fileFingerprint(docs)}"
    graft.core.Memo(docs.sparkSession, full) {
      build(docs, gramLen, capNum, capDen, tNum, tDen, slot, full)
    }
  }

  /** Memo key components for an input frame: the logical plan's semantic
    * hash (the SLOT — one per logical query) plus a fingerprint of the
    * concrete file inventory (the full key). The semantic hash alone
    * aliases two different DATA states of the same directory — precisely
    * the incremental-ingest pattern, where a later batch lands new files
    * in-session and a stale cached pair set would silently miss them. The
    * file listing is already resolved on the memoized relation, so this
    * costs no extra I/O; non-file inputs (`inputFiles` empty) contribute
    * nothing beyond the plan hash. */
  private def fileFingerprint(df: DataFrame): String = {
    val files = df.inputFiles
    if (files.isEmpty) "nofiles" else files.sorted.mkString("|").hashCode.toString
  }

  /** One pinned docSets cache per logical SLOT: persist the new build's
    * frame and release the slot's previous incarnation (a superseded file
    * inventory). Without this, a long-running ingest session pins one
    * docSets cache per arrived batch for the session's lifetime; a
    * superseded pairs frame re-executed later simply recomputes from
    * lineage. Same full key (racing duplicate build) is NOT unpersisted. */
  private val pinnedDocSets = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), (String, DataFrame)]()

  private def pinDocSets(slot: String, fullKey: String,
                         docSets: DataFrame): DataFrame = {
    val pinned = docSets.persist(StorageLevel.MEMORY_AND_DISK)
    val prev = pinnedDocSets.put((docSets.sparkSession, slot), (fullKey, pinned))
    if (prev != null && prev._1 != fullKey) prev._2.unpersist(false)
    pinned
  }

  /** Distinct word n-grams per doc as (doc_id, gram) — the decontamination
    * unit (t17, t32, and jobs/CorpusPipeline share this one definition),
    * generated by the native codegen kernel
    * [[graft.functions.TextExpressions.DistinctWordGrams]] (one tight
    * generated loop; the interpreted split→sequence→transform→slice→
    * array_distinct HOF chain it replaces both allocated three
    * intermediate arrays per row and broke the enclosing codegen span).
    * Docs shorter than `n` words yield an empty gram set. */
  def wordGrams(docs: DataFrame, n: Int): DataFrame = {
    val Array(idCol, textCol) = docs.columns.take(2)
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.TextExpressions.wordGrams(col(textCol), n))
        .as("gram"))
  }

  private def build(
      docs: DataFrame,
      gramLen: Int,
      capNum: Int, capDen: Int,
      tNum: Int, tDen: Int,
      slot: String, fullKey: String): DataFrame = {
    val d = normDocs(docs)
    // grams dedup row-locally inside one codegen'd native expression
    // (TextExpressions.DistinctCharGrams): no distinct shuffle, no
    // interpreted HOF chain, docs shorter than gramLen yield an empty
    // array by construction, and the explode fans out to the cluster's
    // parallelism (charGramStream) — never a fixed constant, which would
    // cap the corpus-wide explode at that many tasks on a large cluster.
    val grams = charGramStream(d, gramLen)
    // corpus size as a driver-side scalar (one long — bounded by
    // construction): the 1-row-agg crossJoin alternative plans an Exchange
    // SinglePartition, and keeping the operator's physical plan free of
    // single-reducer stages is exactly what PlanAuditSpec pins for t06/t29.
    // The dictionary ranks by ascending document frequency — position in
    // that order IS the rarity rank the prefix filter keys on — through
    // Scale.globalRowNumber (range partition + local sort + zipWithIndex):
    // a global `row_number() OVER (ORDER BY df, tok)` would funnel the
    // ENTIRE dictionary (tens-to-hundreds of millions of distinct grams
    // for a multilingual corpus at the design point) through one
    // Exchange-SinglePartition reducer. (df, tok) is a total order, so the
    // ranks — and the oracle-visible pair set — are deterministic.
    val rare = rarityDictionary(grams, d.count(), capNum, capDen,
      docs.sparkSession.sparkContext.defaultParallelism)
    // per-doc sorted gram-id set + its prefix; ceil(t*n) in integer
    // arithmetic ((tNum*n + tDen - 1) div tDen) so the bound never loses
    // pairs to float rounding
    // broadcast(rare) is deliberate and NOT left to AQE: the other side is
    // the exploded gram stream — the largest intermediate in the operator —
    // and a shuffle join would write it to shuffle storage before AQE could
    // downgrade (measured: dropping the hint costs 2.3x at sf0.1). The
    // dictionary is CHAR-n-gram vocabulary, bounded by observed distinct
    // n-char sequences, not corpus row count; at the scale where it outgrows
    // broadcast, raise gramLen blocking or pre-bucket the dictionary —
    // the corpus stream should never shuffle on gram keys.
    val docSets = pinDocSets(slot, fullKey,
      docSetsAgainst(grams, rare, tNum, tDen))
    val pp = docSets
      .select(col("doc_id"), col("n"), posexplode(col("prefix")))
      .select(col("doc_id"), col("n"), col("pos").as("p"), col("col").as("tok_id"))
    // two safe prunes BEFORE the candidate shuffle:
    //  - length prune: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|);
    //  - PPJoin positional bound: for the SMALLEST shared gram (by rarity
    //    rank), everything rarer on either side is disjoint, so the overlap
    //    is at most 1 + min(na-pa-1, nb-pb-1); J >= t needs overlap
    //    o(tNum+tDen) >= tNum*(na+nb), and a qualifying pair's smallest
    //    shared gram always sits inside BOTH prefixes (otherwise its
    //    overlap ceiling is already below that bound), so filtering every
    //    join row by its own positions can never lose a qualifying pair.
    //    This matters most on LOW-ENTROPY corpora where the gram
    //    vocabulary is small and posting lists are fat: measured at the
    //    10x scale surface, candidate rows drop 81M -> 23M and the
    //    candidate-dedup + verify stages go ~29 s -> ~10 s with a
    //    row-identical result.
    val cands = pp.select(col("doc_id").as("a_id"), col("n").as("na"),
        col("p").as("pa"), col("tok_id"))
      .join(pp.select(col("doc_id").as("b_id"), col("n").as("nb"),
        col("p").as("pb"), col("tok_id")), Seq("tok_id"))
      .filter(col("a_id") < col("b_id") &&
        greatest(col("na"), col("nb")) * tNum <= least(col("na"), col("nb")) * tDen &&
        (lit(1) + least(col("na") - col("pa") - 1, col("nb") - col("pb") - 1)) *
          (tNum + tDen) >= (col("na") + col("nb")) * tNum)
      .select(col("a_id"), col("b_id")).distinct()
    // exact verification on the two cached gram-id sets (already distinct +
    // sorted): fused two-pointer intersection size (native codegen
    // SortedIntersectSize — no per-pair hash set or intermediate array,
    // the exact-verify kernel at candidate volume), then the exact Jaccard
    val thresh: Column = lit(tNum.toDouble / tDen.toDouble)
    // no broadcast() hint on the gram-set side: it is the FULL corpus's
    // sorted gram ids — broadcastable at test scale, certain driver/executor
    // OOM at the design point. AQE picks broadcast at runtime when the
    // materialized side is actually small and a shuffle join when it is
    // not, which is exactly the size-adaptive behavior the operator wants.
    cands
      .join(docSets.select(col("doc_id").as("a_id"),
        col("gs").as("ga"), col("n").as("n_a")), "a_id")
      .join(docSets.select(col("doc_id").as("b_id"),
        col("gs").as("gb"), col("n").as("n_b")), "b_id")
      .withColumn("inter",
        graft.functions.TextExpressions.sortedIntersectSize(col("ga"), col("gb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= thresh)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Incremental near-dup ingest: pairs involving a NEW batch of documents
    * against an existing corpus WITHOUT recomputing the corpus — the text
    * twin of [[graft.jobs.AnnIndex.append]]'s frozen-centroid contract.
    *
    * The rarity dictionary (DF cap + AllPairs rarity ranks) is FROZEN on
    * the existing corpus: document frequencies of a large corpus move
    * negligibly per batch, and a frozen dictionary is what makes the
    * operation incremental — new grams unseen in the old corpus are
    * ignored until the next full dictionary rebuild, exactly as an IVF
    * index assigns new vectors to existing centroids until retrained.
    * Candidates come from joining the FULL corpus's prefix postings
    * against the NEW batch's only, so pair work scales with
    * |batch|·postings, not |corpus|²; the output covers new×old and
    * new×new pairs (a_id < b_id, exact Jaccard ≥ tNum/tDen over
    * frozen-dictionary gram sets — the same verify semantics as
    * [[jaccardPairs]]). Oracle-gated as t29 with the dictionary CTE built
    * from the old split only.
    *
    * Memoized per (session, both input plans, params) like [[jaccardPairs]]:
    * the build persists its doc-set frame, and repeated invocations (bench
    * warmup + measured passes) would otherwise each pin a fresh
    * session-lifetime cache. */
  def incrementalJaccardPairs(
      oldDocs: DataFrame, newDocs: DataFrame,
      gramLen: Int = 4,
      capNum: Int = 1, capDen: Int = 10,
      tNum: Int = 4, tDen: Int = 5): DataFrame = {
    val slot = s"neardup-inc:${oldDocs.queryExecution.logical.semanticHash()}:" +
      s"${newDocs.queryExecution.logical.semanticHash()}:" +
      s"$gramLen:$capNum:$capDen:$tNum:$tDen"
    val full = s"$slot:${fileFingerprint(oldDocs)}:${fileFingerprint(newDocs)}"
    graft.core.Memo(oldDocs.sparkSession, full) {
      buildIncremental(oldDocs, newDocs, gramLen, capNum, capDen, tNum, tDen,
        slot, full)
    }
  }

  private def buildIncremental(
      oldDocs: DataFrame, newDocs: DataFrame,
      gramLen: Int,
      capNum: Int, capDen: Int,
      tNum: Int, tDen: Int,
      slot: String, fullKey: String): DataFrame = {
    val old = normDocs(oldDocs)
    val fresh = normDocs(newDocs)
    // FROZEN dictionary: df + rarity rank over the OLD corpus only —
    // driver-side scalar count + globalRowNumber rank for the same
    // SinglePartition-free plan shape as the full build (see `build`)
    val rare = rarityDictionary(
      charGramStream(old, gramLen), old.count(), capNum, capDen,
      old.sparkSession.sparkContext.defaultParallelism)
    // gram sets for the whole (old ∪ new) corpus against that dictionary
    val docSets = pinDocSets(slot, fullKey,
      docSetsAgainst(charGramStream(old.unionByName(fresh), gramLen), rare,
        tNum, tDen))
    incrementalPairsOver(docSets, fresh.select(col("doc_id")), tNum, tDen)
  }

  /** (doc_id, text) normalization: first column the id, second the text. */
  private[graft] def normDocs(df: DataFrame): DataFrame = {
    val Array(idCol, textCol) = df.columns.take(2)
    df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
  }

  /** Exploded distinct char-gram stream (doc_id, tok), fanned out to the
    * cluster's parallelism — see `build` for why never a fixed constant. */
  private[graft] def charGramStream(d: DataFrame, gramLen: Int): DataFrame = {
    d.repartition(d.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.charGrams(col("text"), gramLen))
          .as("tok"))
  }

  /** DF-capped rarity dictionary (tok, tok_id) with dense int ids in
    * ascending-df order — rank via Scale.globalRowNumber, never a
    * SinglePartition window (see `build`). */
  private[graft] def rarityDictionary(grams: DataFrame, nDocs: Long,
                                      capNum: Int, capDen: Int,
                                      par: Int): DataFrame = {
    val dfCapped = grams.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") * capDen <= lit(nDocs) * capNum)
    Scale.globalRowNumber(dfCapped, "tok_rank", par, col("df"), col("tok"))
      .select(col("tok"), col("tok_rank").cast("int").as("tok_id"))
  }

  /** Per-doc sorted gram-id sets + AllPairs prefix against a dictionary:
    * (doc_id, gs, n, prefix). broadcast(rare) is deliberate — see `build`. */
  private[graft] def docSetsAgainst(grams: DataFrame, rare: DataFrame,
                                    tNum: Int, tDen: Int): DataFrame =
    grams.join(broadcast(rare), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tok_id"))).as("gs"))
      .withColumn("n", size(col("gs")))
      .withColumn("prefix",
        expr(s"slice(gs, 1, n - ((n*$tNum + $tDen - 1) div $tDen) + 1)"))

  /** Pairs with >= 1 member in `freshIds` over precomputed doc sets:
    * full-side prefix × new-side prefix candidates (every qualifying pair
    * with a new member shares a prefix token across this join), length
    * prune + PPJoin positional bound before the candidate shuffle (the
    * bound is symmetric in the two sides, so it is equally safe under the
    * least/greatest id normalization), then exact verification. Shared by
    * the in-session incremental build and the disk-backed
    * [[graft.jobs.NearDupIndex]] append. */
  private[graft] def incrementalPairsOver(docSets: DataFrame,
                                          freshIds: DataFrame,
                                          tNum: Int, tDen: Int): DataFrame = {
    val pp = docSets
      .select(col("doc_id"), col("n"), posexplode(col("prefix")))
      .select(col("doc_id"), col("n"), col("pos").as("p"), col("col").as("tok_id"))
    val ppNew = pp.join(freshIds.select(col("doc_id")), Seq("doc_id"))
    val cands = pp.select(col("doc_id").as("a_id"), col("n").as("na"),
        col("p").as("pa"), col("tok_id"))
      .join(ppNew.select(col("doc_id").as("b_id"), col("n").as("nb"),
        col("p").as("pb"), col("tok_id")), Seq("tok_id"))
      .filter(col("a_id") =!= col("b_id") &&
        greatest(col("na"), col("nb")) * tNum <= least(col("na"), col("nb")) * tDen &&
        (lit(1) + least(col("na") - col("pa") - 1, col("nb") - col("pb") - 1)) *
          (tNum + tDen) >= (col("na") + col("nb")) * tNum)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
    val thresh: Column = lit(tNum.toDouble / tDen.toDouble)
    cands
      .join(docSets.select(col("doc_id").as("a_id"),
        col("gs").as("ga"), col("n").as("n_a")), "a_id")
      .join(docSets.select(col("doc_id").as("b_id"),
        col("gs").as("gb"), col("n").as("n_b")), "b_id")
      .withColumn("inter",
        graft.functions.TextExpressions.sortedIntersectSize(col("ga"), col("gb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= thresh)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** MinHash-LSH FUZZY decontamination: verified token-set Jaccard pairs
    * between a TRAIN corpus and a (small) EVAL corpus — the fuzzy
    * counterpart of the exact n-gram overlap pass (t17). Exact overlap
    * misses contaminated documents that were lightly paraphrased or
    * whitespace-normalized between the eval set and the crawl; this pass
    * flags any train document whose token SET is near-identical to an eval
    * document's, via the same MinHash banding machinery as the t07 dedup
    * path, re-pointed across two corpora.
    *
    * Semantics (deterministic, oracle-gated as t32): per-doc distinct
    * word `shingleWords`-gram SHINGLE sets ([[wordGrams]] — unigram token
    * sets are not discriminative enough: bag-of-words overlap across
    * unrelated same-domain docs is high, while shingle overlap
    * concentrates sharply at near-identity); `numHashes` md5-seeded
    * MinHash components (lexicographic min of a fixed-width hex prefix ==
    * numeric min, so both engines agree bit-for-bit);
    * `numHashes/bandSize` LSH bands; candidates are (train, eval) pairs
    * sharing ANY band; candidates are then verified with the EXACT
    * shingle-set Jaccard and kept at `jaccard >= tNum/tDen`. LSH recall
    * below the threshold is the usual banding tradeoff, but it is a
    * deterministic function of the corpus, so the flagged set is
    * reproducible (and the oracle reproduces it).
    *
    * Scale shape (100 TB corpus vs a benchmark-suite eval set): shingle
    * set, size, and the full MinHash signature are all computed per ROW
    * (native [[graft.functions.TextExpressions.MinHashSignature]]
    * kernel), so signature generation has no explode and NO SHUFFLE at
    * all; the train corpus is scanned twice (signature pass + the
    * verify pass's gram fetch, itself explode-bounded by candidates) and
    * never joins itself. The eval side (signatures, postings,
    * token counts) is tiny by construction (an eval suite is 10³–10⁶
    * docs, not a corpus), so every eval-side operand is broadcast:
    * candidate generation is a map-side band join against the corpus
    * signature stream, and verification explodes ONLY candidate docs'
    * shingle arrays (work ∝ candidates, not corpus). No train-side
    * shuffle keyed on tokens ever happens.
    *
    * @param train (id, text) corpus being cleaned
    * @param evalSet (id, text) held-out benchmark corpus
    * @return (train_id, eval_id, jaccard) with jaccard >= tNum/tDen */
  def crossMinHashPairs(train: DataFrame, evalSet: DataFrame,
                        shingleWords: Int = 3,
                        numHashes: Int = 8, bandSize: Int = 2,
                        tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be a multiple of bandSize")
    val nBands = numHashes / bandSize
    // one row per doc: (id, gs = distinct shingles, n, sig) — signature
    // per ROW via the MinHashSignature kernel, so the signature pass has
    // no explode and no shuffle (the agg formulation it replaces exploded
    // the corpus to gram rows and re-grouped: measured 6.1 s naive /
    // 1.9 s agg-form → 1.0 s at sf0.1; the shuffle saved grows with the
    // corpus). Gram-less docs drop, matching the agg form (no postings →
    // no signature row).
    def docsWithSig(d: DataFrame, idAs: String, nAs: String): DataFrame =
      normDocs(d).select(col("doc_id").as(idAs),
          graft.functions.TextExpressions.wordGrams(col("text"), shingleWords)
            .as("gs"))
        .filter(size(col("gs")) > 0)
        .select(col(idAs), col("gs"), size(col("gs")).cast("long").as(nAs),
          graft.functions.TextExpressions.minHashSignature(col("gs"), numHashes)
            .as("sig"))
    // (id, n, band, bk) band rows: band b = concat of its bandSize sig
    // components — candidate generation is a SINGLE equi-join on (band, bk)
    def bandRows(d: DataFrame, idCol: String, nCol: String,
                 sigAs: String, carry: Seq[String] = Nil): DataFrame = {
      val bandCols = (0 until nBands).map { b =>
        concat((0 until bandSize).map(j =>
          element_at(col("sig"), b * bandSize + j + 1)): _*)
      }
      // explode input stays the inline CreateArray; the signature rides
      // alongside — see selfMinHashPairs for why an exploded ATTRIBUTE
      // re-evaluates the kernel inside the pushed inferred filter
      d.select(col(idCol) +: col(nCol) +: carry.map(col) :+
        col("sig").as(sigAs) :+
        posexplode(array(bandCols: _*)).as(Seq("band", "bk")): _*)
    }
    val tDocs = docsWithSig(train, "t_id", "t_n")
    val eDocs = docsWithSig(evalSet, "e_id", "e_n")
    // first-matching-band filter instead of .distinct() — the
    // selfMinHashPairs scheme (when-chain, not a HOF: see its comment);
    // each (t, e) candidate survives exactly once
    val crossFirstMatch = (0 until nBands).reverse
      .foldLeft(lit(nBands): Column)((acc, b) =>
        when(
          concat((0 until bandSize).map(j =>
            element_at(col("t_sig"), b * bandSize + j + 1)): _*) ===
          concat((0 until bandSize).map(j =>
            element_at(col("e_sig"), b * bandSize + j + 1)): _*),
          lit(b)).otherwise(acc))
    // The train docs' shingle arrays RIDE the band join (carry = gs)
    // instead of being re-fetched by a second full-corpus wordGrams pass
    // joined back on t_id: the band join's train side never crosses an
    // exchange (the eval side is the broadcast), so carrying the array
    // costs only the Generate's per-band-row copy — measured round 13 at
    // sf10, dropping the refetch pass + join cut t32 16.1 → ~13 s warm
    // and makes verification work strictly ∝ candidates (the refetch
    // computed grams for every train doc, candidate or not).
    val cand = bandRows(tDocs, "t_id", "t_n", "t_sig", carry = Seq("gs"))
      .join(broadcast(bandRows(eDocs, "e_id", "e_n", "e_sig")),
        Seq("band", "bk"))
      .filter(col("band") === crossFirstMatch)
      .select(col("t_id"), col("e_id"), col("t_n"), col("e_n"), col("gs"))
    // exact verification ∝ candidates: only candidate train docs' shingle
    // arrays explode, joined against the broadcast eval postings
    val eToks = eDocs.select(col("e_id"), explode(col("gs")).as("tok"))
    cand
      .select(col("t_id"), col("e_id"), col("t_n"), col("e_n"),
        explode(col("gs")).as("tok"))
      .join(broadcast(eToks), Seq("e_id", "tok"))
      .groupBy(col("t_id"), col("e_id"), col("t_n"), col("e_n"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("t_n") + col("e_n") - col("inter")).cast("double"))
      .filter(col("jaccard") >= lit(tNum.toDouble / tDen.toDouble))
      .select(col("t_id").as("train_id"), col("e_id").as("eval_id"),
        col("jaccard"))
  }

  /** Within-corpus MinHash-LSH candidate pairs over word-`shingleWords`-gram
    * SHINGLES — the production default near-dup candidate generator
    * (oracle-gated as t36; retires unigram t07 as the default: unigram
    * banding on a shared-vocabulary corpus emits candidates ∝ corpus² —
    * 9.3 M pairs at sf0.1, measured — because bag-of-words signatures
    * collide across unrelated same-domain docs, while shingle signatures
    * collide only near identity; t07 stays registered as the
    * legacy-contract gate).
    *
    * Same banding scheme as t07 (`numHashes` md5-seeded components,
    * `numHashes/bandSize` bands, a pair is a candidate when ANY band
    * matches; md5-derived so the oracle reproduces every signature
    * bit-for-bit), but the signature pass is the per-row
    * [[graft.functions.TextExpressions.MinHashSignature]] kernel over
    * [[graft.functions.TextExpressions.wordGrams]] — the corpus stays one
    * row per doc with NO explode and NO shuffle until the band join
    * (measured on the t32 path: 6.1 s exploded-agg → 1.0 s kernel at
    * sf0.1). The self-join shuffles on (band, bandKey) — uniform hash
    * keys — and carries only doc ids, never text; with discriminative
    * shingle buckets its output is ∝ true near-dup pairs, the property
    * that makes LSH sub-quadratic at 100 TB.
    *
    * Not a pure plan builder: while building the plan it runs one eager
    * count job over `docs` and, at or under `sigCheckpointCap` docs, an
    * eager `localCheckpoint` of the signature frame (the same contract as
    * [[Graph.triangleNodeCounts]], which persists and counts its edge set
    * up front). A local checkpoint truncates lineage: on a cluster,
    * losing an executor's checkpoint blocks after this returns fails the
    * job instead of recomputing them. `sigCheckpointCap = 0` skips both
    * and returns a lazy plan with full lineage.
    *
    * @param docs (id, text) — first two columns, any names
    * @return (a_id, b_id) distinct candidate pairs, a_id < b_id */
  def selfMinHashPairs(docs: DataFrame, shingleWords: Int = 3,
                       numHashes: Int = 8, bandSize: Int = 2,
                       sigCheckpointCap: Long =
                         graft.core.SizeLadder.SigCheckpointDocs): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be a multiple of bandSize")
    val nBands = numHashes / bandSize
    // The signature pass stays LAZY above `sigCheckpointCap` even though
    // the self-join evaluates the kernel once per side: materializing it
    // unconditionally was measured round 13 at sf10 and REJECTED —
    // localCheckpoint saved the 62 s-task second kernel evaluation but
    // paid ~80 s of block write+read (239 vs 222 s task total, warm wall
    // 11.1 → 12.1 s). The fused recomputation is cheaper than moving 2M
    // signature rows through storage; the dominant cost there is the
    // probe stage itself, which is output-proportional.
    // BELOW the cap that economics inverts (r16): a small corpus's
    // signature build is one short kernel stage whose cost is the two
    // broadcast builds' wall (sf0.1: 2 × ~480 ms single-task stages),
    // while its checkpoint blocks are trivially small — so one
    // column-pruned count (no kernel, no text decode) gates an eager
    // localCheckpoint of the signatures and the join sides read blocks
    // instead of re-running the kernel. Crossover measured on the decade
    // surfaces (see OPTIMIZATION_r16.md); results identical either way.
    val sigLazy = normDocs(docs).select(col("doc_id"),
        graft.functions.TextExpressions.wordGrams(col("text"), shingleWords)
          .as("gs"))
      .filter(size(col("gs")) > 0)
      .select(col("doc_id"),
        graft.functions.TextExpressions.minHashSignature(col("gs"), numHashes)
          .as("sig"))
    val sig =
      if (sigCheckpointCap > 0 &&
          docs.select(docs.columns.head).count() <= sigCheckpointCap)
        sigLazy.localCheckpoint()
      else sigLazy
    val bandCols = (0 until nBands).map { b =>
      concat((0 until bandSize).map(j =>
        element_at(col("sig"), b * bandSize + j + 1)): _*)
    }
    // band INDEX rides in the join key: one equi-join covers all bands
    // without cross-band bucket collisions (same pairs as t07's per-band
    // join + union, one exchange instead of nBands). The signature rides
    // ALONGSIDE the exploded band keys; the explode input stays the
    // inline CreateArray — exploding a bks ATTRIBUTE instead makes
    // InferFiltersFromGenerate's size()>0 guard non-foldable, and pushing
    // it below the projections re-evaluates the minhash kernel ~9× per
    // row inside the scan filter (measured 6× wall on t36's sf0.1 shape).
    val banded = sig.select(col("doc_id"), col("sig"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bk")))
    // candidate dedup WITHOUT a shuffle (the v04 pattern): a pair sharing
    // m bands meets in m join buckets, and both docs' signatures ride the
    // joined row — keep only the row whose band IS the pair's first
    // matching band (concat equality over the band's sig components ==
    // the bk equality the join key uses) and each pair survives exactly
    // once. The .distinct() this replaces re-shuffled every candidate
    // row, ~m× the pair count precisely on the duplicate-dense surfaces
    // where candidates are the cost (near-identical twins match in ALL
    // bands). Plain when-chain, not a zip_with/array_position lambda: the
    // filter merges into the join condition, where a higher-order
    // function runs interpreted per bucket probe.
    val firstMatch = (0 until nBands).reverse
      .foldLeft(lit(nBands): Column)((acc, b) =>
        when(
          concat((0 until bandSize).map(j =>
            element_at(col("x.sig"), b * bandSize + j + 1)): _*) ===
          concat((0 until bandSize).map(j =>
            element_at(col("y.sig"), b * bandSize + j + 1)): _*),
          lit(b)).otherwise(acc))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(col("x.band") === firstMatch)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
  }

  /** Chunk-level (sub-document) dedup — the RefinedWeb/CCNet-style pass
    * that removes repeated passages ACROSS documents while keeping the host
    * documents. Documents are segmented into fixed `chunkWords`-word
    * windows (swap the segmenter for split on "\n\n" verbatim when the
    * corpus has paragraph breaks); the first occurrence of each chunk (by
    * id, then position) survives; each document is reassembled from its
    * surviving chunks in order. Documents whose every chunk is a repeat
    * disappear from the output (fully-absorbed duplicates).
    *
    * Scale shape: segmentation is columnar split→slice (no UDF), dedup is
    * ONE window over uniform chunk keys, reassembly sorts only inside each
    * document's own collected chunk list — no global sort (plan-audited in
    * PlanAuditSpec via t21).
    *
    * @return (idCol, n_kept, text_clean)
    */
  def chunkDedup(docs: DataFrame, chunkWords: Int = 8,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunks = docs
      .select(col(idCol), split(col(textCol), " ").as("__words"))
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(__words) / $chunkWords.0) as int) - 1),
            i -> array_join(slice(__words, i * $chunkWords + 1, $chunkWords), ' '))""")))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk"))
    val firstSeen = Window.partitionBy(col("chunk"))
      .orderBy(col(idCol), col("chunk_idx"))
    chunks.withColumn("__rn", row_number().over(firstSeen))
      .filter(col("__rn") === 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
            x => x("chunk")), " ").as("text_clean"))
  }

  /** Exact repeated-substring detection at ARBITRARY positions — the
    * ExactSubstr idea from "Deduplicating Training Data Makes Language
    * Models Better" (Lee et al., 2022), reduced to Spark-friendly
    * relational form: a token span of length `minGram` is "repeated" when
    * its gram string occurs more than once ANYWHERE in the corpus
    * (including elsewhere in the same document); overlapping or touching
    * flagged spans merge into maximal intervals per document. Strictly
    * stronger than [[chunkDedup]], whose fixed chunk boundaries miss
    * repeats that straddle them.
    *
    * Scale shape: gram keys are built columnar (slice + hash, no UDF); the
    * repeated set is one partial-aggregable groupBy; flagging is a semi
    * join on the hash; interval union is a per-document window over the
    * FLAGGED positions only (bounded by doc length — never a global
    * sort). Exact integer logic throughout; oracle-gated as
    * t28_repeated_spans.
    *
    * @return (doc_id, span_id, start_tok, end_tok) with end exclusive,
    *   span_id numbered 0.. per doc in position order */
  def repeatedSpans(docs: DataFrame, minGram: Int = 5,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = gramWindows(docs, minGram, idCol, textCol)
    val repeated = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).select(col("h"))
    unionSpans(grams.join(repeated, Seq("h"), "left_semi"), minGram)
  }

  /** (doc_id, extra…, pos, h): md5-hashed word `L`-gram windows per doc —
    * the shared head of the span family ([[repeatedSpans]] and
    * [[boilerplateSpans]] differ only in which dictionary flags the
    * windows). Window construction is the native codegen kernel
    * [[graft.functions.TextExpressions.WordGramWindows]]; md5 applies
    * AFTER the posexplode (it is codegen'd already — only the interpreted
    * HOF chain needed replacing). Docs shorter than `L` words emit
    * nothing. */
  private def gramWindows(docs: DataFrame, L: Int, idCol: String,
                          textCol: String,
                          extra: Seq[String] = Nil): DataFrame = {
    val keep = col("doc_id") +: extra.map(col)
    docs
      .select((col(idCol).as("doc_id") +: extra.map(col)) :+
        posexplode(graft.functions.TextExpressions.wordGramWindows(
          col(textCol), L)): _*)
      .select(keep ++ Seq(col("pos").cast("long").as("pos"),
        md5(col("col")).as("h")): _*)
  }

  /** Merge flagged gram windows (doc_id, pos) into maximal per-document
    * intervals — the shared tail of [[repeatedSpans]] and
    * [[boilerplateSpans]]. One window over the FLAGGED positions only
    * (bounded by doc length — never a global sort). */
  private def unionSpans(flagged: DataFrame, L: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .withColumn("e", col("pos") + L)
      .withColumn("prev_e", max(col("e"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ns",
        when(col("prev_e").isNull || col("pos") > col("prev_e"), 1L).otherwise(0L))
      .withColumn("span_id",
        sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1L)
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("start_tok"), max(col("e")).as("end_tok"))
  }

  /** Per-source boilerplate detection — the CCNet/RefinedWeb pass that
    * strips template phrases (headers, footers, legal banners) shared
    * across MOST documents of one source, while leaving phrases that merely
    * occur twice somewhere (that is [[repeatedSpans]]' job) alone. A word
    * `minGram`-gram is boilerplate for source S when it occurs in more than
    * fracNum/fracDen of S's documents; flagged gram windows merge into
    * maximal per-document spans exactly as in [[repeatedSpans]].
    *
    * Scale shape: the per-(source, gram) document frequency is one
    * distinct + one partial-aggregable groupBy over uniform md5 keys — no
    * per-source global structure, so a source with 10⁹ docs costs the same
    * shuffle shape as one with 10². The boilerplate dictionary is tiny by
    * construction (df-fraction threshold), so the flagging semi-join
    * broadcasts; the interval union is per-document-bounded. Oracle-gated
    * as t31 with injected per-source headers plus df-fraction boundary and
    * negative controls.
    *
    * @return (doc_id, span_id, start_tok, end_tok), end exclusive */
  def boilerplateSpans(docs: DataFrame, minGram: Int = 5,
                       fracNum: Int = 1, fracDen: Int = 2,
                       idCol: String = "doc_id", textCol: String = "text",
                       srcCol: String = "source"): DataFrame = {
    val L = minGram
    val base = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
      col(textCol).as("text"))
    val grams = gramWindows(base, L, "doc_id", "text", extra = Seq("source"))
    // denominator counts EVERY doc of the source (including those too short
    // to emit grams) — the df fraction is over the source's corpus, not its
    // gram-bearing subset
    val nd = base.groupBy(col("source")).agg(count(lit(1)).as("nd"))
    val df = grams.select(col("source"), col("h"), col("doc_id")).distinct()
      .groupBy(col("source"), col("h")).agg(count(lit(1)).as("df"))
    val boiler = df.join(nd, "source")
      .filter(col("df") * fracDen > col("nd") * fracNum)
      .select(col("source"), col("h"))
    unionSpans(grams.join(boiler, Seq("source", "h"), "left_semi"), L)
  }

  /** Companion cut: drop every token inside a repeated span, keep the
    * rest in order. Spans per doc are bounded (≤ n_tok/2 merged
    * intervals), so the membership test is an array scan inside the
    * projection — no extra shuffle beyond [[repeatedSpans]]' own. */
  def stripRepeatedSpans(docs: DataFrame, minGram: Int = 5,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    stripWithSpans(docs, repeatedSpans(docs, minGram, idCol, textCol),
      idCol, textCol)

  /** Drop every token of `docs` covered by a (doc_id, start_tok, end_tok)
    * interval of `spans`; spans per doc are bounded (≤ n_tok/2 merged
    * intervals), so the membership test is an array scan inside the
    * projection — no extra shuffle beyond the span computation's own. */
  private def stripWithSpans(docs: DataFrame, spans: DataFrame,
                             idCol: String, textCol: String): DataFrame = {
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("__spans"))
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), expr(
        """array_join(
             filter(
               transform(split(__text, ' '), (t, i) ->
                 CASE WHEN __spans IS NULL OR NOT exists(__spans,
                   s -> i >= s.start_tok AND i < s.end_tok) THEN t END),
               t -> t IS NOT NULL),
             ' ')""").as("text_clean"))
  }
}
