package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import Q._

/** Training-data text pipeline over the `documents` table: token stats,
  * language-ID heuristic, quality scoring, fingerprinting, exact dedup, and
  * three near-dup families (n-gram Jaccard via inverted-index join,
  * MinHash+LSH banding, SimHash).
  *
  * Scale notes (100 TB corpus):
  *  - exact dedup and fingerprinting are single hash-groupBys on md5(text) —
  *    partial-aggregable, no skew (hash keys are uniform);
  *  - Jaccard runs on a DF-capped inverted index with AllPairs prefix
  *    filtering (operators/NearDup), never a doc×doc cross join, so no
  *    posting list can go quadratic — the production near-dup shape;
  *  - MinHash/LSH reduces candidate generation to 4 equi-joins on band keys
  *    (shuffle on band hash = uniform), the standard sub-quadratic path;
  *  - all hashes are md5-derived so the DuckDB oracle computes bit-identical
  *    values (no engine-private hash functions on the comparison surface).
  */
object TextQueries {

  /** distinct (doc_id, token) postings from space-separated text */
  private def postings(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))

  private val sqlPostings =
    """SELECT DISTINCT doc_id, tok FROM
       (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) raw"""

  /** 64-bit-safe 16-hex-char minhash component, engine-portable: the
    * lexicographic min of a fixed-width hex string equals the numeric min. */
  private def mh(seed: Int): Column =
    min(substring(md5(concat(lit(s"$seed:"), col("tok"))), 1, 16)).as(s"h$seed")
  private def sqlMh(seed: Int): String =
    s"min(substr(md5('$seed:' || tok), 1, 16)) AS h$seed"

  // 16-bit simhash: hex-prefix of md5 as the per-token hash
  private def tokVal: Column =
    conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("int")
  private val sqlTokVal = "CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER)"

  /** t06/t11/t14 shared core: exact char-4-gram Jaccard >= 0.8 pairs via
    * [[graft.operators.NearDup.jaccardPairs]] (DF-capped inverted index +
    * AllPairs prefix filtering + exact verification). */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.NearDup.jaccardPairs(
      T(s, dir, "documents").select(col("doc_id"), col("text")))

  /** t11/t14 shared: near-dup pairs clustered to (doc_id, cluster_id =
    * component-min doc_id, cluster_size). */
  private def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(s, dir).select(col("a_id"), col("b_id"))
    val labels = graft.operators.Graph.connectedComponents(pairs)
    val sizes = labels.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("component")) // cluster-count-sized: AQE decides
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"))
  }

  /** The DuckDB side of [[nearDupPairs]] (shared by t06, t11's oracle, and
    * the t20 pipeline rollup), parameterized over the source CTE/table —
    * the DF cap is relative to THAT corpus, exactly like the engine's
    * `jaccardPairs(input)`. */
  // multiply-consumed CTEs are AS MATERIALIZED: DuckDB otherwise inlines a
  // CTE into EACH consumer, so `kept a JOIN kept b` (and every stage above
  // it) would be re-derived per reference — at sf0.1 that turns a feasible
  // oracle into a spilling recompute storm. Materialization only pins
  // evaluation order; results are unchanged.
  private def sqlNearDupPairsFrom(src: String): String =
    s"""WITH grams AS MATERIALIZED (
        SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 4) AS tok
        FROM (SELECT doc_id, text,
                unnest(range(1, greatest(length(text) - 2, 1))) AS i
              FROM $src) g),
      rare AS (SELECT tok FROM (SELECT tok, count(*) AS df FROM grams GROUP BY tok)
               WHERE df * 10 <= (SELECT count(*) FROM $src)),
      kept AS MATERIALIZED (SELECT grams.doc_id, grams.tok FROM grams JOIN rare USING (tok)),
      counts AS (SELECT doc_id, count(*) AS n_tok FROM kept GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
                FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      j AS (SELECT a_id, b_id,
              CAST(inter AS DOUBLE)/CAST(ca.n_tok + cb.n_tok - inter AS DOUBLE) AS jaccard
            FROM pairs
            JOIN counts ca ON pairs.a_id = ca.doc_id
            JOIN counts cb ON pairs.b_id = cb.doc_id)
      SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.8"""

  private val sqlNearDupPairs = sqlNearDupPairsFrom("documents")

  /** Connected-components CTE chain over a `dup(a_id, b_id, …)` CTE,
    * ending in `lab(doc_id, cluster_id)` — shared by t11/t14/t20. */
  private val sqlCcTail =
    """nodes AS (SELECT DISTINCT doc_id FROM
        (SELECT a_id AS doc_id FROM dup UNION ALL SELECT b_id FROM dup) u),
      edges AS (SELECT a_id, b_id FROM dup
        UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM dup),
      reach(doc_id, r) AS (
        SELECT doc_id, doc_id AS r FROM nodes
        UNION
        SELECT e.a_id AS doc_id, reach.r
        FROM edges e JOIN reach ON reach.doc_id = e.b_id),
      lab AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id)"""

  /** DuckDB recursive-CTE connected components over [[sqlNearDupPairs]]:
    * a WITH RECURSIVE prefix ending in `lab(doc_id, cluster_id)` — t11 and
    * t14 append their own final SELECT. */
  private val sqlDupLabels =
    s"""WITH RECURSIVE dup AS MATERIALIZED ($sqlNearDupPairs),
      $sqlCcTail"""

  val all: Seq[Q] = Seq(

    // ---- token counting + char stats ----
    Q("t01_token_stats",
      (s, dir) => {
        T(s, dir, "documents").select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_calc"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct_tokens"),
          // BPE-ish subword count: alpha runs + digit runs + isolated symbols
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .cast("long").as("n_subwords"))
      },
      Some("""SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        CAST(length(text) AS BIGINT) AS n_chars_calc,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
          AS n_subwords
        FROM documents"""),
      bench = true),

    // ---- language-ID: deterministic stopword/ASCII heuristic ----
    Q("t02_lang_id",
      (s, dir) => {
        val p = concat(lit(" "), col("text"), lit(" "))
        def hits(wordPad: String): Column =
          ((length(p) - length(regexp_replace(p, wordPad, ""))) / lit(wordPad.length))
            .cast("long")
        val en = hits(" the ") + hits(" a ")
        val de = hits(" der ") + hits(" und ")
        val es = hits(" el ") + hits(" que ")
        val fr = hits(" le ") + hits(" et ")
        T(s, dir, "documents").select(col("doc_id"), col("lang"),
          when(col("text").rlike("[^\\x00-\\x7F]"), "zh")
            .when(en >= de && en >= es && en >= fr, "en")
            .when(de >= es && de >= fr, "de")
            .when(es >= fr, "es")
            .otherwise("fr").as("pred_lang"),
          en.as("en_hits"))
      },
      Some("""WITH h AS (SELECT doc_id, lang, text, ' ' || text || ' ' AS p FROM documents),
        sc AS (SELECT doc_id, lang, text,
          CAST((length(p) - length(replace(p, ' the ', '')))/5 AS BIGINT)
            + CAST((length(p) - length(replace(p, ' a ', '')))/3 AS BIGINT) AS en,
          CAST((length(p) - length(replace(p, ' der ', '')))/5 AS BIGINT)
            + CAST((length(p) - length(replace(p, ' und ', '')))/5 AS BIGINT) AS de,
          CAST((length(p) - length(replace(p, ' el ', '')))/4 AS BIGINT)
            + CAST((length(p) - length(replace(p, ' que ', '')))/5 AS BIGINT) AS es,
          CAST((length(p) - length(replace(p, ' le ', '')))/4 AS BIGINT)
            + CAST((length(p) - length(replace(p, ' et ', '')))/4 AS BIGINT) AS fr
          FROM h)
        SELECT doc_id, lang,
          CASE WHEN regexp_matches(text, '[^\x00-\x7F]') THEN 'zh'
               WHEN en >= de AND en >= es AND en >= fr THEN 'en'
               WHEN de >= es AND de >= fr THEN 'de'
               WHEN es >= fr THEN 'es'
               ELSE 'fr' END AS pred_lang,
          en AS en_hits
        FROM sc""")),

    // ---- quality scoring: length / word-length / stopword ratios ----
    Q("t03_quality_score",
      (s, dir) => {
        val nTok = size(split(col("text"), " ")).cast("long")
        val nChars = length(col("text")).cast("long")
        val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
        val p = concat(lit(" "), col("text"), lit(" "))
        val stop = ((length(p) - length(regexp_replace(p, " the ", ""))) / lit(5L) +
          (length(p) - length(regexp_replace(p, " a ", ""))) / lit(3L)).cast("long")
        T(s, dir, "documents").select(col("doc_id"),
          nTok.as("n_tokens"),
          (alpha.cast("double") / nChars.cast("double")).as("alpha_ratio"),
          ((nChars - (nTok - 1L)).cast("double") / nTok.cast("double")).as("avg_word_len"),
          (stop.cast("double") / nTok.cast("double")).as("stop_ratio"),
          when(nTok.between(10L, 200L), 1L).otherwise(0L).as("quality_ok"))
      },
      Some("""WITH b AS (
          SELECT doc_id, text,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
            CAST(length(text) AS BIGINT) AS n_chars,
            CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS alpha,
            ' ' || text || ' ' AS p FROM documents),
        c AS (SELECT doc_id, n_tokens, n_chars, alpha,
            CAST((length(p) - length(replace(p, ' the ', '')))/5 AS BIGINT)
              + CAST((length(p) - length(replace(p, ' a ', '')))/3 AS BIGINT) AS stop
          FROM b)
        SELECT doc_id, n_tokens,
          CAST(alpha AS DOUBLE)/CAST(n_chars AS DOUBLE) AS alpha_ratio,
          CAST(n_chars - (n_tokens - 1) AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS avg_word_len,
          CAST(stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stop_ratio,
          CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 1 ELSE 0 END AS quality_ok
        FROM c""")),

    // ---- document fingerprinting (content hash + shard bucket) ----
    Q("t04_fingerprint",
      (s, dir) => {
        T(s, dir, "documents").select(col("doc_id"),
          md5(col("text")).as("fp"),
          (conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 64).as("bucket"))
      },
      Some("""SELECT doc_id, md5(text) AS fp,
        CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) % 64 AS bucket
        FROM documents""")),

    // ---- exact dedup: hash-groupBy, keep lowest doc_id ----
    Q("t05_dedup_exact",
      (s, dir) => {
        T(s, dir, "documents")
          .groupBy(md5(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      },
      Some("""SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_copies
        FROM documents GROUP BY md5(text)"""),
      bench = true),

    // ---- n-gram Jaccard near-dup: operators/NearDup.jaccardPairs — a
    // DF-capped inverted index (stop-grams dropped before any pair work)
    // with AllPairs prefix filtering and exact set-intersection
    // verification; all thresholds in integer arithmetic so both engines
    // keep identical gram sets and pairs. ----
    Q("t06_ngram_jaccard",
      (s, dir) => nearDupPairs(s, dir),
      Some(sqlNearDupPairs),
      bench = true),

    // ---- duplicate clustering: connected components over the verified
    // near-dup pairs (t06 edges), labels converging to the component-min
    // doc_id via operators/Graph.connectedComponents (size-adaptive:
    // driver union-find under 1M edges, lineage-checkpointed BSP with
    // pointer jumping above — see Graph's scaladoc). Runs on the dup
    // subgraph only, never the full corpus. The DuckDB oracle computes the
    // same fixpoint as a recursive CTE — which explodes to |component|²
    // reach rows (53 s at sf0.1 vs the engine's 2.7 s): iterative graph
    // algorithms are where declarative SQL stops being the right tool. ----
    Q("t11_dup_clusters",
      (s, dir) => dupClusters(s, dir),
      Some(s"""$sqlDupLabels,
        sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
        SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
        FROM lab JOIN sz USING (cluster_id)"""),
      bench = true),

    // ---- the dedup pipeline's final act: the cleaned corpus. Every doc
    // that is a non-minimum member of a dup cluster is dropped; cluster
    // minima and untouched docs survive. One anti-join against the loser
    // set — AQE broadcasts it while it fits (it is a corpus fraction, not
    // a bounded dim), and the corpus side never shuffles in that regime. ----
    Q("t14_corpus_dedup",
      (s, dir) => {
        val losers = dupClusters(s, dir)
          .filter(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id"))
        T(s, dir, "documents")
          // losers is a corpus FRACTION (every non-minimum dup member),
          // not a bounded dim — AQE picks broadcast only while it fits
          .join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some(s"""$sqlDupLabels
        SELECT d.doc_id, d.lang, d.source FROM documents d
        WHERE d.doc_id NOT IN
          (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)""")),

    // ---- TF-IDF top-terms per document. The idf is quantized to an exact
    // integer ((N*1e6) div df) so the ranking key tf*idf_q is a BIGINT both
    // engines compute bit-identically — the playbook rule for keeping
    // non-integer scores on the hash-match surface. One shuffle for tf,
    // one broadcast-joined df, one bounded per-doc window. ----
    Q("t12_tfidf_topk",
      (s, dir) => graft.core.Memo(s, s"t12_tfidf_topk:$dir") {
        val toks = T(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val tf = toks.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val nDocs = T(s, dir, "documents").select(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score_q").desc, col("tok"))
        // broadcast(df) is deliberate: tf is the big side and already
        // shuffled by its groupBy — a shuffle join would re-shuffle it on
        // tok before AQE could downgrade (measured 2x at 10x scale). t12
        // demonstrates the broadcast-dictionary regime; t24 is the pinned
        // no-broadcast regime for dictionaries that outgrow it.
        tf.join(broadcast(df), Seq("tok"))
          .crossJoin(broadcast(nDocs))
          .withColumn("score_q", col("tf") * expr("(n_docs * 1000000) div df"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("tok").as("term"), col("tf"), col("score_q"))
      },
      Some("""WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        sc AS (SELECT tf.doc_id, tf.tok, tf.tf,
            tf.tf * ((n.n_docs * 1000000) // df.df) AS score_q
          FROM tf JOIN df USING (tok) CROSS JOIN n),
        r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score_q DESC, tok) AS rn FROM sc)
        SELECT doc_id, tok AS term, tf, score_q FROM r WHERE rn <= 3"""),
      bench = true),

    // ---- deterministic stratified sampling: per-language keep rates over
    // an md5-derived bucket of (doc_id, lang). Hash sampling is the
    // training-data standard because it is reproducible at any scale and
    // partitioning (no RNG state), composes with incremental ingest (a doc's
    // fate never changes), and the strata rates are data-independent. ----
    Q("t13_stratified_sample",
      (s, dir) => {
        val bucket = (conv(substring(
          md5(concat(col("doc_id").cast("string"), lit(":"), col("lang"))),
          1, 4), 16, 10).cast("int") % 100).as("bucket")
        val rate = when(col("lang") === "en", 50)
          .when(col("lang") === "de", 25)
          .when(col("lang") === "es", 20)
          .when(col("lang") === "fr", 10)
          .otherwise(5)
        T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), bucket, rate.as("rate"))
          .filter(col("bucket") < col("rate"))
          .select(col("doc_id"), col("lang"), col("bucket"))
      },
      Some("""SELECT doc_id, lang,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 4))
            AS INTEGER) % 100 AS bucket
        FROM documents
        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 4))
            AS INTEGER) % 100 <
          CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 25 WHEN 'es' THEN 20
            WHEN 'fr' THEN 10 ELSE 5 END"""),
      bench = true),

    // ---- MinHash + LSH banding: 8 hashes, 4 bands × 2 rows.
    // LEGACY-CONTRACT GATE ONLY (never benched): unigram-token signatures
    // on a shared-vocabulary corpus collide across unrelated docs, so the
    // candidate volume scales with corpus² (9.3 M pairs at sf0.1 —
    // deterministic and oracle-matched, but not a plan to run at 100×).
    // t36 is the production default: the SAME banding contract over
    // word-3-gram shingles, whose buckets collide only near identity. ----
    Q("t07_minhash_lsh",
      (s, dir) => {
        val sig = postings(s, dir).groupBy(col("doc_id"))
          .agg(mh(1), mh(2), mh(3), mh(4), mh(5), mh(6), mh(7), mh(8))
        val banded = sig.select(col("doc_id"),
          concat(col("h1"), col("h2")).as("b1"), concat(col("h3"), col("h4")).as("b2"),
          concat(col("h5"), col("h6")).as("b3"), concat(col("h7"), col("h8")).as("b4"))
        val pairs = (1 to 4).map { i =>
          banded.select(col("doc_id").as("a_id"), col(s"b$i").as("bk"))
            .join(banded.select(col("doc_id").as("b_id"), col(s"b$i").as("bk")), "bk")
            .filter(col("a_id") < col("b_id"))
            .select(col("a_id"), col("b_id"))
        }.reduce(_ unionByName _)
        pairs.distinct()
      },
      Some {
        val mins = (1 to 8).map(sqlMh).mkString(", ")
        val bandJoins = (1 to 4).map { i =>
          s"""SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM banded a JOIN banded b ON a.b$i = b.b$i AND a.doc_id < b.doc_id"""
        }.mkString(" UNION ALL ")
        s"""WITH toks AS ($sqlPostings),
          sig AS (SELECT doc_id, $mins FROM toks GROUP BY doc_id),
          banded AS (SELECT doc_id, h1||h2 AS b1, h3||h4 AS b2, h5||h6 AS b3, h7||h8 AS b4
                     FROM sig)
          SELECT DISTINCT a_id, b_id FROM ($bandJoins) u"""
      }),

    // ---- the production near-dup candidate generator: t07's banding
    // contract over word-3-gram SHINGLES (NearDup.selfMinHashPairs — the
    // per-row signature kernel, no shuffle until the band join). Same
    // 8-hash/4-band scheme, same (a_id, b_id) output; what changes is the
    // collision structure: shingle buckets fire only near identity, so
    // candidates are ∝ true near-dups (sf0.1 measured: t07 9.3 M pairs →
    // t36 725) and the plan survives 100× where t07's would not. ----
    Q("t36_shingle_lsh",
      (s, dir) => graft.operators.NearDup.selfMinHashPairs(
        T(s, dir, "documents").select(col("doc_id"), col("text"))),
      Some {
        val mins = (1 to 8)
          .map(i => s"min(substr(md5('$i:' || tok), 1, 16)) AS h$i")
          .mkString(", ")
        val bands = (1 to 4)
          .map(i => s"h${2 * i - 1}||h${2 * i} AS b$i").mkString(", ")
        val bandJoins = (1 to 4).map { i =>
          s"""SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM banded a JOIN banded b
              ON a.b$i = b.b$i AND a.doc_id < b.doc_id"""
        }.mkString(" UNION ALL ")
        s"""WITH toks AS MATERIALIZED (SELECT DISTINCT doc_id,
              array_to_string(words[j:j+2], ' ') AS tok
            FROM (SELECT doc_id, string_split(text, ' ') AS words
                  FROM documents) w,
              LATERAL (SELECT unnest(range(1, greatest(len(words)-2, 0)+1))
                       AS j) r),
          sig AS (SELECT doc_id, $mins FROM toks GROUP BY doc_id),
          banded AS (SELECT doc_id, $bands FROM sig)
          SELECT DISTINCT a_id, b_id FROM ($bandJoins) u"""
      },
      bench = true),

    // ---- character 5-gram shingle MinHash: true shingling (not token sets),
    // the standard near-dup representation for web-scale corpora. Shingles
    // are generated columnar-side (sequence + substring — no UDF); the rest
    // of the MinHash/LSH machinery is shared with t07. ----
    Q("t09_shingle_minhash",
      (s, dir) => {
        // the length guard matters: Spark's sequence(1, 0) counts DOWN, so
        // an unguarded bound would fabricate shingles for texts shorter
        // than the shingle length
        val shingles = T(s, dir, "documents")
          .filter(length(col("text")) >= 5)
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(1), length(col("text")) - 4)).as("i"))
          .select(col("doc_id"), expr("substr(text, i, 5)").as("tok"))
          .distinct()
        val sig = shingles.groupBy(col("doc_id"))
          .agg(mh(1), mh(2), mh(3), mh(4))
        sig.select(col("doc_id"), concat(col("h1"), col("h2")).as("band1"),
          concat(col("h3"), col("h4")).as("band2"))
      },
      Some {
        val mins = (1 to 4).map(sqlMh).mkString(", ")
        s"""WITH shingles AS (
            SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 5) AS tok
            FROM (SELECT doc_id, text,
                    unnest(range(1, greatest(length(text) - 3, 1))) AS i
                  FROM documents) g),
          sig AS (SELECT doc_id, $mins FROM shingles GROUP BY doc_id)
          SELECT doc_id, h1||h2 AS band1, h3||h4 AS band2 FROM sig"""
      }),

    // ---- corpus cleaning composed end-to-end: quality gate (token count,
    // alphabetic ratio, ASCII-only) then exact dedup keep-lowest-id — the
    // canonical training-data pre-filter, one plan: the quality predicates
    // sit on the scan, the dedup is a single hash-groupBy on md5 (uniform
    // keys, partial-aggregable — the same shape at 100 TB). ----
    Q("t10_corpus_clean",
      (s, dir) => {
        val scored = T(s, dir, "documents").select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          (length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
            length(col("text")).cast("double")).as("alpha_ratio"))
        scored
          .filter(col("n_tokens").between(10L, 200L) &&
            col("alpha_ratio") >= 0.81 &&
            !col("text").rlike("[^\\x00-\\x7F]"))
          .groupBy(md5(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("keeper"),
            min(col("n_tokens")).as("n_tokens"),
            count(lit(1)).as("n_copies"))
      },
      Some("""WITH s AS (
          SELECT doc_id, text,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
            CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
              / CAST(length(text) AS DOUBLE) AS alpha_ratio
          FROM documents)
        SELECT md5(text) AS fp, min(doc_id) AS keeper,
          CAST(min(n_tokens) AS BIGINT) AS n_tokens, count(*) AS n_copies
        FROM s
        WHERE n_tokens BETWEEN 10 AND 200 AND alpha_ratio >= 0.81
          AND NOT regexp_matches(text, '[^\x00-\x7F]')
        GROUP BY md5(text)"""),
      bench = true),

    // ---- rolling-hash fingerprint (winnowing): minimum Rabin-Karp
    // polynomial hash over all 8-char windows — shift-robust, unlike the
    // whole-document md5 of t04. Engine side is one native codegen
    // expression (TextExpressions.RollingMinHash); the oracle reproduces
    // the identical integer with a literal B^k mod M power table, since
    // sum(code*B^k) mod M == the iterative (h*B + code) mod M form and
    // every intermediate fits a BIGINT. ----
    Q("t16_fingerprint_rolling",
      (s, dir) => {
        val rfp = graft.functions.TextExpressions
          .rollingMinHash(col("text"), 8, 257L, 1000000007L)
        T(s, dir, "documents")
          .filter(length(col("text")) >= 8)
          .select(col("doc_id"), rfp.as("rfp"), (rfp % 64).as("shard"))
      },
      Some {
        val pw = Array.iterate(1L, 8)(p => p * 257L % 1000000007L)
        val terms = (0 until 8)
          .map(j => s"CAST(ascii(substr(text, CAST(i AS INTEGER) + $j, 1)) AS BIGINT) * ${pw(7 - j)}")
          .mkString(" + ")
        s"""WITH w AS (SELECT doc_id, text,
              unnest(range(1, greatest(length(text) - 6, 1))) AS i
            FROM documents WHERE length(text) >= 8),
          h AS (SELECT doc_id, CAST(($terms) % 1000000007 AS BIGINT) AS wh FROM w)
          SELECT doc_id, min(wh) AS rfp, min(wh) % 64 AS shard FROM h GROUP BY 1"""
      }),

    // ---- within-doc repetition (Gopher-style quality signals): share of
    // the most frequent token and the duplicate-token ratio. All counts are
    // exact integers; the two ratios are single IEEE divisions of exact
    // integers, so they hash-match cross-engine. One shuffle on
    // (doc_id, tok), then a bounded per-doc aggregation. ----
    Q("t15_repetition",
      (s, dir) => {
        val tf = T(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        tf.groupBy(col("doc_id"))
          .agg(sum(col("tf")).as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            max(col("tf")).as("top_tf"))
          .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_tf"),
            (col("top_tf").cast("double") / col("n_tokens").cast("double"))
              .as("top_share"),
            ((col("n_tokens") - col("n_distinct")).cast("double") /
              col("n_tokens").cast("double")).as("dup_ratio"))
      },
      Some("""WITH tf AS (
          SELECT doc_id, tok, count(*) AS tf FROM
            (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) u
          GROUP BY 1, 2),
        agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
            count(*) AS n_distinct, CAST(max(tf) AS BIGINT) AS top_tf
          FROM tf GROUP BY 1)
        SELECT doc_id, n_tokens, n_distinct, top_tf,
          CAST(top_tf AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS top_share,
          CAST(n_tokens - n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS dup_ratio
        FROM agg""")),

    // ---- SimHash: 16-bit signature from per-token md5 prefixes ----
    // ---- benchmark decontamination: flag training docs sharing word
    // 3-grams with a held-out eval set (doc_id < 5) — the standard n-gram
    // contamination check run before LLM training. Shape is an inverted
    // index on gram, never doc×doc: the eval side's distinct grams are a
    // broadcast-sized dictionary (|eval| << |corpus| always), the train side
    // streams through one equi-join + one count-distinct per doc. At 100 TB
    // the train grams never materialize as a table — they are generated and
    // joined in one pass, and the output is only the contaminated tail. ----
    Q("t17_decontaminate",
      (s, dir) => {
        val d = T(s, dir, "documents")
        // shared word-3-gram definition (also the pipeline's): see
        // operators/NearDup.wordGrams for the sequence()-counts-DOWN guard
        val withGrams = graft.operators.NearDup.wordGrams(
          d.select(col("doc_id"), col("text")), 3)
        val evalGrams = withGrams.filter(col("doc_id") < 5)
          .select(col("gram")).distinct()
        val train = withGrams.filter(col("doc_id") >= 5)
        val nGrams = train.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams")) // grams already distinct per doc
        train.join(broadcast(evalGrams), Seq("gram"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared"))
          .join(nGrams, Seq("doc_id"))
          .select(col("doc_id"), col("n_grams"), col("n_shared"))
      },
      Some("""WITH g AS (
          SELECT DISTINCT doc_id, array_to_string(words[j:j+2], ' ') AS gram
          FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w,
            LATERAL (SELECT unnest(range(1, greatest(len(words)-2, 0)+1)) AS j) r),
        ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 5),
        tr AS (SELECT doc_id, gram FROM g WHERE doc_id >= 5),
        ng AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY 1)
        SELECT tr.doc_id, ng.n_grams, count(*) AS n_shared
        FROM tr JOIN ev USING (gram) JOIN ng ON tr.doc_id = ng.doc_id
        GROUP BY tr.doc_id, ng.n_grams""")),

    // ---- token-budget mixture sampling: take ~B tokens per SOURCE (the
    // data-mixture step — each domain contributes a fixed token budget to
    // the training mix, not a fixed doc count). Docs are ordered by a
    // deterministic md5 shuffle inside each source and kept while the
    // running token total stays within budget, so the sample is reproducible
    // at any partitioning and incremental re-runs keep the same prefix.
    // One bounded-key window per source — no global sort. ----
    Q("t19_token_budget_sample",
      (s, dir) => {
        val B = 600L
        val d = T(s, dir, "documents").select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          md5(col("doc_id").cast("string")).as("shuffle_key"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("shuffle_key"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        d.withColumn("cum", sum(col("n_tok")).over(w))
          .filter(col("cum") <= B)
          .select(col("doc_id"), col("source"), col("n_tok"), col("cum"))
      },
      Some("""WITH t AS (SELECT doc_id, source,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
            md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
          FROM documents),
        c AS (SELECT doc_id, source, n_tok,
            CAST(sum(n_tok) OVER (PARTITION BY source
              ORDER BY shuffle_key, doc_id) AS BIGINT) AS cum
          FROM t)
        SELECT doc_id, source, n_tok, cum FROM c WHERE cum <= 600""")),

    // ---- the ENTIRE corpus pipeline (jobs/CorpusPipeline) on the gate:
    // clean → exact dedup → near-dup cluster dedup → decontaminate →
    // LM perplexity filter (t24's model, worst-decile cut) → token-budget
    // sample → pack, reported as per-stage doc counts and hash-matched
    // against one composed DuckDB query that chains the same stage
    // formulations (incl. the recursive-CTE connected components on the
    // CLEANED corpus and the quantile_cont twin of Spark's exact
    // percentile). eval set = doc_id < 5, train = the rest — the t17
    // convention. ----
    Q("t20_corpus_pipeline",
      (s, dir) => {
        val d = T(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("source"))
        val (_, summary) = graft.jobs.CorpusPipeline.run(
          d.filter(col("doc_id") >= 5), d.filter(col("doc_id") < 5))
        summary
      },
      Some(s"""WITH RECURSIVE
        train AS (SELECT doc_id, text, source FROM documents WHERE doc_id >= 5),
        scored AS (SELECT doc_id, text, source,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
            CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
              / CAST(length(text) AS DOUBLE) AS alpha_ratio
          FROM train),
        clean AS (SELECT * FROM scored
          WHERE n_tok BETWEEN 10 AND 200 AND alpha_ratio >= 0.81
            AND NOT regexp_matches(text, '[^\\x00-\\x7F]')),
        exactd AS MATERIALIZED (SELECT doc_id, text, source, n_tok FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text)
              ORDER BY doc_id) AS rn
            FROM clean) x WHERE rn = 1),
        dup AS MATERIALIZED (${sqlNearDupPairsFrom("exactd")}),
        $sqlCcTail,
        dedup AS MATERIALIZED (SELECT * FROM exactd WHERE doc_id NOT IN
          (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)),
        eg AS (SELECT DISTINCT array_to_string(words[j:j+2], ' ') AS gram
          FROM (SELECT string_split(text, ' ') AS words FROM documents
                WHERE doc_id < 5) w,
            LATERAL (SELECT unnest(range(1, greatest(len(words)-2, 0)+1)) AS j) r),
        tg AS (SELECT DISTINCT doc_id, array_to_string(words[j:j+2], ' ') AS gram
          FROM (SELECT doc_id, string_split(text, ' ') AS words FROM dedup) w,
            LATERAL (SELECT unnest(range(1, greatest(len(words)-2, 0)+1)) AS j) r),
        contam AS (SELECT doc_id FROM (
            SELECT tg.doc_id, count(*) AS c FROM tg JOIN eg USING (gram)
            GROUP BY 1) x WHERE c >= 5),
        decon AS MATERIALIZED (SELECT * FROM dedup WHERE doc_id NOT IN
          (SELECT doc_id FROM contam)),
        bg AS MATERIALIZED (SELECT doc_id, ws[j] AS w1, ws[j+1] AS w2
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM decon) w,
            LATERAL (SELECT unnest(range(1, greatest(len(ws)-1, 0)+1)) AS j) r),
        bc12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        bc1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bc12 GROUP BY 1),
        lms AS MATERIALIZED (SELECT doc_id,
            round(CAST(sum(lp) AS DOUBLE)/count(*)/10000.0, 4) AS avg_logp
          FROM (SELECT bg.doc_id,
              CAST(floor(10000.0 * ln(CAST(bc12.c12 AS DOUBLE)/bc1.c1))
                AS BIGINT) AS lp
            FROM bg JOIN bc12 USING (w1, w2) JOIN bc1 USING (w1)) q
          GROUP BY doc_id),
        lmcut AS (SELECT quantile_cont(avg_logp, 0.1) AS cut FROM lms),
        lmf AS MATERIALIZED (SELECT decon.* FROM decon
          JOIN lms USING (doc_id) CROSS JOIN lmcut
          WHERE lms.avg_logp >= lmcut.cut),
        samp AS MATERIALIZED (SELECT * FROM (
            SELECT *, CAST(sum(n_tok) OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS cum
            FROM lmf) x WHERE cum <= 600)
        SELECT '0_input' AS stage, (SELECT count(*) FROM train) AS n_docs
        UNION ALL SELECT '1_clean', (SELECT count(*) FROM clean)
        UNION ALL SELECT '2_exact_dedup', (SELECT count(*) FROM exactd)
        UNION ALL SELECT '3_neardup_dedup', (SELECT count(*) FROM dedup)
        UNION ALL SELECT '4_decontaminated', (SELECT count(*) FROM decon)
        UNION ALL SELECT '5_lm_filtered', (SELECT count(*) FROM lmf)
        UNION ALL SELECT '6_sampled', (SELECT count(*) FROM samp)
        UNION ALL SELECT '7_packed', (SELECT count(*) FROM samp)""")),

    // ---- sequence packing: assign documents to fixed-token-budget training
    // sequences (the batching-prep step after cleaning/dedup). Greedy
    // contiguous fill in doc order, SHARDED: each 100-doc shard packs
    // independently, so at corpus scale packing is one bounded-key window
    // per shard (embarrassingly parallel), not a global sort — the bins a
    // trainer reads are (shard, bin) pairs. A doc whose tokens straddle a
    // boundary belongs to the bin where it starts, at the given offset. ----
    Q("t18_sequence_pack",
      (s, dir) => {
        val B = 256L
        val d = T(s, dir, "documents").select(col("doc_id"),
          expr("doc_id div 100").as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        d.withColumn("start", sum(col("n_tok")).over(w) - col("n_tok"))
          .select(col("doc_id"), col("shard"), col("n_tok"),
            expr(s"start div $B").as("bin"),
            (col("start") % B).as("offset"))
      },
      Some("""WITH t AS (SELECT doc_id, doc_id // 100 AS shard,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        c AS (SELECT doc_id, shard, n_tok,
            CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id)
              AS BIGINT) - n_tok AS start
          FROM t)
        SELECT doc_id, shard, n_tok, start // 256 AS bin,
          start % 256 AS offset
        FROM c""")),

    // ---- within-document repetition TRIM: collapse consecutive repeated
    // tokens (the cleaning transform behind t15's repetition MEASUREMENT —
    // stuttered crawl text like "click click click here" is the classic
    // case). Backreference regexes would do this in one call but RE2-based
    // engines (the DuckDB oracle) lack them, so the portable columnar form
    // is a per-doc lag window: keep token where token != previous, then
    // reassemble in order. One window partitioned by doc_id (group size =
    // doc length, bounded), in-group reassembly — no global sort. ----
    Q("t23_repetition_trim",
      (s, dir) => {
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        T(s, dir, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .withColumn("prev", lag(col("col"), 1).over(w))
          .filter(col("prev").isNull || col("col") =!= col("prev"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            array_join(
              transform(array_sort(collect_list(struct(col("pos"), col("col")))),
                x => x("col")), " ").as("text_trim"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS words
            FROM documents),
        w AS (SELECT doc_id, i, words[i] AS w
          FROM d, (SELECT unnest(range(1, 5001)) AS i) r
          WHERE i <= len(words)),
        k AS (SELECT doc_id, i, w,
            lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS prev
          FROM w)
        SELECT doc_id, count(*) AS n_kept,
          string_agg(w, ' ' ORDER BY i) AS text_trim
        FROM k WHERE prev IS NULL OR w <> prev GROUP BY doc_id""")),

    // ---- unigram-rarity quality signal: the portable analogue of a
    // perplexity filter (CCNet scores docs with a language model; with no
    // model in either engine, corpus-level token document-frequency is the
    // deterministic stand-in — a doc whose tokens are rare corpus-wide is
    // an outlier worth flagging). Scale shape: the document-frequency
    // dictionary is vocabulary-sized -> broadcast (the t12 pattern); the
    // per-doc score is one partial-aggregable groupBy; exact integer df
    // sums, double division only at the surface. ----
    Q("t22_token_rarity",
      (s, dir) => {
        val p = postings(s, dir)
        val dfreq = p.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        p.join(broadcast(dfreq), Seq("tok")) // same regime choice as t12
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_distinct"), sum(col("df")).as("sum_df"),
            (sum(col("df")).cast("double") / count(lit(1))).as("avg_df"))
      },
      Some(s"""WITH toks AS ($sqlPostings),
        dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok)
        SELECT doc_id, count(*) AS n_distinct,
          CAST(sum(df) AS BIGINT) AS sum_df,
          CAST(CAST(sum(df) AS BIGINT) AS DOUBLE) / count(*) AS avg_df
        FROM toks JOIN dfreq USING (tok) GROUP BY doc_id""")),

    // ---- chunk-level (sub-document) dedup: the RefinedWeb/CCNet-style pass
    // that removes REPEATED PASSAGES across documents (boilerplate, quoted
    // headers) while keeping the host documents. The corpus has no natural
    // paragraph breaks, so the segmenter is fixed 8-word windows; the same
    // operator applies to split(text, '\\n\\n') verbatim. First occurrence
    // (by doc_id, position) survives; each document is reassembled from its
    // surviving chunks in order. Scale shape: segmentation is columnar
    // (split → slice — no UDF), dedup is ONE window over md5-uniform chunk
    // keys, reassembly is one groupBy(doc_id) with an in-group sort of a
    // bounded list (a document's own chunks) — no global sort anywhere. ----
    Q("t21_chunk_dedup",
      (s, dir) => graft.operators.NearDup.chunkDedup(
        T(s, dir, "documents").select(col("doc_id"), col("text")), chunkWords = 8),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS words
            FROM documents),
        w AS (SELECT doc_id, i, words[i] AS w
          FROM d, (SELECT unnest(range(1, 5001)) AS i) r
          WHERE i <= len(words)),
        c AS (SELECT doc_id, (i - 1) // 8 AS chunk_idx,
            string_agg(w, ' ' ORDER BY i) AS chunk
          FROM w GROUP BY 1, 2),
        k AS (SELECT doc_id, chunk_idx, chunk,
            row_number() OVER (PARTITION BY chunk
              ORDER BY doc_id, chunk_idx) AS rn
          FROM c)
        SELECT doc_id, count(*) AS n_kept,
          string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_clean
        FROM k WHERE rn = 1 GROUP BY doc_id"""),
      bench = true),

    Q("t08_simhash",
      (s, dir) => {
        val v = tokVal
        val bitSums = (0 until 16).map { i =>
          sum(when((shiftright(v, i) % 2) === 1, 1L).otherwise(-1L)).as(s"bs$i")
        }
        val sums = postings(s, dir).groupBy(col("doc_id"))
          .agg(bitSums.head, bitSums.tail: _*)
        val sh = (0 until 16).map { i =>
          when(col(s"bs$i") > 0, lit(1L << i)).otherwise(0L)
        }.reduce(_ + _)
        sums.select(col("doc_id"), sh.as("simhash"))
      },
      Some {
        val bitSums = (0 until 16).map { i =>
          s"sum(CASE WHEN (($sqlTokVal >> $i) % 2) = 1 THEN 1 ELSE -1 END) AS bs$i"
        }.mkString(", ")
        val sh = (0 until 16).map(i => s"CASE WHEN bs$i > 0 THEN ${1L << i} ELSE 0 END")
          .mkString(" + ")
        s"""WITH toks AS ($sqlPostings),
          sums AS (SELECT doc_id, $bitSums FROM toks GROUP BY doc_id)
          SELECT doc_id, CAST($sh AS BIGINT) AS simhash FROM sums"""
      }),

    // ---- bigram language-model scoring (the perplexity quality filter —
    // CCNet/Gopher-style: score each document by how typical its word
    // sequences are of the corpus, drop the high-perplexity tail). The LM
    // is trained on the corpus itself in the same plan: bigram counts c12
    // and prefix counts c1 are two partial-aggregable groupBys, with c12
    // materialized once so c1/dict derive from it instead of re-scanning
    // the corpus; each document bigram then looks up log P(w2|w1) =
    // ln(c12/c1) against the dictionary, whose JOIN SIDE is chosen from
    // the dictionary's measured row count (LangModel.bigramScores — a
    // vocabulary-bounded dictionary broadcasts so the corpus never
    // shuffles; a corpus-like dictionary falls back to the shuffle-hash
    // join with AQE skew-splitting the zipf-hot stop-word prefixes).
    // Never a per-doc model object, never a driver-side vocabulary.
    // Per-bigram log-probs are quantized to floor(1e4·ln p) so the
    // doc-level SUM is exact integer arithmetic — the score is
    // partition-count-invariant and bit-identical cross-engine (the same
    // trick as the money columns; only the final display division is
    // float). At 100 TB the dictionary outgrows maxBroadcastTypes and the
    // corpus streams through the disk-backed shuffle join once. ----
    Q("t24_bigram_lm_score",
      (s, dir) => graft.operators.LangModel.bigramScores(
        T(s, dir, "documents").select(col("doc_id"), col("text"))),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        b AS (SELECT doc_id, ws[j] AS w1, ws[j+1] AS w2
          FROM w, LATERAL (SELECT unnest(range(1, greatest(len(ws)-1, 0)+1)) AS j) r),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        q AS (SELECT b.doc_id,
            CAST(floor(10000.0 * ln(CAST(c12.c12 AS DOUBLE)/c1.c1)) AS BIGINT) AS lp
          FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1))
        SELECT doc_id, count(*) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS sum_q,
          round(CAST(sum(lp) AS DOUBLE)/count(*)/10000.0, 4) AS avg_logp
        FROM q GROUP BY doc_id"""),
      bench = true),

    // ---- temperature-based mixture resampling (the multilingual-training
    // standard: sample languages ∝ p^α, α=0.5 — high-resource languages
    // downsample toward the flattened mixture, low-resource ones keep
    // nearly everything). Unlike t13's FIXED strata rates, the rates here
    // are DERIVED from the corpus: per-language counts (one tiny groupBy),
    // weights w=√n quantized to integers, and a doc budget of N/2, giving
    // keep-rate_l = B·w_l/(Σw·n_l) — computed entirely in int64 so the
    // rate table is bit-identical cross-engine (no float-sum order
    // dependence; Σw is a sum of ints). The per-doc keep decision is the
    // same md5-bucket rule as t13: reproducible at any partitioning,
    // stable under incremental ingest. The rate table is langs-sized —
    // broadcast; the corpus never shuffles at all. (At PB scale the int64
    // numerator B·w_q·10⁶ needs a rescale of the quantization constants —
    // the structure is unchanged.) ----
    Q("t25_mixture_sample",
      (s, dir) => {
        val docs = T(s, dir, "documents")
        val c = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
          .withColumn("w_q", floor(sqrt(col("n").cast("double")) * 1000.0).cast("long"))
        val tot = c.agg(sum(col("w_q")).as("sw"), sum(col("n")).as("nn"))
        val rates = c.crossJoin(broadcast(tot))
          .withColumn("rate_q",
            least(lit(1000000L),
              expr("((nn div 2) * w_q * 1000000) div (sw * n)")))
          .select(col("lang"), col("rate_q"))
        val bucket = (conv(substring(
          md5(concat(col("doc_id").cast("string"), lit(":mix"))),
          1, 5), 16, 10).cast("long") % 1000000L).as("bucket")
        docs.select(col("doc_id"), col("lang"), bucket)
          .join(broadcast(rates), "lang")
          .filter(col("bucket") < col("rate_q"))
          .select(col("doc_id"), col("lang"), col("bucket"), col("rate_q"))
      },
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        w AS (SELECT lang, n,
            CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000.0) AS BIGINT) AS w_q FROM c),
        tot AS (SELECT CAST(sum(w_q) AS BIGINT) AS sw,
            CAST(sum(n) AS BIGINT) AS nn FROM w),
        r AS (SELECT lang,
            CAST(least(1000000, ((nn // 2) * w_q * 1000000) // (sw * n)) AS BIGINT)
              AS rate_q
          FROM w CROSS JOIN tot),
        d AS (SELECT doc_id, lang,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 5))
              AS BIGINT) % 1000000 AS bucket
          FROM documents)
        SELECT doc_id, d.lang, bucket, rate_q
        FROM d JOIN r ON d.lang = r.lang
        WHERE bucket < rate_q""")),

    // ---- weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    // per source, keep the k docs with top priority ln(u)/w where u is the
    // doc's md5-uniform and w its weight (n_chars here; in production a
    // quality score) — each doc's inclusion probability is ∝ its weight,
    // jointly without replacement, in ONE pass with no RNG state. The
    // priority is quantized to floor(1e12·ln u / w) int64 (t24's trick) with
    // doc_id as total-order tiebreak, so the selection is deterministic at
    // any partitioning and cross-engine. Scale shape: the rank filter pushes
    // to WindowGroupLimit (plan-audited for q12), so each map task keeps
    // only k rows per source BEFORE the shuffle — the exchange carries
    // O(k·sources·tasks), never the corpus. ----
    Q("t26_weighted_sample",
      (s, dir) => {
        val u = (conv(substring(
          md5(concat(col("doc_id").cast("string"), lit(":wrs"))), 1, 5),
          16, 10).cast("long") + 1L).cast("double") / 1048576.0
        val keyQ = floor(lit(1e12) * log(u) / col("n_chars")).cast("long")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("key_q").desc, col("doc_id"))
        T(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("key_q", keyQ)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= 10)
          .select(col("doc_id"), col("source"), col("key_q"))
      },
      Some("""WITH k AS (SELECT doc_id, source,
          CAST(floor(1000000000000.0 *
            ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wrs'), 1, 5))
              AS BIGINT) + 1) / 1048576.0) / n_chars) AS BIGINT) AS key_q
          FROM documents),
        r AS (SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY key_q DESC, doc_id) AS rn FROM k)
        SELECT doc_id, source, key_q FROM r WHERE rn <= 10""")),

    // ---- sliding-window chunking (operators/Chunk.sliding): overlapping
    // W=12/S=5 context windows with (doc, chunk_id, start_tok) provenance —
    // the segmentation a pretraining/retrieval corpus runs before
    // embedding or packing. Scale shape: split → transform(sequence) →
    // posexplode → slice, all inside the scan stage; no UDF, no shuffle.
    // The tail windows are genuinely shorter (n_tok < W), which the oracle
    // pins so no engine silently pads or drops them. ----
    Q("t27_chunk_sliding",
      (s, dir) => graft.operators.Chunk.sliding(
        T(s, dir, "documents").select(col("doc_id"), col("text")),
        window = 12, stride = 5),
      Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
          s AS (SELECT doc_id, ws, unnest(range(0, len(ws), 5)) AS st FROM t)
        SELECT doc_id,
          CAST(st // 5 AS BIGINT) AS chunk_id,
          CAST(st AS BIGINT) AS start_tok,
          CAST(least(12, len(ws) - st) AS BIGINT) AS n_tok,
          array_to_string(ws[st + 1 : st + 12], ' ') AS chunk_text
        FROM s"""))
,

    // ---- exact repeated-substring spans (NearDup.repeatedSpans): the
    // ExactSubstr dedup idea (Lee et al. 2022) in relational form — a
    // 5-token span repeated ANYWHERE in the corpus is flagged, and
    // overlapping/touching flags merge to maximal per-doc intervals via
    // gaps-and-islands. Catches repeats that t21's fixed chunk boundaries
    // straddle. Scale shape: columnar gram hashing, one partial-agg
    // groupBy for the repeated set, a semi join to flag, and a per-doc
    // window over flagged positions only — no global sort. ----
    Q("t28_repeated_spans",
      (s, dir) => graft.operators.NearDup.repeatedSpans(
        T(s, dir, "documents").select(col("doc_id"), col("text")), minGram = 5),
      Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
          g AS (SELECT doc_id, CAST(p AS BIGINT) AS pos,
              md5(array_to_string(ws[p + 1 : p + 5], ' ')) AS h
            FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 4)) AS p
                  FROM t WHERE len(ws) >= 5)),
          d AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
          f AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (h)),
          m AS (SELECT doc_id, pos, pos + 5 AS e,
              max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
            FROM f),
          s AS (SELECT doc_id, pos, e,
              CASE WHEN prev_e IS NULL OR pos > prev_e THEN 1 ELSE 0 END AS ns
            FROM m),
          sp AS (SELECT doc_id, pos, e,
              SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS UNBOUNDED PRECEDING) - 1 AS span_id
            FROM s)
        SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
          CAST(min(pos) AS BIGINT) AS start_tok,
          CAST(max(e) AS BIGINT) AS end_tok
        FROM sp GROUP BY doc_id, span_id""")),

    // ---- incremental near-dup ingest (NearDup.incrementalJaccardPairs):
    // a NEW batch (doc_id % 7 == 0 as the stand-in) pairs against the
    // existing corpus under the corpus's FROZEN rarity dictionary — the
    // text twin of AnnIndex.append's frozen-centroid contract. Pair work
    // scales with |batch|, not |corpus|²; output = new×old and new×new
    // pairs only. The oracle freezes its dictionary CTE on the old split
    // and brute-forces the pair restriction, so the frozen-dictionary
    // semantics (not just the pair set) are what hash-matches. ----
    Q("t29_incremental_neardup",
      (s, dir) => {
        val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
        graft.operators.NearDup.incrementalJaccardPairs(
          docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(7)) === 0))
      },
      Some("""WITH oldd AS MATERIALIZED (
          SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        newd AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
        grams_old AS MATERIALIZED (
          SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 4) AS tok
          FROM (SELECT doc_id, text,
                  unnest(range(1, greatest(length(text) - 2, 1))) AS i
                FROM oldd) g),
        rare AS (SELECT tok
          FROM (SELECT tok, count(*) AS df FROM grams_old GROUP BY tok)
          WHERE df * 10 <= (SELECT count(*) FROM oldd)),
        grams_all AS MATERIALIZED (
          SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 4) AS tok
          FROM (SELECT doc_id, text,
                  unnest(range(1, greatest(length(text) - 2, 1))) AS i
                FROM documents) g),
        kept AS MATERIALIZED (
          SELECT grams_all.doc_id, grams_all.tok
          FROM grams_all JOIN rare USING (tok)),
        counts AS (SELECT doc_id, count(*) AS n_tok FROM kept GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
          FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id
          WHERE a.doc_id IN (SELECT doc_id FROM newd)
             OR b.doc_id IN (SELECT doc_id FROM newd)
          GROUP BY 1, 2),
        j AS (SELECT a_id, b_id,
            CAST(inter AS DOUBLE)/CAST(ca.n_tok + cb.n_tok - inter AS DOUBLE) AS jaccard
          FROM pairs
          JOIN counts ca ON pairs.a_id = ca.doc_id
          JOIN counts cb ON pairs.b_id = cb.doc_id)
        SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.8""")),

    // ---- bloom-pruned incremental exact dedup (Scale.bloomAntiJoin): the
    // batch-vs-corpus "which of these new docs are already in the corpus"
    // anti-join with BOTH sides bloom-pruned, so neither full input ever
    // shuffles — the ingest-time twin of t05's whole-corpus dedup. The
    // testdata has almost no exact duplicates across a doc_id split, so the
    // batch is CONSTRUCTED (v01/p01 trick, identically in both engines):
    // `fresh` rows get a doc_id-unique suffix (definitely novel — these
    // exercise the bloom-negative fast path, plus the fpp→verify path on
    // false positives), `copies` re-ingest corpus texts under new ids
    // (definitely duplicate — the verified-positive path). The bloom is
    // sized ~8 bits/key (fpp ≈ 2–3%), so at sf0.1 the verify anti-join
    // provably sees real false positives and removes them: the hash match
    // IS the exactness proof. ----
    Q("t30_bloom_incremental_dedup",
      (s, dir) => {
        val docs = T(s, dir, "documents")
        val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
          .select(col("doc_id"), col("text"))
        val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(col("text"), lit(" fresh-"), col("doc_id").cast("string"))
              .as("text"))
        val copies = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0 &&
            pmod(col("doc_id"), lit(7)) === 3)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
        val batch = fresh.unionByName(copies)
        graft.operators.Scale.bloomAntiJoin(
          batch.withColumn("h", md5(col("text"))),
          corpus.select(md5(col("text")).as("h")),
          "h", "h", expectedItems = 10000L, numBits = 80000L)
          .select(col("doc_id"))
      },
      Some("""WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        batch AS (
          SELECT doc_id + 10000000 AS doc_id,
                 text || ' fresh-' || CAST(doc_id AS VARCHAR) AS text
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT doc_id + 20000000 AS doc_id, text
          FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 7 = 3)
        SELECT b.doc_id FROM batch b
        WHERE NOT EXISTS (
          SELECT 1 FROM corpus c WHERE md5(c.text) = md5(b.text))""")),

    // ---- per-source boilerplate spans (NearDup.boilerplateSpans): the
    // CCNet/RefinedWeb template-stripping pass — a word 5-gram is
    // boilerplate for a source when it appears in > 1/2 of that source's
    // docs. The corpus is word soup with no organic templates, so headers
    // are INJECTED identically in both engines (v01/p01 trick), with three
    // controls: docs with doc_id % 3 != 0 get their source's header (df ≈
    // 2/3 > 1/2 → flagged), header length varies BY SOURCE (two span
    // shapes, so the hash pins positions, not just membership), and grams
    // straddling the header/text boundary carry a per-doc random first
    // text token (df ≈ 0 → the negative control that bounds span ends).
    // ----
    Q("t31_boilerplate_spans",
      (s, dir) => {
        val base = T(s, dir, "documents").select(col("doc_id"), col("source"),
          when(pmod(col("doc_id"), lit(3)) =!= 0,
            concat(lit("hdr-"), col("source"), lit(" "),
              expr("repeat('tos ', 4 + length(source) % 3)"), col("text")))
            .otherwise(col("text")).as("text"))
        graft.operators.NearDup.boilerplateSpans(base, minGram = 5,
          fracNum = 1, fracDen = 2)
      },
      Some("""WITH base AS (
          SELECT doc_id, source,
            CASE WHEN doc_id % 3 <> 0
              THEN 'hdr-' || source || ' ' ||
                   repeat('tos ', 4 + length(source) % 3) || text
              ELSE text END AS text
          FROM documents),
        t AS (SELECT doc_id, source, str_split(text, ' ') AS ws FROM base),
        g AS (SELECT doc_id, source, CAST(p AS BIGINT) AS pos,
            md5(array_to_string(ws[p + 1 : p + 5], ' ')) AS h
          FROM (SELECT doc_id, source, ws, unnest(range(0, len(ws) - 4)) AS p
                FROM t WHERE len(ws) >= 5)),
        nd AS (SELECT source, count(*) AS nd FROM base GROUP BY source),
        df AS (SELECT source, h, count(DISTINCT doc_id) AS df
               FROM g GROUP BY source, h),
        b AS (SELECT df.source, df.h FROM df JOIN nd USING (source)
              WHERE df.df * 2 > nd.nd * 1),
        f AS (SELECT g.doc_id, g.pos FROM g
              JOIN b ON g.source = b.source AND g.h = b.h),
        m AS (SELECT doc_id, pos, pos + 5 AS e,
            max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
          FROM f),
        sx AS (SELECT doc_id, pos, e,
            CASE WHEN prev_e IS NULL OR pos > prev_e THEN 1 ELSE 0 END AS ns
          FROM m),
        sp AS (SELECT doc_id, pos, e,
            SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS UNBOUNDED PRECEDING) - 1 AS span_id
          FROM sx)
        SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
          CAST(min(pos) AS BIGINT) AS start_tok,
          CAST(max(e) AS BIGINT) AS end_tok
        FROM sp GROUP BY doc_id, span_id""")),

    // ---- PII redaction (operators/Pii) on the hash gate via the v01
    // trick: the corpus has no PII, so BOTH engines append identical
    // deterministic PII (email + IPv4 + phone, all derived from doc_id),
    // run the SAME RE2-subset regex chain, and hash-compare the redacted
    // text plus the before/after counts — proving the redaction AND the
    // residual-PII = 0 pipeline gate cross-engine, not just in PiiSpec.
    // The oracle chain is generated from Pii.patterns, so the two sides
    // cannot drift. Phone injected last: its repetition tail would
    // otherwise swallow leading digits of a following token in both
    // engines, an ambiguity not worth gating on. ----
    Q("p01_pii_redact",
      (s, dir) => {
        import graft.operators.Pii
        val withPii = T(s, dir, "documents").select(col("doc_id"),
          concat_ws(" ", coalesce(col("text"), lit("")),
            concat(lit("u"), col("doc_id").cast("string"), lit("@ex.com")),
            concat(lit("10."), pmod(col("doc_id"), lit(200)).cast("string"),
              lit(".0."), pmod(col("doc_id"), lit(250)).cast("string")),
            concat(lit("+1 415 555 "),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
            .as("t"))
        withPii.select(col("doc_id"),
          Pii.redact(col("t")).as("text_redacted"),
          Pii.piiCount(col("t")).cast("long").as("pii_before"),
          Pii.piiCount(Pii.redact(col("t"))).cast("long").as("pii_after"))
      },
      Some {
        val chain = graft.operators.Pii.patterns.foldLeft("t") {
          case (acc, (re, tok)) => s"regexp_replace($acc, '$re', '$tok', 'g')"
        }
        def cnt(e: String) = graft.operators.Pii.patterns
          .map { case (re, _) => s"len(regexp_extract_all($e, '$re'))" }
          .mkString(" + ")
        s"""WITH src AS (SELECT doc_id,
            coalesce(text, '') ||
            ' u' || CAST(doc_id AS VARCHAR) || '@ex.com' ||
            ' 10.' || CAST(doc_id % 200 AS VARCHAR) ||
              '.0.' || CAST(doc_id % 250 AS VARCHAR) ||
            ' +1 415 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              AS t
          FROM documents)
          SELECT doc_id, $chain AS text_redacted,
            CAST(${cnt("t")} AS BIGINT) AS pii_before,
            CAST(${cnt(chain)} AS BIGINT) AS pii_after
          FROM src"""
      },
      bench = true),

    // ---- fuzzy decontamination (NearDup.crossMinHashPairs): the MinHash-
    // LSH twin of t17's exact n-gram overlap. t17 counts exact shared
    // 3-grams; this flags train docs whose word-3-gram SHINGLE SET is
    // near-identical to an eval doc's (shingle Jaccard >= 1/2 after LSH
    // banding) — the pass that catches paraphrased/renormalized benchmark
    // leakage. Shingles, not unigram tokens: on this corpus bag-of-words
    // Jaccard >= 0.5 matches 2/3 of ALL train×eval pairs (measured) while
    // shingle Jaccard isolates the handful of true near-dups — the same
    // discrimination argument that makes shingling the standard web-dedup
    // representation. The eval split is doc_id % 10 = 7 (a held-out
    // tenth); candidates come from 4 bands of 2 md5-seeded minhashes,
    // verification is the exact shingle-set Jaccard, and LSH recall is
    // deterministic so the oracle reproduces the flagged set bit-for-bit.
    // Scale shape: the corpus is scanned twice (signatures, verify
    // postings) and never self-joined; every eval-side operand is
    // broadcast — see the operator's scaladoc. ----
    Q("t32_fuzzy_decontam",
      (s, dir) => {
        val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
        graft.operators.NearDup.crossMinHashPairs(
          d.filter(pmod(col("doc_id"), lit(10)) =!= 7),
          d.filter(pmod(col("doc_id"), lit(10)) === 7))
      },
      Some {
        val mins = (1 to 8)
          .map(i => s"min(substr(md5('$i:' || tok), 1, 16)) AS h$i")
          .mkString(", ")
        val bands = (1 to 4)
          .map(i => s"h${2 * i - 1}||h${2 * i} AS b$i").mkString(", ")
        val bandJoins = (1 to 4).map { i =>
          s"""SELECT t.t_id, e.e_id FROM bT t JOIN bE e ON t.b$i = e.b$i"""
        }.mkString(" UNION ALL ")
        s"""WITH toks AS MATERIALIZED (SELECT DISTINCT doc_id,
              array_to_string(words[j:j+2], ' ') AS tok
            FROM (SELECT doc_id, string_split(text, ' ') AS words
                  FROM documents) w,
              LATERAL (SELECT unnest(range(1, greatest(len(words)-2, 0)+1))
                       AS j) r),
          ev AS MATERIALIZED (
            SELECT doc_id AS e_id, tok FROM toks WHERE doc_id % 10 = 7),
          tr AS MATERIALIZED (
            SELECT doc_id AS t_id, tok FROM toks WHERE doc_id % 10 <> 7),
          sigT AS (SELECT t_id, $mins FROM tr GROUP BY 1),
          sigE AS (SELECT e_id, $mins FROM ev GROUP BY 1),
          bT AS (SELECT t_id, $bands FROM sigT),
          bE AS (SELECT e_id, $bands FROM sigE),
          cand AS MATERIALIZED (
            SELECT DISTINCT t_id, e_id FROM ($bandJoins) u),
          tn AS (SELECT t_id, count(*) AS t_n FROM tr GROUP BY 1),
          en AS (SELECT e_id, count(*) AS e_n FROM ev GROUP BY 1),
          inter AS (SELECT c.t_id, c.e_id, count(*) AS i
            FROM cand c JOIN tr ON tr.t_id = c.t_id
            JOIN ev ON ev.e_id = c.e_id AND ev.tok = tr.tok
            GROUP BY 1, 2)
          SELECT inter.t_id AS train_id, inter.e_id AS eval_id,
            CAST(i AS DOUBLE)/CAST(t_n + e_n - i AS DOUBLE) AS jaccard
          FROM inter JOIN tn USING (t_id) JOIN en USING (e_id)
          WHERE CAST(i AS DOUBLE)/CAST(t_n + e_n - i AS DOUBLE) >= 0.5"""
      },
      bench = true),

    // ---- distributed BPE merge training (operators/Bpe): the tokenizer-
    // vocabulary step, three merge rounds oracle-proven cross-engine. Each
    // round's choice depends on the FULL corpus as rewritten by all prior
    // rounds, so a hash-matched merge table proves pair counting, the
    // deterministic argmax, AND the leftmost-nonoverlapping relational
    // merge (gaps-and-islands over sparse positions) end-to-end. The
    // oracle unrolls the identical three rounds in SQL. BpeSpec pins the
    // relational merge against a sequential greedy reference on overlap
    // chains (aaa), ties, and multichar-symbol rounds. ----
    Q("t33_bpe_train",
      (s, dir) => graft.operators.Bpe.train(
        T(s, dir, "documents").select(col("doc_id"), col("text")), rounds = 3),
      Some(sqlBpeTrain(3)),
      bench = true),

    // ---- BPE encoding (the apply half of t33): the corpus re-tokenized
    // under the 3-merge vocabulary, per-doc token counts + distinct-token
    // counts on the hash gate. The oracle reads the relational
    // formulation's FINAL corpus state (r3), so the gate proves the
    // kernel-applied rewrite of every word equals the gaps-and-islands
    // rewrite — over the whole corpus, not just the 3 merge-table rows
    // t33 compares. Gate-only (PERF.md rationale: its cost is t33's
    // training re-run plus one floor-dominated stats pass). ----
    Q("t34_bpe_encode",
      (s, dir) => graft.operators.Bpe.encodeStats(
        T(s, dir, "documents").select(col("doc_id"), col("text")), rounds = 3),
      Some(sqlBpeCtes(3) +
        """ SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(count(DISTINCT sym) AS BIGINT) AS n_unique_tokens
          FROM r3 GROUP BY doc_id""")),

    // ---- trained Naive Bayes language classifier + its confusion matrix
    // (LangModel.nbLangConfusion): the TRAINED counterpart of t02's
    // character heuristics. Laplace smoothing, quantized integer ln
    // scores (t24's trick — order-free exact sums), deterministic argmax
    // (ties to the first language). A green row proves training,
    // smoothing, scoring, argmax, AND evaluation agree cross-engine —
    // every cell of the matrix, not just accuracy. ----
    Q("t35_nb_langid",
      (s, dir) => graft.operators.LangModel.nbLangConfusion(
        T(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))),
      Some("""WITH toks AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        cnt AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
        v AS (SELECT count(DISTINCT tok) AS v FROM toks),
        nd AS (SELECT count(*) AS n FROM documents),
        priors AS (SELECT d.lang AS model_lang,
            CAST(floor(10000.0 * ln(CAST(d.c AS DOUBLE) / CAST(nd.n AS DOUBLE)))
              AS BIGINT) AS prior_q,
            CAST(floor(10000.0 * ln(1.0 / CAST(tot.t + v.v AS DOUBLE)))
              AS BIGINT) AS unseen_q
          FROM (SELECT lang, count(*) AS c FROM documents GROUP BY 1) d
          JOIN tot ON tot.lang = d.lang, v, nd),
        dict AS (SELECT cnt.lang AS model_lang, tok,
            CAST(floor(10000.0 * ln(CAST(cnt.c + 1 AS DOUBLE)
              / CAST(tot.t + v.v AS DOUBLE))) AS BIGINT) AS lp_q
          FROM cnt JOIN tot ON tot.lang = cnt.lang, v),
        rows_q AS (SELECT tk.doc_id, tk.lang AS true_lang, p.model_lang,
            p.prior_q, coalesce(dict.lp_q, p.unseen_q) AS q
          FROM toks tk CROSS JOIN priors p
          LEFT JOIN dict ON dict.model_lang = p.model_lang
            AND dict.tok = tk.tok),
        score AS (SELECT doc_id, true_lang, model_lang,
            prior_q + CAST(sum(q) AS BIGINT) AS score_q
          FROM rows_q GROUP BY 1, 2, 3, prior_q),
        best AS (SELECT doc_id, true_lang, model_lang AS predicted FROM (
            SELECT doc_id, true_lang, model_lang,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY score_q DESC, model_lang ASC) AS rn
            FROM score) x WHERE rn = 1)
        SELECT true_lang, predicted, CAST(count(*) AS BIGINT) AS n_docs
        FROM best GROUP BY 1, 2"""),
      bench = true)
  )

  /** DuckDB twin of [[graft.operators.Bpe.train]], `rounds` rounds
    * unrolled: per round, adjacency via lead over (doc, word) windows,
    * global pair argmax with lexicographic tie-break, overlap islands via
    * lag(nxt_pos), even offsets merge, anti-join removes consumed rows.
    * Multiply-consumed per-round CTEs are MATERIALIZED (see
    * sqlNearDupPairsFrom for why). */
  private def sqlBpeTrain(rounds: Int): String = {
    val out = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, a AS lhs, b AS rhs,
          a || b AS merged, c AS pair_count,
          (SELECT CAST(count(*) AS BIGINT) FROM r$r) AS n_rows_after
        FROM b$r"""
    }.mkString(" UNION ALL ")
    s"${sqlBpeCtes(rounds)} $out"
  }

  /** The WITH-clause of the BPE oracle — shared by t33 (merge table) and
    * t34 (final corpus state r`rounds`). */
  private def sqlBpeCtes(rounds: Int): String = {
    val head = """WITH r0 AS MATERIALIZED (
        SELECT doc_id, CAST(j - 1 AS BIGINT) AS word_idx,
          CAST(i - 1 AS BIGINT) AS pos,
          substr(word, CAST(i AS INTEGER), 1) AS sym
        FROM (SELECT doc_id, j, words[j] AS word
              FROM (SELECT doc_id, string_split(text, ' ') AS words
                    FROM documents) w,
                LATERAL (SELECT unnest(range(1, len(words) + 1)) AS j) jj) u,
          LATERAL (SELECT unnest(range(1, length(word) + 1)) AS i) ii
        WHERE length(word) >= 1)"""
    val roundCtes = (1 to rounds).map { r =>
      s""",
        p$r AS (SELECT doc_id, word_idx, pos, sym,
            lead(sym) OVER (PARTITION BY doc_id, word_idx ORDER BY pos) AS nxt,
            lead(pos) OVER (PARTITION BY doc_id, word_idx ORDER BY pos) AS nxt_pos
          FROM r${r - 1}),
        b$r AS MATERIALIZED (
          SELECT sym AS a, nxt AS b, CAST(count(*) AS BIGINT) AS c
          FROM p$r WHERE nxt IS NOT NULL GROUP BY 1, 2
          ORDER BY c DESC, a ASC, b ASC LIMIT 1),
        cand$r AS (SELECT p.doc_id, p.word_idx, p.pos, p.nxt_pos
          FROM p$r p JOIN b$r ON p.sym = b$r.a AND p.nxt = b$r.b),
        isl$r AS (SELECT doc_id, word_idx, pos, nxt_pos,
            sum(CASE WHEN prev_np IS NULL OR prev_np <> pos THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id, word_idx ORDER BY pos
                ROWS UNBOUNDED PRECEDING) AS isl
          FROM (SELECT doc_id, word_idx, pos, nxt_pos,
              lag(nxt_pos) OVER (PARTITION BY doc_id, word_idx ORDER BY pos)
                AS prev_np
            FROM cand$r) x),
        m$r AS MATERIALIZED (
          SELECT doc_id, word_idx, pos, nxt_pos FROM (
            SELECT doc_id, word_idx, pos, nxt_pos,
              row_number() OVER (PARTITION BY doc_id, word_idx, isl
                ORDER BY pos) - 1 AS off
            FROM isl$r) x WHERE off % 2 = 0),
        r$r AS MATERIALIZED (
          SELECT r.doc_id, r.word_idx, r.pos,
            CASE WHEN m.pos IS NOT NULL THEN (SELECT a || b FROM b$r)
                 ELSE r.sym END AS sym
          FROM r${r - 1} r
          LEFT JOIN m$r m ON r.doc_id = m.doc_id AND r.word_idx = m.word_idx
            AND r.pos = m.pos
          WHERE NOT EXISTS (SELECT 1 FROM m$r d
            WHERE d.doc_id = r.doc_id AND d.word_idx = r.word_idx
              AND d.nxt_pos = r.pos))"""
    }.mkString
    s"$head$roundCtes"
  }
}
