package graft.operators

import scala.util.Random
import graft.SparkSpec

/** Property check: the capped + prefix-filtered + length-pruned candidate
  * pipeline must find EXACTLY the pairs a brute-force all-pairs Jaccard
  * finds — the filters may only discard pairs that provably cannot reach
  * the threshold. Random corpora with planted mutation families exercise
  * chains, cliques, and singletons; a plain-Scala oracle recomputes
  * everything from scratch. */
class NearDupSpec extends SparkSpec {

  private def grams(text: String, n: Int): Set[String] =
    if (text.length < n) Set.empty
    else (0 to text.length - n).map(i => text.substring(i, i + n)).toSet

  /** brute-force reference: same DF cap, all pairs, exact Jaccard */
  private def bruteForce(docs: Seq[(Long, String)], n: Int,
                         capNum: Int, capDen: Int,
                         tNum: Int, tDen: Int): Set[(Long, Long)] = {
    val gsets = docs.map { case (id, t) => id -> grams(t, n) }.toMap
    val df = gsets.values.flatten.groupBy(identity).map { case (g, v) => g -> v.size }
    val keep = df.filter { case (_, d) => d * capDen <= docs.size * capNum }.keySet
    val capped = gsets.map { case (id, gs) => id -> gs.intersect(keep) }
    val t = tNum.toDouble / tDen.toDouble
    (for {
      (a, ga) <- capped.toSeq
      (b, gb) <- capped.toSeq
      if a < b && ga.nonEmpty && gb.nonEmpty
      inter = ga.intersect(gb).size
      j = inter.toDouble / (ga.size + gb.size - inter).toDouble
      if j >= t
    } yield (a, b)).toSet
  }

  private def randomCorpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    val alpha = "abcd "
    def randText(len: Int): String =
      (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    // mutation families (near-dups at varying distances) + unrelated docs
    val base = randText(60)
    def mutate(s: String, k: Int): String = {
      val arr = s.toCharArray
      (1 to k).foreach(_ => arr(rnd.nextInt(arr.length)) = alpha(rnd.nextInt(alpha.length)))
      new String(arr)
    }
    val family = (0 until 6).map(i => (i.toLong, mutate(base, i))) // chainy family
    val singles = (10 until 25).map(i => (i.toLong, randText(20 + rnd.nextInt(40))))
    val tiny = Seq((30L, "ab"), (31L, ""))                         // < gramLen
    family ++ singles ++ tiny
  }

  test("jaccardPairs equals brute force on random mutation corpora") {
    import spark.implicits._
    for (seed <- Seq(1, 7, 42)) {
      val docs = randomCorpus(seed)
      val got = NearDup.jaccardPairs(docs.toDF("doc_id", "text"),
          gramLen = 4, capNum = 9, capDen = 10, tNum = 4, tDen = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = bruteForce(docs, 4, 9, 10, 4, 5)
      assert(got == want, s"seed=$seed: got ${got.size}, want ${want.size}")
      assert(want.nonEmpty, s"seed=$seed produced no positive pairs — weak fixture")
    }
  }

  test("jaccardPairs at a different threshold and gram length") {
    import spark.implicits._
    val docs = randomCorpus(99)
    val got = NearDup.jaccardPairs(docs.toDF("doc_id", "text"),
        gramLen = 3, capNum = 9, capDen = 10, tNum = 2, tDen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bruteForce(docs, 3, 9, 10, 2, 3)
    assert(got == want)
  }

  /** incremental brute-force reference: dictionary FROZEN on the old split,
    * gram sets over all docs against it, pairs restricted to >=1 new side */
  private def bruteForceIncremental(oldDocs: Seq[(Long, String)],
                                    newDocs: Seq[(Long, String)], n: Int,
                                    capNum: Int, capDen: Int,
                                    tNum: Int, tDen: Int): Set[(Long, Long)] = {
    val oldSets = oldDocs.map { case (id, t) => id -> grams(t, n) }.toMap
    val df = oldSets.values.flatten.groupBy(identity).map { case (g, v) => g -> v.size }
    val keep = df.filter { case (_, d) => d * capDen <= oldDocs.size * capNum }.keySet
    val all = (oldDocs ++ newDocs).map { case (id, t) => id -> grams(t, n).intersect(keep) }
    val newIds = newDocs.map(_._1).toSet
    val t = tNum.toDouble / tDen.toDouble
    (for {
      (a, ga) <- all
      (b, gb) <- all
      if a < b && (newIds(a) || newIds(b)) && ga.nonEmpty && gb.nonEmpty
      inter = ga.intersect(gb).size
      j = inter.toDouble / (ga.size + gb.size - inter).toDouble
      if j >= t
    } yield (a, b)).toSet
  }

  test("incrementalJaccardPairs: frozen dictionary, new-side-only pairs, equals brute force") {
    import spark.implicits._
    for (seed <- Seq(3, 42)) {
      val docs = randomCorpus(seed)
      val (oldD, newD) = docs.partition(_._1 % 3 != 0) // family straddles the split
      val got = NearDup.incrementalJaccardPairs(
          oldD.toDF("doc_id", "text"), newD.toDF("doc_id", "text"),
          gramLen = 4, capNum = 9, capDen = 10, tNum = 4, tDen = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = bruteForceIncremental(oldD, newD, 4, 9, 10, 4, 5)
      assert(got == want, s"seed=$seed: got ${got.size}, want ${want.size}")
      assert(want.nonEmpty, s"seed=$seed produced no pairs — weak fixture")
      // no old×old pair may appear even though both sides are near-dups
      val newIds = newD.map(_._1).toSet
      assert(got.forall { case (a, b) => newIds(a) || newIds(b) })
      // full-corpus pairs restricted to >=1 new side are a SUPERSET marker:
      // the incremental result must differ from full recompute exactly by
      // the frozen dictionary, which this corpus (old-dominated df) keeps
      // identical — so equality against the restriction of brute force
      // over the union dictionary would NOT hold in general; the frozen
      // reference above is the contract.
    }
    // empty new batch → empty result, no job blow-up
    val docs = randomCorpus(1)
    val none = NearDup.incrementalJaccardPairs(
      docs.toDF("doc_id", "text"),
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(none.collect().isEmpty)
  }

  test("repeatedSpans flags cross-doc repeats, merges overlaps, straddles chunk bounds") {
    import spark.implicits._
    // docs 1 & 2 share the 6-token phrase "one two three four five six"
    // starting at different offsets; doc 3 repeats a phrase INSIDE itself;
    // doc 4 is clean
    val docs = Seq(
      (1L, "a b one two three four five six c d"),
      (2L, "x one two three four five six y z w"),
      (3L, "p q r s t u v p q r s t u v"),
      (4L, "totally unique words nothing here repeats ever")
    ).toDF("doc_id", "text")
    val spans = NearDup.repeatedSpans(docs, minGram = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // 6 shared tokens at L=5 → two overlapping flags → ONE merged span
    // covering exactly the phrase; doc 3's repeat "p q r s t u v" (len 7)
    // flags positions 0..2 and 7..9 → two spans [0,7) and [7,14) touching
    // → merged to one full-doc span; doc 4 has none
    assert(spans == Set(
      (1L, 0L, 2L, 8L),
      (2L, 0L, 1L, 7L),
      (3L, 0L, 0L, 14L)))

    val cleaned = NearDup.stripRepeatedSpans(docs, minGram = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) == "a b c d")
    assert(cleaned(2L) == "x y z w")
    assert(cleaned(3L) == "")
    assert(cleaned(4L) == "totally unique words nothing here repeats ever")
  }

  test("incrementalJaccardPairs rebuilds when new files land in the corpus dir") {
    import spark.implicits._
    // the incremental API's use case: a later batch lands MORE FILES in the
    // same directory mid-session. A memo keyed on the logical plan alone
    // aliases the two data states (same dir → same semantic hash) and
    // serves the stale pair set; the file-inventory key must rebuild.
    val dirOld = java.nio.file.Files.createTempDirectory("inc_old").toString
    val dirNew = java.nio.file.Files.createTempDirectory("inc_new").toString
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    Seq((1L, t1), (2L, "completely unrelated content with different words entirely"))
      .toDF("doc_id", "text").write.mode("append").parquet(dirOld)
    Seq((10L, "nothing in common with anything else at all here"))
      .toDF("doc_id", "text").write.mode("append").parquet(dirNew)
    // capDen = 1: the tiny corpus would otherwise DF-cap away every gram
    val r1 = graft.operators.NearDup.incrementalJaccardPairs(
        spark.read.parquet(dirOld), spark.read.parquet(dirNew),
        capNum = 1, capDen = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!r1.contains((1L, 11L)))
    // batch 2: a near-dup of doc 1 arrives as a NEW FILE in the same dir
    Seq((11L, t1)).toDF("doc_id", "text").write.mode("append").parquet(dirNew)
    val newDf2 = spark.read.parquet(dirNew)
    // the alias the memo must NOT fall for: same plan semantics, more data
    assert(newDf2.queryExecution.logical.semanticHash() ==
      spark.read.parquet(dirNew).queryExecution.logical.semanticHash())
    val r2 = graft.operators.NearDup.incrementalJaccardPairs(
        spark.read.parquet(dirOld), newDf2, capNum = 1, capDen = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(r2.contains((1L, 11L)), s"stale memo served pre-batch pairs: $r2")

    // slot eviction: further batches must not pin one docSets cache each —
    // the persistent-RDD census stays flat as batches keep arriving
    r2 // materialized above
    val before = spark.sparkContext.getPersistentRDDs.size
    for (i <- 20L to 23L) {
      Seq((i, s"filler text number $i with its own words"))
        .toDF("doc_id", "text").write.mode("append").parquet(dirNew)
      graft.operators.NearDup.incrementalJaccardPairs(
        spark.read.parquet(dirOld), spark.read.parquet(dirNew),
        capNum = 1, capDen = 1).count()
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"superseded docSets caches leaked: $before -> $after persistent RDDs")
  }

  test("boilerplateSpans: per-source df fraction, boundary at exactly half, short docs count") {
    import spark.implicits._
    val hdr = "HDR legal terms apply here now" // 6 tokens → span [0, 6)
    val docs = Seq(
      // source A: header in 3 of 5 docs (df 3, nd 5: 3*2 > 5 → boilerplate)
      (1L, s"$hdr u1 v1 w1 x1 y1", "A"),
      (2L, s"$hdr u2 v2 w2 x2 y2", "A"),
      (3L, s"$hdr u3 v3 w3 x3 y3", "A"),
      (4L, "clean words only nothing shared at all", "A"),
      (5L, "tiny doc", "A"), // < 5 tokens: no grams, but counts in nd
      // source B: the SAME header text, but in 1 of 2 docs — df*2 = nd,
      // strictly-greater fails → per-source isolation + boundary control
      (11L, s"$hdr m1 m2 m3 m4 m5", "B"),
      (12L, "different things entirely here bb cc dd ee ff gg", "B")
    ).toDF("doc_id", "text", "source")
    val spans = NearDup.boilerplateSpans(docs, minGram = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // straddling grams (header tail + per-doc unique token) have df 1 and
    // must NOT extend the span past the header
    assert(spans == Set((1L, 0L, 0L, 6L), (2L, 0L, 0L, 6L), (3L, 0L, 0L, 6L)))
  }

  /** plain-Scala reference for [[NearDup.crossMinHashPairs]]: same word
    * 3-gram shingle sets, same md5 minhash components (lexicographic min
    * of the 16-hex prefix), same banding, same exact shingle-set Jaccard
    * verification. */
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def bruteForceCross(train: Seq[(Long, String)],
                              evalSet: Seq[(Long, String)],
                              numHashes: Int, bandSize: Int,
                              tNum: Int, tDen: Int): Set[(Long, Long, Double)] = {
    def tokSet(t: String): Set[String] = {
      val ws = t.split(" ")
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    def sig(toks: Set[String]): Seq[String] =
      (1 to numHashes).map(seed => toks.map(tok => md5hex(s"$seed:$tok").substring(0, 16)).min)
    def bands(s: Seq[String]): Seq[String] =
      s.grouped(bandSize).map(_.mkString).toSeq
    val tS = train.map { case (id, t) => (id, tokSet(t)) }.filter(_._2.nonEmpty)
    val eS = evalSet.map { case (id, t) => (id, tokSet(t)) }.filter(_._2.nonEmpty)
    val thr = tNum.toDouble / tDen.toDouble
    (for {
      (tId, tt) <- tS
      (eId, et) <- eS
      if bands(sig(tt)).zip(bands(sig(et))).exists { case (a, b) => a == b }
      inter = tt.intersect(et).size
      j = inter.toDouble / (tt.size + et.size - inter).toDouble
      if j >= thr
    } yield (tId, eId, j)).toSet
  }

  test("crossMinHashPairs equals the banded brute force; identical docs always flagged") {
    import spark.implicits._
    val rnd = new Random(5)
    val vocab = (1 to 40).map(i => s"w$i")
    def randDoc(len: Int): String =
      (1 to len).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    def paraphrase(t: String, swaps: Int): String = {
      val arr = t.split(" ")
      (1 to swaps).foreach(_ => arr(rnd.nextInt(arr.length)) = vocab(rnd.nextInt(vocab.length)))
      arr.mkString(" ")
    }
    val evalDocs = (0 until 6).map(i => (100L + i, randDoc(25)))
    val train =
      evalDocs.take(2).map { case (id, t) => (id - 100, t) } ++            // verbatim leaks
      evalDocs.slice(2, 4).map { case (id, t) => (id - 98, paraphrase(t, 2)) } ++ // light paraphrase
      (10 until 25).map(i => (i.toLong, randDoc(20)))                      // clean
    val got = NearDup.crossMinHashPairs(
        train.toDF("doc_id", "text"), evalDocs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = bruteForceCross(train, evalDocs, numHashes = 8, bandSize = 2,
      tNum = 1, tDen = 2)
    assert(got == want)
    // a verbatim leak has identical token sets -> identical signatures ->
    // shares every band -> MUST be flagged with jaccard exactly 1.0
    assert(Set((0L, 100L, 1.0), (1L, 101L, 1.0)).subsetOf(got))
    assert(want.size > 2, "paraphrased leaks should also survive — weak fixture")
  }

  test("crossMinHashPairs: empty eval side yields no pairs") {
    import spark.implicits._
    val train = Seq((1L, "a b c")).toDF("doc_id", "text")
    val evalSet = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(NearDup.crossMinHashPairs(train, evalSet).count() === 0L)
  }

  test("selfMinHashPairs equals the banded brute force within one corpus") {
    import spark.implicits._
    val rnd = new Random(11)
    val vocab = (1 to 40).map(i => s"w$i")
    def randDoc(len: Int): String =
      (1 to len).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    def paraphrase(t: String, swaps: Int): String = {
      val arr = t.split(" ")
      (1 to swaps).foreach(_ =>
        arr(rnd.nextInt(arr.length)) = vocab(rnd.nextInt(vocab.length)))
      arr.mkString(" ")
    }
    val bases = (0 until 5).map(i => (i.toLong, randDoc(25)))
    val corpus = bases ++
      bases.take(2).map { case (id, t) => (id + 100, t) } ++           // verbatim dups
      bases.slice(2, 4).map { case (id, t) => (id + 100, paraphrase(t, 2)) } ++
      (10 until 30).map(i => (i.toLong, randDoc(20))) :+
      (50L, "ab")                                                      // gram-less
    // brute-force reference: pair is a candidate iff ANY band matches
    def tokSet(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    def sig(toks: Set[String]): Seq[String] =
      (1 to 8).map(seed =>
        toks.map(tok => md5hex(s"$seed:$tok").substring(0, 16)).min)
    val withSets = corpus.map { case (id, t) => (id, tokSet(t)) }
      .filter(_._2.nonEmpty)
    val want = (for {
      (a, as) <- withSets; (b, bs) <- withSets
      if a < b
      if sig(as).grouped(2).map(_.mkString).toSeq
        .zip(sig(bs).grouped(2).map(_.mkString).toSeq)
        .exists { case (x, y) => x == y }
    } yield (a, b)).toSet
    val got = NearDup.selfMinHashPairs(corpus.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // verbatim duplicates share every band -> always candidates
    assert(Set((0L, 100L), (1L, 101L)).subsetOf(got))
    assert(want.size >= 3, "paraphrased dups should also pair — weak fixture")
  }

  test("selfMinHashPairs: lazy rung == checkpointed rung (r16 size ladder)") {
    import spark.implicits._
    // a small corpus takes the CHECKPOINTED rung by default (far under the
    // doc-count cap); sigCheckpointCap = 0 forces the lazy signature pass
    // on the same docs — the candidate pair sets must match
    val rnd = new Random(29)
    val vocab = (1 to 30).map(i => s"w$i")
    def randDoc(len: Int): String =
      (1 to len).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    def swap(t: String): String = {
      val arr = t.split(" ")
      arr(rnd.nextInt(arr.length)) = vocab(rnd.nextInt(vocab.length))
      arr.mkString(" ")
    }
    val bases = (0 until 8).map(i => (i.toLong, randDoc(20)))
    val docs = (bases ++
      bases.take(3).map { case (id, t) => (id + 100, t) } ++
      bases.slice(3, 6).map { case (id, t) => (id + 200, swap(t)) } ++
      Seq((300L, "ab"))).toDF("doc_id", "text")
    def pairs(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ckpt = pairs(NearDup.selfMinHashPairs(docs))
    val lazyRung = pairs(NearDup.selfMinHashPairs(docs, sigCheckpointCap = 0L))
    assert(ckpt.size >= 3, "fixture produced too few candidates — weak test")
    assert(lazyRung == ckpt, s"rungs diverged: $lazyRung vs $ckpt")
  }
}
