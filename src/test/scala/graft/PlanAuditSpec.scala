package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** Plan-shape assertions: column pruning and predicate pushdown must reach
  * the parquet scans (the properties PERF.md claims — asserted here so a
  * regression fails the suite, not just the eyeball audit via graft.Explain). */
class PlanAuditSpec extends SparkSpec {

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }

  test("t13 stratified sample reads only (doc_id, lang) — text pruned") {
    val df = SparkEntry.queries("t13_stratified_sample")(spark, sfSmoke)
    val cols = scans(df).flatMap(_.requiredSchema.fieldNames).toSet
    assert(cols == Set("doc_id", "lang"), s"scan read $cols")
  }

  test("t25 mixture sampling flattens the mixture and prunes the text column") {
    val df = SparkEntry.queries("t25_mixture_sample")(spark, sfSmoke)
    // the corpus scan feeds only (doc_id, lang) — never the text payload
    val cols = scans(df).flatMap(_.requiredSchema.fieldNames).toSet
    assert(cols == Set("doc_id", "lang"), s"scan read $cols")
    // temperature α=0.5 ⇒ keep-rate ∝ 1/√n: strictly anti-monotone in
    // language size. rate_q is deterministic (integer arithmetic over
    // counts), so assert on it directly, not on hash-noisy realized counts.
    val docs = spark.read.parquet(s"$sfSmoke/documents.parquet")
    val n = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = df.select("lang", "rate_q").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for {
      (la, ra) <- rates; (lb, rb) <- rates
      if n(la) < n(lb)
    } assert(ra >= rb, s"smaller lang $la rate $ra < larger $lb rate $rb")
    // budget holds roughly (md5-bucket noise only): ~N/2 docs survive
    val kept = df.count().toDouble
    val total = docs.count().toDouble
    assert(kept > 0.25 * total && kept < 0.9 * total,
      s"budget off: kept $kept of $total")
  }

  test("t26 weighted sample pushes the top-k to WindowGroupLimit and biases to weight") {
    val df = SparkEntry.queries("t26_weighted_sample")(spark, sfSmoke)
    // map-side per-group limit: the shuffle carries O(k·sources), not the corpus
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$plan")
    // A-ES property on the fixed corpus: selection ∝ n_chars, so the
    // sample's mean weight exceeds the corpus mean (deterministic here —
    // the md5 priorities are data, not RNG)
    val docs = spark.read.parquet(s"$sfSmoke/documents.parquet")
    val sampleMean = df.join(docs, "doc_id")
      .agg(org.apache.spark.sql.functions.avg("n_chars")).head().getDouble(0)
    val corpusMean = docs.agg(org.apache.spark.sql.functions.avg("n_chars")).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"no weight bias: sample $sampleMean vs corpus $corpusMean")
  }

  test("t12 keeps the broadcast df dictionary and the pushed group-limit") {
    // the two plan properties t12's cost depends on (round-9 profile of
    // the r06->r08 0.75->1.10 s drift: both intact, warm passes span
    // 0.72-1.05 s in ONE session, so the drift was co-tenant noise —
    // pinned here so a real regression fails the suite, not a bench diff)
    val df = SparkEntry.queries("t12_tfidf_topk")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"df dictionary no longer broadcast:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"top-k no longer pushed to WindowGroupLimit:\n$plan")
  }

  test("q57 salted join spreads the hot key over (key, salt) reducers") {
    // force the shuffle-join regime (salting exists for dims too big to
    // broadcast; at gate scale the 51-row dim would auto-broadcast and
    // make the audit vacuous), then pin the physical shape: the fact
    // exchange hashes on (hot_key, __salt) — a 90%-hot key spreads over
    // saltFactor reducers instead of one — the dim side replicates via a
    // broadcast salt range, and nothing funnels through SinglePartition.
    withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = SparkEntry.queries("q57_salted_join")(spark, sfSmoke)
      val plan = df.queryExecution.executedPlan.toString
      val saltedExchange =
        "Exchange hashpartitioning\\(hot_key#\\d+L?, __salt#\\d+".r
      assert(saltedExchange.findFirstIn(plan).isDefined,
        s"fact side not partitioned on (key, salt):\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastExchange"),
        s"salt range not broadcast to the dim side:\n$plan")
      assert(!plan.contains("SinglePartition"),
        s"salted join still has a single-reducer stage:\n$plan")
      // row parity with the plain unsalted join on the same inputs
      val li = spark.read.parquet(s"$sfSmoke/lineitem.parquet")
      import org.apache.spark.sql.functions._
      val fact = li.select(col("l_orderkey"), col("l_linenumber"),
        when(pmod(col("l_orderkey"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("l_partkey"), lit(50)) + 1L).as("hot_key"))
      val plain = fact.join(
        fact.select(col("hot_key")).distinct()
          .select(col("hot_key"), (col("hot_key") * 1000L + 7L).as("dim_val")),
        Seq("hot_key"))
      assert(df.count() == plain.count())
    }
  }

  test("q03 pushes filter predicates into the parquet scan") {
    val df = SparkEntry.queries("q03_filter_predicates")(spark, sfSmoke)
    val pushed = scans(df).flatMap(_.metadata.get("PushedFilters")).mkString
    assert(pushed.nonEmpty && pushed != "[]", s"no pushed filters: $pushed")
  }

  test("t05 exact dedup reads only (doc_id, text)") {
    val df = SparkEntry.queries("t05_dedup_exact")(spark, sfSmoke)
    val cols = scans(df).flatMap(_.requiredSchema.fieldNames).toSet
    assert(cols == Set("doc_id", "text"), s"scan read $cols")
  }

  test("q35 histogram quantile has no global sort (bucketed, not sorted)") {
    val df = SparkEntry.queries("q35_histogram_quantile")(spark, sfSmoke)
    // exchanges are inserted by EnsureRequirements: audit the executed plan.
    // Window sorts over the tiny per-flag bucket tables are fine; what must
    // NOT appear is the rangepartitioning exchange of a global sort over the
    // raw rows, which is what an exact quantile would need.
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), s"global sort in plan:\n$plan")
    assert(plan.contains("hashpartitioning"), s"expected hash shuffle:\n$plan")
    // scan is pruned to the two columns the sketch needs
    val cols = scans(df).flatMap(_.requiredSchema.fieldNames).toSet
    assert(cols == Set("l_returnflag", "l_extendedprice"), s"scan read $cols")
  }

  test("q12 top-n rank filter pushes down to WindowGroupLimit") {
    // rank().over(w) <= n must become a per-partition bounded group limit
    // (partial map-side + final), so at scale each task keeps a k-row heap
    // per group instead of sorting and shuffling every row of the group —
    // Spark's InferWindowGroupLimit does this as long as the filter sits
    // directly on the rank column; this test fails if a refactor breaks
    // that pattern.
    val df = SparkEntry.queries("q12_rank_topn")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$plan")
  }

  test("q39 bucketed range join plans as a hash join, never a nested loop") {
    // the whole point of the bucket expansion: a pure interval predicate
    // would force BroadcastNestedLoopJoin (every row × every interval);
    // the month-bucket equi-key turns it into a hash join
    val df = SparkEntry.queries("q39_range_bucket_join")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"nested-loop join leaked:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected hash join on bucket:\n$plan")
  }

  test("t21 chunk dedup reads only (doc_id, text) and has no global sort") {
    val df = SparkEntry.queries("t21_chunk_dedup")(spark, sfSmoke)
    val cols = scans(df).flatMap(_.requiredSchema.fieldNames).toSet
    assert(cols == Set("doc_id", "text"), s"scan read $cols")
    // reassembly sorts inside each doc's collected list, not globally
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), s"global sort in plan:\n$plan")
  }

  test("small dims auto-broadcast from file-size stats, no hint needed") {
    // the queries hint broadcast() explicitly for clarity, but the hints
    // are not load-bearing: Catalyst's size estimation broadcasts a small
    // parquet dim on its own, so an unhinted user query gets the same plan
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sfSmoke/lineitem.parquet")
    val n = spark.read.parquet(s"$sfSmoke/nation.parquet")
    val j = li.join(n, col("l_suppkey") % 25 === col("n_nationkey"))
      .groupBy(col("n_name")).count()
    val plan = j.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim not auto-broadcast:\n$plan")
  }

  test("s07 k-means assignment pass is map-only over the scan") {
    val df = SparkEntry.queries("s07_kmeans_train")(spark, sfSmoke)
    // the returned frame is the final assignment: literal centroids mean
    // its executed plan is scan -> project, with no exchange at all
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"assignment should be map-only:\n$plan")
  }

  test("e03 keep-first dedup is a partial-aggregable min, never a window sort") {
    // keep-first == min(struct(ts, event_id)) per group: the aggregate
    // combines map-side (shuffle ∝ groups, not rows) and nothing sorts.
    // Pin both properties so a refactor back to row_number can't slip in.
    val df = SparkEntry.queries("e03_dedup_first")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"no map-side combine in:\n$plan")
    assert(!plan.contains("Window") && !plan.toLowerCase.contains("sortexec"),
      s"window/sort reappeared in:\n$plan")
  }

  test("t24 bigram LM never cross-joins and keeps partial aggregation") {
    val df = SparkEntry.queries("t24_bigram_lm_score")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"dictionary lookup degenerated:\n$plan")
    // bigram/prefix counts must combine map-side before their shuffles
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"no partial aggregation in:\n$plan")
    val cols = scans(df).flatMap(_.requiredSchema.fieldNames).toSet
    assert(cols == Set("doc_id", "text"), s"scan read $cols")
  }

  test("t24 scoring join: dict broadcasts when bounded, corpus NEVER broadcasts") {
    // The round-10 sf10 finding: static estimates priced the exploded
    // CORPUS side under the broadcast threshold (dense text compresses
    // ~10×) and built 27.5 M rows as the broadcast hash relation — a 16 s
    // single-threaded stage locally, a driver OOM on a cluster. The
    // operator now decides the join side from the MATERIALIZED
    // dictionary's row count. Branch 1 (vocabulary-bounded dictionary,
    // the default): the dictionary is the explicit broadcast side and the
    // corpus side feeds the probe directly — no exchange of corpus rows.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    val df = SparkEntry.queries("t24_bigram_lm_score")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bounded dictionary did not broadcast:\n$plan")
    // the broadcast build must be the dictionary (its subtree carries the
    // c12/c1 aggregate), never the doc_id-bearing corpus side
    val bcast = plan.split("BroadcastExchange").drop(1)
    assert(bcast.forall(s => !s.take(400).contains("doc_id")),
      s"corpus side reached a broadcast build:\n$plan")
  }

  test("t24 unbounded-dictionary branch degrades to the AQE shuffle join") {
    // Branch 2 (the 100 TB natural-text regime: the dictionary outgrows
    // maxBroadcastTypes): the scoring join must be a dictionary-side-build
    // shuffle join — zipf-hot stop-word prefixes delegated to AQE's skew
    // split — and never a broadcast of either unbounded side.
    val docs = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select("doc_id", "text")
    val df = graft.operators.LangModel.bigramScores(docs, maxBroadcastTypes = 0L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AdaptiveSparkPlan"), s"t24 not under AQE:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a shuffle join for the dictionary lookup:\n$plan")
    // the scoring result must match the broadcast branch exactly
    val a = df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = graft.operators.LangModel.bigramScores(docs)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b, "shuffle and broadcast branches diverged")
  }

  test("t35 scoring join: dict broadcasts when bounded, corpus NEVER broadcasts") {
    // Same hazard class as t24's round-10 finding: the scoring join's
    // build side must be decided from the MATERIALIZED vocab×L
    // dictionary's row count, never by static estimates or a forced
    // hint. Branch 1 (bounded dictionary, the default): the dictionary
    // broadcasts; no broadcast build may contain the doc_id-bearing
    // token stream.
    val df = SparkEntry.queries("t35_nb_langid")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bounded dictionary did not broadcast:\n$plan")
    val bcast = plan.split("BroadcastExchange").drop(1)
    assert(bcast.forall(s => !s.take(400).contains("doc_id")),
      s"corpus side reached a broadcast build:\n$plan")
  }

  test("t35 unbounded-dictionary branch degrades to the AQE shuffle join") {
    // Branch 2 (corpus-scale vocab×L, the 100 TB regime): the scoring
    // join must be a dictionary-side-build shuffle join — the corpus is
    // never driver-collected — and the confusion matrix must match the
    // broadcast branch cell for cell.
    val docs = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select("doc_id", "lang", "text")
    val df = graft.operators.LangModel.nbLangConfusion(docs, maxBroadcastTypes = 0L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AdaptiveSparkPlan"), s"t35 not under AQE:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a shuffle join for the dictionary lookup:\n$plan")
    val bcast = plan.split("BroadcastExchange").drop(1)
    assert(bcast.forall(s => !s.take(400).contains("doc_id")),
      s"corpus side reached a broadcast build:\n$plan")
    val key = Seq("true_lang", "predicted")
    val a = df.orderBy(key.head, key.tail: _*).collect().map(_.toSeq).toSeq
    val b = graft.operators.LangModel.nbLangConfusion(docs)
      .orderBy(key.head, key.tail: _*).collect().map(_.toSeq).toSeq
    assert(a == b, "shuffle and broadcast branches diverged")
  }

  test("s11 pair stage: block-split shuffled-hash join, never sort-merge") {
    // the round-11 ceiling fix's plan shape: the within-cluster pair join
    // must shuffle on (cluster, ib, jb) — k·B² populated reducer keys,
    // not k — and must be a HASH join (static estimates on the Generate
    // subtrees otherwise pick sort-merge, measured ~3.5× per pair on the
    // buffered tiles). A regression to either the bare cluster key or
    // SMJ silently reinstates the 197–220 s sf10 shape.
    val df = SparkEntry.queries("s11_semdedup")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"pair join is not a shuffled hash join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"sort-merge reappeared in the pair stage:\n$plan")
    val shj = plan.split("ShuffledHashJoin").drop(1).head.take(120)
    assert(shj.contains("ib") && shj.contains("jb"),
      s"pair join keys lost the block split:\n$shj")
  }

  test("s09 PQ ADC scan is join-free: LUT is a literal, codes-only read") {
    val df = SparkEntry.queries("s09_pq_adc")(spark, sfSmoke)
    // after the driver-side train/encode setup, the SCORING plan itself
    // must be projection-only over (vec_id, embedding->codes): no join,
    // no shuffle — that is the property that makes the scan affordable
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"ADC scan must not join:\n$plan")
    assert(!plan.contains("Exchange"), s"ADC scan must not shuffle:\n$plan")
  }

  test("t06/t29 near-dup plans have no single-partition stage") {
    // the rarity-dictionary rank goes through Scale.globalRowNumber (range
    // partition + zipWithIndex) and the corpus count is a driver-side
    // scalar, so NOTHING in the near-dup family funnels the dictionary —
    // tens-to-hundreds of millions of grams at the design point — through
    // one reducer. This pins the round-6 verdict's one weak plan fixed.
    for (name <- Seq("t06_ngram_jaccard", "t29_incremental_neardup")) {
      val df = SparkEntry.queries(name)(spark, sfSmoke)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"),
        s"$name has a single-reducer stage:\n$plan")
    }
  }

  test("t30/t31 round-7 additions have no single-partition stage") {
    // t30: the returned plan is filter-union + a candidates-only anti-join
    // (the one-row bloom aggs are eager and outside it); t31: the df
    // dictionary is per-(source, gram) and the span window is per-doc —
    // neither may funnel the corpus through one reducer
    for (name <- Seq("t30_bloom_incremental_dedup", "t31_boilerplate_spans")) {
      val df = SparkEntry.queries(name)(spark, sfSmoke)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"),
        s"$name has a single-reducer stage:\n$plan")
    }
  }

  test("e10 broadcast as-of never shuffles the fact side") {
    // the broadcast form's whole point: only the click-history side pays
    // exchanges (its latest-window + the per-key packing groupBy); the
    // purchase side flows scan -> filter -> broadcast join -> project. A
    // regression to a shuffled join would both drop the BroadcastHashJoin
    // and add fact-side exchanges.
    val df = SparkEntry.queries("e10_asof_broadcast")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"not a broadcast join:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2,
      s"expected only the 2 history-side shuffles, got $shuffles:\n$plan")
    assert(!plan.contains("SinglePartition") && !plan.contains("rangepartitioning"),
      s"unexpected global stage:\n$plan")
  }

  test("q46 SCD2 merge is one shuffle join between slice and snapshot") {
    val df = SparkEntry.queries("q46_scd2_merge")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"SCD merge degenerated:\n$plan")
    // exactly one join in the merge (the full-outer key join); the unions
    // around it are exchange-free
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findAllIn(plan).size
    assert(joins == 1, s"expected exactly 1 join, got $joins:\n$plan")
  }

  test("t32/s11 round-8 additions have no single-partition stage or cartesian") {
    // t32: signatures are one partial-aggregable groupBy per side,
    // candidates one band equi-join, verification candidate-bounded;
    // s11: the pair work shuffles on cluster id (k partitions — k scales
    // with the corpus at the design point, so keys are plentiful; the
    // k-means centroid collect is the documented bounded k*dim pull).
    // Neither may funnel the corpus through one reducer or cross-join.
    // (q55 is exempt BY DESIGN: everything after the two TakeOrdered
    // sketches operates on <= 64-row frames — the same bounded-input
    // exemption q45's window documents.)
    for (name <- Seq("t32_fuzzy_decontam", "s11_semdedup")) {
      val df = SparkEntry.queries(name)(spark, sfSmoke)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"),
        s"$name has a single-reducer stage:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
        s"$name degenerated to a cross join:\n$plan")
    }
  }

  test("s13 frozen-centroid assignment is literal-embedded, never a join") {
    // the incremental-ingest shape's scale contract: the frozen centroids
    // reach the plan as LITERAL arrays inside the nearest-centroid kernel
    // (a map-only pass), and since r15 the quantized member frame is
    // checkpointed ONCE (the members id-join runs at construction, not
    // once per pair-join side), so the executed plan carries exactly ONE
    // join — the cluster-keyed pair join over the materialized member
    // scans — and none funnels through one reducer or degenerates to a
    // cross join. A second join would mean either the centroid frame or
    // the members frame started shuffling against the corpus again,
    // which is the regression this pin exists to catch. (The pre-r15 pin
    // expected 3 joins; c4f0b28 changed the shape without re-pinning —
    // caught and fixed r16.)
    val df = SparkEntry.queries("s13_semdedup_frozen")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"s13 has a single-reducer stage:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"s13 degenerated to a cross join:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"s13 pair join no longer reads the materialized member frame:\n$plan")
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllMatchIn(plan).size
    assert(joins == 1,
      s"expected 1 join (pairs over the checkpointed members), got $joins:\n$plan")
  }

  test("t33 merge application is map-only; e11 funnel never cross-joins") {
    // BPE's merge pass must stay a pure projection over the scan (the
    // kernel rewrite) — any Exchange would mean the corpus shuffled to
    // apply a merge; the round's ONLY shuffle belongs to the pair count.
    val ws = graft.operators.Bpe.wordSyms(
      spark.read.parquet(s"$sfSmoke/documents.parquet"))
    val (next, _) = graft.operators.Bpe.mergeRound(ws).get
    val mergePlan = next.queryExecution.executedPlan.toString
    assert(!mergePlan.contains("Exchange"),
      s"BPE merge application shuffles:\n$mergePlan")
    // e11: strictly-ordered funnel joins are user_id equi-joins between
    // per-stage aggregates — never raw events x events, never a cartesian
    val df = SparkEntry.queries("e11_funnel")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"funnel degenerated:\n$plan")
  }

  test("v02 frame sampling is exchange-free: scan -> project -> explode") {
    // frames never shuffle — the whole query is a columnar projection over
    // the payload scan; any Exchange would mean payload bytes moved
    val df = SparkEntry.queries("v02_frame_sample")(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"v02 shuffles payload bytes:\n$plan")
  }

  test("q58 bucketed join co-locates: fact-fact join without an exchange") {
    // the standing co-location gate (round-9 ask #3): q25's shape over
    // Scale.writeBucketed tables. The runner itself asserts the join
    // subplan exchange-free at RUN time on every surface. This pin forces
    // the non-broadcast path (at smoke scale the planner would broadcast
    // the orders side, which is exchange-free trivially and proves
    // nothing about bucketing) and asserts the full aggregate plan
    // carries exactly ONE exchange — the ~5-group partial agg rows —
    // i.e. neither fact table's rows ever move
    withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = SparkEntry.queries("q58_bucketed_join")(spark, sfSmoke)
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"expected exactly the final-agg exchange, got $exchanges:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"q58 lost its co-located join:\n$plan")
      // and its output equals the raw-shuffle q25 on the same surface
      val raw = SparkEntry.queries("q25_interval_join")(spark, sfSmoke)
        .orderBy("o_orderpriority").collect().map(_.toSeq).toSeq
      val buck = df.orderBy("o_orderpriority").collect().map(_.toSeq).toSeq
      assert(raw == buck, "bucketed output drifted from the raw plan")
    }
  }

  test("q56 triangle plan: hash wedge join, broadcast closing probe, shuffle-hash fallback") {
    // the round-13 q56 treatment, pinned on the pre-checkpoint frame
    // (the public method returns a checkpoint scan that hides the shape):
    // (1) the wedge self-join is a shuffled-hash join — sort-merge's
    //     buffered per-key iteration measured 3× the task time on 41M
    //     wedges at sf10 (96 → 32 s);
    // (2) below the edge cap the closing probe is a BroadcastHashJoin
    //     LeftSemi, so the O(|E|^1.5) wedge flow never crosses an
    //     exchange — generated, probed, exploded, and partially
    //     aggregated in one stage;
    // (3) above the cap the probe degrades to shuffled-hash (build the
    //     |E| side, never sort the wedge side) — still no sort-merge.
    import spark.implicits._
    val edges = (for { a <- 0L to 19L; b <- 0L to 19L if a < b }
      yield (a, b)).toDF("a", "b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nE = edges.count()
    val graph = graft.operators.Graph
    val (bcastFrame, c1) = graph.triangleCountsFrame(edges, nE, Long.MaxValue)
    val bplan = bcastFrame.queryExecution.executedPlan.toString
    assert(bplan.contains("ShuffledHashJoin"),
      s"wedge join is not shuffled-hash:\n$bplan")
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(bplan).isDefined,
      s"closing probe is not a broadcast semi join:\n$bplan")
    assert(!bplan.contains("SortMergeJoin"),
      s"sort-merge reappeared in the triangle plan:\n$bplan")
    val (shufFrame, c2) = graph.triangleCountsFrame(edges, nE, 0L)
    val splan = shufFrame.queryExecution.executedPlan.toString
    assert("ShuffledHashJoin.*LeftSemi".r.findFirstIn(splan).isDefined,
      s"over-cap closing probe is not shuffled-hash:\n$splan")
    assert(!splan.contains("SortMergeJoin"),
      s"sort-merge reappeared in the over-cap plan:\n$splan")
    // (4) above the wedge-work gate the self-join input gets its own
    //     REPARTITION_BY_NUM exchange on src (the semdedup tile-spread
    //     shape AQE never coalesces) — forced here via spreadGate = 0,
    //     unreachable at test scale under the real 1e8 gate
    val (spreadFrame, c3) = graph.triangleCountsFrame(edges, nE,
      Long.MaxValue, spreadGate = 0L)
    val pplan = spreadFrame.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(src#\\d+L, \\d+\\), REPARTITION_BY_NUM"
        .r.findFirstIn(pplan).isDefined,
      s"forced spread did not add the src repartition exchange:\n$pplan")
    (edges +: (c1 ++ c2 ++ c3)).foreach(_.unpersist())
  }
}
