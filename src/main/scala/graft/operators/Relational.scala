package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's recurring relational verbs as reusable DataFrame
  * combinators (SURVEY.md §2 / §7.1.2). Each is declarative — a lazy plan
  * fragment Catalyst can push down, prune, and reorder — rather than the
  * reference's eager pandas steps.
  */
object Relational {

  /** Year-to-month running total (W1). The reference sorts then cumsums per
    * group in 9 different jobs (reference: jobs/raw_to_staging.py:172-178,
    * 311-318, 420-427, 535-542, 806-815, 893-900; jobs/staging_cal.py:275-279).
    * Expressed as a window running sum: one shuffle on the partition keys,
    * no global sort. Deterministic when `orderCol` is unique per partition
    * (month within year always is).
    */
  def ytm(df: DataFrame, partitionCols: Seq[String], orderCol: String,
          amountCol: String, as: String = "ytm_amount"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as, sum(col(amountCol)).over(w))
  }

  /** Share-of-group (W2): each row's fraction of its group total. The
    * reference computes `transform('sum')` then divides (reference:
    * jobs/source_to_raw/fem_ratio.py:16-19, fem_ratio_solar.py:21-24;
    * Model/Factory_elect_simulator_update.py:309-312). A whole-partition
    * window sum avoids a join back onto the detail rows.
    */
  def shareOfGroup(df: DataFrame, partitionCols: Seq[String],
                   valueCol: String, as: String = "ratio"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
    df.withColumn(as,
      when(sum(col(valueCol)).over(w) =!= lit(0),
        col(valueCol).cast("double") / sum(col(valueCol)).over(w).cast("double")))
  }

  /** Manual rollup via union (A9): aggregate at detail grain, re-aggregate at
    * a coarser grain with the collapsed key replaced by the literal "ALL", and
    * union — exactly the reference's `cal_bo_site` / `cal_site` idiom
    * (reference: jobs/raw_to_staging.py:14-59,61-86;
    * jobs/renew_green_energy.py:305-317).
    *
    * Kept as union-of-aggregates (not `rollup()`) to reproduce the reference's
    * exact row set — it collapses only the listed column, not every prefix.
    * Both branches share one scan; Catalyst reuses the exchange under AQE.
    *
    * @param detailKeys  grouping keys kept at both grains
    * @param allKey      the key collapsed to "ALL" in the rollup branch
    * @param aggs        aggregate columns (must be re-aggregable: sum/count/min/max)
    */
  def allRollup(df: DataFrame, detailKeys: Seq[String], allKey: String,
                aggs: Seq[Column]): DataFrame = {
    val detail = df.groupBy((detailKeys :+ allKey).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val rolled = df.groupBy(detailKeys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(allKey, lit("ALL"))
    detail.unionByName(rolled.select(detail.columns.toIndexedSeq.map(col): _*))
  }

  /** Broadcast dictionary decode (§2.8): recode a label column through a small
    * map with a default for unmapped values. The reference uses
    * `replace({col: dict})` (reference: jobs/raw_to_staging.py:136;
    * jobs/csr_etl.py:84-86; jobs/wzsesgi_etl.py:40-44). A literal map keeps the
    * expression inside codegen — no join, no UDF.
    */
  def decode(c: Column, mapping: Map[String, String], default: Column): Column =
    mapping.foldLeft(when(lit(false), lit(null: String))) {
      case (acc, (k, v)) => acc.when(c === lit(k), lit(v))
    }.otherwise(default)

  /** Anti-join zero-fill (J6): keys present in `previous` but absent from
    * `current` are synthesized as zero-amount rows (the reference's fix_raw
    * repair, reference: jobs/fix_data.py:65-70,137-142 — computed there as a
    * Python set difference + row loop). `left_anti` keeps it distributed.
    */
  def antiJoinZeroFill(current: DataFrame, previous: DataFrame,
                       keys: Seq[String], zeroCols: Seq[String]): DataFrame = {
    val missing = previous.join(current, keys, "left_anti")
    zeroCols.foldLeft(missing)((d, c) => d.withColumn(c, lit(0.0)))
  }

  /** Latest-validated-version selection (S11/W5): the reference runs scalar
    * `MAX(version)` subqueries per table (reference: jobs/raw_to_staging.py:697,
    * 755; jobs/fix_data.py:366; Model/Factory_elect_simulator_update.py:316-319).
    * Expressed as a row_number window over descending version + tiebreakers:
    * one shuffle, no second scan of the table.
    */
  def latest(df: DataFrame, partitionCols: Seq[String],
             orderDesc: Seq[String]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderDesc.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** As-of join (point-in-time lookup): for every left row, attach the
    * single most recent right row with `rightTime <= leftTime` (inclusive)
    * within the same key group — pandas `merge_asof` / DuckDB `ASOF JOIN`
    * semantics, which Spark has no built-in operator for.
    *
    * Implemented as the union+window trick rather than the naive
    * `join(l.t >= r.t)` + argmax: the naive form materializes one row per
    * (left, earlier-right) PAIR — quadratic per key — while this plan is one
    * unionByName (no shuffle), one window over (keys, time) — a single
    * shuffle on the keys, linear in |left| + |right|, skew-bounded by key
    * cardinality. `last(_, ignoreNulls)` over the running frame carries the
    * latest right payload forward onto each left row.
    *
    * Determinism: right rows at identical (keys, time) are ordered by
    * `rightTiebreak` and the last one wins; pre-dedup the right side (or pass
    * a unique tiebreak) for a stable result. Payload column names must be
    * disjoint between the two sides (rename before calling).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String,
               rightTiebreak: Seq[String] = Nil): DataFrame =
    asofCore(left, right, keys, leftTime, rightTime, rightTiebreak,
      forward = false)

  /** Forward as-of join: every left row picks the EARLIEST right row with
    * equal keys and right time >= left time (pandas merge_asof
    * direction='forward') — "the next event after", e.g. the first click
    * following an impression. Same single-shuffle union+window shape as the
    * backward form, with the window order reversed. */
  def asofJoinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTime: String, rightTime: String,
                      rightTiebreak: Seq[String] = Nil): DataFrame =
    asofCore(left, right, keys, leftTime, rightTime, rightTiebreak,
      forward = true)

  private def asofCore(left: DataFrame, right: DataFrame, keys: Seq[String],
                       leftTime: String, rightTime: String,
                       rightTiebreak: Seq[String],
                       forward: Boolean): DataFrame = {
    val lPayload = left.columns.toIndexedSeq.filterNot(keys.contains)
    val rPayload = right.columns.toIndexedSeq.filterNot(keys.contains)
    require(lPayload.intersect(rPayload).isEmpty,
      s"asofJoin payload columns must be disjoint: ${lPayload.intersect(rPayload)}")
    def nullAs(src: DataFrame, c: String): Column =
      lit(null).cast(src.schema(c).dataType).as(c)
    val l2 = left.select(
      keys.map(col) ++ Seq(col(leftTime).as("__t"), lit(1).as("__side")) ++
        lPayload.map(col) ++ rPayload.map(nullAs(right, _)): _*)
    // a null right time can never match (same contract as the native
    // AsofJoinExec) — drop those rows before the union so window order
    // placement cannot resurrect them
    val r2 = right.filter(col(rightTime).isNotNull).select(
      keys.map(col) ++ Seq(col(rightTime).as("__t"), lit(0).as("__side")) ++
        lPayload.map(nullAs(left, _)) ++ rPayload.map(col): _*)
    // right rows sort before left rows at equal time => inclusive match in
    // both directions; forward scans time DESCENDING so `last` picks the
    // minimum right time >= left time
    val tOrd = if (forward) col("__t").desc else col("__t").asc
    val ord = Seq(tOrd, col("__side").asc) ++ rightTiebreak.map(col(_).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = rPayload.foldLeft(l2.unionByName(r2)) { (d, c) =>
      // a null LEFT time matches nothing either; mask instead of filter so
      // the left row itself still survives with null payload
      d.withColumn(c,
        when(col("__t").isNull, lit(null))
          .otherwise(last(col(c), ignoreNulls = true).over(w)))
    }
    filled.filter(col("__side") === 1)
      .select((keys ++ lPayload ++ rPayload).map(col): _*)
  }

  /** Broadcast as-of join — the third as-of form, for the price-attach /
    * rate-attach shape where the right side is dimension-sized history
    * (prices, FX rates, config versions) and the left side is the fact
    * stream. Both other forms shuffle the LEFT side (the union+window form
    * once at combined width, the native exec once at its own width); at the
    * design point that side is the 100 TB one, so when the right side fits
    * a broadcast, the correct plan shuffles NEITHER: the right side packs
    * into one time-sorted array per key, broadcasts, and each left row
    * binary-searches its key's history in place
    * ([[graft.functions.TimeExpressions.AsofPickSorted]], codegen'd) —
    * a map-only operator over the fact stream, O(log h) per row.
    *
    * Same semantics as [[asofJoin]]: latest right row with equal keys and
    * right time <= left time; null left/right times match nothing; null
    * KEYS group together and can match (the join uses null-safe equality,
    * matching the window form's grouping semantics); rows tied on
    * (keys, time) resolve by payload order — pre-dedup the right side for
    * a stable pick. Output = keys ++ left payload ++ right payload.
    *
    * The packed right side must fit a broadcast: per-key history arrays,
    * ~|right| total entries. That is the operator's contract, not a tuning
    * choice — for a big right side use [[graft.plans.AsofJoin]] (measured
    * fastest when both sides are large) or [[asofJoin]].
    */
  def asofJoinBroadcast(left: DataFrame, right: DataFrame, keys: Seq[String],
                        leftTime: String, rightTime: String): DataFrame = {
    val lPayload = left.columns.toIndexedSeq.filterNot(keys.contains)
    val rPayload = right.columns.toIndexedSeq.filterNot(keys.contains)
    require(lPayload.intersect(rPayload).isEmpty,
      s"asofJoinBroadcast payload columns must be disjoint: ${lPayload.intersect(rPayload)}")
    import org.apache.spark.sql.types._
    def checkTime(df: DataFrame, c: String): Unit = {
      val ok = df.schema(c).dataType match {
        case TimestampType | TimestampNTZType | DateType | LongType | IntegerType => true
        case _ => false
      }
      require(ok, s"as-of time column $c must be an integral/date/timestamp " +
        s"type, got ${df.schema(c).dataType.simpleString}")
    }
    checkTime(left, leftTime); checkTime(right, rightTime)
    require(left.schema(leftTime).dataType == right.schema(rightTime).dataType,
      s"as-of time columns must share a type: ${left.schema(leftTime).dataType
        .simpleString} vs ${right.schema(rightTime).dataType.simpleString}")
    // pack: one (time, payload) array per key, sorted ascending by time
    // (struct sort is lexicographic and __t is the first field — which also
    // makes the equal-timestamp pick deterministic, but requires every
    // payload type to be orderable; asofJoinAuto routes map-typed payloads
    // to the native exec instead); null right times can never match, so
    // they are dropped before the collect — which also upholds
    // AsofPickSorted's non-null-__t contract
    val pk = keys.indices.map(i => s"__k$i")
    val packed = right.filter(col(rightTime).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(rightTime).as("__t"),
        struct(rPayload.map(col): _*).as("__p")))).as("__arr"))
      .select(keys.zip(pk).map { case (k, a) => col(k).as(a) } :+ col("__arr"): _*)
    // null-safe key equality = the window form's "null keys group together"
    val cond = keys.zip(pk).map { case (k, a) => col(k) <=> col(a) }
      .reduce(_ && _)
    left.join(broadcast(packed), cond, "left")
      .withColumn("__pick", graft.functions.TimeExpressions
        .asofPickSorted(col("__arr"), col(leftTime)))
      .select(keys.map(col) ++ lPayload.map(col) ++
        rPayload.map(c => col(s"__pick.$c").as(c)): _*)
  }

  /** Stats-driven as-of dispatch, the measured strategy choice (PERF.md
    * "Why these plans survive 100 TB", as-of sweep):
    *
    *  - right side under `broadcastThreshold` (estimated from the optimized
    *    plan, default = the session's autoBroadcastJoinThreshold) →
    *    [[asofJoinBroadcast]]: zero shuffle of the fact side, the dominant
    *    win whenever it applies;
    *  - otherwise → the native sorted-merge exec [[graft.plans.AsofJoin]],
    *    which beat the union+window form at EVERY measured (rows × payload
    *    width) cell once the payload is actually consumed — narrow per-side
    *    shuffles beat one padded-width shuffle from 40 k rows up, and the
    *    margin grows with scale (1.7–1.8× at 4 M rows);
    *  - a `rightTiebreak` forces the composed [[asofJoin]] — tie-ordering
    *    by arbitrary columns only exists there.
    */
  def asofJoinAuto(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTime: String, rightTime: String,
                   rightTiebreak: Seq[String] = Nil,
                   // the conf accepts byte-suffixed size strings ("10MB",
                   // "10m") as well as plain numbers — parse, never .toLong
                   broadcastThreshold: Long =
                     org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                       SparkSession.active.conf
                         .get("spark.sql.autoBroadcastJoinThreshold", "10485760")))
      : DataFrame =
    if (rightTiebreak.nonEmpty)
      asofJoin(left, right, keys, leftTime, rightTime, rightTiebreak)
    else {
      val rBytes = right.queryExecution.optimizedPlan.stats.sizeInBytes
      // the broadcast form's per-key time-sort orders struct(__t, payload)
      // lexicographically (deterministic tie-break), which requires every
      // right payload type to be ORDERABLE — a map-typed payload would fail
      // analysis there while the native exec handles it fine
      val rOrderable = right.schema.fields
        .filter(f => f.name != rightTime && !keys.contains(f.name))
        .forall(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(f.dataType))
      if (rBytes <= broadcastThreshold && rOrderable)
        asofJoinBroadcast(left, right, keys, leftTime, rightTime)
      else graft.plans.AsofJoin.asof(left, right, keys, leftTime, rightTime)
    }

  /** Complete a (keys × month) grid: every key combination gets a row for
    * EVERY month between the frame's min and max period, missing cells
    * zero-filled — the closed form of the reference's month-at-a-time
    * loops and anti-join zero-fills (reference: jobs/staging_to_app.py:
    * 1062-1091 12-month loop; jobs/fix_data.py:65-70 missing-site
    * synthesis). Spine and key set both derive from the input; the spine
    * is a broadcast-sized sequence and the completion is one left join, so
    * the plan is key-partitioned with no driver loop.
    *
    * @param fillCols numeric columns to zero-fill on synthesized rows */
  def completeMonthGrid(df: DataFrame, keyCols: Seq[String], periodCol: String,
                        fillCols: Seq[String]): DataFrame = {
    // normalize periods to month start so differently-aligned dates can
    // never silently miss the spine join (a mid-month row lands in its
    // month's cell instead of vanishing); null-key rows are excluded BY
    // CONTRACT — a grid needs real keys, and the engine follows the
    // pandas groupby convention for null group keys throughout.
    // Callers with an expensive upstream should persist df first: the
    // bounds agg, the key-set distinct, and the join each re-read it.
    val aligned = df
      .withColumn(periodCol, trunc(col(periodCol), "MM"))
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
    val bounds = aligned.agg(
      min(col(periodCol)).as("__mn"), max(col(periodCol)).as("__mx"))
    val spine = bounds.select(explode(
      expr(s"sequence(__mn, __mx, interval 1 month)")).as(periodCol))
    aligned.select(keyCols.map(col): _*).distinct()
      .crossJoin(broadcast(spine))
      .join(aligned, keyCols :+ periodCol, "left")
      .na.fill(0L, fillCols) // fills nulls in ALL numeric fillCols, doubles included
  }

  /** Clip at zero (§2.8): the reference's `apply(lambda x: 0 if x<0 else x)`
    * (reference: jobs/renew_green_energy.py:45-46;
    * Model/RE_purpose_optimizer.py:178-179) — as a codegen'd builtin. */
  def clipNonNeg(c: Column): Column = greatest(c, lit(0.0))

  /** Month-start date from year+month parts (§2.8): the reference
    * string-concatenates `year+'-'+month+'-01'` then parses
    * (reference: jobs/raw_to_staging.py:165-168; jobs/csr_etl.py:94). */
  def monthStart(year: Column, month: Column): Column =
    make_date(year, month, lit(1))
}
