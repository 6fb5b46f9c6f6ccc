package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.GraftSqlShims

/** Native as-of join — the whole-operator extension tier (custom
  * `LogicalPlan` + `SparkStrategy` + physical `SparkPlan`), used where the
  * composed form ([[graft.operators.Relational.asofJoin]]'s union+window)
  * is semantically right but carries avoidable weight: the union pads every
  * row to the combined schema and the window runs `last(_, ignoreNulls)`
  * state per payload column, while this operator co-partitions the two
  * inputs on the keys, sorts each side once, and streams a single merge
  * pass per partition — zero extra columns, zero window state, the plan a
  * purpose-built engine would pick.
  *
  * Semantics (= DuckDB `ASOF LEFT JOIN`, pandas `merge_asof`): every left
  * row picks the LATEST right row with equal keys and right time ≤ left
  * time; unmatched left rows keep nulls. Right rows with equal (keys, time)
  * are resolved by last-in-sort-order — pre-dedup the right side for a
  * stable pick, same caveat as the composed form. A null left time matches
  * nothing; null right times match nothing. Null KEYS group together and
  * can match each other (grouping semantics, like the composed window form
  * and pandas merge_asof) — unlike a SQL equi-join predicate, which would
  * drop them; filter null keys first if SQL semantics are needed.
  *
  * Scale: one hash shuffle per side (same cost as any shuffled join), sort
  * within partitions, then a streaming merge — state is ONE buffered right
  * row per partition, independent of key group size, so no skew blow-up
  * beyond the shuffle itself (AQE's skew handling still applies to the
  * exchanges). Self-joins of the same plan instance are not supported
  * (duplicate expression ids); alias one side first.
  */
case class AsofJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute) extends BinaryNode {

  /** left columns, then right payload (right cols minus its join keys),
    * nullable because unmatched left rows null-fill them. */
  override def output: Seq[Attribute] =
    left.output ++ right.output
      .filterNot(a => rightKeys.exists(_.exprId == a.exprId))
      .map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinNode]] as [[AsofJoinExec]]; injected by
  * [[graft.GraftExtensions]]. */
class AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lk, rk, lt, rt) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

/** Sorted streaming merge: both children hash-clustered on the join keys
  * and sorted by (keys, time); each partition advances the right iterator
  * at most once per right row, keeping only the current best candidate. */
case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute) extends BinaryExecNode {

  private def rightPayload: Seq[Attribute] =
    right.output.filterNot(a => rightKeys.exists(_.exprId == a.exprId))

  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  /** rows stay sorted by (keys, leftTime) — downstream sorts can reuse it */
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  /** output rows keep the left child's key clustering (zipPartitions is
    * partition-preserving) — without this, a downstream groupBy/join on the
    * same keys would re-shuffle what is already co-partitioned */
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val payload = rightPayload
    val leftOutput = left.output
    val rightOutput = right.output
    val outAttrs = output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTime
    val rTimeB = rightTime

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeysB.map(_.asInstanceOf[Expression]), leftOutput)
      val rKeyProj = UnsafeProjection.create(rKeysB.map(_.asInstanceOf[Expression]), rightOutput)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val lTime = BindReferences.bindReference(lTimeB.asInstanceOf[Expression], leftOutput)
      val rTime = BindReferences.bindReference(rTimeB.asInstanceOf[Expression], rightOutput)
      val rPayloadProj = UnsafeProjection.create(payload.map(_.asInstanceOf[Expression]), rightOutput)
      // bind the output projection against a NULLABLE view of the payload:
      // unmatched left rows substitute an all-null row, and a non-nullable
      // binding would read raw zeros instead of the null bits
      val outProj = UnsafeProjection.create(outAttrs.map(_.asInstanceOf[Expression]),
        leftOutput ++ payload.map(_.withNullability(true)))
      val nullRight = InternalRow.fromSeq(Seq.fill(payload.length)(null))
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rHas = false
        private var rKey: UnsafeRow = _
        private var rTimeVal: java.lang.Long = _
        private var rPay: UnsafeRow = _
        private var candKey: UnsafeRow = _
        private var candPay: UnsafeRow = _

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            val r = rIter.next()
            rKey = rKeyProj(r).copy()
            val t = rTime.eval(r)
            rTimeVal = if (t == null) null else t.asInstanceOf[Number].longValue()
            rPay = rPayloadProj(r).copy()
            rHas = true
          } else rHas = false

        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l)
          // candidate belongs to a previous key group -> reset
          if (candKey != null && keyOrd.compare(candKey, lk) != 0) {
            candKey = null; candPay = null
          }
          // discard right rows before this key group, and null-time rows
          // inside it (nulls sort first; they can never match)
          while (rHas && (keyOrd.compare(rKey, lk) < 0 ||
              (keyOrd.compare(rKey, lk) == 0 && rTimeVal == null)))
            advanceRight()
          val t = lTime.eval(l)
          if (t != null) {
            val lt = t.asInstanceOf[Number].longValue()
            // consume all right rows in this key group with time <= lt;
            // the last one consumed is the as-of match
            while (rHas && keyOrd.compare(rKey, lk) == 0 && rTimeVal <= lt) {
              candKey = rKey; candPay = rPay
              advanceRight()
            }
          }
          val matched = t != null && candKey != null
          outProj(if (matched) joined(l, candPay) else joined(l, nullRight))
        }
      }
    }
  }
}

/** Public API for the native operator. */
object AsofJoin {

  /** As-of join `left` to `right` on equal `keys` with the latest
    * `right.rightTime <= left.leftTime`; output = left columns ++ right
    * payload (nullable). Payload names must be disjoint from left's. */
  def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTime: String, rightTime: String): DataFrame = {
    val spark = left.sparkSession
    // re-alias both sides so the node's captured attribute ids are fresh
    // aliases: when the two inputs share lineage (e.g. both filtered from
    // one frame), the analyzer's relation deduplication rewrites ids INSIDE
    // each subtree, and these stable alias ids keep the node consistent
    import org.apache.spark.sql.functions.col
    def fresh(df: DataFrame): DataFrame =
      df.select(df.columns.toIndexedSeq.map(c => col(c).as(c)): _*)
    val lPlan = GraftSqlShims.analyzed(fresh(left))
    val rPlan = GraftSqlShims.analyzed(fresh(right))
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in [${p.output.map(_.name).mkString(",")}]"))
    // the exec compares times as exact longs; reject types that would
    // silently truncate (double) or crash in the merge loop (decimal/string)
    import org.apache.spark.sql.types._
    def checkTime(a: Attribute): Attribute = {
      val ok = a.dataType match {
        case TimestampType | TimestampNTZType | DateType => true
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
      require(ok, s"as-of time column ${a.name} must be an integral/" +
        s"timestamp type, got ${a.dataType.simpleString}")
      a
    }
    val lPay = lPlan.output.map(_.name).filterNot(keys.contains)
    val rPay = rPlan.output.map(_.name).filterNot(keys.contains)
    require(lPay.intersect(rPay).isEmpty,
      s"asof payload columns must be disjoint: ${lPay.intersect(rPay).mkString(",")}")
    val node = AsofJoinNode(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      checkTime(attr(lPlan, leftTime)), checkTime(attr(rPlan, rightTime)))
    GraftSqlShims.ofRows(spark, node)
  }
}
