package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Optimizer rules for the custom [[AsofJoinNode]].
  *
  * Catalyst's own `PushDownPredicates` / `ColumnPruning` treat an unknown
  * logical node as an opaque barrier: every filter written after an as-of
  * join would otherwise run above it, and both scans would read every
  * column. These two rules teach the optimizer the operator's algebra so
  * the standard rewrites flow through it — predicates reach the parquet
  * scans' `PushedFilters` and unused payload columns drop out of
  * `ReadSchema`, exactly as they would for a built-in join. Injected by
  * `GraftExtensions.injectOptimizerRule` (inside the fixed-point operator
  * optimization batch, so the pushed pieces keep optimizing).
  */
object AsofFilterPushdown extends Rule[LogicalPlan] with PredicateHelper {

  /** Mirroring a key predicate to the right side is unsound for float keys:
    * 0.0 and -0.0 group together (match) yet a predicate like 1/k > 0 can
    * disagree between them. Integral/string/date keys have no such aliasing. */
  private def mirrorSafe(node: AsofJoinNode): Boolean =
    node.leftKeys.forall(k => k.dataType != DoubleType && k.dataType != FloatType)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, a: AsofJoinNode) =>
      // a predicate over left columns only commutes with the join: the
      // operator emits exactly one output row per left row, and the as-of
      // match of a left row is independent of the other left rows
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(a.left.outputSet))
      if (push.isEmpty) f
      else {
        // key-only predicates mirror to the right side too: any matched
        // right row carries key values grouping-equal to its left row's, so
        // a right row failing the predicate can only have matched left rows
        // that the left-side copy of the filter already removed
        val leftKeySet = AttributeSet(a.leftKeys)
        val byId = a.leftKeys.map(_.exprId).zip(a.rightKeys).toMap
        val mirrored =
          if (!mirrorSafe(a)) Nil
          else push.filter(_.references.subsetOf(leftKeySet)).map(_.transform {
            case attr: Attribute => byId.getOrElse(attr.exprId, attr)
          })
        val pushed = a.copy(
          left = Filter(push.reduce(And), a.left),
          right = mirrored.reduceOption(And).map(Filter(_, a.right)).getOrElse(a.right))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Column pruning through [[AsofJoinNode]]: a projection above the join
  * that ignores some payload columns narrows both children to (keys, time,
  * used payload), letting Catalyst's normal pruning carry the narrow
  * schema down to the scans. */
object AsofPayloadPruning extends Rule[LogicalPlan] {

  private def prune(needed: AttributeSet, a: AsofJoinNode): Option[AsofJoinNode] = {
    def childKeep(child: LogicalPlan, keys: Seq[Attribute], time: Attribute): Seq[Attribute] =
      child.output.filter(x => keys.exists(_.exprId == x.exprId) ||
        x.exprId == time.exprId || needed.contains(x))
    val lKeep = childKeep(a.left, a.leftKeys, a.leftTime)
    val rKeep = childKeep(a.right, a.rightKeys, a.rightTime)
    if (lKeep.length == a.left.output.length && rKeep.length == a.right.output.length) None
    else Some(a.copy(
      left = if (lKeep.length == a.left.output.length) a.left
             else Project(lKeep.map(x => x: NamedExpression), a.left),
      right = if (rKeep.length == a.right.output.length) a.right
              else Project(rKeep.map(x => x: NamedExpression), a.right)))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(exprs, a: AsofJoinNode) =>
      prune(AttributeSet(exprs.flatMap(_.references)), a)
        .map(n => p.copy(child = n)).getOrElse(p)
    case p @ Project(exprs, f @ Filter(cond, a: AsofJoinNode)) =>
      prune(AttributeSet(exprs.flatMap(_.references)) ++ cond.references, a)
        .map(n => p.copy(child = f.copy(child = n))).getOrElse(p)
  }
}
