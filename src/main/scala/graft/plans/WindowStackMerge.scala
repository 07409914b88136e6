package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Expression, ExprId, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Merges STACKED window nodes separated by a projection when they share
  * the same partition and order — the shape a chain of
  * `.withColumn(c, f.over(w))` calls produces once
  * [[WindowVarianceDecompose]] has wrapped each decomposed node in its
  * formula `Project`. Spark's own `CollapseWindow` merges only DIRECTLY
  * adjacent `Window` nodes, so the interposed projections freeze the
  * stack: q_fact_regr_dist planned as SIX stacked
  * [[DistributedWindowExec]]s.
  *
  * Why that matters (guide §1.2 — fix the distributed algorithm first):
  * every `DistributedWindowExec` runs a pass-1 stats JOB over its child
  * RDD and then streams pass 2 — and the child RDD is the whole upstream
  * chain, recomputed per job. N stacked execs therefore execute the
  * scan+sort N+1 times and the window emit work quadratically (exec k's
  * pass-1 re-runs execs 1..k−1's pass 2). Merged into ONE node, the plan
  * pays one range exchange, one sort, one pass-1 job and one pass-2
  * stream for ALL the window expressions — the exec has evaluated mixed
  * frame families on one node since r11 (q_fact_rolling_dist's 14
  * columns), so the merged node is a shape it already handles.
  *
  * The transpose is semantics-free: the moved window expressions are
  * evaluated over the same rows under the same partition spec and order
  * spec — bit-identical frames — and the projection moves ABOVE the
  * merged node with the upper window columns appended, so the subtree's
  * output attributes (ids, names, order) are unchanged. Window-function
  * INPUTS that the analyzer extracted into the intermediate projection
  * (`_w0 = cast(x as double)` / the decompose rule's recovered decimal
  * columns) are moved BELOW the merged window (same exprIds — the
  * intermediate projection keeps them as pass-throughs), legal because
  * their definitions reference only the lower window's child.
  *
  * Guards:
  *  - node-level partition/order specs equal (`==`, as CollapseWindow
  *    compares them), hints equal;
  *  - every moved expression deterministic (CollapseWindow's own rule:
  *    reordering a non-deterministic evaluation is observable);
  *  - every upper-window reference either resolves against the lower
  *    child's output or has a movable definition in the intermediate
  *    projection — references to the lower window's outputs have neither,
  *    so a dependent stack is left alone;
  *  - ROUTING COMPATIBILITY: both logical `Window` nodes must agree on
  *    [[DistributedRankRewrite.supported]] over all their expressions.
  *    Without this, merging a routable node with a declining one would
  *    demote the routable half to the single-task WindowExec — the exact
  *    regression the operator exists to prevent. (For the
  *    [[DistributedWindow]] patterns both nodes are already routed, so
  *    no check is needed.)
  *
  * Termination: every rewrite strictly reduces the window-node count, so
  * the optimizer's fixpoint cannot loop. Catalyst's `CollapseProject` is
  * registered beside this rule (the extra-optimizations batch does not
  * include it) so the projection chains the decompose rule leaves
  * between windows compose into the single-`Project` shape this rule
  * matches; stacks that [[DistributedRankRewrite]] converts on an
  * earlier fixpoint iteration are caught by the [[DistributedWindow]]
  * patterns on the next.
  *
  * To restore the stacked plan, exclude the rule by name:
  * `spark.sql.optimizer.excludedRules=graft.plans.WindowStackMerge`.
  */
object WindowStackMerge extends Rule[LogicalPlan] {

  /** The merge decision + rebuild shared by the logical-`Window` and
    * [[DistributedWindow]] patterns. Returns the replacement plan, or
    * None when any guard fails.
    *
    * @param we1  upper node's window expressions (to move down)
    * @param pl   intermediate projection list
    * @param we2  lower node's window expressions
    * @param c2   lower node's child
    * @param rebuild (mergedExprs, newChild) => merged window node
    */
  private def merge(we1: Seq[NamedExpression], pl: Seq[NamedExpression],
                    we2: Seq[NamedExpression], c2: LogicalPlan,
                    rebuild: (Seq[NamedExpression], LogicalPlan) => LogicalPlan)
      : Option[LogicalPlan] = {
    if (!(pl ++ we1 ++ we2).forall(_.deterministic)) return None
    val needed = AttributeSet(we1.flatMap(_.references))
    val defs: Map[ExprId, Alias] =
      pl.collect { case a: Alias => a.exprId -> a }.toMap
    // every reference must resolve below the merged window: either it is
    // already a lower-child output, or its projection-computed definition
    // can move there (definition references only lower-child outputs)
    val moved = scala.collection.mutable.LinkedHashMap.empty[ExprId, Alias]
    val ok = needed.forall { a =>
      c2.outputSet.contains(a) || {
        defs.get(a.exprId) match {
          case Some(d) if d.child.references.subsetOf(c2.outputSet) =>
            moved.getOrElseUpdate(d.exprId, d); true
          case _ => false
        }
      }
    }
    if (!ok) return None
    val newC2 =
      if (moved.isEmpty) c2
      else Project(c2.output ++ moved.values, c2)
    val merged = rebuild(we2 ++ we1, newC2)
    // moved definitions become pass-throughs (same exprIds, now computed
    // below the window); the upper node's window columns are appended so
    // the subtree's output set and order are exactly the original's
    val newPl = pl.map {
      case a: Alias if moved.contains(a.exprId) => a.toAttribute
      case o => o
    } ++ we1.map(_.toAttribute)
    Some(Project(newPl, merged))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      // Window over Project over Window, same spec — the decompose shape
      case w1 @ Window(we1, ps1, os1,
            Project(pl, Window(we2, ps2, os2, gc, hint2)), hint1)
          if ps1 == ps2 && os1 == os2 && hint1 == hint2 &&
            we1.forall(DistributedRankRewrite.supported) ==
              we2.forall(DistributedRankRewrite.supported) =>
        merge(we1, pl, we2, gc,
          (es, c) => Window(es, ps2, os2, c, hint2)).getOrElse(w1)
      // Same shape after DistributedRankRewrite has already converted the
      // nodes (a stack only partially merged when the conversion fired on
      // an earlier fixpoint iteration) — both nodes routed, so the merge
      // cannot change the route
      case dw1 @ DistributedWindow(we1, g1, o1,
            Project(pl, DistributedWindow(we2, g2, o2, gc)))
          if g1 == g2 && o1 == o2 =>
        merge(we1, pl, we2, gc,
          (es, c) => DistributedWindow(es, g2, o2, c)).getOrElse(dw1)
      // Directly adjacent converted nodes (CollapseWindow cannot see them)
      case dw1 @ DistributedWindow(we1, g1, o1,
            DistributedWindow(we2, g2, o2, gc))
          if g1 == g2 && o1 == o2 =>
        merge(we1, Seq.empty, we2, gc,
          (es, c) => DistributedWindow(es, g2, o2, c)) match {
          case Some(Project(_, m)) => m // empty pl ⇒ the Project is a noop
          case _ => dw1
        }
    }
}
