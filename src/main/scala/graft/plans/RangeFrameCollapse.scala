package graft.plans

import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeMap, AttributeReference, Cast, Coalesce, EqualNullSafe, Expression, Literal, NamedExpression, SortOrder, SpecifiedWindowFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LeafNode, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.RangeFrame
import org.apache.spark.sql.types.LongType

/** Collapses a literal-offset RANGE-frame aggregate window — the
  * `sum(total) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT
  * ROW)` rolling-time-window shape — into the scale-correct three-step
  * plan: per-order-value pre-aggregation (a map-side-combinable groupBy
  * over (partition keys, order value)), the SAME window replayed over
  * the collapsed per-value table, and an equi-join back to the fact rows.
  *
  * Why: a RANGE frame's extent depends only on the ORDER VALUE, and all
  * peers share one frame, so any frame is a union of whole peer runs —
  * sum/count/min/max compose exactly over per-run partials. The
  * distributed window operator deliberately declines literal-offset
  * RANGE frames (the boundary a frame reaches back to is value- not
  * row-bounded, so partition chaining cannot budget it), which left the
  * single-task WindowExec as the only plan for the single most common
  * fact-scale time window. Collapsed, the window runs over |distinct
  * order values| rows (days, for the time-window shape) — WindowExec
  * there is cheap AND safe — while the fact-scale work is one partial
  * aggregation and one broadcast-size join.
  *
  * Equivalence was pinned by OBSERVED WindowExec behavior on edge
  * fixtures (RangeFrameCollapseSpec compares against the native plan on
  * NULL order runs and empty frames): a NULL-order row's offset frame is
  * exactly its own null peer run regardless of bounds (the collapsed
  * null row sees
  * exactly itself under the replayed spec — same engine, same rule);
  * empty both-PRECEDING frames yield sum/min/max NULL but count 0, so
  * the composed count is `coalesce(sum(partial counts), 0)`; DESC and
  * duplicate order values compose trivially (whole-run inclusion).
  *
  * Scope: every window expression on the node must be a plain (no
  * DISTINCT/FILTER) `sum`/`count`/`min`/`max` over a literal-offset
  * RANGE frame; partition keys and the single order key must be
  * attributes; and the child must be a narrow Project/Filter chain over
  * a relation leaf — the rule instantiates a FRESH copy of that chain
  * (`MultiInstanceRelation.newInstance` + re-aliased projections) for
  * the aggregate side, because an optimizer-introduced self-join must
  * deduplicate expression ids itself (the analyzer's DeduplicateRelations
  * has already run). Anything else is left untouched. One consequence:
  * when ASC and DESC offset windows stack in one query, they land on
  * separate Window nodes and only the INNERMOST sees a narrow child —
  * the outer one legitimately stays WindowExec (one order direction per
  * query collapses; the spec pins this).
  *
  * Exactness: integer/decimal inputs compose bit-for-bit (partial sums
  * are exact; the final Cast back to the original Sum result type is
  * exact in range, and out of range lands the original's own overflow
  * contract at the cast instead of mid-accumulation). Double sums
  * compose with different association than WindowExec's row-order
  * accumulation — tolerance-grade, the engine's documented double-sum
  * caveat; warehouse measures are decimal, the exact path.
  *
  * Routing: the `__dist_rank` marker on any window alias forces the
  * collapse; otherwise it fires only when the child's size estimate
  * crosses [[DistributedRankRewrite.AutoGlobalMinBytes]] AND column
  * stats prove the collapsed table small (distinct-count product over
  * (partition keys, order key) ≤ [[RangeFrameCollapse.MaxCollapsedGroups]]
  * — the grouped-routing proof discipline). To keep the native
  * WindowExec plan, exclude the rule by name:
  * `spark.sql.optimizer.excludedRules=graft.plans.RangeFrameCollapse`. */
object RangeFrameCollapse extends Rule[LogicalPlan] {
  /** Stats-proof bound on the collapsed table's row count (distinct
    * product over partition + order keys), mirroring the grouped
    * auto-routing bound. */
  val MaxCollapsedGroups = 4096L

  private val M = DistributedRankRewrite.NameMarker

  /** A foldable, non-special frame bound — the literal offset that makes
    * the frame a declined shape (UnboundedPreceding/CurrentRow/
    * UnboundedFollowing are the running/whole-group shapes the
    * distributed operator already routes). */
  private def literalOffset(b: Expression): Boolean = b match {
    case org.apache.spark.sql.catalyst.expressions.UnboundedPreceding => false
    case org.apache.spark.sql.catalyst.expressions.UnboundedFollowing => false
    case org.apache.spark.sql.catalyst.expressions.CurrentRow => false
    case other => other.foldable
  }

  private def offsetRangeFrame(spec: WindowSpecDefinition): Boolean =
    spec.frameSpecification match {
      case SpecifiedWindowFrame(RangeFrame, lo, hi) =>
        literalOffset(lo) || literalOffset(hi)
      case _ => false
    }

  /** The composable aggregate, or None. */
  private def composable(f: Expression): Option[AggregateFunction] = f match {
    case AggregateExpression(s: Sum, Complete, false, None, _) => Some(s)
    case AggregateExpression(c @ Count(cs), Complete, false, None, _)
        if cs.size == 1 => Some(c)
    case AggregateExpression(m: Min, Complete, false, None, _) => Some(m)
    case AggregateExpression(m: Max, Complete, false, None, _) => Some(m)
    case _ => None
  }

  private def collapsible(e: NamedExpression): Boolean = e match {
    case Alias(WindowExpression(f, spec), name) =>
      !name.startsWith("__rfc") && composable(f).isDefined &&
        offsetRangeFrame(spec) && e.deterministic
    case _ => false
  }

  /** Fresh deep copy of a narrow Project/Filter/leaf chain with all-new
    * expression ids, plus the old→new attribute map for remapping. */
  private def freshNarrowCopy(plan: LogicalPlan)
      : Option[(LogicalPlan, AttributeMap[Attribute])] = plan match {
    case leaf: LeafNode =>
      leaf match {
        case m: MultiInstanceRelation =>
          val fresh = m.newInstance().asInstanceOf[LogicalPlan]
          Some((fresh, AttributeMap(leaf.output.zip(fresh.output))))
        case _ => None
      }
    // a NON-DETERMINISTIC expression (rand(), uuid(), …) must bail: the
    // fresh copy would re-evaluate it with different results on the two
    // join sides, and the equi-join back would silently drop/duplicate
    // rows
    case Project(list, c) if list.forall(e =>
        (e.isInstanceOf[Alias] || e.isInstanceOf[AttributeReference]) &&
          e.deterministic) =>
      freshNarrowCopy(c).map { case (fc, amap0) =>
        var amap = amap0
        val newList: Seq[NamedExpression] = list.map {
          case a @ Alias(e, n) =>
            val na = Alias(remap(e, amap), n)()
            amap = AttributeMap(amap.toSeq :+ (a.toAttribute -> na.toAttribute))
            na
          case ar: AttributeReference =>
            amap.getOrElse(ar, ar)
        }
        (Project(newList, fc), amap)
      }
    case Filter(cond, c) if cond.deterministic =>
      freshNarrowCopy(c).map { case (fc, amap) =>
        (Filter(remap(cond, amap), fc), amap)
      }
    case _ => None
  }

  private def remap(e: Expression, m: AttributeMap[Attribute]): Expression =
    e.transform { case ar: AttributeReference => m.getOrElse(ar, ar) }

  /** Stats proof: distinct-count product over the grouping keys, strict
    * (every key needs a distinct count) — the grouped-gate discipline. */
  private def provenSmall(child: LogicalPlan, keys: Seq[Attribute]): Boolean = {
    val stats = child.stats
    if (stats.sizeInBytes < BigInt(scala.util.Try(
        conf.getConfString(DistributedRankRewrite.AutoGlobalMinBytesKey,
          DistributedRankRewrite.AutoGlobalMinBytes.toString).trim.toLong)
        .getOrElse(DistributedRankRewrite.AutoGlobalMinBytes))) return false
    val counts = keys.map(k => stats.attributeStats.get(k)
      .flatMap(_.distinctCount))
    // BigInt product — a Long product of large distinct counts could
    // wrap negative and pass the bound
    counts.forall(_.isDefined) &&
      counts.flatten.product <= BigInt(MaxCollapsedGroups)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case w @ Window(exprs, parts, Seq(SortOrder(v: AttributeReference,
          dir, nullOrd, _)), child, hint)
          if exprs.nonEmpty && exprs.forall(collapsible) &&
            parts.forall(_.isInstanceOf[AttributeReference]) && {
              val marker = exprs.exists(a =>
                a.name == M || a.name.startsWith(M + "_"))
              marker || provenSmall(child,
                parts.map(_.asInstanceOf[AttributeReference]) :+ v)
            } =>
        freshNarrowCopy(child) match {
          case None => w // unsupported child shape — keep WindowExec
          case Some((fresh, amap)) =>
            val partAttrs = parts.map(_.asInstanceOf[AttributeReference])
            val fParts = partAttrs.map(p => amap.getOrElse(p, p))
            val fV = amap.getOrElse(v, v)
            // one partial per distinct (function, input) — sum/min/max of
            // the same column across different frames share a partial
            val partials = scala.collection.mutable.LinkedHashMap
              .empty[Expression, Alias]
            def partialFor(f: AggregateFunction): Attribute = {
              val remapped = f.mapChildren(c => remap(c, amap))
                .asInstanceOf[AggregateFunction]
              partials.getOrElseUpdate(remapped.canonicalized, {
                Alias(AggregateExpression(remapped, Complete,
                  isDistinct = false, None), s"__rfc_p_${partials.size}")()
              }).toAttribute
            }
            // build the final projection alongside the inner window exprs
            val innerWinExprs = scala.collection.mutable.ArrayBuffer
              .empty[NamedExpression]
            val finalAliases = exprs.map { case a @ Alias(
                WindowExpression(f, spec), _) =>
              val fn = composable(f).get
              val p = partialFor(fn)
              val frame = spec.frameSpecification
              val innerSpec = WindowSpecDefinition(fParts,
                Seq(SortOrder(fV, dir, nullOrd, Nil)), frame)
              def winOf(g: AggregateFunction): Attribute = {
                val al = Alias(WindowExpression(AggregateExpression(
                  g, Complete, isDistinct = false, None), innerSpec),
                  s"__rfc_w_${innerWinExprs.size}")()
                innerWinExprs += al
                al.toAttribute
              }
              val outExpr: Expression = fn match {
                case s: Sum =>
                  val outer = winOf(Sum(p))
                  if (outer.dataType == a.dataType) outer
                  else Cast(outer, a.dataType) // exact in range; out of
                  // range lands the original's own overflow contract here
                case _: Count =>
                  // partial counts are never NULL; an EMPTY frame makes
                  // the outer sum NULL where count must be 0 (probe)
                  Coalesce(Seq(winOf(Sum(p)), Literal(0L, LongType)))
                case _: Min => winOf(Min(p))
                case _: Max => winOf(Max(p))
              }
              Alias(outExpr, a.name)(exprId = a.exprId,
                qualifier = a.qualifier,
                explicitMetadata = Some(a.metadata))
            }
            val agg = Aggregate((fParts :+ fV).toSeq,
              ((fParts :+ fV) ++ partials.values).toSeq, fresh)
            val innerWindow = Window(innerWinExprs.toSeq, fParts.toSeq,
              Seq(SortOrder(fV, dir, nullOrd, Nil)), agg, hint)
            val cond = (partAttrs.zip(fParts).map { case (l, r) =>
              EqualNullSafe(l, r) } :+ EqualNullSafe(v, fV))
              .reduceLeft[Expression](And(_, _))
            // broadcast the DISTINCT-VALUE side explicitly: it is the
            // provably small table (stats proof ≤ AutoGroupThreshold
            // rows, or marker-forced by a caller who knows the grain),
            // while the probe side is the fact. Left unhinted, the
            // planner compares SIZE ESTIMATES — and both sides derive
            // from the same scan, so at bench scale the raw fact scan
            // estimated SMALLER than the windowed aggregate and was
            // broadcast itself (600k rows to every task; plan audit,
            // r14 optimization round). The hint pins the documented
            // design: aggregate, window the small table, broadcast it
            // back over the fact.
            val joined = Join(child, innerWindow, Inner, Some(cond),
              JoinHint(None, Some(org.apache.spark.sql.catalyst.plans
                .logical.HintInfo(strategy =
                  Some(org.apache.spark.sql.catalyst.plans.logical
                    .BROADCAST)))))
            Project((child.output ++ finalAliases).toSeq, joined)
        }
    }
}
