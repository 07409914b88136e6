package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Add, Alias, AttributeReference, CaseWhen, Cast, Divide, EqualTo, Expression, Greatest, If, IsNull, Literal, Multiply, NamedExpression, Or, Sqrt, Subtract, UnscaledValue, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Corr, Count, CovPopulation, CovSample, Kurtosis, RegrIntercept, RegrR2, RegrReplacement, RegrSXY, RegrSlope, Skewness, StddevPop, StddevSamp, Sum, VariancePop, VarianceSamp}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Decomposes `stddev_samp / stddev_pop / var_samp / var_pop OVER (...)`
  * into window `sum(x)` / `sum(x*x)` / `count(x)` over the SAME frame plus
  * a final projection computing the two-pass moments formula
  * `m2 = max(0, Σx² − (Σx)²/n)` — and the two-input family
  * `corr / covar_samp / covar_pop` into the six-base analogue
  * (Σx, Σy, Σxy, Σx², Σy², n over pair-non-null rows) with
  * `m11 = Σxy − ΣxΣy/n` and `corr = m11 / sqrt(m2x·m2y)`.
  *
  * r14 completes the moment-window surface: the linear-regression family
  * (`regr_slope/intercept/r2/sxy` direct; `regr_sxx/syy` via the
  * analyzer's [[RegrReplacement]]; `regr_count` via the multi-child
  * count rewrite; `regr_avgx/avgy` already analyzer-replaced to routable
  * average shapes) and the third/fourth-moment family
  * (`skewness`/`kurtosis`, five bases, exact unscaled-integer decimal
  * path). After this rule every CentralMomentAgg-backed window function
  * Spark ships routes through the distributed window operator.
  *
  * Why: Spark evaluates these via `CentralMomentAgg` — a Welford update
  * the distributed window operator cannot chain across partitions
  * bit-for-bit, so a fact-scale `stddev(amount) OVER (ORDER BY date)`
  * (the rolling-volatility shape; the reference's money columns are
  * NUMERIC(12,2), `combined_dw_schema.sql:66,84`) would DECLINE
  * [[DistributedRankRewrite]] and fall back to the single-task WindowExec.
  * After decomposition the node carries only sum/count — shapes the
  * operator routes over every frame family it supports — and the same
  * default-on size/stats gates apply.
  *
  * Semantics vs the built-in:
  *  - NULL inputs are skipped by sum AND count, exactly as Welford skips
  *    them; `n = 0` emits NULL; `var_samp`/`stddev_samp` at `n = 1` emit
  *    NULL (or NaN under `spark.sql.legacy.statisticalAggregate`) — the
  *    built-in's own divide-by-zero contract, replicated branch for
  *    branch (pinned against the native functions in
  *    WindowVarianceDecomposeSpec).
  *  - The analyzer casts the aggregate's input to double; when that cast
  *    wraps a DECIMAL column the rule peels it and accumulates the EXACT
  *    decimal moments (the engine's OracleParity discipline), casting to
  *    double only at the final formula — deterministic under any
  *    partitioning, which the Welford path is not.
  *  - For float/double inputs the moment sums accumulate in double: the
  *    result agrees with Welford only up to floating-point error, and the
  *    two-pass formula loses precision when variance ≪ mean² (the
  *    textbook caveat; the `max(0, ·)` clamp keeps cancellation from
  *    emitting a negative variance or a NaN stddev). Warehouse measures
  *    should be decimal-typed — the exact path — as the reference's are.
  *
  * Always-on: gating the rewrite on plan size would make the VALUE of
  * stddev depend on how big the table is. DISTINCT / FILTER aggregate
  * forms pass through untouched. To restore the built-in Welford plan,
  * exclude the rule by name:
  * `spark.sql.optimizer.excludedRules=graft.plans.WindowVarianceDecompose`.
  */
object WindowVarianceDecompose extends Rule[LogicalPlan] {

  /** What one decomposable window expression needs: the (possibly
    * decimal-peeled) moment input, sample-vs-population, and whether the
    * output is the square root (stddev) of the variance. `rawM2` emits
    * the UNDIVIDED central-moment sum M2 = Σ(x−μ)² — the analyzer's
    * replacement for `regr_sxx`/`regr_syy` ([[RegrReplacement]], whose
    * child already carries the pair-null mask). */
  private case class Target(input: Expression, samp: Boolean,
                            sqrtOut: Boolean, nullOnDivide: Boolean,
                            rawM2: Boolean = false)

  /** Rebuild a double-typed expression as its exact DECIMAL source, if the
    * whole tree is just a decimal value pushed through the analyzer's
    * to-double cast — possibly with that cast distributed into CASE
    * branches by PushFoldableIntoBranches (null branches are retyped to
    * the recovered decimal type). Returns None when any branch is not a
    * peeled decimal (the caller keeps the double input; Spark-native
    * semantics). All recovered branches must agree on ONE decimal type —
    * mixed precisions would re-round under decimal addition rules. */
  private def undouble(e: Expression): Option[Expression] = e match {
    case c: Cast if c.dataType == DoubleType &&
        c.child.dataType.isInstanceOf[DecimalType] =>
      Some(c.child)
    case CaseWhen(branches, elseValue) =>
      val convBranches = branches.map { case (cond, v) =>
        undoubleOrNull(v).map(nv => (cond, nv))
      }
      val convElse = elseValue.map(undoubleOrNull)
      if (convBranches.exists(_.isEmpty) || convElse.exists(_.isEmpty))
        None
      else {
        val vals = convBranches.flatten.map(_._2) ++ convElse.flatten
        val decTypes = vals.collect {
          case v if v.dataType.isInstanceOf[DecimalType] => v.dataType
        }.distinct
        if (decTypes.size != 1) None
        else {
          val dt = decTypes.head
          def retype(v: Expression): Expression = v match {
            case Literal(null, DoubleType) => Literal.create(null, dt)
            case other => other
          }
          Some(CaseWhen(
            convBranches.flatten.map { case (c, v) => (c, retype(v)) },
            convElse.flatten.map(retype)))
        }
      }
    case _ => None
  }

  /** A null double literal is undoubleable in context (retyped by the
    * CaseWhen rebuild once the branch decimal type is known). */
  private def undoubleOrNull(e: Expression): Option[Expression] = e match {
    case l @ Literal(null, DoubleType) => Some(l)
    case other => undouble(other)
  }

  private def target(f: Expression): Option[Target] = f match {
    case AggregateExpression(StddevSamp(c, nod), _, false, None, _) =>
      Some(Target(c, samp = true, sqrtOut = true, nod))
    case AggregateExpression(StddevPop(c, nod), _, false, None, _) =>
      Some(Target(c, samp = false, sqrtOut = true, nod))
    case AggregateExpression(VarianceSamp(c, nod), _, false, None, _) =>
      Some(Target(c, samp = true, sqrtOut = false, nod))
    case AggregateExpression(VariancePop(c, nod), _, false, None, _) =>
      Some(Target(c, samp = false, sqrtOut = false, nod))
    // regr_sxx(y,x) / regr_syy(y,x): the analyzer replaces both with
    // RegrReplacement(If(x IS NULL OR y IS NULL, NULL, side)) — a
    // single-input CentralMomentAgg emitting the undivided M2 (NULL at
    // n = 0); the mask rides inside the child, so the sum/count bases
    // skip broken pairs exactly as the built-in's update guard does
    case AggregateExpression(RegrReplacement(c), _, false, None, _) =>
      Some(Target(c, samp = false, sqrtOut = false, nullOnDivide = true,
        rawM2 = true))
    case _ => None
  }

  /** The two-input moment family — corr / covar_samp / covar_pop — whose
    * CovarianceAgg buffer has the same cannot-chain-Welford problem.
    * Decomposition needs SIX bases (Σx, Σy, Σxy, Σx², Σy², n); a row
    * contributes only when BOTH sides are non-null (the built-in's update
    * guard), so every summed term is null-masked on the pair. */
  private case class Target2(x: Expression, y: Expression, pop: Boolean,
                             corr: Boolean, nullOnDivide: Boolean)

  private def target2(f: Expression): Option[Target2] = f match {
    case AggregateExpression(Corr(x, y, nod), _, false, None, _) =>
      Some(Target2(x, y, pop = false, corr = true, nod))
    case AggregateExpression(CovSample(x, y, nod), _, false, None, _) =>
      Some(Target2(x, y, pop = false, corr = false, nod))
    case AggregateExpression(CovPopulation(x, y, nod), _, false, None, _) =>
      Some(Target2(x, y, pop = true, corr = false, nod))
    case _ => None
  }

  /** The linear-regression window family (r14): `regr_slope`,
    * `regr_intercept`, `regr_r2` and `regr_sxy` are DeclarativeAggregates
    * over the same Welford covariance/variance buffers as [[Corr]] — the
    * cannot-chain shape — and decompose onto the SAME six bases. Arg
    * order is `regr_*(y, x)`: the LEFT child is the dependent y, the
    * RIGHT the independent x (Spark `linearRegression.scala`; the NULL /
    * 1.0 contracts below were pinned by observed behavior on edge
    * fixtures, not assumed from source; WindowVarianceDecomposeSpec's
    * regr case re-checks them against the built-in plan). The
    * remaining five (`regr_count/avgx/avgy/sxx/syy`) arrive here already
    * analyzer-replaced (RuntimeReplaceableAggregate) as count / average /
    * [[RegrReplacement]] shapes the single-input paths handle. */
  private sealed abstract class RegrKind
  private case object RSlope extends RegrKind
  private case object RIntercept extends RegrKind
  private case object RR2 extends RegrKind
  private case object RSxy extends RegrKind

  private case class Target3(y: Expression, x: Expression, kind: RegrKind)

  private def target3(f: Expression): Option[Target3] = f match {
    case AggregateExpression(RegrSlope(y, x), _, false, None, _) =>
      Some(Target3(y, x, RSlope))
    case AggregateExpression(RegrIntercept(y, x), _, false, None, _) =>
      Some(Target3(y, x, RIntercept))
    case AggregateExpression(r: RegrR2, _, false, None, _) =>
      Some(Target3(r.left, r.right, RR2))
    case AggregateExpression(r: RegrSXY, _, false, None, _) =>
      Some(Target3(r.left, r.right, RSxy))
    case _ => None
  }

  /** The third/fourth-moment window family (r14): `skewness` / `kurtosis`
    * decompose onto FIVE bases (Σx, Σx², Σx³, Σx⁴, n) with the central
    * moments recovered two-pass (M3 = Σx³ − 3μΣx² + 2nμ³,
    * M4 = Σx⁴ − 4μΣx³ + 6μ²Σx² − 3nμ⁴). Both statistics are invariant
    * under positive scaling, so a recovered DECIMAL input (precision
    * ≤ 18) is rebased to its exact unscaled integer — `UnscaledValue`
    * widened to DECIMAL(38,0) — and the moment sums are EXACT integers
    * (Σx⁴ of cents-scale facts stays < 10³⁸ beyond bench scale; past
    * that the decimal Sum's own overflow contract applies). Double
    * inputs keep double sums: parity with the Welford built-in is then
    * tolerance-grade, the same caveat the variance path documents. */
  private case class Target4(input: Expression, kurt: Boolean,
                             nullOnDivide: Boolean)

  private def target4(f: Expression): Option[Target4] = f match {
    case AggregateExpression(Skewness(c, nod), _, false, None, _) =>
      Some(Target4(c, kurt = false, nod))
    case AggregateExpression(Kurtosis(c, nod), _, false, None, _) =>
      Some(Target4(c, kurt = true, nod))
    case _ => None
  }

  /** Multi-child `count(a, b, …) OVER w` — the analyzer's replacement for
    * `regr_count` — counts rows where EVERY child is non-null, a shape
    * the distributed window exec declines (it routes single-child Count
    * only). Rewritten in place to the equivalent single-child count over
    * an all-non-null mask; stays a window expression, same exprId. */
  private def multiCountRewrite(e: NamedExpression): Option[NamedExpression] =
    e match {
      case a @ Alias(WindowExpression(
          AggregateExpression(Count(cs), mode, false, None, resId), spec), _)
          if cs.size > 1 =>
        val masked = If(cs.map(IsNull).reduce(Or),
          Literal.create(null, org.apache.spark.sql.types.IntegerType),
          Literal(1))
        Some(Alias(WindowExpression(AggregateExpression(
          Count(Seq(masked)), mode, isDistinct = false, None, resId), spec),
          a.name)(exprId = a.exprId, qualifier = a.qualifier,
            explicitMetadata = Some(a.metadata)))
      case _ => None
    }

  private def decomposable(e: NamedExpression): Boolean = e match {
    case Alias(WindowExpression(f, _), _) =>
      target(f).isDefined || target2(f).isDefined ||
        target3(f).isDefined || target4(f).isDefined
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case Window(exprs, parts, order, child, hint)
          if exprs.exists(e =>
            decomposable(e) || multiCountRewrite(e).isDefined) =>
        // The analyzer extracts the agg input into the child Project as a
        // double-typed attribute (`_w0 = cast(x as double)`, the cast
        // possibly pushed into CASE branches by the optimizer). Resolve
        // such an attribute back to its defining expression and undouble
        // it — the moment sums then run on the EXACT decimal source (the
        // operator's exact accumulator channel), deterministic under any
        // partitioning, where a double sum would carry the distributed-FP
        // ULP caveat. Recovered columns are appended to the child Project.
        val extraCols = scala.collection.mutable.ArrayBuffer.empty[Alias]
        def viaExtra(dec: Expression): Expression = {
          val existing = extraCols.find(_.child.semanticEquals(dec))
          existing.getOrElse {
            val a = Alias(dec, s"__wvd_dec_${extraCols.size}")()
            extraCols += a
            a
          }.toAttribute
        }
        // probe (pure) and materialize (registers a child-Project column
        // for the extracted-attribute case) are split so the two-input
        // family can require BOTH sides to recover before committing —
        // Multiply(decimal, double) would leave the plan unresolved
        def probeDec(raw: Expression): Option[Expression] = raw match {
          case a: AttributeReference if a.dataType == DoubleType =>
            child match {
              case p: Project =>
                p.projectList.collectFirst {
                  case al @ Alias(defE, _) if al.exprId == a.exprId => defE
                }.flatMap(undouble)
              case _ => None
            }
          case other => undouble(other)
        }
        def materialize(raw: Expression, dec: Expression): Expression =
          raw match {
            case _: AttributeReference => viaExtra(dec)
            case _ => dec // inline — its refs are already child outputs
          }
        def resolveInput(raw: Expression): Expression =
          probeDec(raw).map(materialize(raw, _)).getOrElse(raw)
        // one (sum, sumsq, count) base triple per distinct (input, spec):
        // stddev+variance of the same column share their moments
        val bases = scala.collection.mutable.LinkedHashMap
          .empty[(Expression, WindowSpecDefinition), (Alias, Alias, Alias)]
        // a base named under the routing marker keeps marker-requested
        // nodes routing after decomposition (marker names survive only on
        // window exprs; the final projection below reuses the user's name)
        val m = DistributedRankRewrite.NameMarker
        val marker = exprs.exists(a =>
          a.name == m || a.name.startsWith(m + "_"))
        def prefix(i: Int, what: String): String =
          if (marker) s"${m}_wvd_${what}_$i" else s"__wvd_${what}_$i"
        def baseTriple(in: Expression,
                       spec: WindowSpecDefinition): (Alias, Alias, Alias) =
          bases.getOrElseUpdate((in.canonicalized, spec), {
            val i = bases.size
            def winAgg(fn: org.apache.spark.sql.catalyst.expressions
                .aggregate.AggregateFunction): WindowExpression =
              WindowExpression(AggregateExpression(
                fn, Complete, isDistinct = false, None), spec)
            (Alias(winAgg(Sum(in)), prefix(i, "sum"))(),
             Alias(winAgg(Sum(Multiply(in, in))), prefix(i, "sumsq"))(),
             Alias(winAgg(Count(Seq(in))), prefix(i, "cnt"))())
          })

        // six-base pool for the two-input family, shared across corr +
        // covar over the same (x, y, spec); covar-only nodes carry the
        // two square sums unused — one extra running add per row in the
        // same window pass, cheaper than a second base bookkeeping path
        val bases2 = scala.collection.mutable.LinkedHashMap
          .empty[(Expression, Expression, WindowSpecDefinition),
                 (Alias, Alias, Alias, Alias, Alias, Alias)]
        def baseSix(x: Expression, y: Expression, spec: WindowSpecDefinition)
            : (Alias, Alias, Alias, Alias, Alias, Alias) =
          bases2.getOrElseUpdate((x.canonicalized, y.canonicalized, spec), {
            val i = bases2.size
            def winAgg(fn: org.apache.spark.sql.catalyst.expressions
                .aggregate.AggregateFunction): WindowExpression =
              WindowExpression(AggregateExpression(
                fn, Complete, isDistinct = false, None), spec)
            val anyNull = Or(IsNull(x), IsNull(y))
            def masked(v: Expression): Expression =
              If(anyNull, Literal.create(null, v.dataType), v)
            (Alias(winAgg(Sum(masked(x))), prefix(i, "c_sx"))(),
             Alias(winAgg(Sum(masked(y))), prefix(i, "c_sy"))(),
             Alias(winAgg(Sum(masked(Multiply(x, y)))), prefix(i, "c_sxy"))(),
             Alias(winAgg(Sum(masked(Multiply(x, x)))), prefix(i, "c_sxx"))(),
             Alias(winAgg(Sum(masked(Multiply(y, y)))), prefix(i, "c_syy"))(),
             // masked(x) is non-null exactly when BOTH sides are — a
             // single-child count, which the distributed exec routes
             // (two-child Count would decline the whole node)
             Alias(winAgg(Count(Seq(masked(x)))), prefix(i, "c_cnt"))())
          })

        // five-base pool for the third/fourth-moment family, shared
        // across skewness + kurtosis over the same (input, spec); a
        // skewness-only node carries Σx⁴ unused — one extra running add
        // per row, the six-base pool's own trade
        val bases5 = scala.collection.mutable.LinkedHashMap
          .empty[(Expression, WindowSpecDefinition),
                 (Alias, Alias, Alias, Alias, Alias)]
        def baseFive(in: Expression, spec: WindowSpecDefinition)
            : (Alias, Alias, Alias, Alias, Alias) =
          bases5.getOrElseUpdate((in.canonicalized, spec), {
            val i = bases5.size
            def winAgg(fn: org.apache.spark.sql.catalyst.expressions
                .aggregate.AggregateFunction): WindowExpression =
              WindowExpression(AggregateExpression(
                fn, Complete, isDistinct = false, None), spec)
            val sq = Multiply(in, in)
            (Alias(winAgg(Sum(in)), prefix(i, "m_s1"))(),
             Alias(winAgg(Sum(sq)), prefix(i, "m_s2"))(),
             Alias(winAgg(Sum(Multiply(sq, in))), prefix(i, "m_s3"))(),
             Alias(winAgg(Sum(Multiply(sq, sq))), prefix(i, "m_s4"))(),
             Alias(winAgg(Count(Seq(in))), prefix(i, "m_cnt"))())
          })

        val keptWindowExprs = scala.collection.mutable.ArrayBuffer
          .empty[NamedExpression]
        val projList = scala.collection.mutable.ArrayBuffer
          .empty[NamedExpression]
        projList ++= child.output
        exprs.foreach {
          case a @ Alias(WindowExpression(f, spec), _)
              if target(f).isDefined =>
            val t = target(f).get
            val (sumA, sumsqA, cntA) = baseTriple(resolveInput(t.input), spec)
            val nD = Cast(cntA.toAttribute, DoubleType)
            val sx = Cast(sumA.toAttribute, DoubleType)
            val sxx = Cast(sumsqA.toAttribute, DoubleType)
            val m2 = Greatest(Seq(Literal(0d),
              Subtract(sxx, Divide(Multiply(sx, sx), nD))))
            val nullD = Literal.create(null, DoubleType)
            if (t.rawM2) {
              // regr_sxx / regr_syy via RegrReplacement: the UNDIVIDED
              // M2, NULL only at n = 0 (pair-masked child ⇒ masked n)
              projList += Alias(CaseWhen(Seq(
                  (EqualTo(cntA.toAttribute, Literal(0L)), nullD)),
                Some(m2)), a.name)(exprId = a.exprId,
                qualifier = a.qualifier,
                explicitMetadata = Some(a.metadata))
            } else {
            val variance =
              if (t.samp) CaseWhen(Seq(
                  (EqualTo(cntA.toAttribute, Literal(0L)), nullD),
                  (EqualTo(cntA.toAttribute, Literal(1L)),
                    if (t.nullOnDivide) nullD
                    else Literal(Double.NaN, DoubleType))),
                Some(Divide(m2, Subtract(nD, Literal(1d)))))
              // pop variants emit NULL at n = 0 unconditionally — the
              // built-in's n==0 guard precedes its divide-by-zero branch
              // (only the samp variants' n==1 case consults the flag)
              else CaseWhen(Seq(
                  (EqualTo(cntA.toAttribute, Literal(0L)), nullD)),
                Some(Divide(m2, nD)))
            val out = if (t.sqrtOut) Sqrt(variance) else variance
            projList += Alias(out, a.name)(exprId = a.exprId,
              qualifier = a.qualifier,
              explicitMetadata = Some(a.metadata))
            }
          case a @ Alias(WindowExpression(f, spec), _)
              if target2(f).isDefined =>
            val t = target2(f).get
            // decimal recovery only when BOTH sides recover (a mixed
            // decimal/double pair keeps the analyzer's double inputs)
            val (ux, uy) = (probeDec(t.x), probeDec(t.y)) match {
              case (Some(dx), Some(dy)) =>
                (materialize(t.x, dx), materialize(t.y, dy))
              case _ => (t.x, t.y)
            }
            val (sxA, syA, sxyA, sxxA, syyA, cntA) = baseSix(ux, uy, spec)
            val nD = Cast(cntA.toAttribute, DoubleType)
            val sx = Cast(sxA.toAttribute, DoubleType)
            val sy = Cast(syA.toAttribute, DoubleType)
            val sxy = Cast(sxyA.toAttribute, DoubleType)
            val sxx = Cast(sxxA.toAttribute, DoubleType)
            val syy = Cast(syyA.toAttribute, DoubleType)
            // the co-moment keeps its sign; only the square moments clamp
            val m11 = Subtract(sxy, Divide(Multiply(sx, sy), nD))
            def m2(sq: Expression, s: Expression): Expression =
              Greatest(Seq(Literal(0d),
                Subtract(sq, Divide(Multiply(s, s), nD))))
            val nullD = Literal.create(null, DoubleType)
            val nanOrNull =
              if (t.nullOnDivide) nullD else Literal(Double.NaN, DoubleType)
            val out =
              if (t.corr)
                // corr at n>=2 is ck / sqrt(xMk * yMk) — a constant column
                // yields 0/0 = NaN in BOTH the built-in and this formula
                CaseWhen(Seq(
                    (EqualTo(cntA.toAttribute, Literal(0L)), nullD),
                    (EqualTo(cntA.toAttribute, Literal(1L)), nanOrNull)),
                  Some(Divide(m11,
                    Sqrt(Multiply(m2(sxx, sx), m2(syy, sy))))))
              else if (t.pop)
                CaseWhen(Seq(
                    (EqualTo(cntA.toAttribute, Literal(0L)), nullD)),
                  Some(Divide(m11, nD)))
              else
                CaseWhen(Seq(
                    (EqualTo(cntA.toAttribute, Literal(0L)), nullD),
                    (EqualTo(cntA.toAttribute, Literal(1L)), nanOrNull)),
                  Some(Divide(m11, Subtract(nD, Literal(1d)))))
            projList += Alias(out, a.name)(exprId = a.exprId,
              qualifier = a.qualifier,
              explicitMetadata = Some(a.metadata))
          case a @ Alias(WindowExpression(f, spec), _)
              if target3(f).isDefined =>
            val t = target3(f).get
            // internal roles: x = independent (regr right), y = dependent
            // (regr left); decimal recovery only when BOTH sides recover,
            // as in the corr/covar path
            val (ux, uy) = (probeDec(t.x), probeDec(t.y)) match {
              case (Some(dx), Some(dy)) =>
                (materialize(t.x, dx), materialize(t.y, dy))
              case _ => (t.x, t.y)
            }
            val (sxA, syA, sxyA, sxxA, syyA, cntA) = baseSix(ux, uy, spec)
            val nD = Cast(cntA.toAttribute, DoubleType)
            val sx = Cast(sxA.toAttribute, DoubleType)
            val sy = Cast(syA.toAttribute, DoubleType)
            val sxy = Cast(sxyA.toAttribute, DoubleType)
            val sxx = Cast(sxxA.toAttribute, DoubleType)
            val syy = Cast(syyA.toAttribute, DoubleType)
            val m11 = Subtract(sxy, Divide(Multiply(sx, sy), nD))
            def m2(sq: Expression, s: Expression): Expression =
              Greatest(Seq(Literal(0d),
                Subtract(sq, Divide(Multiply(s, s), nD))))
            val m2x = m2(sxx, sx)
            val m2y = m2(syy, sy)
            val nullD = Literal.create(null, DoubleType)
            val n0 = EqualTo(cntA.toAttribute, Literal(0L))
            // the m2x == 0 guard reproduces the built-in's constant-x
            // NULL exactly on the decimal path (exact bases ⇒ exact 0;
            // n = 1 divides by 1.0, also exact); on the double path it
            // is ULP-grade, the family's documented caveat
            val zx = EqualTo(m2x, Literal(0d))
            val out = t.kind match {
              case RSlope =>
                CaseWhen(Seq((n0, nullD), (zx, nullD)),
                  Some(Divide(m11, m2x)))
              case RIntercept =>
                CaseWhen(Seq((n0, nullD), (zx, nullD)),
                  Some(Subtract(Divide(sy, nD),
                    Multiply(Divide(m11, m2x), Divide(sx, nD)))))
              case RR2 =>
                CaseWhen(Seq((n0, nullD), (zx, nullD),
                    (EqualTo(m2y, Literal(0d)), Literal(1d))),
                  Some(Divide(Multiply(m11, m11), Multiply(m2x, m2y))))
              case RSxy =>
                CaseWhen(Seq((n0, nullD)), Some(m11))
            }
            projList += Alias(out, a.name)(exprId = a.exprId,
              qualifier = a.qualifier,
              explicitMetadata = Some(a.metadata))
          case a @ Alias(WindowExpression(f, spec), _)
              if target4(f).isDefined =>
            val t = target4(f).get
            // scale invariance of g1/g2 lets a recovered decimal input
            // rebase to its exact unscaled integer (DECIMAL(38,0)) — the
            // moment sums are then exact; precision > 18 keeps the
            // analyzer's double (UnscaledValue is Long-backed)
            val in = probeDec(t.input) match {
              case Some(dec)
                  if dec.dataType.asInstanceOf[DecimalType].precision
                    <= 18 =>
                Cast(UnscaledValue(materialize(t.input, dec)),
                  DecimalType(38, 0))
              case _ => t.input
            }
            val (s1A, s2A, s3A, s4A, cntA) = baseFive(in, spec)
            val nD = Cast(cntA.toAttribute, DoubleType)
            val s1 = Cast(s1A.toAttribute, DoubleType)
            val s2 = Cast(s2A.toAttribute, DoubleType)
            val s3 = Cast(s3A.toAttribute, DoubleType)
            val s4 = Cast(s4A.toAttribute, DoubleType)
            val mu = Divide(s1, nD)
            val mu2 = Multiply(mu, mu)
            val m2c = Greatest(Seq(Literal(0d),
              Subtract(s2, Divide(Multiply(s1, s1), nD))))
            val nullD = Literal.create(null, DoubleType)
            val nanOrNull =
              if (t.nullOnDivide) nullD else Literal(Double.NaN, DoubleType)
            val guards = Seq(
              (EqualTo(cntA.toAttribute, Literal(0L)), nullD),
              (EqualTo(m2c, Literal(0d)), nanOrNull))
            val out =
              if (!t.kurt) {
                // M3 = Σx³ − 3μΣx² + 2nμ³; g1 = √n·M3/√(M2³)
                val m3c = Add(
                  Subtract(s3, Multiply(Multiply(Literal(3d), mu), s2)),
                  Multiply(Multiply(Literal(2d), nD),
                    Multiply(mu2, mu)))
                CaseWhen(guards, Some(Divide(Multiply(Sqrt(nD), m3c),
                  Sqrt(Multiply(Multiply(m2c, m2c), m2c)))))
              } else {
                // M4 = Σx⁴ − 4μΣx³ + 6μ²Σx² − 3nμ⁴ (clamped ≥ 0 like
                // M2 — Welford's buffer is non-negative by construction);
                // g2 = n·M4/M2² − 3
                val m4c = Greatest(Seq(Literal(0d), Subtract(
                  Add(Subtract(s4, Multiply(Multiply(Literal(4d), mu), s3)),
                    Multiply(Multiply(Literal(6d), mu2), s2)),
                  Multiply(Multiply(Literal(3d), nD),
                    Multiply(mu2, mu2)))))
                CaseWhen(guards, Some(Subtract(
                  Divide(Multiply(nD, m4c), Multiply(m2c, m2c)),
                  Literal(3d))))
              }
            projList += Alias(out, a.name)(exprId = a.exprId,
              qualifier = a.qualifier,
              explicitMetadata = Some(a.metadata))
          case other =>
            multiCountRewrite(other) match {
              case Some(rewritten) =>
                keptWindowExprs += rewritten
                projList += rewritten.toAttribute
              case None =>
                keptWindowExprs += other
                projList += other.toAttribute
            }
        }
        val newChild =
          if (extraCols.isEmpty) child
          else {
            val p = child.asInstanceOf[Project] // extras only come from one
            Project(p.projectList ++ extraCols, p.child)
          }
        val newWindow = Window(
          keptWindowExprs.toSeq ++ bases.values.flatMap(t =>
            Seq(t._1, t._2, t._3)) ++ bases2.values.flatMap(t =>
            Seq(t._1, t._2, t._3, t._4, t._5, t._6)) ++
            bases5.values.flatMap(t =>
              Seq(t._1, t._2, t._3, t._4, t._5)),
          parts, order, newChild, hint)
        // projList holds the ORIGINAL child.output — the recovered decimal
        // columns and the moment bases stay internal to this subtree
        Project(projList.toSeq, newWindow)
    }
}
