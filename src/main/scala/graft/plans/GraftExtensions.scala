package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{BoundarySketchAgg, DecSqDist, FloatDot, KmvAgg, KmvMergeAgg, KmvSketchAgg, LevWithin, LongSqDist, RollingHash, SpaceSavingAgg, TopKAgg, ValueBand}

/** SparkSessionExtensions entry point for graft's native expressions —
  * enable with `spark.sql.extensions=graft.plans.GraftExtensions` (or let
  * [[graft.core.Sessions]] register the functions directly on an existing
  * session). After injection, `rolling_hash(str)` is available to SQL and
  * `expr("rolling_hash(...)")` plans, codegen included.
  *
  * This is the (c)-tier extension surface of the builder brief: every
  * REFERENCE operator maps to built-ins (SURVEY §4), so the extension
  * carries perf-motivated machinery — native codegen expressions, the
  * `topk`/`kmv`/`spacesaving` mergeable aggregates, the opt-in
  * COUNT(DISTINCT)→sketch optimizer dial, and (round 8) the
  * [[DistributedRankRewrite]]/[[DistributedRankStrategy]] pair that
  * executes a partition-less row_number window as the custom
  * [[GlobalRankExec]] distributed rank instead of a single-task sort.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // opt-in AQP dial (spark.graft.sketchDistinct) — inert until flagged
    ext.injectOptimizerRule(_ => SketchDistinctRewrite)
    // stddev/variance window decomposition → routable sum/count shapes.
    // This rule, the RANGE-frame collapse and the stack merge are
    // always-on; spark.sql.optimizer.excludedRules turns one off by name
    // (e.g. graft.plans.WindowVarianceDecompose restores the built-in
    // Welford plan)
    ext.injectOptimizerRule(_ => WindowVarianceDecompose)
    ext.injectOptimizerRule(_ => RangeFrameCollapse)
    // stacked-window merge — one DistributedWindowExec per (partition,
    // order) stack instead of one per decomposed withColumn (the injected
    // batch already contains CollapseProject, which the runtime install
    // path has to add by hand — see DistributedRank.install)
    ext.injectOptimizerRule(_ => WindowStackMerge)
    // distributed global rank (spark.graft.distributedRank flag or the
    // __dist_rank column marker) — rule + strategy pair, inert otherwise
    ext.injectOptimizerRule(_ => DistributedRankRewrite)
    ext.injectPlannerStrategy(_ => DistributedRankStrategy)
  }
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Mis-arity from SQL surfaces as a readable AnalysisException (the same
    * WRONG_NUM_ARGS condition the built-in registry raises), not an
    * IndexOutOfBoundsException from the builder lambda. */
  private def checkArity(name: String, expected: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children =>
      if (children.length == expected) build(children)
      else throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> expected.toString,
          "actualNum" -> children.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  val functions: Seq[FunctionDescription] = Seq(
    (new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      checkArity("rolling_hash", 1)(c => RollingHash(c.head))),
    (new FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "float_dot"),
      checkArity("float_dot", 2)(c => FloatDot(c(0), c(1)))),
    (new FunctionIdentifier("long_sqdist"),
      new ExpressionInfo(classOf[LongSqDist].getName, "long_sqdist"),
      checkArity("long_sqdist", 2)(c => LongSqDist(c(0), c(1)))),
    (new FunctionIdentifier("dec_sqdist"),
      new ExpressionInfo(classOf[DecSqDist].getName, "dec_sqdist"),
      checkArity("dec_sqdist", 2)(c => DecSqDist(c(0), c(1)))),
    (new FunctionIdentifier("lev_within"),
      new ExpressionInfo(classOf[LevWithin].getName, "lev_within"),
      checkArity("lev_within", 3)(c => LevWithin(c(0), c(1), c(2)))),
    (new FunctionIdentifier("topk"),
      new ExpressionInfo(classOf[TopKAgg].getName, "topk"),
      checkArity("topk", 3)(c => TopKAgg(c(0), c(1), c(2)))),
    (new FunctionIdentifier("kmv"),
      new ExpressionInfo(classOf[KmvAgg].getName, "kmv"),
      checkArity("kmv", 2)(c => KmvAgg(c(0), c(1)))),
    (new FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[KmvSketchAgg].getName, "kmv_sketch"),
      checkArity("kmv_sketch", 2)(c => KmvSketchAgg(c(0), c(1)))),
    (new FunctionIdentifier("kmv_merge"),
      new ExpressionInfo(classOf[KmvMergeAgg].getName, "kmv_merge"),
      checkArity("kmv_merge", 2)(c => KmvMergeAgg(c(0), c(1)))),
    (new FunctionIdentifier("spacesaving"),
      new ExpressionInfo(classOf[SpaceSavingAgg].getName, "spacesaving"),
      checkArity("spacesaving", 2)(c => SpaceSavingAgg(c(0), c(1)))),
    (new FunctionIdentifier("value_band"),
      new ExpressionInfo(classOf[ValueBand].getName, "value_band"),
      checkArity("value_band", 2)(c => ValueBand(c(0), c(1)))),
    (new FunctionIdentifier("boundary_sketch"),
      new ExpressionInfo(classOf[BoundarySketchAgg].getName, "boundary_sketch"),
      checkArity("boundary_sketch", 3)(c =>
        BoundarySketchAgg(c(0), c(1), c(2)))))

  /** Register on an already-built session (the Verify/Bench path, where
    * spark.sql.extensions can't be set post-hoc). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
