package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{DistributedRank, DistributedRankRewrite, DistributedWindowExec, WindowStackMerge}

/** The stacked-window merge (r14 optimization round): a chain of
  * `.withColumn(_, f.over(w))` calls over the SAME (partition, order) —
  * including decomposed stddev/corr shapes whose formula Projects block
  * Spark's CollapseWindow — must plan as ONE DistributedWindowExec, with
  * values identical to the unmerged plan (the rule excluded through
  * `spark.sql.optimizer.excludedRules`); a stack whose
  * upper window consumes the lower window's OUTPUT must NOT merge. */
class WindowStackMergeSpec extends AnyFunSuite with WithConf {
  lazy val spark: SparkSession = {
    val s = graft.core.Sessions.local(4, "graft-wsm-test")
    DistributedRank.install(s)
    s
  }

  private val M = DistributedRankRewrite.NameMarker

  private def fixture(n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      $"id", ($"id" % 5).as("g"),
      (hash(concat(lit("v"), $"id")) % 10000).cast("double").as("x"))
      .withColumn("xd", $"x".cast("decimal(12,2)"))
  }

  /** The q_fact_regr_dist shape in miniature: decomposed + plain window
    * functions stacked one withColumn at a time over one (g, id) spec,
    * three frame families. */
  private def stacked(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val roll = w.rowsBetween(-3, 0)
    val grp = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    df.withColumn(s"${M}_sd", stddev_samp(col("xd")).over(run))
      .withColumn(s"${M}_cr", corr(col("xd"), col("x")).over(roll))
      .withColumn(s"${M}_sk", skewness(col("xd")).over(grp))
      .withColumn(s"${M}_sm", sum(col("xd")).over(run))
      .withColumn(s"${M}_ct", count(col("x")).over(roll))
      .select(col("id"), col("g"),
        round(col(s"${M}_sd"), 6).as("sd"),
        round(col(s"${M}_cr"), 6).as("cr"),
        round(col(s"${M}_sk"), 6).as("sk"),
        col(s"${M}_sm").as("sm"), col(s"${M}_ct").as("ct"))
  }

  /** AQE wraps the plan in AdaptiveSparkPlanExec, which hides its children
    * from collect — disable it for the plan-shape probes (the decompose
    * spec's discipline). */
  private def distWindowExecs(df: => DataFrame): Int =
    withConf("spark.sql.adaptive.enabled" -> "false") {
      df.queryExecution.executedPlan.collect {
        case e: DistributedWindowExec => e
      }.size
    }

  private def withMerge[T](on: Boolean)(body: => T): T =
    withConf(ExcludedRules ->
      (if (on) "" else WindowStackMerge.ruleName))(body)

  test("a five-deep same-spec stack plans as ONE DistributedWindowExec") {
    val df = stacked(fixture(500))
    assert(distWindowExecs(df) == 1,
      "merge must collapse the whole stack into one exec")
  }

  test("kill switch restores the stacked plan") {
    // the kill switch is Spark's spark.sql.optimizer.excludedRules; this
    // is the name the scaladoc tells users to exclude
    assert(WindowStackMerge.ruleName == "graft.plans.WindowStackMerge")
    def q = stacked(fixture(500)).orderBy(col("g"), col("id"))
    val (execs, excluded) = withMerge(false) {
      (distWindowExecs(q), q.collect().toSeq)
    }
    assert(execs > 1, "rule off must leave the decompose-separated stack")
    assert(distWindowExecs(q) == 1)
    assert(excluded == q.collect().toSeq)
  }

  test("merged values are identical to the unmerged plan's") {
    val merged = stacked(fixture(1000)).orderBy(col("g"), col("id"))
      .collect().toSeq
    val unmerged = withMerge(false) {
      stacked(fixture(1000)).orderBy(col("g"), col("id")).collect().toSeq
    }
    assert(merged == unmerged)
  }

  test("a dependent stack (upper window reads lower's output) stays split") {
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val df = fixture(500)
      .withColumn(s"${M}_sm", sum(col("xd")).over(run))
      // consumes the first window's column — merging would need the
      // lower node's output as an input, which the rule must refuse
      .withColumn(s"${M}_s2",
        sum(col(s"${M}_sm").cast("double")).over(run))
    assert(distWindowExecs(df) == 2,
      "dependent windows must not merge")
    // and the dependent chain still computes the right running-of-running
    val rows = df.filter(col("g") === 0).orderBy(col("id"))
      .select(col(s"${M}_s2")).collect()
    assert(rows.nonEmpty)
  }

  test("different partition specs do not merge") {
    val w1 = Window.partitionBy(col("g")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w2 = Window.partitionBy(col("g"), col("id") % 2).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val df = fixture(500)
      .withColumn(s"${M}_a", sum(col("x")).over(w1))
      .withColumn(s"${M}_b", sum(col("x")).over(w2))
    assert(distWindowExecs(df) == 2)
  }
}
