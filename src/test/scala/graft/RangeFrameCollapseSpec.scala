package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate, Join => LJoin, Window => LWindow}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{DistributedRank, DistributedRankRewrite, RangeFrameCollapse}

/** The literal-offset RANGE-frame collapse end to end: collapsed output
  * equals the native WindowExec plan exactly (decimal/long bit-for-bit,
  * incl. NULL order runs, empty both-PRECEDING frames, duplicate order
  * values, DESC), the plan actually collapses (window over an Aggregate
  * + join back, no WindowExec over the fact child), excluding the rule
  * and the narrow-child bail keep the native plan, the stats proof auto-routes
  * without a marker, and a decomposed stddev over an offset RANGE frame
  * composes through both rules. */
class RangeFrameCollapseSpec extends AnyFunSuite with WithConf {
  lazy val spark: SparkSession = {
    val s = graft.core.Sessions.local(4, "graft-rfc-test")
    DistributedRank.install(s)
    s
  }

  private val M = DistributedRankRewrite.NameMarker

  /** groups, duplicate order values, a NULL-order run per group, NULL
    * measures, and a decimal mirror */
  private def fixture(n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      $"id",
      ($"id" % 5).as("g"),
      when($"id" % 13 === 0, lit(null))
        .otherwise(pmod(hash(concat(lit("d"), $"id")), lit(40)))
        .cast("long").as("day"),
      when($"id" % 11 === 0, lit(null))
        .otherwise((pmod(hash(concat(lit("v"), $"id")), lit(100000)))
          .cast("double") / 100.0).as("x"))
      .withColumn("xd", $"x".cast("decimal(12,2)"))
      .withColumn("xl", ($"xd" * 100).cast("long"))
  }

  private def withRule[T](on: Boolean)(body: => T): T =
    withConf(ExcludedRules ->
      (if (on) "" else RangeFrameCollapse.ruleName))(body)

  /** All composable functions over three offset frames, marker optional.
    * DESC rides a separate query ([[qDesc]]): ASC and DESC windows split
    * onto stacked Window nodes, and only the innermost node's child is a
    * narrow chain — the outer one legitimately stays WindowExec (the
    * rule's documented one-order-per-query scope). */
  private def q(df: DataFrame, c: String, marker: Boolean): DataFrame = {
    val pre = if (marker) s"${M}_" else ""
    val w = Window.partitionBy(col("g")).orderBy(col("day"))
    df.select(col("id"), col("g"), col("day"),
        col(c).as("m"))
      .select(col("id"), col("g"), col("day"),
        sum(col("m")).over(w.rangeBetween(-6, 0)).as(s"${pre}s_7d"),
        count(col("m")).over(w.rangeBetween(-6, 0)).as(s"${pre}c_7d"),
        min(col("m")).over(w.rangeBetween(-6, 0)).as(s"${pre}mn_7d"),
        max(col("m")).over(w.rangeBetween(-2, 3)).as(s"${pre}mx_str"),
        sum(col("m")).over(w.rangeBetween(-9, -4)).as(s"${pre}s_gap"),
        count(col("m")).over(w.rangeBetween(-9, -4)).as(s"${pre}c_gap"))
  }

  private def qDesc(df: DataFrame, c: String, marker: Boolean): DataFrame = {
    val pre = if (marker) s"${M}_" else ""
    val wd = Window.partitionBy(col("g")).orderBy(col("day").desc)
    df.select(col("id"), col("g"), col("day"), col(c).as("m"))
      .select(col("id"), col("g"), col("day"),
        sum(col("m")).over(wd.rangeBetween(-6, 0)).as(s"${pre}s_desc"),
        count(col("m")).over(wd.rangeBetween(-1, 5)).as(s"${pre}c_desc"))
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy(col("g"), col("id")).collect().toSeq

  private def assertExact(a: Seq[Row], b: Seq[Row]): Unit = {
    assert(a.size == b.size)
    a.zip(b).foreach { case (ra, rb) =>
      assert(ra == rb, s"row mismatch:\n  $ra\n  $rb") }
  }

  test("collapsed output equals native WindowExec bit-for-bit on LONG " +
       "measures: running/straddling/empty-gap frames, NULL order runs, " +
       "NULL measures, duplicate days, DESC") {
    val df = fixture(3000)
    val native = rows(q(df, "xl", marker = false))
    val collapsed = rows(q(df, "xl", marker = true)
      .toDF(q(df, "xl", marker = false).columns: _*))
    assertExact(collapsed, native)
    val nativeD = rows(qDesc(df, "xl", marker = false))
    val collapsedD = rows(qDesc(df, "xl", marker = true)
      .toDF(qDesc(df, "xl", marker = false).columns: _*))
    assertExact(collapsedD, nativeD)
  }

  test("collapsed output equals native on DECIMAL measures (the exact " +
       "warehouse path; outer sum cast back to the original type)") {
    val df = fixture(3000)
    val native = rows(q(df, "xd", marker = false))
    val collapsed = rows(q(df, "xd", marker = true)
      .toDF(q(df, "xd", marker = false).columns: _*))
    assertExact(collapsed, native)
  }

  test("plan shape under the marker: window over an Aggregate + join " +
       "back; no window over the fact-side child") {
    val df = fixture(500)
    val plan = q(df, "xl", marker = true).queryExecution.optimizedPlan
    val collapsedWindows = plan.collect {
      case w @ LWindow(_, _, _, _: LAggregate, _) => w }
    assert(collapsedWindows.nonEmpty, s"no collapsed window in:\n$plan")
    assert(plan.collect { case j: LJoin => j }.nonEmpty,
      s"no join-back in:\n$plan")
    val factWindows = plan.collect {
      case w: LWindow if !w.child.isInstanceOf[LAggregate] => w }
    assert(factWindows.isEmpty, s"window left over fact child:\n$plan")
  }

  test("kill switch and missing marker keep the native WindowExec plan") {
    // the kill switch is Spark's spark.sql.optimizer.excludedRules; this
    // is the name the scaladoc tells users to exclude
    assert(RangeFrameCollapse.ruleName == "graft.plans.RangeFrameCollapse")
    val df = fixture(500)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val off = withRule(false) {
        q(df, "xl", marker = true).queryExecution.executedPlan }
      assert(off.exists(_.isInstanceOf[WindowExec]),
        s"kill switch must keep WindowExec:\n$off")
      val offLogical = withRule(false) {
        q(df, "xl", marker = true).queryExecution.optimizedPlan }
      assert(offLogical.collect { case j: LJoin => j }.isEmpty,
        s"kill switch must not add the join-back:\n$offLogical")
      val unmarked = q(df, "xl", marker = false)
        .queryExecution.executedPlan
      assert(unmarked.exists(_.isInstanceOf[WindowExec]),
        s"no marker + no stats must keep WindowExec:\n$unmarked")
    }
    // the excluded plan's values are the collapsed plan's, bit for bit
    val collapsed = rows(q(df, "xl", marker = true))
    val excluded = withRule(false)(rows(q(df, "xl", marker = true)))
    assertExact(excluded, collapsed)
  }

  test("narrow-child bail: a child below the window that is not a " +
       "Project/Filter/leaf chain keeps WindowExec even under the marker") {
    val df = fixture(500)
      .groupBy(col("g"), col("day")).agg(sum(col("xl")).as("m"))
    val w = Window.partitionBy(col("g")).orderBy(col("day"))
    val plan = df.select(col("g"), col("day"),
        sum(col("m")).over(w.rangeBetween(-6, 0)).as(s"${M}_s"))
      .queryExecution.optimizedPlan
    assert(plan.collect { case j: LJoin => j }.isEmpty,
      s"aggregate child must bail, not self-join:\n$plan")
  }

  test("non-deterministic bail: a rand() column in the child chain keeps " +
       "WindowExec even under the marker (a fresh copy would re-evaluate " +
       "it differently on the two join sides)") {
    val df = fixture(300).withColumn("noise", rand(7))
    val w = Window.partitionBy(col("g")).orderBy(col("day"))
    val plan = df.select(col("g"), col("day"),
        sum(col("xl") + col("noise").cast("long")).over(w.rangeBetween(-6, 0))
          .as(s"${M}_s"))
      .queryExecution.optimizedPlan
    assert(plan.collect { case j: LJoin => j }.isEmpty,
      s"non-deterministic chain must bail, not self-join:\n$plan")
  }

  test("auto route on stats proof: ANALYZE'd low-cardinality keys " +
       "collapse with NO marker above the size gate; no stats keeps " +
       "WindowExec") {
    import graft.plans.DistributedRankRewrite.AutoGlobalMinBytesKey
    val df = fixture(2000).select(col("g"), col("day"), col("xl"))
    df.write.mode("overwrite").saveAsTable("rfc_stats_t")
    // attributeStats propagate through the child Project only under CBO,
    // as in the grouped-gate spec
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      spark.conf.set(AutoGlobalMinBytesKey, "1") // tiny gate for the test
      def auto = {
        val w = Window.partitionBy(col("g")).orderBy(col("day"))
        spark.table("rfc_stats_t").select(col("g"), col("day"),
          sum(col("xl")).over(w.rangeBetween(-6, 0)).as("s7"))
      }
      val before = auto.queryExecution.optimizedPlan
      assert(before.collect { case j: LJoin => j }.isEmpty,
        s"must not collapse without stats:\n$before")
      spark.sql(
        "ANALYZE TABLE rfc_stats_t COMPUTE STATISTICS FOR COLUMNS g, day")
      val after = auto.queryExecution.optimizedPlan
      assert(after.collect { case j: LJoin => j }.nonEmpty &&
        after.collect {
          case w @ LWindow(_, _, _, _: LAggregate, _) => w }.nonEmpty,
        s"stats-proven keys must collapse:\n$after")
      // and the values agree with the un-collapsed plan (duplicate
      // (g, day) rows carry identical window values, so this sort is
      // deterministic)
      def sorted(df: DataFrame): Seq[Row] =
        df.orderBy(col("g"), col("day"), col("s7")).collect().toSeq
      val a = sorted(auto)
      val n = withRule(false)(sorted(auto))
      assertExact(a, n)
    } finally {
      spark.conf.unset(AutoGlobalMinBytesKey)
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.sql("DROP TABLE IF EXISTS rfc_stats_t")
    }
  }

  test("composition with WindowVarianceDecompose: a marker'd stddev over " +
       "an offset RANGE frame decomposes into bases that then collapse — " +
       "values equal the native plan") {
    val df = fixture(2000)
    val w = Window.partitionBy(col("g")).orderBy(col("day"))
    def sd(marker: Boolean) = {
      val name = if (marker) s"${M}_sd" else "sd"
      df.select(col("id"), col("g"), col("day"),
        stddev_samp(col("xl")).over(w.rangeBetween(-6, 0)).as(name))
    }
    val plan = sd(marker = true).queryExecution.optimizedPlan
    assert(plan.collect { case j: LJoin => j }.nonEmpty &&
      plan.collect {
        case w @ LWindow(_, _, _, _: LAggregate, _) => w }.nonEmpty,
      s"decomposed bases must collapse:\n$plan")
    val a = rows(sd(marker = true).toDF("id", "g", "day", "sd"))
    val n = rows(sd(marker = false))
    assert(a.size == n.size)
    a.zip(n).foreach { case (ra, rb) =>
      assert(ra.isNullAt(3) == rb.isNullAt(3), s"null mismatch: $ra vs $rb")
      if (!ra.isNullAt(3))
        assert(math.abs(ra.getDouble(3) - rb.getDouble(3)) <=
          1e-9 * math.max(1.0, math.abs(rb.getDouble(3))),
          s"$ra vs $rb")
    }
  }
}
