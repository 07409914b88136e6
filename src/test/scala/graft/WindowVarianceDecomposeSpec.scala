package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{DistributedRank, DistributedRankRewrite, DistributedWindowExec, WindowVarianceDecompose}

/** The stddev/variance window decomposition end to end: decomposed output
  * matches the built-in Welford plan (null pattern exactly, values to fp
  * tolerance) across frame families and both divide-by-zero modes,
  * excluding the rule restores the native plan, decimal inputs route through
  * DistributedWindowExec under the marker with NO WindowExec left, and
  * the decimal path is bit-identical to the exact moments formula. */
class WindowVarianceDecomposeSpec extends AnyFunSuite with WithConf {
  lazy val spark: SparkSession = {
    val s = graft.core.Sessions.local(4, "graft-wvd-test")
    DistributedRank.install(s)
    s
  }

  private val M = DistributedRankRewrite.NameMarker

  /** groups of uneven size, doubles with a planted null run and one
    * all-null group (n = 0 frames), plus a decimal mirror column */
  private def fixture(n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      $"id",
      ($"id" % 7).as("g"),
      when($"id" % 11 === 0 || $"id" % 7 === 5, lit(null))
        .otherwise((hash(concat(lit("v"), $"id")) % 10000).cast("double")
          / 100.0).as("x"))
      .withColumn("xd", $"x".cast("decimal(12,2)"))
  }

  private def withRule[T](on: Boolean)(body: => T): T =
    withConf(ExcludedRules ->
      (if (on) "" else WindowVarianceDecompose.ruleName))(body)

  private def volCols(df: DataFrame, c: String): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
    df.select(col("id"), col("g"),
      stddev_samp(col(c)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("ss_run"),
      stddev_pop(col(c)).over(w.rowsBetween(-3, 0)).as("sp_roll"),
      var_samp(col(c)).over(w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)).as("vs_grp"),
      var_pop(col(c)).over(
        w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
        .as("vp_range"))
  }

  /** exact null-pattern + tolerance value compare, keyed by (g, id) */
  private def assertClose(a: Seq[Row], b: Seq[Row], tol: Double): Unit = {
    assert(a.size == b.size)
    a.zip(b).foreach { case (ra, rb) =>
      assert(ra.getLong(0) == rb.getLong(0) && ra.getLong(1) == rb.getLong(1))
      (2 until ra.size).foreach { i =>
        val (na, nb) = (ra.isNullAt(i), rb.isNullAt(i))
        assert(na == nb, s"null pattern differs at col $i row ${ra.getLong(0)}")
        if (!na) {
          val (va, vb) = (ra.getDouble(i), rb.getDouble(i))
          assert(va.isNaN == vb.isNaN,
            s"NaN pattern differs at col $i row ${ra.getLong(0)}")
          if (!va.isNaN)
            assert(math.abs(va - vb) <= tol * math.max(1.0, math.abs(vb)),
              s"col $i row ${ra.getLong(0)}: $va vs $vb")
        }
      }
    }
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.orderBy(col("g"), col("id")).collect().toSeq

  test("decomposed output matches the native Welford plan: all four " +
       "functions over running/rolling/whole-group/RANGE frames, nulls " +
       "and n=0/n=1 edges included") {
    val df = fixture(2000)
    val native = withRule(false)(sortedRows(volCols(df, "x")))
    val decomposed = withRule(true)(sortedRows(volCols(df, "x")))
    assertClose(decomposed, native, 1e-9)
  }

  test("legacy statisticalAggregate mode: NaN at n=1 replicated") {
    val df = fixture(400)
    withConf("spark.sql.legacy.statisticalAggregate" -> "true") {
      val native = withRule(false)(sortedRows(volCols(df, "x")))
      val decomposed = withRule(true)(sortedRows(volCols(df, "x")))
      // the fixture's id%7==5 group is all-null → n=0 frames; the first
      // non-null row of each other group is an n=1 running frame → the
      // legacy contract must surface NaN there, not NULL
      assert(native.exists(r => !r.isNullAt(2) && r.getDouble(2).isNaN))
      assertClose(decomposed, native, 1e-9)
    }
  }

  test("kill switch: rule off keeps the native central-moment window") {
    // the kill switch is Spark's spark.sql.optimizer.excludedRules; this
    // is the name the scaladoc tells users to exclude
    assert(WindowVarianceDecompose.ruleName ==
      "graft.plans.WindowVarianceDecompose")
    val df = fixture(100)
    val (off, offRows) = withRule(false) {
      val q = volCols(df, "x")
      (q.queryExecution.optimizedPlan.toString, sortedRows(q))
    }
    val on = withRule(true) {
      volCols(df, "x").queryExecution.optimizedPlan.toString
    }
    assert(off.contains("stddev_samp") && !off.contains("__wvd_"))
    assert(on.contains("__wvd_") && !on.contains("stddev_samp("))
    // a new session carries none of the graft rules: its values are the
    // built-in plan's, and the excluded run must match them exactly
    val plain = spark.newSession()
    val builtin = volCols(plain.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema), "x")
    assert(!builtin.queryExecution.optimizedPlan.toString.contains("__wvd_"))
    assert(offRows == sortedRows(builtin))
  }

  test("decimal input under the marker: routes DistributedWindowExec, " +
       "no WindowExec, and equals the native plan") {
    val df = fixture(3000)
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
    def q(c: String): DataFrame = df
      .withColumn(s"${M}_ss", stddev_samp(col(c)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn(s"${M}_vp", var_pop(col(c)).over(w.rowsBetween(-3, 0)))
      .select(col("id"), col("g"), col(s"${M}_ss").as("ss"),
        col(s"${M}_vp").as("vp"))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = q("xd").queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[DistributedWindowExec]),
        s"expected DistributedWindowExec in:\n$plan")
      assert(!plan.exists(_.isInstanceOf[WindowExec]),
        s"unexpected WindowExec in:\n$plan")
    }
    val dist = sortedRows(q("xd"))
    val native = withRule(false)(sortedRows(q("xd")))
    assertClose(dist, native, 1e-9)
  }

  /** y correlates with x plus noise; its OWN null pattern differs from
    * x's, so pair-masking (a row counts only when BOTH are non-null) is
    * exercised — the built-in's covariance update guard. */
  private def fixture2(n: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    fixture(n).withColumn("y",
      when($"id" % 13 === 0, lit(null))
        .otherwise($"x" * 0.5
          + (hash(concat(lit("w"), $"id")) % 1000).cast("double") / 100.0))
  }

  private def corrCols(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
    df.select(col("id"), col("g"),
      corr(col("x"), col("y")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("corr_run"),
      covar_samp(col("x"), col("y")).over(w.rowsBetween(-5, 0))
        .as("cs_roll"),
      covar_pop(col("x"), col("y")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .as("cp_grp"))
  }

  test("two-input family (corr/covar_samp/covar_pop) matches the native " +
       "plan across frames, pair-null masking and n=0/n=1 edges included") {
    val df = fixture2(2000)
    val native = withRule(false)(sortedRows(corrCols(df)))
    val decomposed = withRule(true)(sortedRows(corrCols(df)))
    assertClose(decomposed, native, 1e-9)
  }

  test("two-input family under the marker routes DistributedWindowExec") {
    val df = fixture2(1000)
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def q = fixture2(1000)
      .withColumn(s"${M}_cr",
        corr(col("xd").cast("double"), col("y")).over(w))
      .select(col("id"), col("g"), col(s"${M}_cr").as("cr"))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = q.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[DistributedWindowExec]),
        s"expected DistributedWindowExec in:\n$plan")
      assert(!plan.exists(_.isInstanceOf[WindowExec]),
        s"unexpected WindowExec in:\n$plan")
    }
    val dist = sortedRows(q)
    val native = withRule(false)(sortedRows(q))
    assertClose(dist, native, 1e-9)
  }

  /** regr fixture: y correlated with x; one constant-x group (g=5 is
    * all-null-x already in fixture; here id%7==6 gets the EXACTLY
    * REPRESENTABLE constant 5.0 so the two-pass m2x is exactly 0 and the
    * built-in's constant-x NULL contract is reproduced — a
    * non-representable constant double is the family's documented
    * ULP-grade caveat; decimal inputs are exact either way). */
  private def fixture3(n: Int): DataFrame = {
    import spark.implicits._
    fixture2(n).withColumn("x",
      when($"id" % 7 === 6, lit(5.0)).otherwise($"x"))
  }

  private def regrCols(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val roll = w.rowsBetween(-5, 0)
    val grp = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    df.select(col("id"), col("g"),
      expr("regr_slope(y, x)").over(run).as("slope_run"),
      expr("regr_intercept(y, x)").over(run).as("icept_run"),
      expr("regr_r2(y, x)").over(roll).as("r2_roll"),
      expr("regr_sxy(y, x)").over(roll).as("sxy_roll"),
      expr("regr_sxx(y, x)").over(run).as("sxx_run"),
      expr("regr_syy(y, x)").over(grp).as("syy_grp"),
      expr("regr_avgx(y, x)").over(run).as("avgx_run"),
      expr("regr_avgy(y, x)").over(grp).as("avgy_grp"))
  }

  test("regr family (slope/intercept/r2/sxy/sxx/syy/avgx/avgy) matches " +
       "the native plan across frames — pair-null masking, constant-x " +
       "NULL and all-null-group edges included") {
    val df = fixture3(2000)
    val native = withRule(false)(sortedRows(regrCols(df)))
    val decomposed = withRule(true)(sortedRows(regrCols(df)))
    // the constant-x group must actually exercise the m2x==0 NULL branch
    assert(native.exists(r => r.getLong(1) == 6 && r.isNullAt(2)))
    assertClose(decomposed, native, 1e-9)
  }

  test("regr_count: multi-child count rewrite matches the native plan " +
       "and the masked single-child count") {
    import spark.implicits._
    val df = fixture3(1500)
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def q = df.select(col("id"), col("g"),
      expr("regr_count(y, x)").over(w).as("rc"))
    val native = withRule(false)(sortedRows(q))
    val rewritten = withRule(true)(sortedRows(q))
    val manual = sortedRows(df.select(col("id"), col("g"),
      count(when($"x".isNull || $"y".isNull, lit(null))
        .otherwise(lit(1))).over(w).as("rc")))
    assert(native.size == rewritten.size)
    native.zip(rewritten).zip(manual).foreach { case ((a, b), c) =>
      assert(a.getLong(2) == b.getLong(2) && b.getLong(2) == c.getLong(2),
        s"row ${a.getLong(0)}")
    }
  }

  test("regr family under the marker routes DistributedWindowExec") {
    val df = fixture3(1000)
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def q = df
      .withColumn(s"${M}_sl", expr("regr_slope(y, x)").over(w))
      .withColumn(s"${M}_rc", expr("regr_count(y, x)").over(w))
      .select(col("id"), col("g"), col(s"${M}_sl").as("sl"),
        col(s"${M}_rc").cast("double").as("rc"))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = q.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[DistributedWindowExec]),
        s"expected DistributedWindowExec in:\n$plan")
      assert(!plan.exists(_.isInstanceOf[WindowExec]),
        s"unexpected WindowExec in:\n$plan")
    }
    val dist = sortedRows(q)
    val native = withRule(false)(sortedRows(q))
    assertClose(dist, native, 1e-9)
  }

  private def momentCols(df: DataFrame, c: String): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
    df.select(col("id"), col("g"),
      skewness(col(c)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("sk_run"),
      kurtosis(col(c)).over(w.rowsBetween(-5, 0)).as("ku_roll"),
      skewness(col(c)).over(w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)).as("sk_grp"),
      kurtosis(col(c)).over(
        w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
        .as("ku_range"))
  }

  test("skewness/kurtosis match the native Welford plan across frames, " +
       "n=0/n=1/m2=0 edges included, both divide-by-zero modes") {
    val df = fixture(2000)
    val native = withRule(false)(sortedRows(momentCols(df, "x")))
    val decomposed = withRule(true)(sortedRows(momentCols(df, "x")))
    assertClose(decomposed, native, 1e-6)
    withConf("spark.sql.legacy.statisticalAggregate" -> "true") {
      val nativeL = withRule(false)(sortedRows(momentCols(df, "x")))
      val decomposedL = withRule(true)(sortedRows(momentCols(df, "x")))
      // first non-null row of a group is an n=1 frame → m2=0 → legacy NaN
      assert(nativeL.exists(r => !r.isNullAt(2) && r.getDouble(2).isNaN))
      assertClose(decomposedL, nativeL, 1e-6)
    }
  }

  test("skew/kurt decimal input under the marker routes " +
       "DistributedWindowExec and is bit-identical to the exact " +
       "unscaled-integer moments formula") {
    import spark.implicits._
    val df = fixture(1500)
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def q = df
      .withColumn(s"${M}_sk", skewness(col("xd")).over(w))
      .select(col("id"), col("g"), col(s"${M}_sk").as("sk"))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = q.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[DistributedWindowExec]),
        s"expected DistributedWindowExec in:\n$plan")
      assert(!plan.exists(_.isInstanceOf[WindowExec]),
        s"unexpected WindowExec in:\n$plan")
    }
    // manual replay: exact unscaled cents (xd is decimal(12,2) → ×100)
    // summed as DECIMAL(38,0), then the identical double formula
    val manual = sortedRows(df
      .select(col("id"), col("g"),
        ($"xd" * 100).cast("decimal(38,0)").as("u"))
      .select(col("id"), col("g"),
        sum($"u").over(w).as("s1"),
        sum(($"u" * $"u").cast("decimal(38,0)")).over(w).as("s2"),
        sum(($"u" * $"u" * $"u").cast("decimal(38,0)")).over(w).as("s3"),
        count($"u").over(w).as("n"))
      .select(col("id"), col("g"), {
        val nD = $"n".cast("double")
        val s1 = $"s1".cast("double"); val s2 = $"s2".cast("double")
        val s3 = $"s3".cast("double")
        val mu = s1 / nD
        val m2 = greatest(lit(0d), s2 - s1 * s1 / nD)
        val m3 = (s3 - lit(3d) * mu * s2) + lit(2d) * nD * (mu * mu * mu)
        when($"n" === 0, lit(null).cast("double"))
          .when(m2 === 0d, lit(null).cast("double"))
          .otherwise(sqrt(nD) * m3 / sqrt(m2 * m2 * m2)).as("sk")
      }))
    val viaRule = sortedRows(q)
    viaRule.zip(manual).foreach { case (a, b) =>
      assert(a.isNullAt(2) == b.isNullAt(2), s"row ${a.getLong(0)}")
      if (!a.isNullAt(2))
        assert(java.lang.Double.doubleToLongBits(a.getDouble(2)) ==
               java.lang.Double.doubleToLongBits(b.getDouble(2)),
          s"row ${a.getLong(0)}: ${a.getDouble(2)} vs ${b.getDouble(2)}")
    }
  }

  test("decimal path is bit-identical to the exact moments formula") {
    val df = fixture(1500)
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val viaRule = sortedRows(df.select(col("id"), col("g"),
      stddev_samp(col("xd")).over(w).as("ss")))
    val manual = sortedRows(df
      .select(col("id"), col("g"),
        sum(col("xd")).over(w).as("sx"),
        sum(col("xd") * col("xd")).over(w).as("sxx"),
        count(col("xd")).over(w).as("n"))
      .select(col("id"), col("g"),
        when(col("n") === 0, lit(null).cast("double"))
          .when(col("n") === 1, lit(null).cast("double"))
          .otherwise(sqrt(greatest(lit(0d),
            col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")
                / col("n").cast("double"))
            / (col("n").cast("double") - 1d))).as("ss")))
    viaRule.zip(manual).foreach { case (a, b) =>
      assert(a.isNullAt(2) == b.isNullAt(2))
      if (!a.isNullAt(2))
        assert(java.lang.Double.doubleToLongBits(a.getDouble(2)) ==
               java.lang.Double.doubleToLongBits(b.getDouble(2)),
          s"row ${a.getLong(0)}: ${a.getDouble(2)} vs ${b.getDouble(2)}")
    }
  }
}
