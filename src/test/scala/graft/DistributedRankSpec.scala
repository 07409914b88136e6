package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{DistributedRank, DistributedRankRewrite, DistributedWindowExec, GlobalRankExec, RankOverflow}

/** The distributed-rank extension end to end: marker/flag-on output
  * equals the naive window bit-for-bit, the physical plan swaps
  * WindowExec for GlobalRankExec / DistributedWindowExec fed by a RANGE
  * exchange, scope guards leave unsupported windows alone, and the
  * rewrite survives shuffle-width perturbation. The r9 cases cover
  * grouped row_number and ROWS/RANGE running sums; the r10 cases add
  * rank/dense_rank and running min/max/count/avg, session-ANSI overflow
  * parity, and the prefix-satisfied-partitioning straddle (an order-peer
  * run spanning partitions when the child is already range-partitioned
  * on a FINER ordering — r9 ADVICE's latent wrong-sum). */
class DistributedRankSpec extends AnyFunSuite with WithConf {
  lazy val spark: SparkSession = {
    val s = graft.core.Sessions.local(4, "graft-distrank-test")
    DistributedRank.install(s)
    s
  }

  private val M = DistributedRankRewrite.NameMarker

  private def fixture(n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      $"id",
      (abs(hash(concat(lit("v"), $"id"))) % 97).cast("long").as("v"))
  }

  private def naiveRank(df: DataFrame): DataFrame =
    df.withColumn("rn",
      row_number().over(Window.orderBy(col("v"), col("id"))))

  private def withFlag[T](on: Boolean)(body: => T): T =
    withConf(DistributedRank.Flag -> on.toString)(body)

  test("flag-on output equals the naive single-partition window") {
    val df = fixture(5000)
    val off = naiveRank(df).collect().map(_.toString).sorted.toSeq
    val on = withFlag(true) {
      val d = naiveRank(df)
      d.queryExecution.optimizedPlan // freeze the rewrite under the flag
      d.collect().map(_.toString).sorted.toSeq
    }
    assert(on == off)
  }

  test("physical plan: GlobalRankExec over a range exchange, no WindowExec") {
    val plan = withFlag(true) {
      withConf("spark.sql.adaptive.enabled" -> "false") {
        naiveRank(fixture(5000)).queryExecution.executedPlan
      }
    }
    assert(plan.collect { case g: GlobalRankExec => g }.nonEmpty,
      s"expected GlobalRankExec:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"WindowExec must be gone:\n$plan")
    assert(plan.toString.contains("rangepartitioning"),
      s"expected a range exchange feeding the rank:\n$plan")
  }

  test("rank is a 1..n permutation and work is spread over >1 partition") {
    val got = withFlag(true) {
      val d = naiveRank(fixture(5000))
      d.queryExecution.optimizedPlan
      d.select("rn").collect().map(_.getInt(0)).sorted
    }
    assert(got.toSeq == (1 to 5000))
  }

  test("scope guard: unsupported functions and mixed nodes untouched") {
    withFlag(true) {
      withConf("spark.sql.adaptive.enabled" -> "false") {
        // collect_list is the canary: non-numeric output, no decompose
        // path — genuinely out of the operator's scope. (stddev was the
        // r12 canary; since WindowVarianceDecompose it legitimately
        // decomposes into routable sum/count bases and ROUTES, so it
        // proves the opposite now.)
        val clDf = fixture(200).withColumn("cl",
          collect_list(col("v")).over(Window.orderBy(col("v"), col("id"))))
        assert(clDf.queryExecution.executedPlan
          .collect { case w: WindowExec => w }.nonEmpty,
          "collect_list() (unsupported) must stay a WindowExec")
        // one unsupported neighbor keeps the WHOLE node on WindowExec
        // (the forall guard): sum and collect_list are both aggregate
        // windows over the same default frame, so they collapse onto one
        // Window node (row_number would split off onto its own node and
        // rewrite alone — legitimately)
        val w = Window.orderBy(col("v"), col("id"))
        // ONE select: chained withColumns stack separate Window nodes,
        // and a split node with only supported functions rewrites
        // legitimately
        val mixed = fixture(200).select(col("id"), col("v"),
          sum(col("v")).over(w).as("cs"),
          collect_list(col("v")).over(w).as("cl"))
        val mixedPlan = mixed.queryExecution.executedPlan
        assert(mixedPlan.collect { case w: WindowExec => w }.nonEmpty,
          s"mixed supported+unsupported node must stay a WindowExec:\n$mixedPlan")
        assert(mixedPlan.collect { case d: DistributedWindowExec => d }.isEmpty
          && mixedPlan.collect { case g: GlobalRankExec => g }.isEmpty,
          s"mixed node must not partially rewrite:\n$mixedPlan")
        // and the former canary now routes: decomposed stddev over the
        // same global window leaves NO WindowExec under the flag
        val sdPlan = fixture(200).withColumn("sd",
          stddev(col("v")).over(Window.orderBy(col("v"), col("id"))))
          .queryExecution.executedPlan
        assert(sdPlan.collect { case d: DistributedWindowExec => d }.nonEmpty
          && sdPlan.collect { case w: WindowExec => w }.isEmpty,
          s"decomposed stddev must route under the flag:\n$sdPlan")
      }
    }
  }

  test("flag scope: a grouped SIZE-BASED window does not rewrite under " +
       "the session flag without stats proof (r9 ADVICE, narrowed r11 — " +
       "only the budgeted full-stats shapes must stay opt-in)") {
    withFlag(true) {
      withConf("spark.sql.adaptive.enabled" -> "false") {
        // ntile/percent_rank need the driver's per-group totals map, so
        // absent statistics the flag alone must NOT opt a grouped one in
        // — the budget abort stays unreachable from the session dial
        val d = nullTieFixture(300).withColumn("nt", ntile(3).over(
          Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))))
        val plan = d.queryExecution.executedPlan
        assert(plan.collect { case w: WindowExec => w }.nonEmpty &&
          plan.collect { case e: DistributedWindowExec => e }.isEmpty,
          s"grouped size-based window must need the marker or stats:\n$plan")
      }
    }
  }

  test("default-on size gate (r13): a global window routes with NO flag " +
       "or marker once the child's estimated size crosses the gate, " +
       "keeps WindowExec below it, and the kill switch works") {
    import graft.plans.DistributedRankRewrite.{AutoGlobalMinBytesKey, AutoKey}
    import spark.implicits._
    def q(): DataFrame = fixture(300)
      .withColumn("rn", row_number().over(Window.orderBy(col("v"), col("id"))))
      .withColumn("cs", sum(col("v")).over(Window.orderBy(col("v"), col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      // tiny input under the default 128 MiB gate: stays WindowExec (the
      // dim-sized justified windows keep their faster single-task plan)
      val below = q().queryExecution.executedPlan
      assert(below.collect { case w: WindowExec => w }.nonEmpty &&
        below.collect { case e: DistributedWindowExec => e }.isEmpty,
        s"below the gate must stay WindowExec:\n$below")
      // gate lowered: the SAME query routes — no flag, no marker
      spark.conf.set(AutoGlobalMinBytesKey, "1")
      val above =
        try q().queryExecution.executedPlan
        finally spark.conf.unset(AutoGlobalMinBytesKey)
      assert(above.collect { case e: DistributedWindowExec => e }.nonEmpty,
        s"above the gate must auto-route:\n$above")
      // value parity across the auto flip
      spark.conf.set(AutoGlobalMinBytesKey, "1")
      val on = try q().collect().map(_.toString).sorted.toSeq
        finally spark.conf.unset(AutoGlobalMinBytesKey)
      val off = q().collect().map(_.toString).sorted.toSeq
      assert(on == off, "auto-routed result must equal WindowExec")
      // kill switch: auto=false never routes, even above the gate
      spark.conf.set(AutoKey, "false")
      spark.conf.set(AutoGlobalMinBytesKey, "1")
      try {
        val killed = q().queryExecution.executedPlan
        assert(killed.collect { case e: DistributedWindowExec => e }.isEmpty,
          s"auto=false must keep WindowExec:\n$killed")
      } finally {
        spark.conf.unset(AutoKey)
        spark.conf.unset(AutoGlobalMinBytesKey)
      }
      // grouped windows do NOT auto-route without a stats PROOF (r14:
      // proven-low column stats flip them too — pinned separately below)
      spark.conf.set(AutoGlobalMinBytesKey, "1")
      try {
        val grouped = fixture(300).withColumn("rn", row_number().over(
          Window.partitionBy(col("v") % 3).orderBy(col("v"), col("id"))))
          .queryExecution.executedPlan
        assert(grouped.collect { case e: DistributedWindowExec => e }.isEmpty,
          s"unproven grouped windows stay flag/marker-routed:\n$grouped")
      } finally spark.conf.unset(AutoGlobalMinBytesKey)
    }
  }

  test("default-on gate routes a naive DECIMAL running sum (r14): the " +
       "NUMERIC(12,2) fact-scale window no longer declines") {
    import graft.plans.DistributedRankRewrite.AutoGlobalMinBytesKey
    import spark.implicits._
    def q(): DataFrame = spark.range(400).select(
      $"id", (($"id" % 97).cast("double") / 4).cast("decimal(12,2)").as("amt"))
      .withColumn("cs", sum(col("amt")).over(Window.orderBy(col("amt"), col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withConf("spark.sql.adaptive.enabled" -> "false",
        AutoGlobalMinBytesKey -> "1") {
      val plan = q().queryExecution.executedPlan
      assert(plan.collect { case e: DistributedWindowExec => e }.nonEmpty,
        s"a size-gated global decimal sum must auto-route:\n$plan")
    }
    // value parity across the flip
    spark.conf.set(AutoGlobalMinBytesKey, "1")
    val on = try q().collect().map(_.toString).sorted.toSeq
      finally spark.conf.unset(AutoGlobalMinBytesKey)
    assert(on == q().collect().map(_.toString).sorted.toSeq,
      "auto-routed decimal result must equal WindowExec")
  }

  test("default-on GROUPED routing needs the column-stats PROOF (r14): " +
       "ANALYZE'd low-cardinality key routes with no flag or marker; " +
       "unknown stats and proven-high keys stay WindowExec; kill switch " +
       "honored") {
    import graft.plans.DistributedRankRewrite.{AutoGlobalMinBytesKey, AutoGroupThresholdKey, AutoKey}
    import spark.implicits._
    val warehouse = java.nio.file.Files
      .createTempDirectory("graft_auto_grouped").toString
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.cbo.enabled" -> "true", AutoGlobalMinBytesKey -> "1") {
      try {
        spark.range(2000).select(
          $"id",
          ($"id" % 3).as("lo"),
          $"id".as("hi"),
          (abs(hash($"id")) % 50).cast("long").as("v"))
          .write.mode("overwrite")
          .option("path", s"$warehouse/t").saveAsTable("graft_auto_t")
        def grouped(key: String): DataFrame =
          spark.table("graft_auto_t").withColumn("rn", row_number().over(
            Window.partitionBy(col(key)).orderBy(col("v"), col("id"))))
        // BEFORE ANALYZE: no column stats -> no proof -> WindowExec
        val unproven = grouped("lo").queryExecution.executedPlan
        assert(unproven.collect { case w: WindowExec => w }.nonEmpty &&
          unproven.collect { case e: DistributedWindowExec => e }.isEmpty,
          s"no stats must mean no default flip:\n$unproven")
        spark.sql(
          "ANALYZE TABLE graft_auto_t COMPUTE STATISTICS FOR COLUMNS lo, hi")
        // proven-low (3 distinct): auto-routes with NO flag, NO marker
        val proven = grouped("lo").queryExecution.executedPlan
        assert(proven.collect { case e: DistributedWindowExec => e }.nonEmpty,
          s"stats-proven low-cardinality grouped window must auto-route:\n$proven")
        // value parity across the auto flip
        val onRows = grouped("lo").collect().map(_.toString).sorted.toSeq
        spark.conf.set(AutoKey, "false")
        val offRows = try grouped("lo").collect().map(_.toString).sorted.toSeq
          finally spark.conf.unset(AutoKey)
        assert(onRows == offRows, "auto-routed grouped result must equal WindowExec")
        // proven-HIGH (2000 distinct, threshold lowered): stays WindowExec
        spark.conf.set(AutoGroupThresholdKey, "100")
        try {
          val high = grouped("hi").queryExecution.executedPlan
          assert(high.collect { case w: WindowExec => w }.nonEmpty &&
            high.collect { case e: DistributedWindowExec => e }.isEmpty,
            s"proven-high key must stay WindowExec:\n$high")
        } finally spark.conf.unset(AutoGroupThresholdKey)
        // kill switch: auto=false never routes, proof or not
        spark.conf.set(AutoKey, "false")
        try {
          val killed = grouped("lo").queryExecution.executedPlan
          assert(killed.collect { case e: DistributedWindowExec => e }.isEmpty,
            s"auto=false must keep WindowExec:\n$killed")
        } finally spark.conf.unset(AutoKey)
      } finally spark.sql("DROP TABLE IF EXISTS graft_auto_t")
    }
  }

  test("tightened marker: a user column named __dist_rankings does NOT trigger") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val d = fixture(200).withColumn("__dist_rankings",
        row_number().over(Window.orderBy(col("v"), col("id"))))
      val plan = d.queryExecution.executedPlan
      assert(plan.collect { case w: WindowExec => w }.nonEmpty &&
        plan.collect { case g: GlobalRankExec => g }.isEmpty,
        s"prefix-similar name must not swap physical execution:\n$plan")
      val exact = fixture(200).withColumn("__dist_rank_x",
        row_number().over(Window.orderBy(col("v"), col("id"))))
      assert(exact.queryExecution.executedPlan
        .collect { case g: GlobalRankExec => g }.nonEmpty,
        "reserved __dist_rank_<suffix> form must still trigger")
    }
  }

  // ------------------------------------------------------------- r9/r10:
  // the generalized shapes, each compared marker-on vs plain (the
  // built-in WindowExec is the in-test oracle; the registry twins
  // q_fact_*_dist gate the same shapes against DuckDB). Marker-named
  // columns trigger the rewrite; the helper renames them back so the
  // row strings compare 1:1 with the plain build.

  /** Fixture with NULLs in the value column (id % 7) and heavy ties
    * (v % 13) so RANGE peers and null-prefix sums are really exercised. */
  private def nullTieFixture(n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      $"id",
      when($"id" % 7 === 0, lit(null))
        .otherwise(abs(hash(concat(lit("g"), $"id"))) % 13)
        .cast("long").as("v"),
      (abs(hash(concat(lit("f"), $"id"))) % 3).cast("long").as("flag"))
  }

  /** Build twice: plain names (WindowExec baseline) and marker names
    * renamed back (DistributedWindowExec), assert the plan swap and the
    * sorted row-string equality. `name` maps a logical column name to
    * the one the build should use. */
  private def markerVsPlain(build: (DataFrame, String => String) => DataFrame,
                            n: Int = 4000,
                            input: Option[DataFrame] = None): Unit = {
    val df = input.getOrElse(nullTieFixture(n))
    val off = build(df, identity).collect().map(_.toString).sorted.toSeq
    val marked = build(df, l => s"${M}_$l")
    val on = marked.columns.filter(_.startsWith(s"${M}_"))
      .foldLeft(marked)((d, c) =>
        d.withColumnRenamed(c, c.stripPrefix(s"${M}_")))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = on.queryExecution.executedPlan
      assert(plan.collect { case e: DistributedWindowExec => e }.nonEmpty,
        s"expected DistributedWindowExec:\n$plan")
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        s"WindowExec must be gone:\n$plan")
    }
    assert(on.collect().map(_.toString).sorted.toSeq == off,
      "marker result must equal the WindowExec result")
  }

  test("grouped row_number equals WindowExec (low-card partition key)") {
    markerVsPlain((df, nm) => df.withColumn(nm("rn"), row_number().over(
      Window.partitionBy(col("flag")).orderBy(col("v"), col("id")))))
  }

  test("global ROWS running sum equals WindowExec, incl. NULL handling") {
    markerVsPlain((df, nm) => df.withColumn(nm("cs"), sum(col("v")).over(
      Window.orderBy(col("v"), col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
  }

  test("grouped RANGE running sum equals WindowExec on order-peer ties") {
    // default frame of an ORDER BY window = RANGE UNBOUNDED..CURRENT:
    // peers (duplicate v within a flag) all report the run-end sum
    markerVsPlain((df, nm) => df.withColumn(nm("cs"), sum(col("v")).over(
      Window.partitionBy(col("flag")).orderBy(col("v")))))
  }

  test("rank and dense_rank equal WindowExec across tie runs") {
    markerVsPlain { (df, nm) =>
      val w = Window.partitionBy(col("flag")).orderBy(col("v"))
      df.withColumn(nm("rk"), rank().over(w))
        .withColumn(nm("dr"), dense_rank().over(w))
    }
  }

  test("global rank/dense_rank equal WindowExec") {
    markerVsPlain { (df, nm) =>
      val w = Window.orderBy(col("v"))
      df.withColumn(nm("rk"), rank().over(w))
        .withColumn(nm("dr"), dense_rank().over(w))
    }
  }

  test("running min/max/count/avg equal WindowExec (RANGE peers + NULLs)") {
    markerVsPlain { (df, nm) =>
      val w = Window.partitionBy(col("flag")).orderBy(col("v"))
      df.withColumn(nm("mn"), min(col("id") % 29).over(w))
        .withColumn(nm("mx"), max(col("id") % 31).over(w))
        .withColumn(nm("ct"), count(col("v")).over(w))
        .withColumn(nm("ctstar"), count(lit(1)).over(w))
    }
  }

  test("running ROWS min/max/count equal WindowExec") {
    markerVsPlain { (df, nm) =>
      val w = Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(nm("mn"), min(col("v")).over(w))
        .withColumn(nm("mx"), max(col("v")).over(w))
        .withColumn(nm("ct"), count(col("v")).over(w))
    }
  }

  test("ntile and percent_rank equal WindowExec (size-based pair; groups " +
       "span partitions so totals come from the driver merge)") {
    // ntile is tie-order-dependent like row_number → total (v, id) order;
    // percent_rank rides the same rank machinery and is tie-insensitive
    markerVsPlain { (df, nm) =>
      val w = Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))
      df.withColumn(nm("nt4"), ntile(4).over(w))
        .withColumn(nm("nt7"), ntile(7).over(w))
        .withColumn(nm("pr"), percent_rank().over(w))
    }
  }

  test("global ntile/percent_rank equal WindowExec, incl. n=1 edge") {
    import spark.implicits._
    markerVsPlain { (df, nm) =>
      val w = Window.orderBy(col("v"), col("id"))
      df.withColumn(nm("nt"), ntile(5).over(w))
        .withColumn(nm("pr"), percent_rank().over(w))
    }
    // single-row group: percent_rank must be 0.0, ntile bucket 1
    val one = Seq((1L, 2L)).toDF("id", "v")
      .withColumn(s"${M}_pr", percent_rank().over(Window.orderBy(col("v"))))
      .withColumn(s"${M}_nt", ntile(3).over(Window.orderBy(col("v"))))
      .collect().head
    assert(one.getDouble(2) == 0.0 && one.getInt(3) == 1)
  }

  test("lag(1) and lag(3) equal WindowExec, incl. NULL source values " +
       "and groups spanning partitions") {
    // total order (v, id): lag is tie-SENSITIVE, the same contract
    // WindowExec has; flag groups span the 4-partition range exchange,
    // so the driver-chained lag history is exercised by construction
    markerVsPlain { (df, nm) =>
      val w = Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))
      df.withColumn(nm("l1"), lag(col("v"), 1).over(w))
        .withColumn(nm("l3"), lag(col("v"), 3).over(w))
    }
  }

  test("global lag with a non-null default equals WindowExec") {
    markerVsPlain { (df, nm) =>
      val w = Window.orderBy(col("v"), col("id"))
      df.withColumn(nm("lg"), lag(col("v"), 2, -99L).over(w))
    }
  }

  test("lag chains across a prefix-satisfied finer pre-partitioning") {
    import spark.implicits._
    // pre-partitioned on exactly (flag, v, id): no fresh exchange, groups
    // span the 7 partitions, lag history must chain partition-to-partition
    val df = spark.range(3000).select(
      $"id",
      (abs(hash(concat(lit("s"), $"id"))) % 40).cast("long").as("v"),
      (abs(hash(concat(lit("f"), $"id"))) % 2).cast("long").as("flag"))
      .repartitionByRange(7, col("flag"), col("v"), col("id"))
    def build(nm: String => String): DataFrame = {
      val w = Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))
      df.withColumn(nm("l1"), lag(col("v"), 1).over(w))
        .withColumn(nm("l5"), lag(col("v"), 5).over(w))
        .withColumn(nm("rn"), row_number().over(w))
    }
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val marked = build(l => s"${M}_$l")
    val on = marked.columns.filter(_.startsWith(s"${M}_"))
      .foldLeft(marked)((d, c) =>
        d.withColumnRenamed(c, c.stripPrefix(s"${M}_")))
    assert(on.collect().map(_.toString).sorted.toSeq == off)
  }

  test("scope guard: over-budget lag/lead offsets and IGNORE-NULLS lead " +
       "stay WindowExec") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val w = Window.orderBy(col("v"), col("id"))
      val bigOff = fixture(200).withColumn(s"${M}_x",
        lag(col("v"), 100).over(w)) // > MaxLagOffset
      assert(bigOff.queryExecution.executedPlan
        .collect { case w: WindowExec => w }.nonEmpty,
        "over-budget lag offset must stay a WindowExec")
      val bigLead = fixture(200).withColumn(s"${M}_x",
        lead(col("v"), 100).over(w)) // > MaxLagOffset
      assert(bigLead.queryExecution.executedPlan
        .collect { case w: WindowExec => w }.nonEmpty,
        "over-budget lead offset must stay a WindowExec")
      // r12: IGNORE NULLS lead now ROUTES (ordinal-resolved pending)
      val ignNulls = fixture(200).withColumn(s"${M}_x",
        lead(col("v"), 1, null, ignoreNulls = true).over(w))
      assert(ignNulls.queryExecution.executedPlan
        .collect { case e: DistributedWindowExec => e }.nonEmpty,
        "IGNORE NULLS lead routes to the distributed window (r12)")
    }
  }

  test("lead(1) and lead(3) equal WindowExec, incl. NULL source values " +
       "and groups spanning partitions (r11: the r10 documented gap)") {
    markerVsPlain { (df, nm) =>
      val w = Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))
      df.withColumn(nm("d1"), lead(col("v"), 1).over(w))
        .withColumn(nm("d3"), lead(col("v"), 3).over(w))
    }
  }

  test("global lead with a non-null default equals WindowExec") {
    markerVsPlain { (df, nm) =>
      val w = Window.orderBy(col("v"), col("id"))
      df.withColumn(nm("ld"), lead(col("v"), 2, -99L).over(w))
    }
  }

  test("lead chains across a prefix-satisfied finer pre-partitioning " +
       "(partition-boundary lookahead)") {
    import spark.implicits._
    // pre-partitioned on exactly (flag, v, id): no fresh exchange, groups
    // span the 7 partitions — the last rows of each partition must read
    // their lookahead from the NEXT partitions via the driver head chain
    val df = spark.range(3000).select(
      $"id",
      (abs(hash(concat(lit("s"), $"id"))) % 40).cast("long").as("v"),
      (abs(hash(concat(lit("f"), $"id"))) % 2).cast("long").as("flag"))
      .repartitionByRange(7, col("flag"), col("v"), col("id"))
    def build(nm: String => String): DataFrame = {
      val w = Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))
      df.withColumn(nm("d1"), lead(col("v"), 1).over(w))
        .withColumn(nm("d5"), lead(col("v"), 5).over(w))
        .withColumn(nm("l2"), lag(col("v"), 2).over(w))
        .withColumn(nm("rn"), row_number().over(w))
    }
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val marked = build(l => s"${M}_$l")
    val on = marked.columns.filter(_.startsWith(s"${M}_"))
      .foldLeft(marked)((d, c) =>
        d.withColumnRenamed(c, c.stripPrefix(s"${M}_")))
    assert(on.collect().map(_.toString).sorted.toSeq == off)
  }

  test("cume_dist equals WindowExec across tie runs, groups spanning " +
       "partitions (r11 — completes the rank family)") {
    markerVsPlain { (df, nm) =>
      val w = Window.partitionBy(col("flag")).orderBy(col("v"))
      df.withColumn(nm("cd"), cume_dist().over(w))
        .withColumn(nm("pr"), percent_rank().over(w))
        .withColumn(nm("rk"), rank().over(w))
    }
  }

  test("global cume_dist equals WindowExec, incl. the single-row edge") {
    import spark.implicits._
    markerVsPlain((df, nm) => df.withColumn(nm("cd"),
      cume_dist().over(Window.orderBy(col("v")))),
      input = Some(Seq((1L, 5L)).toDF("id", "v")))
    markerVsPlain { (df, nm) =>
      df.withColumn(nm("cd"), cume_dist().over(Window.orderBy(col("v"))))
    }
  }

  test("cume_dist: straddled peer runs report the TRUE run end under a " +
       "prefix-satisfied finer pre-partitioning") {
    import spark.implicits._
    // heavy ties (v % 5) + finer pre-partitioning: runs straddle the 7
    // partitions, so every peer's end index needs the backward row chain
    val df = spark.range(3000).select(
      $"id",
      (abs(hash(concat(lit("s"), $"id"))) % 5).cast("long").as("v"),
      (abs(hash(concat(lit("f"), $"id"))) % 2).cast("long").as("flag"))
      .repartitionByRange(7, col("flag"), col("v"), col("id"))
    def build(nm: String => String): DataFrame =
      df.withColumn(nm("cd"), cume_dist().over(
        Window.partitionBy(col("flag")).orderBy(col("v"))))
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val marked = build(l => s"${M}_$l")
    val on = marked.columns.filter(_.startsWith(s"${M}_"))
      .foldLeft(marked)((d, c) =>
        d.withColumnRenamed(c, c.stripPrefix(s"${M}_")))
    assert(on.collect().map(_.toString).sorted.toSeq == off)
  }

  test("first_value and nth_value equal WindowExec, incl. NULL head " +
       "values and groups spanning partitions (r11 forward head chain)") {
    markerVsPlain { (df, nm) =>
      // nullTieFixture: v is NULL every 7th id — the group head is often
      // NULL, which first_value (no IGNORE NULLS) must preserve
      val w = Window.partitionBy(col("flag")).orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(nm("fv"), first(col("v")).over(w))
        .withColumn(nm("n3"), nth_value(col("v"), 3).over(w))
        .withColumn(nm("n9"), nth_value(col("v"), 9).over(w))
    }
  }

  test("first_value under the default RANGE frame equals WindowExec " +
       "(frame-end independence on order-peer ties)") {
    markerVsPlain { (df, nm) =>
      val w = Window.partitionBy(col("flag")).orderBy(col("v"))
      df.withColumn(nm("fv"), first(col("v")).over(w))
    }
  }

  test("nth_value chains the group head across a prefix-satisfied finer " +
       "pre-partitioning") {
    import spark.implicits._
    val df = spark.range(3000).select(
      $"id",
      (abs(hash(concat(lit("s"), $"id"))) % 40).cast("long").as("v"),
      (abs(hash(concat(lit("f"), $"id"))) % 2).cast("long").as("flag"))
      .repartitionByRange(7, col("flag"), col("v"), col("id"))
    def build(nm: String => String): DataFrame = {
      val w = Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(nm("fv"), first(col("v")).over(w))
        .withColumn(nm("n5"), nth_value(col("v"), 5).over(w))
    }
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val marked = build(l => s"${M}_$l")
    val on = marked.columns.filter(_.startsWith(s"${M}_"))
      .foldLeft(marked)((d, c) =>
        d.withColumnRenamed(c, c.stripPrefix(s"${M}_")))
    assert(on.collect().map(_.toString).sorted.toSeq == off)
  }

  test("RANGE per-run family (nth_value, IGNORE NULLS first/last) ROUTES " +
       "and equals WindowExec across tie runs and null runs (r13 — the " +
       "two previously-declined shapes)") {
    // determinism note: under order-by-v ties the per-run answer is only
    // well-defined when the value column is a FUNCTION of the sort key
    // (tied rows then agree), so pv derives from v — the same discipline
    // the gated q_fact_rolling_dist RANGE columns follow
    markerVsPlain { (df, nm) =>
      val w = Window.partitionBy(col("flag")).orderBy(col("v")) // RANGE default
      val d2 = df.withColumn("pv",
        when(col("v") % 3 === 0, lit(null)).otherwise(col("v") * 10))
      d2.withColumn(nm("n2"), nth_value(col("pv"), 2).over(w))
        .withColumn(nm("n9"), nth_value(col("pv"), 9).over(w))
        .withColumn(nm("n4i"),
          nth_value(col("pv"), 4, ignoreNulls = true).over(w))
        .withColumn(nm("f1i"), first(col("pv"), ignoreNulls = true).over(w))
        .withColumn(nm("l1i"), last(col("pv"), ignoreNulls = true).over(w))
    }
  }

  test("RANGE per-run family: global window variant equals WindowExec") {
    markerVsPlain { (df, nm) =>
      val w = Window.orderBy(col("v"))
      val d2 = df.withColumn("pv",
        when(col("v") % 2 === 0, lit(null)).otherwise(col("v") * 10))
      d2.withColumn(nm("n3"), nth_value(col("pv"), 3).over(w))
        .withColumn(nm("l1i"), last(col("pv"), ignoreNulls = true).over(w))
        .withColumn(nm("f1i"), first(col("pv"), ignoreNulls = true).over(w))
    }
  }

  test("RANGE per-run family chains across a prefix-satisfied finer " +
       "pre-partitioning — tie runs and null runs straddling partition " +
       "boundaries, k-th row beyond the partition (r13)") {
    import spark.implicits._
    // v % 3 → ~500-row tie runs per flag; 64 partitions → ~47-row group
    // segments, so runs straddle MANY boundaries, nth_value(pv, 40)'s
    // 40th group row lives past the group's first partition (the
    // backward-head-chain fetch), and pv is NULL for the whole v=0 run
    // (~500 rows) so IGNORE NULLS answers cross null runs wider than a
    // partition. pv = f(v) keeps every per-run answer tie-insensitive.
    val df = spark.range(3000).select(
      $"id",
      (abs(hash(concat(lit("s"), $"id"))) % 3).cast("long").as("v"),
      (abs(hash(concat(lit("f"), $"id"))) % 2).cast("long").as("flag"))
      .withColumn("pv",
        when(col("v") === 0, lit(null)).otherwise(col("v") * 100))
      .repartitionByRange(64, col("flag"), col("v"), col("id"))
    def build(nm: String => String): DataFrame = {
      val w = Window.partitionBy(col("flag")).orderBy(col("v"))
      df.withColumn(nm("n2"), nth_value(col("pv"), 2).over(w))
        .withColumn(nm("n40"), nth_value(col("pv"), 40).over(w))
        .withColumn(nm("n1i"),
          nth_value(col("pv"), 1, ignoreNulls = true).over(w))
        .withColumn(nm("n30i"),
          nth_value(col("pv"), 30, ignoreNulls = true).over(w))
        .withColumn(nm("f1i"), first(col("pv"), ignoreNulls = true).over(w))
        .withColumn(nm("l1i"), last(col("pv"), ignoreNulls = true).over(w))
    }
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val marked = build(l => s"${M}_$l")
    val on = marked.columns.filter(_.startsWith(s"${M}_"))
      .foldLeft(marked)((d, c) =>
        d.withColumnRenamed(c, c.stripPrefix(s"${M}_")))
    assert(on.collect().map(_.toString).sorted.toSeq == off)
  }

  /** Fixture with LONG null runs (tens of consecutive nulls inside each
    * flag group) — the IGNORE NULLS shapes' hard case: carries must
    * survive a null run, lag/lead must skip whole runs, and runs cross
    * partition boundaries under a finer pre-partitioning. */
  private def nullRunFixture(n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      $"id",
      // non-null only on the first 40 of every 120-row stripe → null
      // runs of ~80 consecutive rows
      when($"id" % 120 < 40,
        abs(hash(concat(lit("r"), $"id"))) % 100)
        .cast("long").as("v"),
      (abs(hash(concat(lit("f"), $"id"))) % 2).cast("long").as("flag"))
  }

  test("IGNORE NULLS family (last/first/nth/lag/lead) equals WindowExec " +
       "across long null runs (r12)") {
    markerVsPlain(build = { (df, nm) =>
      val ord = Window.partitionBy(col("flag")).orderBy(col("id"))
      val w = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(nm("carry"), last(col("v"), ignoreNulls = true).over(w))
        .withColumn(nm("f1"), first(col("v"), ignoreNulls = true).over(w))
        .withColumn(nm("n2"), nth_value(col("v"), 2, ignoreNulls = true).over(w))
        .withColumn(nm("lg1"), lag(col("v"), 1, null, ignoreNulls = true).over(ord))
        .withColumn(nm("lg2"), lag(col("v"), 2, null, ignoreNulls = true).over(ord))
        .withColumn(nm("ld1"), lead(col("v"), 1, null, ignoreNulls = true).over(ord))
        .withColumn(nm("ld3"), lead(col("v"), 3, -7L, ignoreNulls = true).over(ord))
    }, input = Some(nullRunFixture(4000)))
  }

  test("IGNORE NULLS family chains across a prefix-satisfied finer " +
       "pre-partitioning — null runs crossing partition boundaries (r12)") {
    // pre-partitioned on exactly (flag, id): no fresh exchange, each
    // flag's rows span the 9 partitions and the ~80-row null runs cross
    // boundaries — carries, lag skips, and lead ordinal-resolution must
    // all read the driver-chained seeds
    val df = nullRunFixture(3000)
      .repartitionByRange(9, col("flag"), col("id"))
    def build(nm: String => String): DataFrame = {
      val ord = Window.partitionBy(col("flag")).orderBy(col("id"))
      val w = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(nm("carry"), last(col("v"), ignoreNulls = true).over(w))
        .withColumn(nm("n3"), nth_value(col("v"), 3, ignoreNulls = true).over(w))
        .withColumn(nm("lg1"), lag(col("v"), 1, null, ignoreNulls = true).over(ord))
        .withColumn(nm("ld2"), lead(col("v"), 2, null, ignoreNulls = true).over(ord))
    }
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val marked = build(l => s"${M}_$l")
    val on = marked.columns.filter(_.startsWith(s"${M}_"))
      .foldLeft(marked)((d, c) =>
        d.withColumnRenamed(c, c.stripPrefix(s"${M}_")))
    assert(on.collect().map(_.toString).sorted.toSeq == off)
  }

  test("whole-group frames (UNBOUNDED..UNBOUNDED): sum/min/max/count/avg " +
       "equal WindowExec, mixed with running shapes on one node (r12)") {
    markerVsPlain { (df, nm) =>
      val ord = Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))
      val full = ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(nm("gsum"), sum(col("v")).over(full))
        .withColumn(nm("gmin"), min(col("v")).over(full))
        .withColumn(nm("gmax"), max(col("v")).over(full))
        .withColumn(nm("gcnt"), count(col("v")).over(full))
        .withColumn(nm("gall"), count(lit(1)).over(full))
        .withColumn(nm("rsum"), sum(col("v")).over(run)) // mixed node
    }
  }

  test("whole-group frames: global window and RANGE-full variant equal " +
       "WindowExec (r12)") {
    markerVsPlain { (df, nm) =>
      val full = Window.orderBy(col("v"), col("id")).rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      df.withColumn(nm("gsum"), sum(col("v")).over(full))
        .withColumn(nm("gavg"), avg(col("id") % 13).over(full))
    }
  }

  test("whole-group frames chain across a prefix-satisfied finer " +
       "pre-partitioning — straddling groups read complete totals (r12)") {
    import spark.implicits._
    val df = spark.range(3000).select(
      $"id",
      when($"id" % 7 === 0, lit(null))
        .otherwise(abs(hash(concat(lit("w"), $"id"))) % 50)
        .cast("long").as("v"),
      (abs(hash(concat(lit("f"), $"id"))) % 2).cast("long").as("flag"))
      .repartitionByRange(7, col("flag"), col("v"), col("id"))
    def build(nm: String => String): DataFrame = {
      val full = Window.partitionBy(col("flag"))
        .orderBy(col("v"), col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      df.withColumn(nm("gsum"), sum(col("v")).over(full))
        .withColumn(nm("gcnt"), count(col("v")).over(full))
    }
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val marked = build(l => s"${M}_$l")
    val on = marked.columns.filter(_.startsWith(s"${M}_"))
      .foldLeft(marked)((d, c) =>
        d.withColumnRenamed(c, c.stripPrefix(s"${M}_")))
    assert(on.collect().map(_.toString).sorted.toSeq == off)
  }

  test("driver chain assembly at a 4096-partition exchange: correct and " +
       "sub-second driver overhead (r11 VERDICT item 9)") {
    import spark.implicits._
    // pre-partitioned into 4096 range partitions on exactly (flag, id):
    // prefix-satisfied, so the exec sees all 4096 partitions and the
    // driver walks every chain (offsets, lag tails, lead heads, nth
    // heads) at cluster-like partition counts. Boundary mode keeps the
    // stats at O(partitions); the chains are single linear walks.
    val df = spark.range(100000).select(
      $"id",
      when($"id" % 11 === 0, lit(null))
        .otherwise(abs(hash(concat(lit("p"), $"id"))) % 1000)
        .cast("long").as("v"),
      (abs(hash(concat(lit("f"), $"id"))) % 3).cast("long").as("flag"))
      .repartitionByRange(4096, col("flag"), col("id")).cache()
    df.count() // materialize: time the window, not the exchange
    def build(nm: String => String): DataFrame = {
      val ord = Window.partitionBy(col("flag")).orderBy(col("id"))
      val w = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(nm("cs"), sum(col("v")).over(w))
        .withColumn(nm("lg"), lag(col("v"), 8, null).over(ord))
        .withColumn(nm("ld"), lead(col("v"), 8, null).over(ord))
        .withColumn(nm("carry"), last(col("v"), ignoreNulls = true).over(w))
        .withColumn(nm("n4"), nth_value(col("v"), 4).over(w))
    }
    val t0 = System.nanoTime()
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val tOff = (System.nanoTime() - t0) / 1e9
    val marked = build(l => s"${M}_$l")
    val on = marked.columns.filter(_.startsWith(s"${M}_"))
      .foldLeft(marked)((d, c) =>
        d.withColumnRenamed(c, c.stripPrefix(s"${M}_")))
    val t1 = System.nanoTime()
    val got = on.collect().map(_.toString).sorted.toSeq
    val tOn = (System.nanoTime() - t1) / 1e9
    df.unpersist()
    assert(got == off, "4096-partition chain result must equal WindowExec")
    // the PRICED claim (r11 VERDICT item 9): the driver-side work
    // between the two jobs — prefix-merge + every chain — is a handful
    // of linear walks over 4096 stats and must stay sub-second; the
    // total run also stays within a generous envelope of the WindowExec
    // baseline (the rest of the gap is 2×4096 tiny-task scheduling,
    // a local[32] artifact that a real cluster amortizes)
    // read THIS run's exec (by physical-node id) — the per-exec map is
    // what makes the assertion race-free under parallel suites (r12
    // ADVICE: the previous JVM-global could read another query's time).
    // AQE wraps executed stages in leaf QueryStageExec nodes, so descend
    // through them explicitly — plain collect stops at the stage boundary.
    def findExecs(p: org.apache.spark.sql.execution.SparkPlan): Seq[Int] = {
      val here = p match {
        case e: graft.plans.DistributedWindowExec => Seq(e.id)
        case _ => Nil
      }
      val kids = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case other => other.children
      }
      here ++ kids.flatMap(findExecs)
    }
    val execIds = findExecs(on.queryExecution.executedPlan)
    assert(execIds.nonEmpty,
      s"no DistributedWindowExec in: ${on.queryExecution.executedPlan}")
    val chainMs = execIds
      .map(graft.plans.DistributedRankDiagnostics.chainMillisFor).max
    info(f"4096-partition run: WindowExec $tOff%.2f s, distributed " +
      f"$tOn%.2f s, driver chains $chainMs%.1f ms")
    assert(chainMs > 0 && chainMs < 1000.0,
      f"driver chain assembly took $chainMs%.1f ms at 4096 partitions " +
      "— the O(partitions) walk is not flat")
    assert(tOn < math.max(30.0, tOff * 10),
      f"distributed window at 4096 partitions took $tOn%.1f s " +
      f"(WindowExec baseline $tOff%.1f s)")
  }

  test("IGNORE NULLS lead pending budget: under the conf'd edge passes, " +
       "a longer null run fails fast with the remedy") {
    import graft.plans.DistributedWindowExec.MaxPendingLeadKey
    def run(budget: Int): Seq[String] = {
      spark.conf.set(MaxPendingLeadKey, budget.toString)
      try {
        val d = nullRunFixture(400).withColumn(s"${M}_ld",
          lead(col("v"), 1, null, ignoreNulls = true)
            .over(Window.partitionBy(col("flag")).orderBy(col("id"))))
        d.collect().map(_.toString).sorted.toSeq
      } finally spark.conf.unset(MaxPendingLeadKey)
    }
    assert(run(500).nonEmpty) // generous budget: completes
    val e = intercept[org.apache.spark.SparkException] { run(4) }
    assert(e.getMessage.contains("pending lead rows") ||
      Option(e.getCause).exists(_.getMessage.contains("pending lead rows")),
      s"expected the pending-budget fail-fast, got: ${e.getMessage}")
  }

  test("rolling ROWS k PRECEDING sum/min/max/count/avg equal WindowExec, " +
       "incl. NULLs and groups spanning partitions (r11)") {
    markerVsPlain { (df, nm) =>
      val w = Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))
        .rowsBetween(-3, Window.currentRow)
      df.withColumn(nm("rs"), sum(col("v")).over(w))
        .withColumn(nm("rm"), min(col("v")).over(w))
        .withColumn(nm("rx"), max(col("v")).over(w))
        .withColumn(nm("rc"), count(col("v")).over(w))
        .withColumn(nm("ra"), avg(col("v")).over(w))
    }
  }

  test("rolling double sum replays the frame in WindowExec's own order — " +
       "bit-for-bit equality, no tolerance") {
    import spark.implicits._
    // adversarial doubles (huge + tiny alternating): any re-association
    // would diverge; the per-row oldest→newest replay must match exactly
    val df = spark.range(2000).select(
      $"id",
      when($"id" % 11 === 0, lit(null))
        .otherwise(when($"id" % 2 === 0, lit(1e15)).otherwise(lit(1e-7)) *
          (($"id" % 17) + 1))
        .cast("double").as("d"),
      (abs(hash(concat(lit("f"), $"id"))) % 2).cast("long").as("flag"))
    markerVsPlain((d, nm) => {
      val w = Window.partitionBy(col("flag")).orderBy(col("id"))
        .rowsBetween(-7, Window.currentRow)
      d.withColumn(nm("rs"), sum(col("d")).over(w))
        .withColumn(nm("ra"), avg(col("d")).over(w))
    }, input = Some(df))
  }

  test("driver group-stat budget: exactly AT the conf'd edge passes, one " +
       "past it fails fast with the WindowExec remedy (r10 VERDICT 3b)") {
    import spark.implicits._
    // the budget guards FULL-stats mode only (size-based functions need
    // the per-group totals map) — hence the ntile in the mix. One
    // partition holding 12 groups collects EXACTLY 12 (partition, group)
    // stats — deterministic, so the edge is sharp: budget 12 passes,
    // budget 11 trips (a single partition satisfies the exec's
    // OrderedDistribution, so no fresh exchange reshapes the count)
    val df = spark.range(240).select(
      $"id", ($"id" % 12).as("g"),
      (abs(hash($"id")) % 100).cast("long").as("v"))
    def run(budget: Int): Array[org.apache.spark.sql.Row] = {
      spark.conf.set(DistributedWindowExec.MaxCollectedGroupsKey,
        budget.toString)
      try df.repartition(1)
        .withColumn(s"${M}_nt", ntile(4).over(
          Window.partitionBy(col("g")).orderBy(col("v"), col("id"))))
        .collect()
      finally spark.conf.unset(DistributedWindowExec.MaxCollectedGroupsKey)
    }
    assert(run(12).length == 240, "at-budget must succeed")
    // pass 1 collects on the DRIVER, so the guard surfaces directly as
    // the IllegalStateException (not task-wrapped in a SparkException)
    val ex = intercept[Exception](run(11))
    val msg = ex.getCause match {
      case null => ex.getMessage
      case c => c.getMessage
    }
    assert(msg.contains("high-cardinality") && msg.contains("__dist_rank"),
      s"fail-fast must name the remedy, got: $msg")
  }

  test("boundary-stats mode: non-size-based shapes never trip the budget " +
       "at ANY group cardinality (r11 — driver state is O(partitions))") {
    import spark.implicits._
    // 5000 distinct groups, budget squeezed to 8: full mode would need
    // 5000 stats and abort; boundary mode retains at most 2 per partition
    val df = spark.range(20000).select(
      $"id", ($"id" % 5000).as("g"),
      (abs(hash($"id")) % 100).cast("long").as("v"))
    spark.conf.set(DistributedWindowExec.MaxCollectedGroupsKey, "8")
    try {
      val got = df
        .withColumn(s"${M}_rn", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("v"), col("id"))))
        .withColumn(s"${M}_cs", sum(col("v")).over(
          Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val on = got.collect().map(_.toString).sorted.toSeq
      val off = df
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("v"), col("id"))))
        .withColumn("cs", sum(col("v")).over(
          Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(_.toString).sorted.toSeq
      assert(on.map(_.replace(s"${M}_", "")).size == off.size)
      val onRenamed = got.columns.filter(_.startsWith(s"${M}_"))
        .foldLeft(got)((d, c) => d.withColumnRenamed(c, c.stripPrefix(s"${M}_")))
        .collect().map(_.toString).sorted.toSeq
      assert(onRenamed == off, "high-cardinality boundary mode must equal WindowExec")
    } finally spark.conf.unset(DistributedWindowExec.MaxCollectedGroupsKey)
  }

  test("flag-auto grouped routing: unknown stats rewrite non-size-based " +
       "shapes (boundary mode, abort-free) but keep size-based on " +
       "WindowExec; proven-low stats route size-based in (r11)") {
    import spark.implicits._
    withConf("spark.sql.adaptive.enabled" -> "false",
        DistributedRank.Flag -> "true") {
      val df = fixture(500).withColumn("g",
        (abs(hash(col("id"))) % 3).cast("long"))
      // non-size-based grouped + flag, NO marker, no stats → rewrites
      val rn = df.withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("v"), col("id"))))
      assert(rn.queryExecution.executedPlan
        .collect { case d: DistributedWindowExec => d }.nonEmpty,
        "flag-auto grouped non-size-based must rewrite (boundary mode)")
      // size-based grouped + flag, no stats proof → stays WindowExec
      val nt = df.withColumn("nt", ntile(4).over(
        Window.partitionBy(col("g")).orderBy(col("v"), col("id"))))
      assert(nt.queryExecution.executedPlan
        .collect { case w: WindowExec => w }.nonEmpty &&
        nt.queryExecution.executedPlan
          .collect { case d: DistributedWindowExec => d }.isEmpty,
        "flag-auto grouped size-based without stats must stay WindowExec")
    }
  }

  test("flag-auto grouped routing from CATALOG STATS alone: a proven-low " +
       "key routes size-based shapes in; a proven-high key routes " +
       "non-size-based shapes back to WindowExec (r11)") {
    import spark.implicits._
    val warehouse = java.nio.file.Files
      .createTempDirectory("graft_route_stats").toString
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.cbo.enabled" -> "true", DistributedRank.Flag -> "true") {
      try {
        spark.range(2000).select(
          $"id",
          ($"id" % 3).as("lo"),
          $"id".as("hi"),
          (abs(hash($"id")) % 50).cast("long").as("v"))
          .write.mode("overwrite")
          .option("path", s"$warehouse/t").saveAsTable("graft_route_t")
        spark.sql(
          "ANALYZE TABLE graft_route_t COMPUTE STATISTICS FOR COLUMNS lo, hi")
        val t = spark.table("graft_route_t")
        // lo: 3 distinct (stats-proven ≤ threshold) → size-based rewrites
        val nt = t.withColumn("nt", ntile(4).over(
          Window.partitionBy(col("lo")).orderBy(col("v"), col("id"))))
        assert(nt.queryExecution.executedPlan
          .collect { case d: DistributedWindowExec => d }.nonEmpty,
          s"stats-proven low-cardinality ntile must rewrite:\n" +
            nt.queryExecution.executedPlan)
        // hi: 2000 distinct — set the threshold below it → non-size-based
        // routes BACK to WindowExec on stats alone
        spark.conf.set(DistributedRankRewrite.AutoGroupThresholdKey, "100")
        try {
          val rn = t.withColumn("rn", row_number().over(
            Window.partitionBy(col("hi")).orderBy(col("v"), col("id"))))
          assert(rn.queryExecution.executedPlan
            .collect { case w: WindowExec => w }.nonEmpty &&
            rn.queryExecution.executedPlan
              .collect { case d: DistributedWindowExec => d }.isEmpty,
            "stats-proven high-cardinality key must stay WindowExec")
        } finally
          spark.conf.unset(DistributedRankRewrite.AutoGroupThresholdKey)
      } finally spark.sql("DROP TABLE IF EXISTS graft_route_t")
    }
  }

  test("running avg over exact integers equals WindowExec bit-for-bit") {
    // integer inputs: the double sums are exact (< 2^53), so block
    // association cannot diverge and the string compare is safe
    markerVsPlain { (df, nm) =>
      val w = Window.partitionBy(col("flag")).orderBy(col("v"))
      df.withColumn(nm("av"), avg(col("v")).over(w))
    }
  }

  test("running min/max over doubles with NaN follow Spark's NaN-greatest " +
       "ordering (not java Math NaN-propagation)") {
    import spark.implicits._
    // NaN arrives FIRST in the running order: Spark's Min skips it (NaN
    // is the greatest double), so the running min must be the smallest
    // non-NaN seen — java math.min would poison every later row; Max
    // must return NaN once seen (NaN-greatest)
    val df = Seq((1L, Double.NaN), (2L, 5.0), (3L, 2.0), (4L, Double.NaN),
      (5L, 7.0)).toDF("id", "d")
    def build(nm: String => String): DataFrame = {
      val w = Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(nm("mn"), min(col("d")).over(w))
        .withColumn(nm("mx"), max(col("d")).over(w))
    }
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val on = build(l => s"${M}_$l")
      .withColumnRenamed(s"${M}_mn", "mn").withColumnRenamed(s"${M}_mx", "mx")
      .collect().map(_.toString).sorted.toSeq
    assert(on == off, "NaN extreme semantics must match WindowExec")
    assert(off.exists(_.contains("[3,2.0,2.0,NaN]")),
      "fixture must exercise min-skips-NaN and max-keeps-NaN at once")
  }

  test("running double min/max keep the FIRST-seen signed zero on ±0.0 " +
       "ties, matching WindowExec's replace-on-strict-compare (r10 ADVICE)") {
    import spark.implicits._
    // ±0.0 compare EQUAL under primitive </> — a tie. WindowExec's Min/Max
    // replace the buffer only on a strict compare, so the first zero seen
    // survives; math.min/max would instead pick the signed zero by SIGN BIT
    // and flip -0.0/+0.0 in string-compared gates. Both phase orders are
    // exercised: dpos sees +0.0 first, dneg sees -0.0 first.
    val df = spark.range(600).select(
      $"id",
      when($"id" % 2 === 0, lit(0.0)).otherwise(lit(-0.0)).as("dpos"),
      when($"id" % 2 === 0, lit(-0.0)).otherwise(lit(0.0)).as("dneg"),
      lit(0L).as("flag"))
    markerVsPlain((d, nm) => {
      val w = Window.partitionBy(col("flag")).orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn(nm("mn_p"), min(col("dpos")).over(w))
        .withColumn(nm("mx_p"), max(col("dpos")).over(w))
        .withColumn(nm("mn_n"), min(col("dneg")).over(w))
        .withColumn(nm("mx_n"), max(col("dneg")).over(w))
    }, input = Some(df))
  }

  test("NULL-prefix RANGE sum is NULL until the first non-null value") {
    // NULLS FIRST ordering puts the null-v rows first; their running sum
    // must be NULL (no non-null contribution yet), not 0
    val d = nullTieFixture(140).withColumn(s"${M}_cs", sum(col("v")).over(
      Window.orderBy(col("v"))))
    d.queryExecution.optimizedPlan
    val got = d.filter(col("v").isNull).select(s"${M}_cs").collect()
    assert(got.nonEmpty && got.forall(_.isNullAt(0)),
      "all-null prefix must sum to NULL")
  }

  test("mixed row_number + rank + dense_rank + ROWS/RANGE aggs on one node") {
    // same (partition, order) spec -> one Window node carrying all the
    // expressions; all supported -> one exec
    markerVsPlain { (df, nm) =>
      val w = Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))
      df.withColumn(nm("rn"), row_number().over(w))
        .withColumn(nm("rk"), rank().over(w))
        .withColumn(nm("dr"), dense_rank().over(w))
        .withColumn(nm("csr"), sum(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn(nm("cs"), sum(col("v")).over(w))
        .withColumn(nm("mn"), min(col("v")).over(w))
        .withColumn(nm("lg"), lag(col("v"), 2).over(w))
    }
  }

  test("double-typed running sum equals WindowExec within FP tolerance") {
    // block association (per-partition pass-1 sums + broadcast offset)
    // vs WindowExec's strictly sequential accumulation: final-ULP
    // divergence is possible on fractional data, so compare with a
    // relative tolerance (r9 ADVICE) — the exact-integer cases above
    // pin bit-equality where it is guaranteed
    val df = nullTieFixture(4000)
    def build(d: DataFrame, nm: String => String): DataFrame =
      d.withColumn(nm("cs"), sum(col("v").cast("double") / 7).over(
        Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def keyed(d: DataFrame, cs: String): Map[Long, Option[Double]] =
      d.collect().map(r => r.getAs[Long]("id") ->
        (if (r.isNullAt(r.fieldIndex(cs))) None
         else Some(r.getAs[Double](cs)))).toMap
    val off = keyed(build(df, identity), "cs")
    val on = keyed(build(df, l => s"${M}_$l"), s"${M}_cs")
    assert(off.keySet == on.keySet)
    off.foreach { case (id, a) =>
      (a, on(id)) match {
        case (None, None) =>
        case (Some(x), Some(y)) =>
          assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)),
            s"id=$id: $x vs $y")
        case other => fail(s"id=$id null mismatch: $other")
      }
    }
  }

  test("prefix-satisfied finer partitioning: straddled peer runs still " +
       "report the true end-of-run RANGE values (r9 ADVICE)") {
    import spark.implicits._
    // heavy ties (v % 5) + a pre-existing range partitioning on the
    // STRICTLY FINER (flag, v, id): OrderedDistribution(flag, v) is
    // prefix-satisfied, EnsureRequirements adds NO fresh exchange, and
    // peer runs straddle partition boundaries — the case where r9's
    // operator silently dropped later peers' contributions
    val df = spark.range(4000).select(
      $"id",
      (abs(hash(concat(lit("s"), $"id"))) % 5).cast("long").as("v"),
      (abs(hash(concat(lit("f"), $"id"))) % 2).cast("long").as("flag"))
      .repartitionByRange(7, col("flag"), col("v"), col("id"))
    def build(nm: String => String): DataFrame = {
      val w = Window.partitionBy(col("flag")).orderBy(col("v"))
      df.withColumn(nm("cs"), sum(col("v")).over(w))
        .withColumn(nm("rk"), rank().over(w))
        .withColumn(nm("dr"), dense_rank().over(w))
        .withColumn(nm("mx"), max(col("id")).over(w))
        .withColumn(nm("ct"), count(lit(1)).over(w))
    }
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val marked = build(l => s"${M}_$l")
    val on = marked.columns.filter(_.startsWith(s"${M}_"))
      .foldLeft(marked)((d, c) =>
        d.withColumnRenamed(c, c.stripPrefix(s"${M}_")))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = on.queryExecution.executedPlan
      assert(plan.collect { case e: DistributedWindowExec => e }.nonEmpty,
        s"expected DistributedWindowExec:\n$plan")
      // exactly the ONE explicit repartitionByRange exchange: the exec
      // must have consumed the finer pre-partitioning (that is what
      // makes the straddle real)
      assert(plan.collect { case e: ShuffleExchangeExec => e }.size == 1,
        s"expected the pre-partitioning to satisfy the requirement:\n$plan")
    }
    assert(on.collect().map(_.toString).sorted.toSeq == off,
      "straddled peer runs must merge across partitions")
  }

  test("overflow parity with WindowExec under the session's ANSI setting") {
    import spark.implicits._
    val df = Seq((1L, Long.MaxValue), (2L, 1L), (3L, 1L)).toDF("id", "v")
    def build(nm: String => String): DataFrame =
      df.withColumn(nm("cs"), sum(col("v")).over(
        Window.orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // ANSI off (the session default): WindowExec WRAPS on Long overflow;
    // the custom exec must wrap identically, not throw (r9 VERDICT 4a)
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val on = build(l => s"${M}_$l").withColumnRenamed(s"${M}_cs", "cs")
      .collect().map(_.toString).sorted.toSeq
    assert(on == off, "non-ANSI overflow must wrap like WindowExec")
    assert(off.exists(_.contains(s"${Long.MinValue}")),
      "fixture must actually overflow")
    // ANSI on: both throw
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      intercept[Throwable] { build(identity).collect() }
      val e = intercept[Throwable] { build(l => s"${M}_$l").collect() }
      def arithmetic(t: Throwable): Boolean =
        t != null && (t.isInstanceOf[ArithmeticException] ||
          arithmetic(t.getCause))
      assert(arithmetic(e), s"expected an arithmetic overflow, got $e")
    } finally spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  test("grouped-dist shuffle-width perturbation: widths 3 and 11 agree") {
    def run(width: String): Seq[String] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", width)
        val d = nullTieFixture(3000)
          .withColumn(s"${M}_rn", row_number().over(
            Window.partitionBy(col("flag")).orderBy(col("v"), col("id"))))
          .withColumn(s"${M}_cs", sum(col("v")).over(
            Window.partitionBy(col("flag")).orderBy(col("v"))))
          .withColumn(s"${M}_rk", rank().over(
            Window.partitionBy(col("flag")).orderBy(col("v"))))
        d.queryExecution.optimizedPlan
        d.collect().map(_.toString).sorted.toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(run("3") == run("11"))
  }

  test("2^31 rank ceiling: the guard fails fast instead of wrapping") {
    // the stated IntegerType contract (r8 VERDICT #6): driver-side totals
    // past Int.MaxValue must throw, not wrap in toInt
    RankOverflow.check(Int.MaxValue.toLong) // at the ceiling: fine
    val e = intercept[ArithmeticException] {
      RankOverflow.check(Int.MaxValue.toLong + 1)
    }
    assert(e.getMessage.contains("Int.MaxValue"))
  }

  test("shuffle-width perturbation: identical ranks at widths 3 and 11") {
    def run(width: String): Seq[String] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", width)
        withFlag(true) {
          val d = naiveRank(fixture(3000))
          d.queryExecution.optimizedPlan
          d.collect().map(_.toString).sorted.toSeq
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(run("3") == run("11"))
  }

  test("declined-shape diagnostic: a RANGE OFFSET frame stays on " +
       "WindowExec AND says so (r11 VERDICT item 6; r13 — the previous " +
       "exemplar, RANGE nth_value, now routes)") {
    import graft.plans.DistributedRankDiagnostics
    DistributedRankDiagnostics.clear()
    // RANGE k PRECEDING .. CURRENT ROW (a value-offset frame) is
    // deliberately out of scope — the moving window is value-bounded,
    // not row-bounded, so no fixed-depth ring replays it
    val w = Window.orderBy(col("v")).rangeBetween(-5, Window.currentRow)
    val (plan, declined) = withFlag(true) {
      withConf("spark.sql.adaptive.enabled" -> "false") {
        val d = fixture(500).withColumn("rs", sum(col("v")).over(w))
        val p = d.queryExecution.executedPlan
        d.collect()
        (p, DistributedRankDiagnostics.declined)
      }
    }
    assert(plan.collect { case we: WindowExec => we }.nonEmpty,
      s"a RANGE offset frame must stay on WindowExec:\n$plan")
    // ...and the refusal is visible, naming the function
    assert(declined.exists(m => m.contains("sum") &&
      m.contains("RANGE")),
      s"expected a RANGE-offset-frame decline diagnostic, got: $declined")
  }

  // ------------------------------------------------------------ r14: decimal
  /** DecimalType(12,2) money-column shape (the warehouse NUMERIC(12,2)):
    * nulls every 11th row, a low-cardinality tie column for RANGE peer
    * runs, a 3-value group key. */
  private def decimalFixture(n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      $"id",
      when($"id" % 11 === 0, lit(null))
        .otherwise(((abs(hash(concat(lit("d"), $"id"))) % 1000000)
          .cast("double") / 100).cast("decimal(12,2)")).as("dv"),
      ((abs(hash(concat(lit("t"), $"id"))) % 7).cast("double") / 4)
        .cast("decimal(12,2)").as("tie"),
      (abs(hash(concat(lit("f"), $"id"))) % 3).cast("long").as("flag"))
  }

  test("decimal running sum/min/max/avg equals WindowExec exactly " +
       "(r14 — the NUMERIC(12,2) money shape, nulls included)") {
    // Decimal accumulation is exact, so unlike the double family this
    // compares bit-for-bit: sum emits Decimal(22,2), avg Decimal(16,6)
    // through the replayed divide chain
    markerVsPlain((df, nm) => {
      val w = Window.partitionBy(col("flag")).orderBy(col("dv"), col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(nm("ds"), sum(col("dv")).over(w))
        .withColumn(nm("dmn"), min(col("dv")).over(w))
        .withColumn(nm("dmx"), max(col("dv")).over(w))
        .withColumn(nm("dav"), avg(col("dv")).over(w))
    }, input = Some(decimalFixture(4000)))
  }

  test("decimal RANGE default-frame aggregates equal WindowExec across " +
       "peer runs (ties real; run-end values tie-insensitive)") {
    markerVsPlain((df, nm) => {
      val w = Window.partitionBy(col("flag")).orderBy(col("tie"))
      df.withColumn(nm("rs"), sum(col("tie")).over(w))
        .withColumn(nm("rmn"), min(col("tie")).over(w))
        .withColumn(nm("rav"), avg(col("tie")).over(w))
    }, input = Some(decimalFixture(3000)))
  }

  test("retracting rolling frames (r14 optimization): null runs longer " +
       "than the frame drain the ring aggregate to empty and refill; " +
       "legacy long rolling sum wraps exactly like WindowExec") {
    import spark.implicits._
    // null runs of length 9 > k = 4 force the running ring aggregate
    // through the NN == 0 / acc == null state repeatedly — the retract
    // path's only nontrivial transition; huge alternating-sign longs
    // overflow the legacy wrap sum mid-stream, pinning mod-2⁶⁴ parity
    val df = spark.range(3000).select(
      $"id",
      when(($"id" % 16) < 9, lit(null))
        .otherwise(((abs(hash(concat(lit("r"), $"id"))) % 100000)
          .cast("double") / 100).cast("decimal(12,2)")).as("dv"),
      when($"id" % 13 === 0, lit(null))
        .otherwise(when($"id" % 2 === 0, lit(Long.MaxValue / 2))
          .otherwise(lit(Long.MinValue / 3)) + ($"id" % 7)).as("lv"),
      (abs(hash(concat(lit("f"), $"id"))) % 2).cast("long").as("flag"))
    markerVsPlain((d, nm) => {
      val w = Window.partitionBy(col("flag")).orderBy(col("id"))
        .rowsBetween(-4, Window.currentRow)
      d.withColumn(nm("ds"), sum(col("dv")).over(w))
        .withColumn(nm("da"), avg(col("dv")).over(w))
        .withColumn(nm("dc"), count(col("dv")).over(w))
        .withColumn(nm("ls"), sum(col("lv")).over(w))
    }, input = Some(df))
  }

  test("decimal rolling and whole-group frames equal WindowExec") {
    markerVsPlain((df, nm) => {
      val w = Window.partitionBy(col("flag")).orderBy(col("dv"), col("id"))
      df.withColumn(nm("ra"), avg(col("dv")).over(w.rowsBetween(-3, 0)))
        .withColumn(nm("rsum"), sum(col("dv")).over(w.rowsBetween(-5, 0)))
        .withColumn(nm("gmx"), max(col("dv")).over(w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    }, input = Some(decimalFixture(2500)))
  }

  test("decimal straddled peer runs merge the driver-chained Decimal tail " +
       "(prefix-satisfied finer partitioning)") {
    import spark.implicits._
    // same construction as the r9 straddle case: heavy ties + a
    // pre-existing STRICTLY FINER range partitioning, so peer runs cross
    // partitions and the trailing run must read the backward-chained
    // Decimal tail (tailDecV) for its true end-of-run sum/avg/extreme
    val df = spark.range(4000).select(
      $"id",
      ((abs(hash(concat(lit("s"), $"id"))) % 5).cast("double") / 4)
        .cast("decimal(12,2)").as("tie"),
      (abs(hash(concat(lit("f"), $"id"))) % 2).cast("long").as("flag"))
      .repartitionByRange(7, col("flag"), col("tie"), col("id"))
    def build(nm: String => String): DataFrame = {
      val w = Window.partitionBy(col("flag")).orderBy(col("tie"))
      df.withColumn(nm("cs"), sum(col("tie")).over(w))
        .withColumn(nm("av"), avg(col("tie")).over(w))
        .withColumn(nm("mx"), max(col("tie")).over(w))
    }
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val marked = build(l => s"${M}_$l")
    val on = marked.columns.filter(_.startsWith(s"${M}_"))
      .foldLeft(marked)((d, c) =>
        d.withColumnRenamed(c, c.stripPrefix(s"${M}_")))
    assert(on.collect().map(_.toString).sorted.toSeq == off,
      "straddled decimal peer runs must merge across partitions")
  }

  test("decimal overflow parity: legacy NULLs exactly WindowExec's rows " +
       "(incl. RECOVERY once negatives bring the sum back in range), " +
       "ANSI throws at the first overflow row") {
    import spark.implicits._
    // input Decimal(38,0): the sum type is also (38,0), so two max-value
    // rows overflow at row 2; the probe-verified WindowExec contract is
    // an EXACT internal buffer with per-row CheckOverflow — null at rows
    // whose prefix exceeds 38 digits, real values again when the prefix
    // returns to range. The distributed operator's exact Decimal channel
    // with emission-point checks reproduces it bit-for-bit.
    val nines = "9" * 38
    val df = spark.range(6).select($"id",
      when($"id" < 2, lit(nines)).otherwise(lit("-" + nines))
        .cast("decimal(38,0)").as("d"))
    def build(nm: String => String): DataFrame =
      df.withColumn(nm("cs"), sum(col("d")).over(
        Window.orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val off = build(identity).collect().map(_.toString).sorted.toSeq
    val on = build(l => s"${M}_$l").withColumnRenamed(s"${M}_cs", "cs")
      .collect().map(_.toString).sorted.toSeq
    assert(on == off, "legacy decimal overflow must NULL like WindowExec")
    assert(off.count(_.endsWith(",null]")) == 2,
      s"fixture must overflow at rows 1 and 5: $off")
    assert(off.exists(s => s.startsWith("[2,") && s.endsWith(s",$nines]")),
      s"row 2 must RECOVER the exact sum after the overflow row: $off")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      def arithmetic(t: Throwable): Boolean =
        t != null && (t.isInstanceOf[ArithmeticException] ||
          arithmetic(t.getCause))
      val e0 = intercept[Throwable] { build(identity).collect() }
      assert(arithmetic(e0), s"WindowExec must throw under ANSI, got $e0")
      val e = intercept[Throwable] { build(l => s"${M}_$l").collect() }
      assert(arithmetic(e), s"expected decimal overflow, got $e")
    } finally spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  test("declined-shape diagnostic is silent when the extension was not " +
       "asked to route (flag off, no marker)") {
    import graft.plans.DistributedRankDiagnostics
    DistributedRankDiagnostics.clear()
    val w = Window.orderBy(col("v")).rangeBetween(-5, Window.currentRow)
    val d = fixture(500).withColumn("rs", sum(col("v")).over(w))
    d.queryExecution.optimizedPlan
    d.collect()
    assert(DistributedRankDiagnostics.declined.isEmpty,
      "no flag, no marker -> no diagnostic noise")
  }

  test("emit-order contract (r15, the sort-elision guarantee): " +
       "DistributedWindowExec and GlobalRankExec output their child's " +
       "rows in EXACTLY child order, partition for partition") {
    // `outputOrdering = child.outputOrdering` — and with it every elided
    // terminal presentation sort in the *_dist window family — is sound
    // only if pass 2 is a strictly order-preserving streaming emit. Pin
    // that contract machine-checked: any future buffering/reordering in
    // the emit path fails this test, not the driver's oracle. Frames mix
    // every two-pass family: running agg, retract-ring rolling frame,
    // RANGE peer agg, rank, and a decimal running sum.
    import spark.implicits._
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.range(4000).select(
        $"id",
        (abs(hash(concat(lit("g"), $"id"))) % 5).cast("long").as("flag"),
        (abs(hash(concat(lit("v"), $"id"))) % 37).cast("long").as("v"))
        .withColumn("dw", ($"v".cast("double") / 100).cast("decimal(12,2)"))
      val w = Window.partitionBy($"flag").orderBy($"v", $"id")
      val rng = Window.partitionBy($"flag").orderBy($"v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val q = df
        .withColumn(s"${M}_rs", sum($"v").over(w))
        .withColumn(s"${M}_rl", sum($"v").over(w.rowsBetween(-4, 0)))
        .withColumn(s"${M}_rk", rank().over(w))
        .withColumn(s"${M}_pr", sum($"v").over(rng))
        .withColumn(s"${M}_ds", sum($"dw").over(w))
      q.queryExecution.optimizedPlan
      val plan = q.queryExecution.executedPlan
      val execs = plan.collect { case e: DistributedWindowExec => e }
      assert(execs.nonEmpty, s"expected DistributedWindowExec:\n$plan")
      // key columns sit at the same child-output positions in both RDDs
      // (the exec appends its window columns after the child's)
      def keySeq(rdd: org.apache.spark.rdd.RDD[
          org.apache.spark.sql.catalyst.InternalRow],
          offs: Seq[Int]): Seq[(Int, Seq[Long])] =
        rdd.mapPartitionsWithIndex({ (i, it) =>
          it.map(r => (i, offs.map(o => r.getLong(o))))
        }, preservesPartitioning = true).collect().toSeq
      execs.foreach { e =>
        val names = e.child.output.map(_.name)
        val offs = Seq("flag", "v", "id").map(names.indexOf)
        assert(offs.forall(_ >= 0), s"fixture columns missing: $names")
        val childSeq = keySeq(e.child.execute(), offs)
        val outSeq = keySeq(e.execute(), offs)
        assert(outSeq == childSeq,
          "DistributedWindowExec must emit child rows in child order")
      }
      // same contract for the global-rank exec
      val rq = withFlag(true) {
        val d = naiveRank(fixture(4000))
        d.queryExecution.optimizedPlan
        d
      }
      val rplan = rq.queryExecution.executedPlan
      val ranks = rplan.collect { case g: GlobalRankExec => g }
      assert(ranks.nonEmpty, s"expected GlobalRankExec:\n$rplan")
      ranks.foreach { g =>
        val names = g.child.output.map(_.name)
        val offs = Seq("v", "id").map(names.indexOf)
        val childSeq = keySeq(g.child.execute(), offs)
        val outSeq = keySeq(g.execute(), offs)
        assert(outSeq == childSeq,
          "GlobalRankExec must emit child rows in child order")
      }
    }
  }
}
