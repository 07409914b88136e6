package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The BENCH_NOTES explain-audit, turned into regression assertions
  * (r2 verdict item 7): plan properties the scale design depends on —
  * broadcast dims in the star/KPI joins, predicate pushdown reaching the
  * parquet scan, partition pruning on the incremental tail — must hold in
  * every future build, not just the round they were audited in.
  *
  * AQE is disabled per-test (same pattern as ScaleSpec): under AQE the
  * static `executedPlan` is a bare AdaptiveSparkPlanExec leaf and every
  * collect over it would pass vacuously.
  */
class PlanAuditSpec extends AnyFunSuite with WithConf {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-planaudit-test")
  val sfDir = "/root/testdata/sf0.001"

  private def staticPlan[A](df: => DataFrame): SparkPlan =
    withConf("spark.sql.adaptive.enabled" -> "false") {
      df.queryExecution.executedPlan
    }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect { case s: FileSourceScanExec => s }

  test("star join plans every dim side as BroadcastHashJoin") {
    val plan = staticPlan(SparkEntry.queries("q_star_join")(spark, sfDir))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 3, s"expected >=3 broadcast dim joins, got ${bhj.size}\n$plan")
  }

  test("KPI downtime-by-dept star plans broadcast joins and no sort-merge") {
    val plan = staticPlan(SparkEntry.queries("q_kpi_downtime_by_dept")(spark, sfDir))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    assert(bhj.nonEmpty, s"expected broadcast dim joins\n$plan")
    assert(smj.isEmpty, s"dim joins must not sort-merge: $smj")
  }

  test("q_null_filter predicate reaches the parquet scan as PushedFilters") {
    val plan = staticPlan(SparkEntry.queries("q_null_filter")(spark, sfDir))
    val pushed = scans(plan).map(_.metadata.getOrElse("PushedFilters", "[]"))
    assert(pushed.exists(f => f.contains("IsNotNull")),
      s"no IsNotNull reached any scan: $pushed")
  }

  test("column pruning: q_filter_project scan reads only referenced columns") {
    val plan = staticPlan(SparkEntry.queries("q_filter_project")(spark, sfDir))
    val widths = scans(plan).map(_.requiredSchema.size)
    // part has 9 columns; the query touches a handful
    assert(widths.nonEmpty && widths.forall(_ <= 6),
      s"scan reads more columns than the projection needs: $widths")
  }

  test("incremental tail scan partition-prunes to the watermark month") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val dir = s"$base/fact"
    // write through the REAL sink so the fixture carries the shipped
    // (p_year, p_month) layout — one row per month across a year boundary
    graft.warehouse.Incremental.appendIncremental(
      Seq(("a", "2023-11-15"), ("b", "2023-12-20"), ("c", "2024-01-03"),
        ("d", "2024-02-04"), ("e", "2024-02-28"), ("f", "2024-03-05"))
        .toDF("k", "d")
        .select($"k", $"d".cast("date").as("event_date")),
      dir, s"$base/state", "fact", "event_date", Seq("k"))

    val tail = graft.warehouse.Incremental.tailScan(
      spark, dir, "event_date", Some("2024-02-05"))
    val plan = staticPlan(tail)
    val scan = scans(plan).head
    assert(scan.partitionFilters.nonEmpty, s"no partition filters on tail scan\n$plan")
    // the prune must survive the year boundary: months >= 2024-02 are the
    // 2 partitions (2024-02, 2024-03); 2023-11/2023-12/2024-01 never read
    assert(scan.selectedPartitions.partitionCount == 2,
      s"expected 2 surviving partitions, got ${scan.selectedPartitions.partitionCount}")
    // the row-level date filter then trims inside the watermark month
    assert(tail.count() == 2) // 2024-02-28 and 2024-03-05
  }

  test("decontamination joins the corpus against a BROADCAST bench set") {
    val plan = staticPlan(SparkEntry.queries("q_decontaminate")(spark, sfDir))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"bench shingle set must broadcast, not shuffle\n$plan")
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"corpus must never shuffle for the membership test: $smj")
  }

  test("OOV scoring joins the token stream against a BROADCAST vocab") {
    val plan = staticPlan(SparkEntry.queries("q_oov_rate")(spark, sfDir))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"vocab must broadcast\n$plan")
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"token stream must not shuffle for vocab lookup: $smj")
  }

  test("filtered ANN pre-filters: the label predicate reaches the parquet scan") {
    val plan = staticPlan(SparkEntry.queries("q_embed_filtered")(spark, sfDir))
    val pushed = scans(plan).map(_.metadata.getOrElse("PushedFilters", "[]"))
    assert(pushed.exists(_.contains("LessThan(label,3)")),
      s"label predicate must prune at the scan (pre-filtering), got: $pushed")
  }

  test("z-order clustered layout skips row groups on BOTH dimensions") {
    import graft.queries.Layout
    // sf0.01 (2000 parts) so each of the 32 files has enough rows for
    // meaningful min/max footer statistics
    val sf = "/root/testdata/sf0.01"
    val base = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val part = graft.core.Tables.part(spark, sf)
    Layout.writeZClustered(spark, sf, s"$base/z", 32)
    // comparison layouts at the same file count: unclustered (hash-shuffled
    // — partkey order is NOT used as the baseline because this generator
    // correlates price with partkey, which would gift the baseline price
    // pruning no real load order provides) and single-column (size-sorted)
    part.repartition(32, hash(col("p_partkey")))
      .write.parquet(s"$base/linear")
    part.repartitionByRange(32, col("p_size"))
      .sortWithinPartitions("p_size").write.parquet(s"$base/bysize")

    // the 2-D slice from the scaladoc: a size band and a price band
    def sizeRG(p: String) = Layout.rowGroupStats(spark, s"$base/$p", "p_size", 10, 15)
    def priceRG(p: String) =
      Layout.rowGroupStats(spark, s"$base/$p", "p_retailprice", 940, 960)
    def frac(t: (Int, Int)) = t._1.toDouble / t._2

    val (zS, zP) = (sizeRG("z"), priceRG("z"))
    val (linS, linP) = (sizeRG("linear"), priceRG("linear"))
    val (bysS, bysP) = (sizeRG("bysize"), priceRG("bysize"))
    info(s"size-pred row groups  z=$zS linear=$linS bysize=$bysS")
    info(s"price-pred row groups z=$zP linear=$linP bysize=$bysP")

    // unclustered layout: min/max spans everything, nothing prunes
    assert(frac(linS) > 0.9 && frac(linP) > 0.9,
      s"unclustered layout unexpectedly pruned: $linS $linP")
    // single-column sort: prunes its own column hard, the OTHER not at all
    assert(frac(bysS) < 0.4, s"size-sorted layout must prune size: $bysS")
    assert(frac(bysP) > 0.9, s"size-sorted layout cannot prune price: $bysP")
    // z-order: ONE layout prunes BOTH dimensions
    assert(frac(zS) < 0.7, s"z layout must prune the size band: $zS")
    assert(frac(zP) < 0.7, s"z layout must prune the price band: $zP")
    assert(zP._1 < bysP._1, "z must beat single-column sort on the other dim")
    assert(zS._1 < linS._1)

    // the conjunctive 2-D slice: the candidate row-group set an AND-of-
    // ranges scan must read (footer min/max on BOTH columns)
    def both(p: String) = Layout.rowGroupStats(spark, s"$base/$p",
      Seq(("p_size", 10.0, 15.0), ("p_retailprice", 940.0, 960.0)))
    val (z2, lin2) = (both("z"), both("linear"))
    info(s"2-D slice candidate row groups: z=$z2 linear=$lin2")
    assert(z2._1 < lin2._1,
      s"clustered layout must scan fewer row groups for the 2-D slice: z=$z2 linear=$lin2")
  }

  test("profile sketch swap: q_profile Expands rows x6, q_profile_approx never Expands") {
    import org.apache.spark.sql.execution.ExpandExec
    val exact = staticPlan(SparkEntry.queries("q_profile")(spark, sfDir))
    val approx = staticPlan(SparkEntry.queries("q_profile_approx")(spark, sfDir))
    assert(exact.collect { case e: ExpandExec => e }.nonEmpty,
      "exact multi-distinct is expected to rewrite via Expand")
    assert(approx.collect { case e: ExpandExec => e }.isEmpty,
      s"sketch profile must aggregate in one pass without Expand\n$approx")
  }

  test("heavy hitters verify pass broadcasts the candidate list, never sort-merges") {
    val plan = staticPlan(SparkEntry.queries("q_heavy_hitters")(spark, sfDir))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    assert(bhj.nonEmpty, s"candidate list must broadcast into the verify scan\n$plan")
    assert(smj.isEmpty, s"the fact stream must not shuffle for the candidate filter: $smj")
  }

  test("exact-k samples plan as TakeOrderedAndProject, never a global sort") {
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    for (q <- Seq("q_sample_topk", "q_weighted_sample")) {
      val plan = staticPlan(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"$q must plan per-partition top-k heaps\n$plan")
      assert(plan.collect { case s: SortExec => s }.isEmpty,
        s"$q must not globally sort the corpus\n$plan")
    }
  }

  test("stratified group sample aggregates with heaps — no window, no per-group sort") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = staticPlan(SparkEntry.queries("q_group_sample")(spark, sfDir))
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"group sample must use the topk aggregate, not a rank window\n$plan")
  }

  test("bucketed join: no exchange below the fact-fact join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // at test SF orders fits the broadcast threshold, which would sidestep
    // the shape under audit; at 100 TB neither side broadcasts — disable
    // it so the plan is the at-scale one
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try staticPlan(SparkEntry.queries("q_bucket_join")(spark, sfDir))
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val joins = plan.collect { case j: SortMergeJoinExec => j }
    assert(joins.nonEmpty, s"expected a sort-merge join over buckets\n$plan")
    // co-located buckets: neither join child may contain a shuffle — the
    // whole point of paying the bucketBy at write time
    joins.foreach { j =>
      val ex = j.children.flatMap(_.collect { case e: ShuffleExchangeExec => e })
      assert(ex.isEmpty, s"bucketed join must not shuffle its inputs: $ex\n$plan")
    }
  }

  test("fact skyline: no single-partition window touches raw lineitem rows") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val plan = staticPlan(SparkEntry.queries("q_skyline_fact")(spark, sfDir))
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, s"expected window operators\n$plan")
    // the per-band dominance windows (the ones that see every fact row)
    // must be partitioned — a band key in partitionSpec means parallel
    val partitioned = wins.filter(_.partitionSpec.nonEmpty)
    assert(partitioned.nonEmpty,
      s"expected band-partitioned dominance windows\n$plan")
    // any UNpartitioned window is the band-count offset prefix-min: its
    // input must pass through an aggregate (rows collapsed to one per
    // band) before the window — never raw lineitem rows
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      val aggBelow = w.collect { case a: BaseAggregateExec => a }
      assert(aggBelow.nonEmpty,
        s"single-partition window over un-aggregated fact rows\n$w")
    }
  }

  test("fact timewindow: the RANGE-offset window collapses — every " +
       "WindowExec input passes through an aggregate, and the join back " +
       "broadcasts the day table") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val plan = staticPlan(SparkEntry.queries("q_fact_timewindow")(spark, sfDir))
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, s"expected the collapsed day window\n$plan")
    wins.foreach { w =>
      val aggBelow = w.collect { case a: BaseAggregateExec => a }
      assert(aggBelow.nonEmpty,
        s"RANGE-offset window over un-aggregated fact rows\n$w")
    }
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"expected broadcast join back to the fact\n$plan")
  }

  test("inference family: every global window runs over an aggregate, never raw facts") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    for (q <- Seq("q_gini", "q_trimmed_mean", "q_abc_class", "q_ks_test",
      "q_mann_whitney", "q_spearman", "q_runs_test", "q_bollinger",
      "q_qq_deciles", "q_changepoint", "q_seasonal_backtest")) {
      val plan = staticPlan(SparkEntry.queries(q)(spark, sfDir))
      val wins = plan.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$q: expected a rank/cumulative window\n$plan")
      wins.foreach { w =>
        val aggBelow = w.collect { case a: BaseAggregateExec => a }
        // a ReusedExchange leaf hides its target subtree from collect();
        // the reused exchange was itself built over the aggregate (the
        // plans here have exactly one fact-collapsing aggregate reused
        // by every window), so reuse counts as aggregated input
        val reusedBelow = w.collect {
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
        }
        assert(aggBelow.nonEmpty || reusedBelow.nonEmpty,
          s"$q: global window over un-aggregated fact rows\n$w")
      }
    }
  }

  test("fact rank: the only unpartitioned window runs over the O(buckets) aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val plan = staticPlan(SparkEntry.queries("q_fact_rank")(spark, sfDir))
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      s"expected the bucket-partitioned local rank\n$plan")
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      val aggBelow = w.collect { case a: BaseAggregateExec => a }
      assert(aggBelow.nonEmpty,
        s"offset window must run over bucket counts, not raw rows\n$w")
    }
  }

  test("weighted median: banded fact window, offset/total sides broadcast") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = staticPlan(SparkEntry.queries("q_weighted_median")(spark, sfDir))
    // the O(flags×bands) offset table and the 3-row totals must broadcast
    // back — the fact side never sort-merges for them
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"offset/total joins must broadcast, not sort-merge\n$plan")
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.size >= 2,
      s"expected broadcast joins for band offsets and flag totals\n$plan")
    // the running-weight window over the FACT must ride the (flag, band)
    // composite — partition count ≫ 3 (round-7 VERDICT item 2)
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"no partition-less window allowed\n$plan")
    assert(windows.exists(
      _.partitionSpec.flatMap(_.references.map(_.name))
        .exists(n => n == "band" || n.startsWith("__band"))),
      s"fact running-weight window must partition on the band key\n$plan")
  }

  test("string-sim join: domain self-join is broadcast, never a cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val plan = staticPlan(SparkEntry.queries("q_string_sim_join")(spark, sfDir))
    assert(plan.collect { case j: CartesianProductExec => j }.isEmpty &&
      plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"blocked equi-join must not plan as a product\n$plan")
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"name-domain join should broadcast\n$plan")
  }

  test("context-window stats scan prunes to the text column only") {
    val plan = staticPlan(SparkEntry.queries("q_context_window_stats")(spark, sfDir))
    val widths = scans(plan).map(_.requiredSchema.fieldNames.toSeq)
    assert(widths.nonEmpty && widths.forall(_ == Seq("text")),
      s"expected text-only scans: $widths")
  }

  test("q_vwap is one aggregation pass: no window, no join") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = staticPlan(SparkEntry.queries("q_vwap")(spark, sfDir))
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"vwap must not window\n$plan")
    val joins = plan.collect {
      case j: BroadcastHashJoinExec => j
      case j: SortMergeJoinExec => j
    }
    assert(joins.isEmpty, s"vwap must not join: $joins")
  }

  test("PRF expansion: feedback selection and final ranking are TakeOrderedAndProject") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val plan = staticPlan(SparkEntry.queries("q_prf_expand")(spark, sfDir))
    val topk = plan.collect { case t: TakeOrderedAndProjectExec => t }
    assert(topk.size >= 2,
      s"expected top-10 feedback + top-5 term rankings as top-k, got ${topk.size}\n$plan")
  }

  test("PIT join plans as a keyed join, never a nested-loop over the facts") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val plan = staticPlan(SparkEntry.queries("q_pit_join")(spark, sfDir))
    val bnl = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.isEmpty,
      s"interval predicate must ride a user_id equi-join, not a nested loop: $bnl")
    val keyed = plan.collect {
      case j: BroadcastHashJoinExec => j
      case j: SortMergeJoinExec => j
    }
    assert(keyed.nonEmpty, s"expected a keyed join on user_id\n$plan")
  }

  test("PII scrub is a pure map: no shuffle except the presentation sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = staticPlan(SparkEntry.queries("q_pii_scrub")(spark, sfDir))
    // the only exchange allowed is the range partitioning of the final
    // ORDER BY — the scrubbing itself must stay embarrassingly parallel
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1,
      s"pii scrub must not shuffle beyond the final sort: ${shuffles.size}\n$plan")
  }

  test("q_outliers joins the O(groups) stats table broadcast, never sort-merge") {
    val plan = staticPlan(SparkEntry.queries("q_outliers")(spark, sfDir))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    assert(bhj.nonEmpty, s"expected the stats join broadcast\n$plan")
    assert(smj.isEmpty, s"stats join must not sort-merge: $smj")
  }

  test("q_triangles wedge expansion and existence probe are broadcast joins") {
    // the wedge stream is O(sum outdeg^2) rows — it must stay pipelined in
    // one stage, never shuffled for a sort-merge (measured 26 s -> 10.6 s
    // at sf0.1 when these two joins broadcast the O(m) edge list). The
    // un-checkpointed pipeline is inspected directly: qTriangles' eager
    // localCheckpoint would reduce the visible plan to an RDD scan.
    import graft.queries.Graph
    val plan = staticPlan {
      val edges = Graph.coOrderEdges(spark, sfDir)
      Graph.triangleSummary(spark, edges, Graph.orientByDegree(spark, edges))
    }
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    // the two hinted joins: the non-equi wedge expansion (condition touches
    // ddst) and the left-semi existence probe
    assert(bhj.exists(_.condition.exists(_.references.exists(_.name == "ddst"))),
      s"wedge expansion must broadcast\n$plan")
    assert(bhj.exists(_.joinType.toString == "LeftSemi"),
      s"existence probe must broadcast\n$plan")
    // the O(sum outdeg^2) wedge stream itself must never hit a sort-merge —
    // only the O(m) degree-annotation joins below it may
    val smjOnWedges = plan.collect { case j: SortMergeJoinExec => j }
      .filter(j => j.joinType.toString == "LeftSemi" ||
        j.condition.exists(_.references.exists(_.name == "ddst")))
    assert(smjOnWedges.isEmpty,
      s"wedge pipeline must not sort-merge-shuffle: $smjOnWedges")
  }

  test("hybrid search: both input rankings plan as TakeOrderedAndProject") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val plan = staticPlan(SparkEntry.queries("q_hybrid_search")(spark, sfDir))
    val topk = plan.collect { case t: TakeOrderedAndProjectExec => t }
    // bm25 top-20, cosine top-20, and the fused top-15 itself
    assert(topk.size >= 3,
      s"expected 3 top-k operators (kw, vec, fused), got ${topk.size}\n$plan")
  }

  test("source entropy: per-source totals join back broadcast") {
    val plan = staticPlan(SparkEntry.queries("q_source_entropy")(spark, sfDir))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"totals join must broadcast\n$plan")
  }

  test("basket rules: margins broadcast, final ranking is TakeOrderedAndProject") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val plan = staticPlan(SparkEntry.queries("q_basket_rules")(spark, sfDir))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2, s"item-count margins must broadcast\n$plan")
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"top-20 must plan as TakeOrderedAndProject\n$plan")
  }

  test("cascade delete: deletion keys broadcast into the orders probe") {
    val plan = staticPlan(SparkEntry.queries("q_cascade_delete")(spark, sfDir))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.exists(_.joinType.toString == "LeftSemi"),
      s"expected a broadcast left-semi probe\n$plan")
  }

  test("corr matrix runs as ONE aggregation pass: a single scan, a single exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = staticPlan(SparkEntry.queries("q_corr_matrix")(spark, sfDir))
    assert(scans(plan).size == 1,
      s"pair unpivot must not re-scan the fact per pair: ${scans(plan).size} scans\n$plan")
    // partial→final aggregation is one exchange; the 3-row presentation
    // sort may add at most one more
    val ex = plan.collect { case e: ShuffleExchangeExec => e }
    assert(ex.size <= 2, s"expected <=2 exchanges (agg + sort), got ${ex.size}\n$plan")
  }

  test("tf-idf retrieval: query vector broadcast into postings, top-k as TakeOrderedAndProject") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val plan = staticPlan(SparkEntry.queries("q_tfidf_cosine")(spark, sfDir))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"query postings must broadcast into the postings join\n$plan")
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"top-20 must plan as TakeOrderedAndProject, not a global sort\n$plan")
  }

  test("MMR rerank: the final plan is a bounded LOCAL relation — the one " +
       "distributed job is the top-12 pool collect (r14: greedy moved to " +
       "the driver, r13 VERDICT item 5)") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // building the DataFrame already runs the pool + pair jobs; the
    // RETURNED plan must be driver-local (<= 5 rows), with no scan, no
    // exchange — proof nothing fact-sized survives past the collect
    val plan = staticPlan(SparkEntry.queries("q_mmr_rerank")(spark, sfDir))
    assert(plan.collect { case l: LocalTableScanExec => l }.nonEmpty,
      s"expected the greedy result as a local relation\n$plan")
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
      plan.collect { case f: FileSourceScanExec => f }.isEmpty,
      s"the emitted plan must not rescan or shuffle anything\n$plan")
  }

  test("SCD2 merge over a parquet dimension plans one join and scans the dimension once") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2_plan").toString + "/dim"
    val d0 = java.sql.Date.valueOf("2024-01-01")
    graft.warehouse.Scd2.initial(Seq(("e1", "Ann", "IT"), ("e2", "Bob", "HR"))
      .toDF("emp_id", "name", "dept"), "emp_id", Seq("name", "dept"), d0)
      .write.parquet(dir)
    for (invalidate <- Seq(false, true)) {
      val merged = graft.warehouse.Scd2.merge(spark.read.parquet(dir),
        Seq(("e1", "Ann", "LEGAL"), ("e3", "Cyn", "OPS")).toDF("emp_id", "name", "dept"),
        "emp_id", Seq("name", "dept"), java.sql.Date.valueOf("2024-02-01"), invalidate)
      val plan = merged.queryExecution.optimizedPlan
      val joins = plan.collect { case j: Join => j }
      val dimScans = plan.collect {
        case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h
      }
      assert(joins.size == 1, s"expected one join, got ${joins.size}\n$plan")
      assert(dimScans.size == 1 && plan.collectLeaves().size == 2,
        s"expected the dimension scanned once beside the snapshot\n$plan")
      // e1 expired + fresh, e2 kept (expired when invalidating), e3 fresh
      assert(merged.count() == 4)
    }
  }
}
