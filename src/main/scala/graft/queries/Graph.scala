package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables

/** Iterative graph computation on DataFrames — the loop-with-lineage-
  * truncation pattern every Spark iterative algorithm (PageRank, label
  * propagation, BFS) needs at scale: each iteration is ONE keyed join +
  * aggregation, and `localCheckpoint` cuts the plan after every step so the
  * lineage (and the optimizer's input) stays O(1) instead of doubling per
  * iteration — without it, iteration 20 replans (and on failure recomputes)
  * the whole history.
  *
  * The dedup-clusters operator (TextDedup.qDedupClusters) already does
  * iterate-to-fixpoint min-label propagation; this module carries the
  * weighted-score side of the family.
  */
object Graph {

  /** Fixed-point arithmetic scale: ranks live in integer units of 10⁻¹².
    * Why integers: float PageRank sums are shuffle-order-dependent in the
    * last ulp, so no two runs (let alone two engines) agree bit-for-bit.
    * With ranks as scaled BIGINTs every contribution is an integer
    * division and every aggregation an exact integer sum — associative,
    * commutative, and replayed exactly by the DuckDB oracle's unrolled
    * iterations. The quantization error (≤ outdeg · 10⁻¹² per node per
    * step) is orders below anything a ranking consumer can observe. */
  private val Scale = 1000000000000L
  private val Damp = 85 // d = 0.85, in percent
  private val Iters = 5
  private val NSeeds = 5 // q_ppr's personalization set size

  // ----------------------------------------------------------- q_pagerank
  /** PageRank over the co-purchase graph: within each order, consecutive
    * lineitems (by linenumber, partkey-tiebroken — lineitem carries
    * deliberate duplicate (orderkey, linenumber) rows) define a directed
    * part→part edge; rank flows along distinct edges for 5 damped
    * iterations (d = 0.85, dangling mass dropped — documented semantics,
    * identical on both engines).
    *
    * Scale shape: edges/degrees build once (one window + one distinct —
    * both shuffle on the natural keys) and persist; each iteration is a
    * keyed edges⋈ranks join + one aggregation — the only per-iteration
    * shuffle is on node id, AQE-sizable, with no driver-side data path.
    * The part-count scalar is a dim-table count, not a fact collect. At
    * 100 TB the edge list is the big table: it stays partitioned by src
    * across iterations, so the join co-locates after the first shuffle. */
  def qPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pagerankRanks(s, dir)
      .orderBy($"rank".desc, $"node")
      .limit(20)
      .select($"node".as("p_partkey"), $"rank")
  }

  /** Full per-node rank table (no top-k) — qPagerank's source, exposed so
    * tests can audit the #20/#21 boundary and full-table determinism. */
  private[graft] def pagerankRanks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber", $"l_partkey")
    val edges = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
      .withColumn("prev", lag($"l_partkey", 1).over(w))
      .filter($"prev".isNotNull && $"prev" =!= $"l_partkey")
      .select($"prev".cast("long").as("src"), $"l_partkey".cast("long").as("dst"))
      .distinct()
    // (src, dst, outdeg) built once — the per-iteration join only touches
    // ranks, which stays dim-sized and broadcastable
    val linked = edges
      .join(edges.groupBy($"src").agg(count(lit(1)).as("outdeg")), "src")
    val nodes = Tables.part(s, dir).select($"p_partkey".cast("long").as("node"))
    val n = nodes.count() // dim-sized scalar (the N in (1-d)/N)
    val base = (Scale / 100) * (100 - Damp) / n

    // Iteration machinery (r15, the q_ppr treatment): NO per-iteration
    // persist+count. Each rank vector feeds exactly one consumer (the next
    // iteration's contrib join), so the loop is a pure shuffle chain — one
    // action at the end executes it as one DAG, and ReuseExchange dedupes
    // the repeated edges/linked/nodes subtrees (each ends in an Exchange
    // with an identical canonical form). The previous shape ran a blocking
    // count() job per iteration: 5 serial driver jobs whose scheduling
    // latency dominated at bench scale (q_ppr dropped the same pattern for
    // 1.34× on the driver box, r14). Lineage stays the source of truth —
    // strictly safer than both persist (eviction refetch) and
    // localCheckpoint (truncated-lineage block loss, the round-5 hazard).
    var ranks = nodes.withColumn("rank", lit(Scale / n))
    for (_ <- 1 to Iters) {
      val contrib = linked
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select($"dst", expr("rank div outdeg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("contrib"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select($"node",
          (lit(base) + expr(s"($Damp * coalesce(contrib, 0L)) div 100")).as("rank"))
    }
    ranks
  }

  // ---------------------------------------------------------------- q_hits
  /** HITS hubs & authorities over the same directed co-purchase graph as
    * [[qPagerank]] — the bipartite-flavored centrality that separates
    * "points at good parts" (hub) from "is pointed at" (authority), the
    * ranking pair a recommendation surface wants where PageRank conflates
    * them. 3 iterations, each two half-steps (auth ← Σ hub over in-edges,
    * hub ← Σ auth over out-edges), max-normalized in fixed-point integer
    * arithmetic: scores are BIGINTs of 10⁻¹², the normalize step is ONE
    * decimal multiply + integral divide by the exact integer max — every
    * aggregation an exact integer sum, bit-replayed by the oracle's
    * unrolled CTEs.
    *
    * Scale shape: identical to pagerank — edges build once (ReuseExchange
    * dedupes the repeated references); each half-step is a keyed
    * edges⋈scores join + one aggregation (shuffle on node id) + a 1-row
    * max broadcast back. The score table stays dim-sized; same lazy
    * single-DAG loop discipline as [[qPagerank]] (r15). */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"l_orderkey")
      .orderBy($"l_linenumber", $"l_partkey")
    val edges = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
      .withColumn("prev", lag($"l_partkey", 1).over(w))
      .filter($"prev".isNotNull && $"prev" =!= $"l_partkey")
      .select($"prev".cast("long").as("src"),
        $"l_partkey".cast("long").as("dst"))
      .distinct()
    val nodes = Tables.part(s, dir)
      .select($"p_partkey".cast("long").as("node"))
    val norm = s"cast((cast(coalesce(raw, 0L) as decimal(38,0)) * $Scale)" +
      " div mx as bigint)"
    // Job-count discipline (this loop was 29-42 s at sf0.1 in its
    // max-as-broadcast-subquery formulations — every broadcast(agg) and
    // in-loop nodes re-join was a separate ~1 s job × 4+ per round):
    //  - the max-normalization rides a window over the O(nodes) aggregate,
    //    not a separate aggregate job;
    //  - the rank vectors (node-sized dims) broadcast into the edge
    //    probes, so the fact-derived edge list never shuffles;
    //  - no nodes re-join inside the LOOP: a node absent from both raw
    //    vectors scores 0, so iterating over the nonzero support only is
    //    lossless; the full universe is restored by ONE left join after
    //    the loop so sparse corpora (<20 nonzero-auth nodes) still fill
    //    the oracle's trailing zero-auth top-20 slots.
    // r15 (the q_ppr treatment, linearized): NO per-iteration
    // persist+count, and the loop carries ONLY the hub vector — the
    // per-round full_outer auth⊕hub recombine existed solely so `cur`
    // could hold both scores, but the loop probes cur.hub alone, and a
    // node with hub 0 contributes nothing a missing node wouldn't (sum of
    // zeros; the max-normalizer and the norm division are unchanged by
    // raw=0 rows). So each half-step's output feeds exactly ONE consumer
    // (the next half-step) — a pure linear chain, one DAG at the action,
    // no plan doubling. Only the LAST round's auth is consumed twice
    // (final recombine) — one bounded doubling at the top of the plan.
    val wAll = Window.partitionBy()
    var hub = nodes.withColumn("hub", lit(Scale))
    var lastAuth: DataFrame = null
    for (_ <- 1 to 3) {
      val auth = edges
        .join(broadcast(hub.select($"node".as("src"), $"hub".as("h"))), "src")
        .groupBy($"dst".as("node")).agg(sum($"h").as("raw"))
        .withColumn("mx", max($"raw").over(wAll))
        .select($"node", expr(norm).as("auth"))
      hub = edges
        .join(broadcast(auth.select($"node".as("dst"), $"auth".as("a"))), "dst")
        .groupBy($"src".as("node")).agg(sum($"a").as("raw"))
        .withColumn("mx", max($"raw").over(wAll))
        .select($"node", expr(norm).as("hub"))
      lastAuth = auth
    }
    val cur = lastAuth.join(hub, Seq("node"), "full_outer")
      .select($"node", coalesce($"auth", lit(0L)).as("auth"),
        coalesce($"hub", lit(0L)).as("hub"))
    // Re-join the full node universe ONCE, outside the loop: the oracle
    // ranks ALL part nodes (zero-auth included), so if fewer than 20
    // nodes have nonzero auth the trailing top-20 slots must be the
    // smallest zero-auth part keys on both sides. Dim-sized left join,
    // no effect on the per-iteration plans.
    nodes.join(cur, Seq("node"), "left")
      .select($"node", coalesce($"auth", lit(0L)).as("auth"),
        coalesce($"hub", lit(0L)).as("hub"))
      .orderBy($"auth".desc, $"node").limit(20)
      .select($"node".as("p_partkey"), $"auth", $"hub")
  }

  /** Distinct undirected co-order edges (u < v): parts appearing in the
    * same order are connected. One self-join on the order key + one
    * distinct — both shuffles on natural keys. Shared by q_triangles,
    * q_bfs_levels and q_degree_dist (and mirrored verbatim by their
    * oracles), so the derivation materializes ONCE per corpus through
    * IndexStore — each consumer's plan scans the stored edge list, the
    * same build-once asset shape the LSH index family uses. */
  /** Raw co-order pair stream (u < v, one row per line pair) — the shared
    * derivation under both edge tables; callers aggregate it their own way
    * (distinct vs weight-filtered). */
  private def coOrderPairRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey".as("ok"), $"l_partkey".cast("long").as("pk"))
    li.as("a").join(li.as("b"),
        $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v"))
  }

  private[graft] def coOrderEdges(s: SparkSession, dir: String): DataFrame =
    graft.io.IndexStore.materialized(s, dir, "coorder_edges") {
      coOrderPairRows(s, dir).distinct()
    }

  private val coOrderEdgesCte =
    """edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""
      .stripMargin

  // ---------------------------------------------------------- q_triangles
  /** Exact triangle count over the co-order graph, degree-oriented: every
    * undirected edge points from the (degree, id)-smaller endpoint to the
    * larger, so each triangle has exactly one node with both out-edges and
    * is counted once — and, the scale point, out-degrees are bounded by
    * O(√m), which caps the wedge fan-out that a naive node-id orientation
    * lets explode on hub nodes. Three joins, all on node keys, no window. */
  def qTriangles(s: SparkSession, dir: String): DataFrame =
    triangleStats(s, dir)

  /** The (n_nodes, n_edges, n_triangles) summary as a build-once IndexStore
    * asset — the wedge expansion is the most expensive derivation in the
    * graph family and has TWO consumers (q_triangles, q_clustering_coef);
    * before round 6 each re-ran the whole pipeline, paying the wedge cost
    * twice per corpus. Now the first consumer writes the 1-row summary
    * through [[graft.io.IndexStore]] (same discipline as `coorder_edges`)
    * and every later consumer's plan is a parquet scan of the stored row. */
  private[graft] def triangleStats(s: SparkSession, dir: String): DataFrame = {
    var oriented: Option[DataFrame] = None
    val out = graft.io.IndexStore.materialized(s, dir, "triangle_stats") {
      val edges = coOrderEdges(s, dir) // stored-index scan — no persist needed
      val o = orientByDegree(s, edges).persist()
      oriented = Some(o)
      triangleSummary(s, edges, o)
    }
    // the build (if it ran) wrote the summary eagerly; its cache is dead
    oriented.foreach(_.unpersist(blocking = false))
    out
  }

  /** Orient each undirected edge toward its (degree, id)-larger endpoint,
    * carrying the destination's degree for the wedge ordering. */
  private[graft] def orientByDegree(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    val deg = edges.select($"u".as("x")).union(edges.select($"v".as("x")))
      .groupBy($"x").agg(count(lit(1)).as("deg"))
    edges
      .join(deg.withColumnRenamed("x", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("x", "v").withColumnRenamed("deg", "dv"), "v")
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u")
          .otherwise($"v").as("src"),
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v")
          .otherwise($"u").as("dst"),
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"dv")
          .otherwise($"du").as("ddst"))
  }

  /** The un-checkpointed counting pipeline (factored out so PlanAuditSpec
    * can pin its static plan — qTriangles' eager localCheckpoint hides it).
    *
    * Both joins broadcast the oriented edge list (O(m) longs — small next
    * to the O(Σ outdeg²) wedge stream): the wedge expansion, the existence
    * probe, and the partial count then pipeline in ONE codegen stage with
    * zero wedge shuffle. Without the hints Spark sort-merges, i.e.
    * shuffles all ~41M wedges at sf0.1 — measured 26 s vs 10.6 s (DuckDB
    * needs 18.4 s for the identical pipeline). At edge counts past
    * broadcast reach, drop the hints and the same plan degrades gracefully
    * to the shuffled SMJ. */
  private[graft] def triangleSummary(
      s: SparkSession, edges: DataFrame, oriented: DataFrame): DataFrame = {
    import s.implicits._
    val wedges = oriented.as("e1").join(broadcast(oriented.as("e2")),
        $"e1.src" === $"e2.src" &&
          ($"e1.ddst" < $"e2.ddst" ||
            ($"e1.ddst" === $"e2.ddst" && $"e1.dst" < $"e2.dst")))
      .select($"e1.dst".as("b"), $"e2.dst".as("c"))
    val tri = wedges.join(broadcast(oriented.as("e3")),
        $"b" === $"e3.src" && $"c" === $"e3.dst", "left_semi")
    val nodes = edges.select($"u".as("x")).union(edges.select($"v".as("x")))
      .distinct()
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(nodes.agg(count(lit(1)).as("n_nodes")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
      .select($"n_nodes", $"n_edges", $"n_triangles")
  }

  private val qTrianglesSql =
    s"""WITH $coOrderEdgesCte,
       |deg AS (
       |  SELECT x, count(*) AS deg FROM (
       |    SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges)
       |  GROUP BY x),
       |oriented AS (
       |  SELECT
       |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
       |         THEN e.u ELSE e.v END AS src,
       |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
       |         THEN e.v ELSE e.u END AS dst,
       |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
       |         THEN dv.deg ELSE du.deg END AS ddst
       |  FROM edges e
       |  JOIN deg du ON du.x = e.u
       |  JOIN deg dv ON dv.x = e.v),
       |wedges AS (
       |  SELECT e1.dst AS b, e2.dst AS c
       |  FROM oriented e1 JOIN oriented e2
       |    ON e1.src = e2.src
       |   AND (e1.ddst < e2.ddst OR (e1.ddst = e2.ddst AND e1.dst < e2.dst))),
       |tri AS (
       |  SELECT count(*) AS n_triangles FROM wedges w
       |  WHERE EXISTS (SELECT 1 FROM oriented e3
       |                WHERE e3.src = w.b AND e3.dst = w.c))
       |SELECT (SELECT count(*) FROM deg) AS n_nodes,
       |       (SELECT count(*) FROM edges) AS n_edges,
       |       n_triangles
       |FROM tri""".stripMargin

  // --------------------------------------------------------- q_bfs_levels
  /** BFS distance labels from the smallest connected node, 4 rounds of
    * min-distance propagation over the symmetrized co-order graph — the
    * loop-with-lineage-truncation shape: each round is one
    * keyed join + one min-aggregation, localCheckpoint cuts the plan.
    * Unreached nodes (incl. parts in no order) report dist = -1. At scale
    * the refinement is frontier-delta propagation (join only nodes whose
    * dist changed last round); with diameter-bounded rounds the full-label
    * join here is the simpler, still-single-shuffle form. */
  def qBfsLevels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = coOrderEdges(s, dir)
    val adj = edges.union(edges.select($"v".as("u"), $"u".as("v"))).persist()
    val nodes = Tables.part(s, dir).select($"p_partkey".cast("long").as("node"))
    val src = adj.agg(min($"u").as("node")) // 1-row scalar aggregate
    var dist = src.withColumn("dist", lit(0))
    for (_ <- 1 to Iters - 1) {
      // dist is node-bounded (tiny next to the edge list) — broadcast it so
      // the only per-iteration shuffle is the min-aggregation on node id.
      // localCheckpoint (MEMORY_AND_DISK) keeps the plan O(1) per round —
      // dist feeds BOTH union branches, so persist-with-lineage would
      // double the plan every round. (r15: the lazy single-DAG form was
      // tried and MEASURED SLOWER here — 3.08 → 4.50 s at sf0.1 — the
      // doubled-plan growth costs more than the per-round job; unlike
      // pagerank/hits/label_prop this iterate has no single-consumer
      // form, so the round-14 shape stays.) Checkpoint blocks are NOT
      // released mid-query: manual block eviction on truncated lineage is
      // the lost-data hazard class (round-5 verdict); ContextCleaner
      // reclaims them once the loop's references are dropped.
      val reached = adj.join(broadcast(dist.withColumnRenamed("node", "u")), "u")
        .select($"v".as("node"), ($"dist" + 1).as("dist"))
      dist = dist.union(reached)
        .groupBy($"node").agg(min($"dist").as("dist"))
        .localCheckpoint()
    }
    adj.unpersist()
    nodes.join(dist, Seq("node"), "left")
      .select($"node".as("p_partkey"),
        coalesce($"dist", lit(-1)).as("dist"))
      .orderBy($"p_partkey")
  }

  private val qBfsLevelsSql = {
    def iter(i: Int): String =
      s"""d$i AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT a.v AS node, d.dist + 1 AS dist
         |    FROM adj a JOIN d${i - 1} d ON d.node = a.u)
         |  GROUP BY node)""".stripMargin
    s"""WITH $coOrderEdgesCte,
       |adj AS (
       |  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
       |d0 AS (SELECT min(u) AS node, 0 AS dist FROM adj),
       |${(1 to Iters - 1).map(iter).mkString(",\n")}
       |SELECT p.p_partkey, coalesce(d.dist, -1) AS dist
       |FROM part p LEFT JOIN d${Iters - 1} d ON d.node = p.p_partkey
       |ORDER BY p.p_partkey""".stripMargin
  }

  /** Per-key basket width cap (round-8 VERDICT item 2): keep at most
    * `cap` items per key, deterministically (row_number by item id —
    * replayed verbatim in the DuckDB oracles). The co-purchase pair
    * expansions fan out quadratically in basket width, and basket width
    * is DATA-dependent: one aggregator account with 10k distinct items
    * would emit ~5·10⁷ pairs from a single key — a straggler no AQE
    * setting fixes. The cap bounds any key's emission at cap·(cap−1)/2
    * regardless of input shape (the same discipline degree-orientation
    * gives the triangle pipeline). Caps are sized far above any
    * plausible real basket (256 items/customer, 64 items/order — TPC-H
    * maxima are ~2 orders of magnitude below), so at test scale the
    * capped result is bit-identical to the uncapped one; at 100 TB the
    * cap is the hub-key circuit breaker. Item-id order keeps the pick
    * deterministic and oracle-replayable; a production deployment would
    * rank by recency or spend instead — same shape, different key. */
  private[graft] def capBasket(df: DataFrame, key: String, item: String,
                               cap: Int): DataFrame =
    df.withColumn("__bk_rn", row_number().over(
        Window.partitionBy(col(key)).orderBy(col(item))))
      .filter(col("__bk_rn") <= cap)
      .drop("__bk_rn")

  /** Items kept per customer in the co-purchase family. */
  private[graft] val CustBasketCap = 256
  /** Items kept per order in the basket-rules pair expansion. */
  private[graft] val OrderBasketCap = 64

  // -------------------------------------------------------------- q_item_cf
  /** Item-item collaborative filtering over the customer–part co-purchase
    * bipartite graph: exact Jaccard c(ab)/(c(a)+c(b)−c(ab)) between items'
    * buyer sets, top-3 neighbors per item at support ≥ 3. The pair
    * expansion fans out per CUSTOMER (bounded by a buyer's basket width,
    * not the catalog — the hub-item explosion a part-side self-join would
    * hit), and basket width itself is capped at [[CustBasketCap]] via
    * [[capBasket]] (hub-customer circuit breaker — see its doc; the
    * buyer-count denominators derive from the SAME capped universe so
    * Jaccard stays internally consistent). Pair counts are one
    * map-side-combined shuffle, and the vocab-sized per-item buyer
    * counts join back broadcast. Jaccard is an integer ratio — one
    * double division, engine-exact. */
  def qItemCf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ui = capBasket(
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey".as("cust"), $"l_partkey".as("item"))
        .distinct(),
      "cust", "item", CustBasketCap)
    val itemN = ui.groupBy($"item").agg(count(lit(1)).as("n_buyers"))
    val co = ui.as("a").join(ui.as("b"),
        $"a.cust" === $"b.cust" && $"a.item" < $"b.item")
      .groupBy($"a.item".as("item_a"), $"b.item".as("item_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter($"c_ab" >= 3)
    val scored = co
      .join(broadcast(itemN.select($"item".as("item_a"), $"n_buyers".as("c_a"))),
        "item_a")
      .join(broadcast(itemN.select($"item".as("item_b"), $"n_buyers".as("c_b"))),
        "item_b")
      .withColumn("jaccard",
        round($"c_ab".cast("double")
          / ($"c_a" + $"c_b" - $"c_ab").cast("double"), 6))
    scored
      .withColumn("rn", row_number().over(Window.partitionBy($"item_a")
        .orderBy($"jaccard".desc, $"c_ab".desc, $"item_b")))
      .filter($"rn" <= 3)
      .select($"item_a", $"item_b", $"c_ab", $"c_a", $"c_b", $"jaccard",
        $"rn".as("rank"))
      .orderBy($"item_a", $"rank")
  }

  private val qItemCfSql =
    s"""WITH ui0 AS (
      |  SELECT DISTINCT o_custkey AS cust, l_partkey AS item
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ui AS (
      |  SELECT cust, item FROM (
      |    SELECT cust, item,
      |      row_number() OVER (PARTITION BY cust ORDER BY item) AS rn
      |    FROM ui0)
      |  WHERE rn <= $CustBasketCap),
      |itemn AS (SELECT item, count(*) AS n_buyers FROM ui GROUP BY item),
      |co AS (
      |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS c_ab
      |  FROM ui a JOIN ui b ON a.cust = b.cust AND a.item < b.item
      |  GROUP BY item_a, item_b
      |  HAVING count(*) >= 3),
      |scored AS (
      |  SELECT item_a, item_b, c_ab,
      |    na.n_buyers AS c_a, nb.n_buyers AS c_b,
      |    round(CAST(c_ab AS DOUBLE)
      |          / CAST(na.n_buyers + nb.n_buyers - c_ab AS DOUBLE), 6)
      |      AS jaccard
      |  FROM co
      |  JOIN itemn na ON na.item = co.item_a
      |  JOIN itemn nb ON nb.item = co.item_b),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY item_a
      |    ORDER BY jaccard DESC, c_ab DESC, item_b) AS INT) AS rank
      |  FROM scored)
      |SELECT item_a, item_b, c_ab, c_a, c_b, jaccard, rank
      |FROM ranked WHERE rank <= 3
      |ORDER BY item_a, rank""".stripMargin

  // ----------------------------------------------------------- q_degree_dist
  /** Degree distribution of the co-order graph — the first diagnostic a
    * graph workload runs (it decides whether the wedge fan-out of
    * q_triangles and the frontier growth of q_bfs_levels are safe). Two
    * map-side-combined aggregations; output is O(distinct degrees). */
  def qDegreeDist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = coOrderEdges(s, dir)
    edges.select($"u".as("x")).union(edges.select($"v".as("x")))
      .groupBy($"x").agg(count(lit(1)).as("deg"))
      .groupBy($"deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"deg")
  }

  private val qDegreeDistSql =
    s"""WITH $coOrderEdgesCte,
       |deg AS (
       |  SELECT x, count(*) AS deg FROM (
       |    SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges)
       |  GROUP BY x)
       |SELECT deg, count(*) AS n_nodes FROM deg
       |GROUP BY deg ORDER BY deg""".stripMargin

  // ------------------------------------------------------------ q_components
  /** Min-label propagation to a fixpoint over a MIRRORED edge set (cols
    * `a`, `b`): every node's label starts as its own id and each round
    * takes the min of its own and its neighbors' labels — at the fixpoint
    * the label is the component minimum. One keyed join + one map-side-
    * combinable min-agg per round; `localCheckpoint` truncates the lineage
    * each step; the driver holds only a changed-row existence check. Rounds
    * = eccentricity of each component's min node (shallow for near-dup
    * clusters, small-world for co-order graphs); the O(log n)
    * large-star/small-star variant drops in without changing the per-round
    * algebra if that ever grows. Hoisted from TextDedup.qDedupClusters so
    * the dedup-cluster and graph-component operators share one loop.
    * Returns (node, label), an eager checkpoint — the helper CONSUMES its
    * input: each round's predecessor and finally `bidir` itself (when
    * checkpointed) are released, since the result no longer references
    * them. */
  private[graft] def minLabelComponents(bidir: DataFrame): DataFrame = {
    var labels = bidir.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    var iter = 0
    var converged = false
    while (!converged && iter < 30) {
      // localCheckpoint keeps the plan O(1) per round (labels feeds both
      // the union and the join branch — keeping lineage would double the
      // plan every round). Blocks are deliberately NOT released mid-query:
      // manually evicting blocks whose lineage is truncated is the
      // lost-data hazard class the round-5 verdict flagged; the rounds are
      // node-sized and ContextCleaner reclaims them after the loop.
      val next = labels
        .unionByName(
          bidir.join(labels.withColumnRenamed("node", "a"), Seq("a"))
            .select(col("b").as("node"), col("label")))
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint()
      converged = next
        .join(labels.withColumnRenamed("label", "prev"), Seq("node"))
        .filter(col("label") =!= col("prev")).isEmpty
      labels = next
      iter += 1
    }
    labels
  }

  /** Distinct co-order pairs seen at least twice (line-pair multiplicity) —
    * the "strong" co-order graph. The weight filter is what makes the
    * component structure informative: the unweighted graph is near-complete
    * within popular orders, while ≥2-weight edges keep only repeated
    * associations. Same one-self-join + one-agg derivation cost as
    * [[coOrderEdges]], materialized once per corpus through IndexStore. */
  private[graft] def strongEdges(s: SparkSession, dir: String): DataFrame =
    graft.io.IndexStore.materialized(s, dir, "coorder_strong") {
      import s.implicits._
      coOrderPairRows(s, dir)
        .groupBy($"u", $"v")
        .agg(count(lit(1)).as("w"))
        .filter($"w" >= 2)
        .select($"u", $"v")
    }

  /** Connected components of the strong co-order graph, summarized per
    * component (representative = min node id, size). The market-basket
    * segmentation view of the catalog: at low SF repeated associations
    * collapse into one giant component; as the catalog grows the graph
    * fragments into thousands of small clusters — exactly the structure a
    * downstream assortment/recommendation job consumes.
    *
    * Scale shape: edge derivation is the stored strong-edge index; each
    * propagation round is one keyed join + min-agg (shuffle on node id);
    * the summary is one O(nodes) aggregate. The oracle replays the fixpoint
    * as a recursive min-reachability walk. */
  def qComponents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = strongEdges(s, dir)
    val bidir = e.select($"u".as("a"), $"v".as("b"))
      .unionByName(e.select($"v".as("a"), $"u".as("b")))
      .localCheckpoint()
    minLabelComponents(bidir)
      .groupBy($"label").agg(count(lit(1)).as("n_nodes"))
      .select($"label".as("component_rep"), $"n_nodes")
      .orderBy($"n_nodes".desc, $"component_rep")
  }

  private val qComponentsSql =
    """WITH RECURSIVE e AS (
      |  SELECT CAST(a.l_partkey AS BIGINT) AS u,
      |         CAST(b.l_partkey AS BIGINT) AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |edges AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
      |walk(node, label) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e2.v, w.label FROM walk w JOIN edges e2 ON e2.u = w.node),
      |cc AS (SELECT node, min(label) AS label FROM walk GROUP BY node)
      |SELECT label AS component_rep, count(*) AS n_nodes
      |FROM cc GROUP BY label
      |ORDER BY n_nodes DESC, component_rep""".stripMargin

  // ------------------------------------------------------- q_clustering_coef
  /** Global clustering coefficient of the co-order graph: 3·triangles /
    * wedges, where the wedge count Σ deg·(deg−1)/2 comes from the degree
    * table and the triangle count from the degree-oriented pipeline
    * q_triangles already prices. The transitivity number that says whether
    * co-purchases CLUSTER (items bought with two others are bought
    * together) or just radiate from hubs — it decides whether
    * neighborhood-based recommendation has signal here at all.
    *
    * Scale shape: the wedge count is one O(nodes) aggregate over the
    * stored edge list; the triangle side is a scan of the shared
    * [[triangleStats]] IndexStore asset (the audited broadcast pipeline
    * runs at most once per corpus); the division is one double op off
    * exact BIGINTs. */
  def qClusteringCoef(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = coOrderEdges(s, dir)
    val deg = edges.select($"u".as("x")).union(edges.select($"v".as("x")))
      .groupBy($"x").agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(
      sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    // triangle side is the shared stored asset (built at most once per
    // corpus by whichever of q_triangles / q_clustering_coef runs first)
    triangleStats(s, dir)
      .crossJoin(broadcast(wedges))
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        round(lit(3) * $"n_triangles".cast("double")
          / $"n_wedges".cast("double"), 6).as("global_cc"))
  }

  private val qClusteringCoefSql =
    s"""WITH $coOrderEdgesCte,
       |deg AS (
       |  SELECT x, count(*) AS deg FROM (
       |    SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges)
       |  GROUP BY x),
       |w AS (
       |  SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
       |  FROM deg),
       |t AS (SELECT n_nodes, n_edges, n_triangles FROM ($qTrianglesSql))
       |SELECT t.n_nodes, t.n_edges, w.n_wedges, t.n_triangles,
       |  round(3 * CAST(t.n_triangles AS DOUBLE)
       |    / CAST(w.n_wedges AS DOUBLE), 6) AS global_cc
       |FROM t CROSS JOIN w""".stripMargin

  // ---------------------------------------------------------- q_basket_rules
  /** Association rules over order-level co-occurrence: for item pairs
    * bought together in ≥ 3 orders, both directed rules a→b with
    * confidence c_ab/c_a and lift c_ab·N/(c_a·c_b); top-20 by lift. The
    * classic market-basket output (support/confidence/lift), built on the
    * same pair derivation as the graph family but at ORDER grain
    * (distinct (order, part) first, so duplicate lines never inflate
    * support).
    *
    * Scale shape: pair counts are one self-join keyed on the order + one
    * map-side-combinable aggregate, with order basket width capped at
    * [[OrderBasketCap]] via [[capBasket]] (hub-order circuit breaker —
    * see its doc; support/confidence denominators derive from the same
    * capped universe); item counts and N broadcast back; the top-20 is
    * TakeOrderedAndProject. Ratios run in DOUBLE off exact integers. */
  def qBasketRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li2 = capBasket(
      Tables.lineitem(s, dir)
        .select($"l_orderkey".as("ok"), $"l_partkey".cast("long").as("pk"))
        .distinct(),
      "ok", "pk", OrderBasketCap)
    val pairCnt = li2.as("a").join(li2.as("b"),
        $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .groupBy($"a.pk".as("u"), $"b.pk".as("v"))
      .agg(count(lit(1)).as("c_ab"))
      .filter($"c_ab" >= 3)
    val itemCnt = li2.groupBy($"pk").agg(count(lit(1)).as("c_i"))
    val nOrders = li2.select($"ok").distinct()
      .agg(count(lit(1)).as("n_orders"))
    val directed = pairCnt
      .select($"u".as("antecedent"), $"v".as("consequent"), $"c_ab")
      .unionByName(pairCnt
        .select($"v".as("antecedent"), $"u".as("consequent"), $"c_ab"))
    directed
      .join(broadcast(itemCnt.select($"pk".as("antecedent"),
        $"c_i".as("c_a"))), Seq("antecedent"))
      .join(broadcast(itemCnt.select($"pk".as("consequent"),
        $"c_i".as("c_b"))), Seq("consequent"))
      .crossJoin(broadcast(nOrders))
      .select($"antecedent", $"consequent", $"c_ab",
        round($"c_ab".cast("double") / $"c_a", 4).as("confidence"),
        round(($"c_ab".cast("double") * $"n_orders".cast("double"))
          / ($"c_a".cast("double") * $"c_b".cast("double")), 4).as("lift"))
      .orderBy($"lift".desc, $"confidence".desc, $"antecedent", $"consequent")
      .limit(20)
  }

  private val qBasketRulesSql =
    s"""WITH li0 AS (
      |  SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
      |  FROM lineitem),
      |li2 AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk,
      |      row_number() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM li0)
      |  WHERE rn <= $OrderBasketCap),
      |pc AS (
      |  SELECT a.pk AS u, b.pk AS v, count(*) AS c_ab
      |  FROM li2 a JOIN li2 b ON b.ok = a.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |ic AS (SELECT pk, count(*) AS c_i FROM li2 GROUP BY pk),
      |no AS (SELECT count(DISTINCT ok) AS n_orders FROM li2),
      |directed AS (
      |  SELECT u AS antecedent, v AS consequent, c_ab FROM pc
      |  UNION ALL
      |  SELECT v AS antecedent, u AS consequent, c_ab FROM pc)
      |SELECT d.antecedent, d.consequent, d.c_ab,
      |  round(CAST(d.c_ab AS DOUBLE) / ia.c_i, 4) AS confidence,
      |  round((CAST(d.c_ab AS DOUBLE) * CAST(no.n_orders AS DOUBLE))
      |    / (CAST(ia.c_i AS DOUBLE) * CAST(ib.c_i AS DOUBLE)), 4) AS lift
      |FROM directed d
      |JOIN ic ia ON ia.pk = d.antecedent
      |JOIN ic ib ON ib.pk = d.consequent
      |CROSS JOIN no
      |ORDER BY lift DESC, confidence DESC, antecedent, consequent
      |LIMIT 20""".stripMargin

  // ------------------------------------------------------------- registry
  // ------------------------------------------------------- q_graph_jaccard
  /** Neighborhood-Jaccard link strength for every co-order edge:
    * |N(u)∩N(v)| / |N(u)∪N(v)| — the link-prediction / tie-strength score
    * (two parts whose co-purchase neighborhoods mostly overlap are
    * substitutes or a bundle; an edge between disjoint neighborhoods is a
    * bridge). Top 20 strongest edges, exact integer counts, one double
    * division at the end.
    *
    * Scale shape: candidates are the EXISTING edges (never all pairs);
    * common-neighbor wedges expand from each edge's smaller-degree
    * endpoint — the same degree-orientation trick as q_triangles, so
    * fan-out is Σ min-degree = O(m·√m) worst case — then one left-semi
    * probe against the stored edge set confirms closure. Reads the
    * build-once coorder_edges IndexStore asset; all joins are on node/edge
    * keys, no windows on anything fact-sized. */
  def qGraphJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    edgeOverlap(s, dir)
      .select($"u", $"v", $"n_common",
        ($"du" + $"dv" - lit(2) - $"n_common").as("n_union_other"),
        round($"n_common".cast("double") /
          ($"du" + $"dv" - lit(2) - $"n_common").cast("double"), 4).as("jaccard"))
      .filter($"n_union_other" > 0L)
      .orderBy($"jaccard".desc, $"u", $"v")
      .limit(20)
  }

  /** Union size excludes the endpoints themselves: N(u) contains v and
    * N(v) contains u (they are adjacent), neither can be a COMMON
    * neighbor, so |N(u)∪N(v)| over candidate commons = du + dv − 2 −
    * common — mirrored in the oracle. */
  private val qGraphJaccardSql =
    s"""WITH $coOrderEdgesCte,
       |adj AS (
       |  SELECT u AS x, v AS nbr FROM edges
       |  UNION ALL SELECT v AS x, u AS nbr FROM edges),
       |deg AS (SELECT x, count(*) AS deg FROM adj GROUP BY x),
       |cand AS (
       |  SELECT e.u, e.v, du.deg AS du, dv.deg AS dv
       |  FROM edges e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
       |probe AS (
       |  SELECT c.u, c.v, c.du, c.dv,
       |    CASE WHEN c.du <= c.dv THEN c.v ELSE c.u END AS b, a.nbr AS w
       |  FROM cand c
       |  JOIN adj a ON a.x = (CASE WHEN c.du <= c.dv THEN c.u ELSE c.v END)
       |  WHERE a.nbr <> (CASE WHEN c.du <= c.dv THEN c.v ELSE c.u END)),
       |closed AS (
       |  SELECT u, v FROM probe p
       |  WHERE EXISTS (SELECT 1 FROM edges e
       |                WHERE e.u = least(p.b, p.w)
       |                  AND e.v = greatest(p.b, p.w))),
       |common AS (SELECT u, v, count(*) AS n_common FROM closed GROUP BY u, v)
       |SELECT c.u, c.v, coalesce(m.n_common, 0) AS n_common,
       |  c.du + c.dv - 2 - coalesce(m.n_common, 0) AS n_union_other,
       |  round(CAST(coalesce(m.n_common, 0) AS DOUBLE)
       |    / CAST(c.du + c.dv - 2 - coalesce(m.n_common, 0) AS DOUBLE), 4) AS jaccard
       |FROM cand c LEFT JOIN common m ON m.u = c.u AND m.v = c.v
       |WHERE c.du + c.dv - 2 - coalesce(m.n_common, 0) > 0
       |ORDER BY jaccard DESC, c.u, c.v LIMIT 20""".stripMargin

  // ------------------------------------------------------- q_adamic_adar
  /** Adamic–Adar link strength for co-order edges with ≥1 common
    * neighbor: Σ_w 1/ln(deg(w)) over common neighbors w — [[qGraphJaccard]]
    * re-weighted so that a shared RARE neighbor certifies a stronger tie
    * than a shared hub (the classic link-prediction refinement). Identical
    * degree-oriented wedge pipeline and stored-edge probe as the Jaccard
    * variant; the only addition is a broadcast-sized degree join on the
    * common neighbor before the per-edge sum. deg(w) ≥ 2 for any common
    * neighbor (w is adjacent to both endpoints), so ln(deg) > 0. ln is
    * IEEE-double in both engines on identical integer inputs and the sum
    * order is neutralized by the round-4 projection (the q_source_entropy
    * precedent). */
  /** Per-edge neighborhood-overlap table — the shared wedge derivation
    * behind [[qGraphJaccard]] and [[qAdamicAdar]], materialized ONCE per
    * corpus through IndexStore (the r5 triangle lesson: two consumers of
    * the most expensive graph derivation must not each re-run it —
    * measured 13.6 s × 2 before sharing). One row per stored edge with
    * endpoint degrees, the common-neighbor count, and the Adamic–Adar sum
    * (null when no common neighbor). */
  private[graft] def edgeOverlap(s: SparkSession, dir: String): DataFrame =
    graft.io.IndexStore.materialized(s, dir, "edge_overlap") {
      import s.implicits._
      val edges = coOrderEdges(s, dir)
      val adj = edges.select($"u".as("x"), $"v".as("nbr"))
        .union(edges.select($"v".as("x"), $"u".as("nbr")))
      val deg = adj.groupBy($"x").agg(count(lit(1)).as("deg"))
      val cand = edges
        .join(deg.withColumnRenamed("x", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("deg", "dv"), "v")
      val probe = cand
        .withColumn("a", when($"du" <= $"dv", $"u").otherwise($"v"))
        .withColumn("b", when($"du" <= $"dv", $"v").otherwise($"u"))
        .join(adj.withColumnRenamed("x", "a").withColumnRenamed("nbr", "w"), "a")
        .filter($"w" =!= $"b")
        .withColumn("pu", least($"b", $"w"))
        .withColumn("pv", greatest($"b", $"w"))
      val closed = probe.join(
        edges.select($"u".as("pu"), $"v".as("pv")), Seq("pu", "pv"), "left_semi")
      val common = closed
        .join(deg.withColumnRenamed("x", "w").withColumnRenamed("deg", "dw"), "w")
        .groupBy($"u", $"v")
        .agg(count(lit(1)).as("n_common"),
          sum(lit(1.0) / log($"dw".cast("double"))).as("aa_raw"))
      cand.join(common, Seq("u", "v"), "left")
        .select($"u", $"v", $"du", $"dv",
          coalesce($"n_common", lit(0L)).as("n_common"), $"aa_raw")
    }

  def qAdamicAdar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    edgeOverlap(s, dir)
      .filter($"n_common" > 0L)
      .select($"u", $"v", $"n_common", round($"aa_raw", 4).as("adamic_adar"))
      .orderBy($"adamic_adar".desc, $"u", $"v")
      .limit(20)
  }

  private val qAdamicAdarSql =
    s"""WITH $coOrderEdgesCte,
       |adj AS (
       |  SELECT u AS x, v AS nbr FROM edges
       |  UNION ALL SELECT v AS x, u AS nbr FROM edges),
       |deg AS (SELECT x, count(*) AS deg FROM adj GROUP BY x),
       |cand AS (
       |  SELECT e.u, e.v, du.deg AS du, dv.deg AS dv
       |  FROM edges e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
       |probe AS (
       |  SELECT c.u, c.v,
       |    CASE WHEN c.du <= c.dv THEN c.v ELSE c.u END AS b, a.nbr AS w
       |  FROM cand c
       |  JOIN adj a ON a.x = (CASE WHEN c.du <= c.dv THEN c.u ELSE c.v END)
       |  WHERE a.nbr <> (CASE WHEN c.du <= c.dv THEN c.v ELSE c.u END)),
       |closed AS (
       |  SELECT u, v, w FROM probe p
       |  WHERE EXISTS (SELECT 1 FROM edges e
       |                WHERE e.u = least(p.b, p.w)
       |                  AND e.v = greatest(p.b, p.w)))
       |SELECT c.u, c.v, count(*) AS n_common,
       |  round(sum(1.0 / ln(CAST(d.deg AS DOUBLE))), 4) AS adamic_adar
       |FROM closed c JOIN deg d ON d.x = c.w
       |GROUP BY c.u, c.v
       |ORDER BY adamic_adar DESC, c.u, c.v LIMIT 20""".stripMargin

  // ---------------------------------------------------- q_assortativity
  /** Degree assortativity of the co-order graph: the Pearson correlation
    * of (deg(x), deg(nbr)) over the directed edge list — positive means
    * hubs buy with hubs (a core-periphery signal for partitioning
    * strategy), negative means hubs fan out to leaves. Exact DECIMAL
    * moment sums over the O(m) adjacency (one degree aggregate + one
    * broadcast-sized degree join per endpoint), one closed-form double at
    * the projection — the [[Stats]] qLinreg discipline on a graph. */
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = coOrderEdges(s, dir)
    val adj = edges.select($"u".as("x"), $"v".as("nbr"))
      .union(edges.select($"v".as("x"), $"u".as("nbr")))
    val deg = adj.groupBy($"x").agg(count(lit(1)).as("deg"))
    val pairs = adj
      .join(deg, "x")
      .join(deg.withColumnRenamed("x", "nbr").withColumnRenamed("deg", "dn"),
        "nbr")
      .select($"deg".cast(DecimalType(38, 0)).as("dx"),
        $"dn".cast(DecimalType(38, 0)).as("dy"))
    pairs
      .agg(count(lit(1)).cast("double").as("n"),
        sum($"dx").cast("double").as("sx"),
        sum($"dy").cast("double").as("sy"),
        sum($"dx" * $"dx").cast("double").as("sxx"),
        sum($"dy" * $"dy").cast("double").as("syy"),
        sum($"dx" * $"dy").cast("double").as("sxy"))
      .select($"n".cast("long").as("n_directed_edges"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx") *
            ($"n" * $"syy" - $"sy" * $"sy")), 6).as("assortativity"))
  }

  private val qAssortativitySql =
    s"""WITH $coOrderEdgesCte,
       |adj AS (
       |  SELECT u AS x, v AS nbr FROM edges
       |  UNION ALL SELECT v AS x, u AS nbr FROM edges),
       |deg AS (SELECT x, count(*) AS deg FROM adj GROUP BY x),
       |pairs AS (
       |  SELECT CAST(dx.deg AS HUGEINT) AS dx, CAST(dy.deg AS HUGEINT) AS dy
       |  FROM adj a JOIN deg dx ON dx.x = a.x JOIN deg dy ON dy.x = a.nbr),
       |g AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(dx) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
       |    CAST(sum(dx * dx) AS DOUBLE) AS sxx,
       |    CAST(sum(dy * dy) AS DOUBLE) AS syy,
       |    CAST(sum(dx * dy) AS DOUBLE) AS sxy
       |  FROM pairs)
       |SELECT CAST(n AS BIGINT) AS n_directed_edges,
       |  round((n * sxy - sx * sy) /
       |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
       |    AS assortativity
       |FROM g""".stripMargin

  // ------------------------------------------------------------ q_label_prop
  /** Community detection by synchronous label propagation over the
    * undirected co-order graph: every node starts labeled with its own id;
    * each round it adopts the most frequent label among its neighbors
    * (ties → smallest label — a total order, so both engines converge
    * identically); 3 rounds, then communities summarized by size. Where
    * q_components answers "what is CONNECTED", this answers "what is
    * DENSELY connected" — on a co-purchase graph the components collapse
    * into one giant blob while propagation labels carve out the actual
    * purchase neighborhoods a merchandiser would recognize.
    *
    * Scale shape: the edge list is the stored coorder_edges asset; each
    * round is one keyed adjacency⋈labels join, one (node, label) count
    * aggregate, and one rank window over that aggregate — the window is
    * per-node over ≤ degree rows, never over raw data. Same lazy
    * single-DAG loop discipline as [[qPagerank]] (r15). The reference kin is
    * the department/process grouping its KPI views hand-maintain
    * (/root/reference/04_KPI/KPIs.sql); here the segments fall out of the
    * data. */
  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = coOrderEdges(s, dir)
    // adj is a union of two projections over the stored coorder_edges
    // parquet asset — each reference is a cheap dim-bounded scan, so no
    // persist (r15: the lazy single-DAG loop, see qPagerank)
    val adj = e.select($"u".as("x"), $"v".as("nbr"))
      .unionByName(e.select($"v".as("x"), $"u".as("nbr")))
    var labels = adj.select($"x".as("node")).distinct()
      .withColumn("label", $"node")
    // r15: NO per-round persist+count (3 blocking driver jobs dropped),
    // and the old left-join-back-to-labels is gone too: every labeled
    // node has ≥ 1 neighbor by construction (labels₀ = distinct x of the
    // SYMMETRIZED adj, so each node appears with a labeled nbr), hence
    // `picked` emits exactly one row per node and coalesce(new, old) is
    // always `new`. That makes each round's output feed exactly ONE
    // consumer (the next round's probe) — a pure linear chain executed
    // as one DAG at the action, no plan doubling.
    for (_ <- 1 to 3) {
      val counts = adj
        .join(labels.select($"node".as("nbr"), $"label"), "nbr")
        .groupBy($"x", $"label").agg(count(lit(1)).as("c"))
      // argmax by (c DESC, label ASC) — the old rank-window pick. The
      // ordering key (c, −label) is unique per (x, label) row (labels are
      // distinct within a node's count table), so max_by is the same
      // deterministic pick with NO per-round sort + single-key window
      // exchange: a partial-aggregable max instead (r15, guide §2.3
      // "aggregate before you shuffle").
      labels = counts
        .groupBy($"x".as("node"))
        .agg(max_by($"label", struct($"c", -$"label")).as("label"))
    }
    labels.groupBy($"label").agg(count(lit(1)).as("n_nodes"))
      .select($"label".as("community_rep"), $"n_nodes")
      .orderBy($"n_nodes".desc, $"community_rep")
      .limit(20)
  }

  private val qLabelPropSql = {
    def round(i: Int): String =
      s"""c$i AS (
         |  SELECT a.x, r.label, count(*) AS c
         |  FROM adj a JOIN r${i - 1} r ON r.node = a.nbr
         |  GROUP BY a.x, r.label),
         |p$i AS (
         |  SELECT x AS node, label, row_number() OVER (
         |    PARTITION BY x ORDER BY c DESC, label) AS rn
         |  FROM c$i),
         |r$i AS (
         |  SELECT n.node, coalesce(p.label, n.label) AS label
         |  FROM r${i - 1} n
         |  LEFT JOIN (SELECT node, label FROM p$i WHERE rn = 1) p
         |    USING (node))""".stripMargin
    s"""WITH $coOrderEdgesCte,
       |adj AS (
       |  SELECT u AS x, v AS nbr FROM edges
       |  UNION ALL SELECT v AS x, u AS nbr FROM edges),
       |r0 AS (SELECT DISTINCT x AS node, x AS label FROM adj),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT label AS community_rep, count(*) AS n_nodes
       |FROM r3 GROUP BY label
       |ORDER BY n_nodes DESC, community_rep LIMIT 20""".stripMargin
  }

  // ------------------------------------------------------------------- q_ppr
  /** Personalized PageRank: the same damped fixed-point iteration as
    * [[qPagerank]], but teleport mass returns to a SEED SET (the 5
    * highest-out-degree parts, degree-then-id tiebreak — the "anchor
    * products" a recommender personalizes around) instead of spreading
    * uniformly. Rank concentrates in the seeds' neighborhoods; nodes
    * unreachable from the seeds stay at exactly 0 — PPR is the
    * related-to-THESE ranking, vs PageRank's globally-important.
    *
    * Scale shape: identical to qPagerank (edges/degrees build once and
    * persist, each iteration one keyed join + aggregation), plus one
    * O(nodes) top-5 to pick seeds — TakeOrderedAndProject, broadcast back.
    * Integer 10⁻¹² fixed-point throughout; the oracle unrolls the same 5
    * iterations with the same seed derivation. */
  def qPpr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber", $"l_partkey")
    val edges = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
      .withColumn("prev", lag($"l_partkey", 1).over(w))
      .filter($"prev".isNotNull && $"prev" =!= $"l_partkey")
      .select($"prev".cast("long").as("src"), $"l_partkey".cast("long").as("dst"))
      .distinct()
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    val linked = edges.join(deg, "src")
    val seeds = deg.orderBy($"outdeg".desc, $"src").limit(NSeeds)
      .select($"src".as("node")).withColumn("is_seed", lit(true))
    val nodes = Tables.part(s, dir).select($"p_partkey".cast("long").as("node"))
      .join(broadcast(seeds), Seq("node"), "left")
      .select($"node", coalesce($"is_seed", lit(false)).as("is_seed"))
    val seedBase = (Scale / 100) * (100 - Damp) / NSeeds
    var ranks = nodes.select($"node",
      when($"is_seed", lit(Scale / NSeeds)).otherwise(lit(0L)).as("rank"))
    for (_ <- 1 to Iters) {
      val contrib = linked
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select($"dst", expr("rank div outdeg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("contrib"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select($"node",
          (when($"is_seed", lit(seedBase)).otherwise(lit(0L))
            + expr(s"($Damp * coalesce(contrib, 0L)) div 100")).as("rank"))
    }
    ranks.filter($"rank" > 0L)
      .orderBy($"rank".desc, $"node")
      .limit(20)
      .select($"node".as("p_partkey"), $"rank")
  }

  // --------------------------------------------------------------- q_kcore
  /** Bounded-round k-core decomposition of the co-order graph for
    * k ∈ {2,3,4} — the degeneracy peel that separates the dense
    * frequently-co-bought core from pendant structure (the subgraph every
    * community/embedding step should run on).
    *
    * ONE coreness pass serves all three k values (round-8 VERDICT item
    * 4 — the previous 3 chained 5-round peels materialized 15 rounds):
    * [[corenessLabels]] iterates the neighborhood H-index
    * ([[CorenessRounds]] fixed rounds in both engines; parity does not
    * depend on convergence — both stop at the same round, and
    * Round9OpsSpec checks the estimate has converged at sf0.001), then
    * ONE pass attaches both endpoint estimates to each edge and a single
    * exploded aggregate reports every k-level (r15 — previously three
    * semi-join branches re-referenced the label table six times). The
    * edge list is the build-once `coorder_edges` IndexStore asset,
    * dim-bounded (parts), so nothing here touches fact volume. */
  def qKcore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges0 = coOrderEdges(s, dir)
    val core = corenessLabels(s, edges0)
    // r15: ONE pass over the edge set for all three k-levels instead of
    // three (2 semi-joins + 1 aggregate) branches that referenced the
    // lazy coreness plan six times (the r14 shape's collect()+parallelize
    // materialization existed to amortize exactly that). An edge survives
    // level k iff m = min(est_u, est_v) ≥ k, and a node is in level k's
    // report iff its MAX incident m ≥ k — so attach both endpoint
    // estimates (broadcast: the label table is dim-bounded, the same size
    // class the r14 semi-joins auto-broadcast), then one per-node max
    // plus two global conditional-sum aggregates produce all six counts;
    // stack() pivots the single row back to the (k, n_nodes, n_edges)
    // grain. No explode, no countDistinct, two exchanges total after the
    // coreness chain.
    val edgeM = edges0
      .join(broadcast(core.select($"node".as("u"), $"est".as("eu"))), Seq("u"))
      .join(broadcast(core.select($"node".as("v"), $"est".as("ev"))), Seq("v"))
      .select($"u", $"v", least($"eu", $"ev").as("m"))
    def cnt(c: org.apache.spark.sql.Column, k: Int) =
      sum(when(c >= k, 1L).otherwise(0L))
    // Single reference to edgeM (a multi-referenced subtree would embed
    // the coreness chain once per reference and explode planning/codegen):
    // explode both endpoints, count each node's incident surviving edges
    // per level, then one global aggregate — n_k = nodes with ≥1 incident
    // level-k edge, e_k = half the incident-edge sum (each edge counted
    // once per endpoint).
    val byNode = edgeM
      .select(explode(array($"u", $"v")).as("node"), $"m")
      .groupBy($"node")
      .agg(cnt($"m", 2).as("d2"), cnt($"m", 3).as("d3"), cnt($"m", 4).as("d4"))
    byNode
      .agg(cnt($"d2", 1).as("n2"), expr("sum(d2) div 2").as("e2"),
        cnt($"d3", 1).as("n3"), expr("sum(d3) div 2").as("e3"),
        cnt($"d4", 1).as("n4"), expr("sum(d4) div 2").as("e4"))
      .selectExpr(
        "stack(3, 2, n2, e2, 3, n3, e3, 4, n4, e4) AS (k, n_nodes, n_edges)")
      .select($"k", coalesce($"n_nodes", lit(0L)).as("n_nodes"),
        coalesce($"n_edges", lit(0L)).as("n_edges"))
      .orderBy($"k")
  }

  /** Bounded-round distributed coreness, CLAMPED at [[CorenessCap]]:
    * est₀(v) = min(cap, deg(v)), then [[CorenessRounds]] rounds of
    * est(v) ← H-index of the neighbors' estimates (the largest h such
    * that ≥ h neighbors have estimate ≥ h). The unclamped iterate
    * decreases monotonically to the true coreness (Montresor, De
    * Pellegrini & Miorandi, "Distributed k-core decomposition", 2011;
    * Lü et al. 2016 for the H-index formulation), and the clamp is
    * EXACT, not approximate: for h ≤ cap, #{nbr: min(cap,est) ≥ h} =
    * #{nbr: est ≥ h}, so H(min(cap,x)) = min(cap, H(x)) and by
    * induction every clamped round-r label equals min(cap, unclamped
    * round-r label) — the fixpoint is min(cap, coreness), which is all
    * a k ≤ cap report consumes. The clamp is also what makes the pass
    * FAST: with est ∈ {1..cap} the H-index needs no per-node sort — it
    * is a CASE over cap−1 conditional counts — and convergence no
    * longer waits for high-degree hubs to drip down from deg(v) one
    * H-index step per round (measured: the unclamped iterate was still
    * moving after 14 rounds at sf0.01; the clamped one fixes in a
    * handful). est never drops below 1 (h = 1 needs one neighbor with
    * est ≥ 1, and every node in adj has ≥ 1 neighbor), so the CASE
    * else-branch is 1. Returns a lazy `(node, est)` frame: nothing is
    * cached or persisted, so callers have nothing to release.
    *
    * Each round: one join of the adjacency against the previous
    * estimates plus one map-side-combinable conditional-count
    * aggregate, both keyed on node id — no windows and no driver-side
    * state. No round materializes: the loop only composes the plan, and
    * the caller's terminal action runs all rounds as one DAG (the
    * per-round adjacency exchange is reused across rounds). */
  private[graft] def corenessLabels(s: SparkSession, edges0: DataFrame,
                                    rounds: Int = CorenessRounds): DataFrame = {
      import s.implicits._
      // adj is two projections over the stored edge asset — cheap to
      // re-scan, so no persist (r15: lazy single-DAG loop, see qPagerank)
      val adj = edges0.select($"u".as("node"), $"v".as("nbr"))
        .unionAll(edges0.select($"v".as("node"), $"u".as("nbr")))
      var est = adj.groupBy($"node")
        .agg(least(count(lit(1)), lit(CorenessCap.toLong)).as("est"))
      // r15: the previous shape materialized every round through an RDD
      // round-trip (createDataFrame(hIdx.rdd) — a full serialization
      // barrier that also killed whole-stage codegen at the seam) plus
      // persist+count: `rounds` blocking driver jobs. `est` feeds exactly
      // one consumer per round, so the loop is a pure shuffle chain — one
      // terminal action executes it as a single DAG; the per-round
      // adj⋈est exchange over adj is canonically identical each round and
      // ReuseExchange executes it once. Callers referencing the result
      // several times (qKcore's three k-levels) all read the final
      // round's reused aggregate exchange.
      for (_ <- 1 to rounds) {
        val nbrEst = adj
          .join(est.withColumnRenamed("node", "nbr"), Seq("nbr"))
          .select($"node", $"est")
        val countCols = (2 to CorenessCap).map(h =>
          sum(when($"est" >= h, 1L).otherwise(0L)).as(s"n$h"))
        val counted = nbrEst.groupBy($"node")
          .agg(countCols.head, countCols.tail: _*)
        est = counted.select($"node",
          (CorenessCap to 2 by -1).foldRight(lit(1L)) { (h, lower) =>
            when(col(s"n$h") >= h, h.toLong).otherwise(lower)
          }.as("est"))
      }
      est
    }

  // measured at r9 (each round count's labels against the previous
  // count's): the clamped iterate is stable from round 1 at
  // sf0.001/0.01/0.1 (the co-purchase graph is dense — most
  // nodes saturate at the cap), and stability at consecutive rounds IS
  // the exact fixpoint; 4 fixed rounds = 3 rounds of safety margin,
  // with Round9OpsSpec re-checking stability at +2 rounds every run
  private[graft] val CorenessRounds = 4
  private[graft] val CorenessCap = 4

  private val qKcoreSql: String = {
    // every CTE is MATERIALIZED so each round's references to the
    // previous round never inline into an exponential base-scan tree
    // (the Spark side's per-round persist, CTE-for-CTE)
    // clamped H-index round, CASE-for-CASE with the engine: est ∈
    // {1..cap} so the H-index is a priority CASE over conditional counts
    val condSums = (2 to CorenessCap).map(h =>
      s"sum(CASE WHEN c.est >= $h THEN 1 ELSE 0 END) AS n$h").mkString(",\n      ")
    val hCase = (CorenessCap to 2 by -1)
      .map(h => s"WHEN n$h >= $h THEN $h").mkString(" ")
    val roundCtes = (1 to CorenessRounds).map { r =>
      s"""c$r AS MATERIALIZED (
         |  SELECT node, CASE $hCase ELSE 1 END AS est FROM (
         |    SELECT a.node,
         |      $condSums
         |    FROM adj a JOIN c${r - 1} c ON c.node = a.nbr
         |    GROUP BY a.node))""".stripMargin
    }.mkString(",\n")
    val summaries = Seq(2, 3, 4).map { k =>
      s"""SELECT $k AS k, count(DISTINCT node) AS n_nodes,
         |  CAST(count(*) / 2 AS BIGINT) AS n_edges
         |FROM (SELECT u AS node FROM ke$k UNION ALL SELECT v FROM ke$k)"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    val keSubsets = Seq(2, 3, 4).map { k =>
      s"""ke$k AS MATERIALIZED (
         |  SELECT e.u, e.v FROM edges e
         |  WHERE e.u IN (SELECT node FROM c$CorenessRounds WHERE est >= $k)
         |    AND e.v IN (SELECT node FROM c$CorenessRounds WHERE est >= $k))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $coOrderEdgesCte,
       |adj AS MATERIALIZED (
       |  SELECT u AS node, v AS nbr FROM edges
       |  UNION ALL SELECT v AS node, u AS nbr FROM edges),
       |c0 AS MATERIALIZED (
       |  SELECT node, least(count(*), $CorenessCap) AS est
       |  FROM adj GROUP BY node),
       |$roundCtes,
       |$keSubsets
       |$summaries
       |ORDER BY k""".stripMargin
  }

  // ------------------------------------------------ q_harmonic_centrality
  /** 3-hop harmonic centrality for the 20 highest-degree parts: H(v) =
    * Σ_{u: d(v,u)≤3} 1/d(v,u) — the "how quickly can this node reach the
    * graph" score that, unlike closeness, is defined on disconnected
    * graphs. Exact-distance shells come from three frontier expansions
    * (expand, then subtract every earlier shell with left-antis); the
    * score is emitted as the exact integer 6·n1 + 3·n2 + 2·n3 (6×H), so
    * no division ever happens.
    *
    * Scale shape: all-pairs BFS is quadratic, so centrality is computed
    * for a SEEDED candidate set (top-degree nodes — the hubs a
    * recommendation surface actually ranks), the standard scale
    * compromise (HyperBall-style sketches being the approximate
    * alternative). Each expansion is a keyed join of the (seed, node)
    * frontier against the adjacency — shuffles on node id, frontier
    * bounded by seeds × nodes; the seed list broadcasts. */
  def qHarmonicCentrality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The three shells are a build-once IndexStore asset: the lazy DAG
    // otherwise re-derives adj→l1→l2 for every count and anti-join
    // consumer (~6 recomputes of the most expensive joins — measured
    // 8.95 s vs 1.5 s stored at sf0.1). Same discipline as
    // triangle_stats: persist intermediates during the ONE build,
    // unpersist after the write, consumers scan the stored shells.
    var cached: Seq[DataFrame] = Nil
    val shells = graft.io.IndexStore.materialized(s, dir, "harmonic_shells") {
      val e = coOrderEdges(s, dir)
      val adj = e.select($"u".as("s"), $"v".as("d"))
        .unionAll(e.select($"v".as("s"), $"u".as("d")))
        .persist()
      val seeds = adj.groupBy($"s".as("node")).agg(count(lit(1)).as("deg"))
        .orderBy($"deg".desc, $"node").limit(20)
        .select($"node".as("seed"))
      val l1 = adj.join(broadcast(seeds), $"s" === $"seed")
        .filter($"d" =!= $"seed")
        .select($"seed", $"d".as("n")).distinct().persist()
      val l2 = l1.join(adj, $"n" === $"s")
        .filter($"d" =!= $"seed")
        .select($"seed", $"d".as("n2c")).distinct()
        .join(l1.select($"seed", $"n".as("n2c")), Seq("seed", "n2c"),
          "left_anti")
        .select($"seed", $"n2c".as("n")).persist()
      val l3 = l2.join(adj, $"n" === $"s")
        .filter($"d" =!= $"seed")
        .select($"seed", $"d".as("n3c")).distinct()
        .join(l1.select($"seed", $"n".as("n3c")), Seq("seed", "n3c"),
          "left_anti")
        .join(l2.select($"seed", $"n".as("n3c")), Seq("seed", "n3c"),
          "left_anti")
        .select($"seed", $"n3c".as("n"))
      cached = Seq(adj, l1, l2)
      l1.withColumn("level", lit(1))
        .unionAll(l2.withColumn("level", lit(2)))
        .unionAll(l3.withColumn("level", lit(3)))
    }
    cached.foreach(_.unpersist(blocking = false))
    // every seed has >=1 neighbor (it came from the adjacency), so the
    // groupBy loses no seed rows
    shells.groupBy($"seed")
      .agg(sum(when($"level" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"level" === 2, 1L).otherwise(0L)).as("n2"),
        sum(when($"level" === 3, 1L).otherwise(0L)).as("n3"))
      .select($"seed".as("p_partkey"), $"n1", $"n2", $"n3",
        ($"n1" * 6 + $"n2" * 3 + $"n3" * 2).as("h6"))
      .orderBy($"h6".desc, $"p_partkey")
  }

  private val qHarmonicCentralitySql =
    s"""WITH $coOrderEdgesCte,
       |adj AS (
       |  SELECT CAST(u AS BIGINT) AS s, CAST(v AS BIGINT) AS d FROM edges
       |  UNION ALL
       |  SELECT CAST(v AS BIGINT), CAST(u AS BIGINT) FROM edges),
       |seeds AS (
       |  SELECT s AS seed FROM adj GROUP BY s
       |  ORDER BY count(*) DESC, s LIMIT 20),
       |l1 AS (
       |  SELECT DISTINCT sd.seed, a.d AS n
       |  FROM seeds sd JOIN adj a ON a.s = sd.seed WHERE a.d <> sd.seed),
       |l2 AS (
       |  SELECT seed, n FROM (
       |    SELECT DISTINCT l.seed, a.d AS n
       |    FROM l1 l JOIN adj a ON a.s = l.n WHERE a.d <> l.seed) c
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM l1 x WHERE x.seed = c.seed AND x.n = c.n)),
       |l3 AS (
       |  SELECT seed, n FROM (
       |    SELECT DISTINCT l.seed, a.d AS n
       |    FROM l2 l JOIN adj a ON a.s = l.n WHERE a.d <> l.seed) c
       |  WHERE NOT EXISTS (
       |      SELECT 1 FROM l1 x WHERE x.seed = c.seed AND x.n = c.n)
       |    AND NOT EXISTS (
       |      SELECT 1 FROM l2 x WHERE x.seed = c.seed AND x.n = c.n)),
       |c1 AS (SELECT seed, count(*) AS n1 FROM l1 GROUP BY 1),
       |c2 AS (SELECT seed, count(*) AS n2 FROM l2 GROUP BY 1),
       |c3 AS (SELECT seed, count(*) AS n3 FROM l3 GROUP BY 1)
       |SELECT s.seed AS p_partkey,
       |  coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2,
       |  coalesce(n3, 0) AS n3,
       |  coalesce(n1, 0) * 6 + coalesce(n2, 0) * 3 + coalesce(n3, 0) * 2
       |    AS h6
       |FROM seeds s
       |LEFT JOIN c1 ON c1.seed = s.seed
       |LEFT JOIN c2 ON c2.seed = s.seed
       |LEFT JOIN c3 ON c3.seed = s.seed
       |ORDER BY h6 DESC, p_partkey""".stripMargin

  // ------------------------------------------------------------ q_modularity
  /** Newman modularity of the BRAND partition of the co-order graph —
    * "do parts of the same brand get bought together more than chance?"
    * For communities c: Q = Σ_c (m_c/m − (d_c/2m)²), emitted per brand
    * as its exact contribution and decided entirely in integers:
    * contribution_ppm = (4·m·m_c − d_c²)·10⁶ div (4·m²) in DECIMAL(38)/
    * HUGEINT — zero float surface (the q_hoover_index discipline).
    * Complements [[qAssortativity]] (degree mixing) with ATTRIBUTE
    * mixing, and gives the label-propagation family a quality metric
    * computable for ANY given partition without replaying the fixpoint.
    *
    * Scale shape: edges are the build-once IndexStore asset; brands
    * arrive by two keyed joins on the part dim; degree sums and
    * intra-edge counts are map-side-combinable aggregates on the
    * O(brands) key; the edge total rides the 1-row broadcast. */
  def qModularity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val brand = Tables.part(s, dir).select($"p_partkey", $"p_brand")
    val e = coOrderEdges(s, dir)
      .join(brand.withColumnRenamed("p_partkey", "u")
        .withColumnRenamed("p_brand", "bu"), Seq("u"))
      .join(brand.withColumnRenamed("p_partkey", "v")
        .withColumnRenamed("p_brand", "bv"), Seq("v"))
    val m = e.agg(count(lit(1)).as("m"))
    val degrees = e.select($"bu".as("brand"))
      .unionAll(e.select($"bv".as("brand")))
      .groupBy($"brand").agg(count(lit(1)).as("degree_sum"))
    val nodes = e.select($"u".as("node"), $"bu".as("brand"))
      .unionAll(e.select($"v".as("node"), $"bv".as("brand")))
      .distinct()
      .groupBy($"brand").agg(count(lit(1)).as("n_nodes"))
    val intra = e.filter($"bu" === $"bv")
      .groupBy($"bu".as("brand")).agg(count(lit(1)).as("intra_edges"))
    degrees.join(nodes, Seq("brand"))
      .join(intra, Seq("brand"), "left")
      .na.fill(0L, Seq("intra_edges"))
      .crossJoin(broadcast(m))
      .select($"brand", $"n_nodes", $"degree_sum", $"intra_edges",
        expr("cast(((cast(4 as decimal(38,0)) * m * intra_edges" +
          " - cast(degree_sum as decimal(38,0)) * degree_sum) * 1000000)" +
          " div (cast(4 as decimal(38,0)) * m * m) as bigint)")
          .as("contribution_ppm"))
      .orderBy($"brand")
  }

  private val qModularitySql =
    s"""WITH $coOrderEdgesCte,
       |be AS (
       |  SELECT e.u, e.v, pu.p_brand AS bu, pv.p_brand AS bv
       |  FROM edges e
       |  JOIN part pu ON pu.p_partkey = e.u
       |  JOIN part pv ON pv.p_partkey = e.v),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM be),
       |deg AS (
       |  SELECT brand, CAST(count(*) AS BIGINT) AS degree_sum FROM (
       |    SELECT bu AS brand FROM be UNION ALL SELECT bv FROM be)
       |  GROUP BY 1),
       |nodes AS (
       |  SELECT brand, CAST(count(*) AS BIGINT) AS n_nodes FROM (
       |    SELECT DISTINCT node, brand FROM (
       |      SELECT u AS node, bu AS brand FROM be
       |      UNION ALL SELECT v, bv FROM be))
       |  GROUP BY 1),
       |intra AS (
       |  SELECT bu AS brand, CAST(count(*) AS BIGINT) AS intra_edges
       |  FROM be WHERE bu = bv GROUP BY 1)
       |SELECT brand, n_nodes, degree_sum,
       |  CAST(coalesce(intra_edges, 0) AS BIGINT) AS intra_edges,
       |  CAST(((CAST(4 AS HUGEINT) * m * coalesce(intra_edges, 0)
       |    - CAST(degree_sum AS HUGEINT) * degree_sum) * 1000000)
       |    // (CAST(4 AS HUGEINT) * m * m) AS BIGINT) AS contribution_ppm
       |FROM deg JOIN nodes USING (brand)
       |LEFT JOIN intra USING (brand) CROSS JOIN m
       |ORDER BY brand""".stripMargin

  /** q_components runs under a fixed shuffle width of 8
    * ([[graft.core.Sessions.withShuffleWidth]]): its builder executes
    * eagerly inside the wrapper — the `localCheckpoint` of the
    * bidirectional strong-edge list and every `minLabelComponents` round
    * (checkpoint + convergence check) — and each round's node-sized table
    * is far below one partition's worth at a wide session width. The
    * returned frame's lazy tail plans under the session width at action
    * time. Measured on local[4] (4-core box, 6 alternating runs per
    * side, median wrapped vs unwrapped): at session width 32, sf0.1 3.36
    * vs 3.94 s (6/6 faster, beyond the unwrapped quartile spread), sf0.01
    * 2.93 vs 3.24 s (6/6); at session width 4 it is flat. The other loop
    * builders (pagerank, hits, ppr, label_prop, kcore, bfs_levels) run at
    * the session width: wrapped, they were flat at width 4 and at sf0.01,
    * and at width 32 on sf0.1 they won by less than the unwrapped
    * quartile spread. Results are
    * unchanged by the family's shuffle-width-invariance pin
    * (IterativePerturbationSpec). */
  private val IterWidth = 8

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_modularity"  -> (qModularity _),
    "q_harmonic_centrality" -> (qHarmonicCentrality _),
    "q_kcore"       -> (qKcore _),
    "q_adamic_adar" -> (qAdamicAdar _),
    "q_assortativity" -> (qAssortativity _),
    "q_label_prop"  -> (qLabelProp _),
    "q_ppr"         -> (qPpr _),
    "q_graph_jaccard" -> (qGraphJaccard _),
    "q_pagerank"    -> (qPagerank _),
    "q_hits"        -> (qHits _),
    "q_triangles"   -> (qTriangles _),
    "q_bfs_levels"  -> (qBfsLevels _),
    "q_item_cf"     -> (qItemCf _),
    "q_degree_dist" -> (qDegreeDist _),
    "q_components"  -> ((s, d) =>
      graft.core.Sessions.withShuffleWidth(s, IterWidth)(qComponents(s, d))),
    "q_basket_rules" -> (qBasketRules _),
    "q_clustering_coef" -> (qClusteringCoef _))

  val oracle: Map[String, String] = Map(
    "q_modularity"  -> qModularitySql,
    "q_harmonic_centrality" -> qHarmonicCentralitySql,
    "q_kcore"      -> qKcoreSql,
    "q_adamic_adar" -> qAdamicAdarSql,
    "q_assortativity" -> qAssortativitySql,
    "q_label_prop" -> qLabelPropSql,
    "q_ppr"        -> PprOracle.sql,
    "q_graph_jaccard" -> qGraphJaccardSql,
    "q_pagerank"   -> PagerankOracle.sql,
    "q_hits"       -> HitsOracle.sql,
    "q_triangles"  -> qTrianglesSql,
    "q_bfs_levels"  -> qBfsLevelsSql,
    "q_item_cf"     -> qItemCfSql,
    "q_degree_dist" -> qDegreeDistSql,
    "q_components"  -> qComponentsSql,
    "q_basket_rules" -> qBasketRulesSql,
    "q_clustering_coef" -> qClusteringCoefSql)
}

/** The unrolled-iteration DuckDB replay of [[Graph.qPagerank]] — 5 chained
  * CTEs, one per iteration, in the same fixed-point integer arithmetic
  * (DuckDB `//` and Spark `div` both truncate toward zero — verified on
  * negatives while building Clustering.qKmeans; ranks here are
  * non-negative anyway). Unrolled rather than recursive because aggregation
  * inside a recursive CTE is engine-version-sensitive; five explicit CTEs
  * are boring and portable. */
/** Unrolled DuckDB replay of [[Graph.qPpr]] — PagerankOracle's structure
  * with the teleport term gated on seed membership (top-5 out-degree,
  * degree-then-id order) instead of uniform. Same integer fixed-point. */
private object PprOracle {
  private val Scale = 1000000000000L
  private val Damp = 85
  private val Iters = 5
  private val NSeeds = 5

  private def iterCte(i: Int): String =
    s"""r$i AS (
       |  SELECT p.node,
       |    (CASE WHEN p.is_seed
       |          THEN ($Scale // 100) * ${100 - Damp} // $NSeeds
       |          ELSE 0 END)
       |      + ($Damp * coalesce(c.contrib, 0)) // 100 AS rank
       |  FROM nodes p
       |  LEFT JOIN (
       |    SELECT e.dst AS node, sum(r.rank // d.outdeg) AS contrib
       |    FROM edges e
       |    JOIN r${i - 1} r ON r.node = e.src
       |    JOIN deg d ON d.src = e.src
       |    GROUP BY e.dst) c USING (node))""".stripMargin

  val sql: String =
    s"""WITH ordered AS (
       |  SELECT l_orderkey, l_partkey,
       |    lag(l_partkey) OVER (PARTITION BY l_orderkey
       |      ORDER BY l_linenumber, l_partkey) AS prev
       |  FROM lineitem),
       |edges AS (
       |  SELECT DISTINCT CAST(prev AS BIGINT) AS src,
       |    CAST(l_partkey AS BIGINT) AS dst
       |  FROM ordered WHERE prev IS NOT NULL AND prev <> l_partkey),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |seeds AS (
       |  SELECT src AS node FROM deg
       |  ORDER BY outdeg DESC, src LIMIT $NSeeds),
       |nodes AS (
       |  SELECT CAST(p.p_partkey AS BIGINT) AS node,
       |    s.node IS NOT NULL AS is_seed
       |  FROM part p LEFT JOIN seeds s ON s.node = p.p_partkey),
       |r0 AS (
       |  SELECT node,
       |    CASE WHEN is_seed THEN $Scale // $NSeeds ELSE 0 END AS rank
       |  FROM nodes),
       |${(1 to Iters).map(iterCte).mkString(",\n")}
       |-- CAST: the // chain over sum() is HUGEINT in DuckDB → float64
       |-- in pandas → the driver's value hash sees 52.0 vs Spark's 52
       |-- (the exact two-round q_ppr red-row signature; HitsOracle,
       |-- which always cast, stayed green).
       |SELECT node AS p_partkey, CAST(rank AS BIGINT) AS rank
       |FROM r$Iters
       |WHERE rank > 0
       |ORDER BY rank DESC, node LIMIT 20""".stripMargin
}

/** Unrolled DuckDB replay of [[Graph.qHits]] — 3 iterations × 2 half-step
  * CTE pairs in the same fixed-point arithmetic (HUGEINT mirrors Spark's
  * decimal(38,0) for the normalize multiply; `//` and `div` agree on
  * non-negatives). Same edge derivation text as PagerankOracle. */
private object HitsOracle {
  private val Scale = 1000000000000L

  private def iterCtes(i: Int): String =
    s"""a${i}raw AS (
       |  SELECT e.dst AS node, sum(h.hub) AS raw
       |  FROM edges e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst),
       |a$i AS (
       |  SELECT n.node,
       |    (CAST(coalesce(r.raw, 0) AS HUGEINT) * $Scale)
       |      // (SELECT max(raw) FROM a${i}raw) AS auth
       |  FROM nodes n LEFT JOIN a${i}raw r USING (node)),
       |h${i}raw AS (
       |  SELECT e.src AS node, sum(a.auth) AS raw
       |  FROM edges e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
       |h$i AS (
       |  SELECT n.node,
       |    (CAST(coalesce(r.raw, 0) AS HUGEINT) * $Scale)
       |      // (SELECT max(raw) FROM h${i}raw) AS hub
       |  FROM nodes n LEFT JOIN h${i}raw r USING (node))""".stripMargin

  val sql: String =
    s"""WITH ordered AS (
       |  SELECT l_orderkey, l_partkey,
       |    lag(l_partkey) OVER (PARTITION BY l_orderkey
       |      ORDER BY l_linenumber, l_partkey) AS prev
       |  FROM lineitem),
       |edges AS (
       |  SELECT DISTINCT CAST(prev AS BIGINT) AS src,
       |    CAST(l_partkey AS BIGINT) AS dst
       |  FROM ordered WHERE prev IS NOT NULL AND prev <> l_partkey),
       |nodes AS (SELECT CAST(p_partkey AS BIGINT) AS node FROM part),
       |h0 AS (SELECT node, CAST($Scale AS HUGEINT) AS hub FROM nodes),
       |${(1 to 3).map(iterCtes).mkString(",\n")}
       |SELECT a3.node AS p_partkey, CAST(a3.auth AS BIGINT) AS auth,
       |  CAST(h3.hub AS BIGINT) AS hub
       |FROM a3 JOIN h3 USING (node)
       |ORDER BY auth DESC, p_partkey LIMIT 20""".stripMargin
}

private object PagerankOracle {
  private val Scale = 1000000000000L
  private val Damp = 85
  private val Iters = 5

  private def iterCte(i: Int): String =
    s"""r$i AS (
       |  SELECT p.node,
       |    (SELECT ($Scale // 100) * ${100 - Damp} // n FROM nn)
       |      + ($Damp * coalesce(c.contrib, 0)) // 100 AS rank
       |  FROM nodes p
       |  LEFT JOIN (
       |    SELECT e.dst AS node, sum(r.rank // d.outdeg) AS contrib
       |    FROM edges e
       |    JOIN r${i - 1} r ON r.node = e.src
       |    JOIN deg d ON d.src = e.src
       |    GROUP BY e.dst) c USING (node))""".stripMargin

  val sql: String =
    s"""WITH ordered AS (
       |  SELECT l_orderkey, l_partkey,
       |    lag(l_partkey) OVER (PARTITION BY l_orderkey
       |      ORDER BY l_linenumber, l_partkey) AS prev
       |  FROM lineitem),
       |edges AS (
       |  SELECT DISTINCT CAST(prev AS BIGINT) AS src,
       |    CAST(l_partkey AS BIGINT) AS dst
       |  FROM ordered WHERE prev IS NOT NULL AND prev <> l_partkey),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM part),
       |nodes AS (SELECT CAST(p_partkey AS BIGINT) AS node FROM part),
       |r0 AS (
       |  SELECT node, (SELECT $Scale // n FROM nn) AS rank FROM nodes),
       |${(1 to Iters).map(iterCte).mkString(",\n")}
       |-- CAST: the // chain over sum() is HUGEINT in DuckDB → float64
       |-- in pandas → the driver's value hash sees 52.0 vs Spark's 52
       |-- (the exact two-round q_pagerank red-row signature; HitsOracle,
       |-- which always cast, stayed green).
       |SELECT node AS p_partkey, CAST(rank AS BIGINT) AS rank
       |FROM r$Iters
       |ORDER BY rank DESC, node LIMIT 20""".stripMargin
}
