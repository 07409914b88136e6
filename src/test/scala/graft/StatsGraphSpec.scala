package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Graph, TimeSeries}

/** Structural invariants for the stats / graph / time-series operator
  * families added in round 5 — fixture graphs with hand-countable answers,
  * dominance soundness for the skyline, and the distributed-systems
  * properties a CDC compactor must hold (idempotence under duplicate
  * delivery, input-order invariance).
  */
class StatsGraphSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-statsgraph-test")
  val sfDir = "/root/testdata/sf0.001"

  private def edgesDf(pairs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    pairs.toDF("u", "v")
  }

  private def triangles(edges: DataFrame): Long =
    Graph.triangleSummary(spark, edges, Graph.orientByDegree(spark, edges))
      .collect()(0).getAs[Long]("n_triangles")

  test("triangle count: hand-countable fixtures") {
    // K4: every 3-subset is a triangle -> C(4,3) = 4
    assert(triangles(edgesDf(
      (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))) === 4L)
    // star graph: no edges among leaves -> 0
    assert(triangles(edgesDf((1, 2), (1, 3), (1, 4), (1, 5))) === 0L)
    // two disjoint triangles + a bridge -> exactly 2
    assert(triangles(edgesDf(
      (1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4))) === 2L)
    // K4 with a pendant node: pendant adds no triangle
    assert(triangles(edgesDf(
      (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5))) === 4L)
  }

  test("coreness labels: hand-countable fixtures, and cores satisfy deg >= k") {
    // K4 with a pendant chain 4-5-6: K4 nodes have coreness 3 (K4 is a
    // 3-core), the chain nodes peel at k=2 so their coreness is 1
    val g = edgesDf(
      (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6))
    val labels = graft.queries.Graph.corenessLabels(spark, g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L))
    // converged fixpoint: inside the induced 2-core (= K4 here) every
    // node keeps degree >= 2
    val keep = labels.filter(_._2 >= 2).keySet
    val coreEdges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
      .filter(e => keep(e._1) && keep(e._2))
    val degs = coreEdges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map(_._2.size)
    assert(degs.forall(_ >= 2))
  }

  test("skyline: kept points are mutually undominated, dropped points are dominated") {
    val all = graft.core.Tables.part(spark, sfDir)
      .select(col("p_partkey"),
        (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        col("p_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val kept = SparkEntry.queries("q_skyline")(spark, sfDir)
      .select(col("p_partkey")).collect().map(_.getLong(0)).toSet
    def dominates(a: (Long, Long, Int), b: (Long, Long, Int)): Boolean =
      a._2 <= b._2 && a._3 <= b._3 && (a._2 < b._2 || a._3 < b._3)
    // soundness: no kept point is dominated by ANY point
    for (k <- all if kept(k._1); other <- all)
      assert(!dominates(other, k),
        s"kept ${k} is dominated by ${other}")
    // completeness: every dropped point is dominated by some kept point
    for (d <- all if !kept(d._1))
      assert(all.exists(o => kept(o._1) && dominates(o, d)),
        s"dropped ${d} is dominated by no kept point")
  }

  test("BFS levels: edge-consistency of distance labels") {
    val dist = SparkEntry.queries("q_bfs_levels")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val edges = Graph.coOrderEdges(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val horizon = 4
    for ((u, v) <- edges; (a, b) <- Seq((u, v), (v, u))) {
      val da = dist(a); val db = dist(b)
      if (da >= 0 && db >= 0)
        assert(math.abs(da - db) <= 1, s"edge ($a,$b): dist $da vs $db")
      // a neighbor of a reached node may only be unlabeled if the label
      // would exceed the iteration horizon
      if (da >= 0 && db == -1)
        assert(da + 1 > horizon, s"($a,$b): $a at $da but $b unreached")
    }
    assert(dist.values.count(_ == 0) === 1, "exactly one source")
  }

  test("CDC compaction is idempotent under duplicate delivery and input order") {
    import spark.implicits._
    val log = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "I", BigDecimal("10.00")),
      (1L, Timestamp.valueOf("2024-01-02 10:00:00"), 2L, "U", BigDecimal("20.00")),
      (2L, Timestamp.valueOf("2024-01-01 09:00:00"), 3L, "I", BigDecimal("5.00")),
      (2L, Timestamp.valueOf("2024-01-03 09:00:00"), 4L, "D", BigDecimal("0.00")),
      (3L, Timestamp.valueOf("2024-01-01 08:00:00"), 5L, "U", BigDecimal("7.50")))
      .toDF("user_id", "ts", "event_id", "op", "v")
    def state(df: DataFrame) = TimeSeries.cdcCompact(df)
      .select("user_id", "last_op", "last_value", "last_ts")
      .collect().toSet
    val once = state(log)
    // user 2's trailing delete removes the key entirely
    assert(once.map(_.getLong(0)) === Set(1L, 3L))
    // at-least-once delivery: replaying the whole log changes nothing
    assert(state(log.union(log)) === once)
    // input order is irrelevant (the sequence lives in the data)
    assert(state(log.orderBy(md5(col("event_id").cast("string")))) === once)
  }

  test("table diff flags exactly the buckets containing a deleted or repriced key") {
    val out = SparkEntry.queries("q_table_diff")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val expected = graft.core.Tables.orders(spark, sfDir)
      .select((col("o_orderkey") / 1000).cast("long").as("bucket"),
        ((col("o_orderkey") % 97 === 0) || (col("o_orderkey") % 89 === 0))
          .as("touched"))
      .groupBy(col("bucket")).agg(max(col("touched")).as("touched"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out.keySet === expected.keySet)
    for ((b, touched) <- expected)
      assert((out(b) == "diff") === touched,
        s"bucket $b: status ${out(b)} but touched=$touched")
  }

  test("join-size estimate: bucketed histogram is an upper bound on the exact count") {
    val r = SparkEntry.queries("q_join_size_est")(spark, sfDir).collect()(0)
    val actual = r.getAs[Long]("actual_pairs")
    val est = r.getAs[Long]("bucket_est")
    assert(est >= actual)
    // and the exact formula really is the join size
    val li = graft.core.Tables.lineitem(spark, sfDir).select(col("l_partkey"))
    val joined = li.as("a")
      .join(li.as("b"), col("a.l_partkey") === col("b.l_partkey")).count()
    assert(joined === actual)
  }

  test("inverted index: postings ascending, capped at 8, and within df") {
    val rows = SparkEntry.queries("q_inverted_index")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val df = r.getAs[Long]("df")
      val posts = r.getAs[String]("postings").split(",").map(_.toLong)
      assert(posts.length <= 8 && posts.length <= df)
      assert(posts.sameElements(posts.sorted), s"unsorted postings: ${r}")
      if (df < 8) assert(posts.length == df)
    }
  }

  test("connected components: labels partition the nodes and respect edges") {
    // hand-built graph: {1,2,3} one component, {10,11} another, 20 isolated
    // by the strong filter (no edge) -> absent from the output
    val e = edgesDf((1, 2), (2, 3), (10, 11))
    val bidir = e.select(col("u").as("a"), col("v").as("b"))
      .unionByName(e.select(col("v").as("a"), col("u").as("b")))
    val labels = Graph.minLabelComponents(bidir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // on real data: component sizes sum to the node count of the strong graph
    val comp = SparkEntry.queries("q_components")(spark, sfDir)
    val totalNodes = comp.agg(sum(col("n_nodes"))).collect()(0).getLong(0)
    val strongNodes = Graph.strongEdges(spark, sfDir)
      .select(col("u").as("x")).union(
        Graph.strongEdges(spark, sfDir).select(col("v").as("x")))
      .distinct().count()
    assert(totalNodes === strongNodes)
  }

  test("span dedup: flagged fractions are sane and spans really recur") {
    val rows = SparkEntry.queries("q_span_dedup")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n = r.getAs[Long]("n_spans"); val d = r.getAs[Long]("dup_spans")
      assert(d >= 1 && d <= n)
      assert(math.abs(r.getAs[Double]("dup_frac") -
        math.rint(d.toDouble / n * 1e4) / 1e4) < 1e-9)
    }
    // cross-doc requirement: a doc whose every span is unique never appears
    val ids = rows.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length === ids.length)
  }

  test("hybrid search: RRF recomputes from the ranks and ordering is total") {
    val rows = SparkEntry.queries("q_hybrid_search")(spark, sfDir).collect()
    assert(rows.length === 15)
    var prev = Double.MaxValue
    for (r <- rows) {
      val rk = Option(r.getAs[Integer]("rank_kw")).map(_.toInt)
      val rv = Option(r.getAs[Integer]("rank_vec")).map(_.toInt)
      assert(rk.nonEmpty || rv.nonEmpty)
      val expect = rk.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rv.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      val got = r.getAs[Double]("rrf")
      assert(math.abs(got - math.rint(expect * 1e6) / 1e6) < 1e-9)
      assert(got <= prev + 1e-12); prev = got
    }
  }

  test("source entropy: bounded by ln(vocab), TTR in (0,1]") {
    val rows = SparkEntry.queries("q_source_entropy")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val vocab = r.getAs[Long]("vocab")
      val ent = r.getAs[Double]("entropy_nats")
      val ttr = r.getAs[Double]("type_token_ratio")
      assert(ent >= 0.0 && ent <= math.log(vocab.toDouble) + 1e-6,
        s"entropy $ent outside [0, ln($vocab)]")
      assert(ttr > 0.0 && ttr <= 1.0)
    }
  }

  test("rolling median: windowed, bounded, degenerate frame = the value itself") {
    val rows = SparkEntry.queries("q_rolling_median")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n = r.getAs[Int]("n_window")
      assert(n >= 1 && n <= 7)
      if (n == 1) {
        val cents = math.rint(r.getAs[Double]("value") * 100)
        assert(math.abs(r.getAs[Double]("rolling_median") - cents / 100) < 1e-9)
      }
    }
  }

  test("dup matrix: accounts for every verified pair, averages in range") {
    val rows = SparkEntry.queries("q_dup_matrix")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[String]("src_a") <= r.getAs[String]("src_b"))
      val aj = r.getAs[Double]("avg_jaccard")
      assert(aj >= 0.6 && aj <= 1.0 + 1e-9)
    }
    val totalPairs = rows.map(_.getAs[Long]("n_pairs")).sum
    val clusterEdges = SparkEntry.queries("q_jaccard_pairs")(spark, sfDir)
      .filter(col("jaccard") >= 0.6).count()
    assert(totalPairs === clusterEdges)
  }

  test("length buckets: deciles partition each source in length order") {
    val bySrc = SparkEntry.queries("q_length_buckets")(spark, sfDir)
      .collect().groupBy(_.getAs[String]("source"))
    val docCounts = graft.core.Tables.documents(spark, sfDir)
      .groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, rows) <- bySrc) {
      val sorted = rows.sortBy(_.getAs[Int]("decile"))
      assert(sorted.map(_.getAs[Int]("decile")).toSeq ==
        (1 to sorted.length))
      assert(sorted.map(_.getAs[Long]("n_docs")).sum === docCounts(src))
      for (Array(a, b) <- sorted.sliding(2))
        assert(a.getAs[Long]("max_chars") <= b.getAs[Long]("min_chars"),
          s"$src deciles overlap in length")
    }
  }

  test("contrastive pairs: positive is the exact copy, negative is strictly below the band") {
    val rows = SparkEntry.queries("q_contrastive_pairs")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("pos_id") === r.getAs[Long]("anchor_id") + 10000,
        s"positive must be the manufactured copy: $r")
      assert(r.getAs[Double]("pos_cos") >= 0.999)
      val neg = r.getAs[Double]("neg_cos")
      assert(neg < 0.999 && neg <= r.getAs[Double]("pos_cos"))
      assert(r.getAs[Long]("neg_id") !== r.getAs[Long]("anchor_id"))
    }
  }

  test("skew stats: ratios >= 1, key counts bounded by row counts") {
    val rows = SparkEntry.queries("q_skew_stats")(spark, sfDir).collect()
    assert(rows.length === 3)
    for (r <- rows) {
      assert(r.getAs[Long]("n_keys") <= r.getAs[Long]("n_rows"))
      assert(r.getAs[Long]("max_rows") <= r.getAs[Long]("n_rows"))
      assert(r.getAs[Double]("skew_ratio") >= 1.0 - 1e-9)
    }
  }

  test("freshness: staleness non-negative and zero for the watermark holder") {
    val rows = SparkEntry.queries("q_freshness")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val stal = rows.map(_.getAs[Long]("staleness_sec"))
    assert(stal.forall(_ >= 0))
    assert(stal.min === 0, "some event type must hold the global watermark")
  }

  test("minhash recall: hit set bounded by both sides, ratio recomputes") {
    val r = SparkEntry.queries("q_minhash_recall")(spark, sfDir).collect()(0)
    val (ex, cand, hit) = (r.getAs[Long]("n_exact"),
      r.getAs[Long]("n_candidates"), r.getAs[Long]("n_hit"))
    assert(ex > 0 && hit <= ex && hit <= cand)
    assert(math.abs(r.getAs[Double]("recall") -
      math.rint(hit.toDouble / ex * 1e4) / 1e4) < 1e-9)
  }

  test("ngram novelty: first doc fully novel, totals account for the vocabulary") {
    val rows = SparkEntry.queries("q_ngram_novelty")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val first = rows.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Double]("novelty") === 1.0)
    for (r <- rows)
      assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_shingles"))
    val distinctShingles = graft.core.Tables.documents(spark, sfDir)
      .select(split(lower(trim(col("text"))), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(explode(expr("transform(sequence(0, size(w)-3), " +
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("shingle"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_novel")).sum === distinctShingles)
  }

  test("label noise: flagged rows disagree, vote counts within panel size") {
    val rows = SparkEntry.queries("q_label_noise")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Int]("label") !== r.getAs[Int]("nn_majority"))
      val v = r.getAs[Long]("n_votes")
      assert(v >= 1 && v <= 3)
    }
  }

  test("TWAP stays within each user's value range") {
    val bounds = graft.core.Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val out = SparkEntry.queries("q_twap")(spark, sfDir)
      .join(bounds, Seq("user_id")).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val t = r.getAs[Double]("twap")
      assert(t >= r.getAs[Double]("lo") - 0.01 &&
        t <= r.getAs[Double]("hi") + 0.01)
    }
  }

  test("maxsim dominates the pooled dot product on every returned row") {
    // sum-of-blockwise-max >= sum of diagonal blocks = full 64-dim dot
    val full = graft.core.Tables.embeddings(spark, sfDir).as("e")
      .crossJoin(graft.core.Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") === 0).select(col("embedding").as("qv")))
      .select(col("vec_id"), expr("float_dot(embedding, qv)").as("dot"))
    val out = SparkEntry.queries("q_maxsim")(spark, sfDir)
      .join(full, Seq("vec_id")).collect()
    assert(out.length === 10)
    for (r <- out)
      assert(r.getAs[Double]("maxsim") >= r.getAs[Double]("dot") - 1e-4)
  }

  test("partition stats: statuses recompute and rows account for the stream") {
    val rows = SparkEntry.queries("q_partition_stats")(spark, sfDir).collect()
    val total = graft.core.Tables.events(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum === total)
    val avg = total.toDouble / rows.length
    for (r <- rows) {
      val n = r.getAs[Long]("n_rows")
      val expect = if (n * 2 < avg) "small"
        else if (n > avg * 2) "large" else "ok"
      assert(r.getAs[String]("status") === expect)
    }
  }

  test("quality-vs-dup cross-tab accounts for every doc and every flagged doc") {
    val rows = SparkEntry.queries("q_quality_vs_dup")(spark, sfDir).collect()
    val nDocs = graft.core.Tables.documents(spark, sfDir).count()
    val nFlagged = SparkEntry.queries("q_span_dedup")(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs)
    assert(rows.map(_.getAs[Long]("n_dup")).sum === nFlagged)
    for (r <- rows)
      assert(r.getAs[Long]("n_dup") <= r.getAs[Long]("n_docs"))
  }

  test("HHI bounded by [1/n, 1]; percentile bands ordered within min/max") {
    for (r <- SparkEntry.queries("q_concentration")(spark, sfDir).collect()) {
      val h = r.getAs[Double]("hhi")
      val n = r.getAs[Long]("n_customers")
      assert(h >= 1.0 / n - 1e-9 && h <= 1.0 + 1e-9, s"HHI out of range: $r")
    }
    for (r <- SparkEntry.queries("q_daily_percentiles")(spark, sfDir).collect()) {
      val (lo, p50, p90, hi) = (r.getAs[Double]("min_v"),
        r.getAs[Double]("p50"), r.getAs[Double]("p90"),
        r.getAs[Double]("max_v"))
      assert(lo <= p50 && p50 <= p90 && p90 <= hi, s"bands unordered: $r")
    }
  }

  test("source card margins agree with the component operators") {
    val rows = SparkEntry.queries("q_source_card")(spark, sfDir).collect()
    val nDocs = graft.core.Tables.documents(spark, sfDir).count()
    val nFlagged = SparkEntry.queries("q_span_dedup")(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs)
    val dupTotal = rows.map(r =>
      math.rint(r.getAs[Double]("dup_doc_rate") * r.getAs[Long]("n_docs")))
      .sum
    assert(dupTotal === nFlagged.toDouble)
    for (r <- rows) {
      val q = r.getAs[Double]("mean_quality")
      assert(q > 0.0 && q <= 1.0)
      assert(r.getAs[Double]("entropy_nats") >= 0.0)
    }
  }

  test("LSH cost model upper-bounds the distinct candidate set") {
    val rows = SparkEntry.queries("q_lsh_cost")(spark, sfDir).collect()
    assert(rows.length === 4)
    for (r <- rows) {
      assert(r.getAs[Long]("max_bucket") <= r.getAs[Long]("n_rows"))
      assert(r.getAs[Long]("n_buckets") <= r.getAs[Long]("n_rows"))
    }
    // Σ per-band pair slots >= |distinct union| (pairs can repeat across bands)
    val slotTotal = rows.map(_.getAs[Long]("est_pairs")).sum
    val distinctCand = SparkEntry.queries("q_minhash_pairs")(spark, sfDir).count()
    assert(slotTotal >= distinctCand)
  }

  test("window distinct: 7d >= 1d, equal on the first day") {
    val rows = SparkEntry.queries("q_window_distinct")(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("day_bucket"))
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(r.getAs[Long]("n_users_7d") >= r.getAs[Long]("n_users_1d"))
    assert(rows.head.getAs[Long]("n_users_7d") ===
      rows.head.getAs[Long]("n_users_1d"))
  }

  test("growth accounting balances: prev = retained + churned, cur = retained + new") {
    val rows = SparkEntry.queries("q_growth_accounting")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (p, c, ret, ch, nw) = (r.getAs[Long]("n_prev"), r.getAs[Long]("n_cur"),
        r.getAs[Long]("n_retained"), r.getAs[Long]("n_churned"),
        r.getAs[Long]("n_new"))
      assert(p === ret + ch && c === ret + nw)
      assert(ret >= 0 && ch >= 0 && nw >= 0)
      assert(r.getAs[Long]("week_to") === r.getAs[Long]("week_from") + 1)
    }
  }

  test("anomaly z-squared recomputes from the daily counts") {
    val rows = SparkEntry.queries("q_anomaly_days")(spark, sfDir).collect()
    val xs = rows.map(_.getAs[Long]("n_rows").toDouble)
    val (n, s, q) = (xs.length.toDouble, xs.sum, xs.map(x => x * x).sum)
    for (r <- rows) {
      val x = r.getAs[Long]("n_rows").toDouble
      val expect = ((n * x - s) * (n * x - s)) / (n * q - s * s)
      assert(math.abs(r.getAs[Double]("z2") - math.rint(expect * 1e6) / 1e6) < 1e-6)
      assert(r.getAs[Boolean]("is_anomaly") === (r.getAs[Double]("z2") > 4.0))
    }
  }

  test("mutual information bounded by the smaller marginal entropy") {
    val r = SparkEntry.queries("q_mutual_info")(spark, sfDir).collect()(0)
    val (mi, hl, hb) = (r.getAs[Double]("mi_nats"),
      r.getAs[Double]("h_label"), r.getAs[Double]("h_bucket"))
    // nano-quantized terms can dip a hair below 0 on independent data
    assert(mi >= -1e-3 && mi <= math.min(hl, hb) + 1e-6)
    assert(hl >= 0 && hl <= math.log(r.getAs[Long]("n_labels").toDouble) + 1e-6)
    assert(hb >= 0 && hb <= math.log(r.getAs[Long]("n_buckets").toDouble) + 1e-6)
    val nmi = r.getAs[Double]("nmi")
    assert(nmi >= -1e-3 && nmi <= 1.0 + 1e-6)
  }

  test("basket rules: support floor, confidence and lift in range") {
    val rows = SparkEntry.queries("q_basket_rules")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    for (r <- rows) {
      assert(r.getAs[Long]("c_ab") >= 3)
      val conf = r.getAs[Double]("confidence")
      assert(conf > 0.0 && conf <= 1.0)
      assert(r.getAs[Double]("lift") > 0.0)
      assert(r.getAs[Long]("antecedent") !== r.getAs[Long]("consequent"))
    }
  }

  test("posting cost: varint never exceeds raw, df margins account for all pairs") {
    val rows = SparkEntry.queries("q_posting_cost")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("varint_bytes") <= r.getAs[Long]("raw_bytes"))
      assert(r.getAs[Long]("varint_bytes") >= r.getAs[Long]("df"))
      assert(r.getAs[Double]("compression_ratio") <= 1.0)
    }
    val pairTotal = graft.core.Tables.documents(spark, sfDir)
      .select(explode(array_distinct(
        split(lower(trim(col("text"))), "\\s+"))).as("tok"))
      .count()
    assert(rows.map(_.getAs[Long]("df")).sum === pairTotal)
  }

  test("clustering coefficient in [0,1], wedges dominate triangles") {
    val r = SparkEntry.queries("q_clustering_coef")(spark, sfDir).collect()(0)
    val cc = r.getAs[Double]("global_cc")
    assert(cc >= 0.0 && cc <= 1.0 + 1e-9)
    assert(3 * r.getAs[Long]("n_triangles") <= r.getAs[Long]("n_wedges"))
  }

  test("dedup impact: kept is a subset, percentages recompute") {
    val r = SparkEntry.queries("q_dedup_impact")(spark, sfDir).collect()(0)
    val (dt, dk) = (r.getAs[Long]("n_docs_total"), r.getAs[Long]("n_docs_kept"))
    val (tt, tk) = (r.getAs[Long]("tokens_total"), r.getAs[Long]("tokens_kept"))
    assert(dk <= dt && tk <= tt && dk > 0)
    assert(math.abs(r.getAs[Double]("pct_docs_removed") -
      math.rint((dt - dk).toDouble / dt * 1e4) / 1e4) < 1e-9)
    assert(math.abs(r.getAs[Double]("pct_tokens_removed") -
      math.rint((tt - tk).toDouble / tt * 1e4) / 1e4) < 1e-9)
  }

  test("EWMA stays within each user's observed value range") {
    val out = SparkEntry.queries("q_ewma")(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
        min(col("ewma5")).as("elo"), max(col("ewma5")).as("ehi"))
      .collect()
    for (r <- out) {
      assert(r.getAs[Double]("elo") >= r.getAs[Double]("lo") - 1e-9)
      assert(r.getAs[Double]("ehi") <= r.getAs[Double]("hi") + 1e-9)
    }
  }

  test("pagerank: full rank table bit-identical under shuffle-partition " +
    "perturbation; top-20 boundary is a strict total order with no tie") {
    import spark.implicits._
    def fullRanks(): Seq[(Long, Long)] =
      Graph.pagerankRanks(spark, sfDir)
        .orderBy($"rank".desc, $"node").collect()
        .map(r => (r.getAs[Long]("node"), r.getAs[Long]("rank"))).toSeq
    val a = fullRanks()
    // perturb the shuffle layout: different partition counts reorder every
    // aggregation's combine sequence — integer arithmetic must not care
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val b = try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      fullRanks()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(a == b, "pagerank ranks diverged under shuffle-partition change")
    // boundary audit: the presentation order (rank desc, node asc) must be
    // strictly decreasing as a composite key through the #20/#21 cut, so a
    // rank tie at the cut cannot let two engines pick different top-20 sets
    val window = a.slice(15, 25)
    window.sliding(2).foreach { case Seq((n1, r1), (n2, r2)) =>
      assert(r1 > r2 || (r1 == r2 && n1 < n2),
        s"non-strict order at boundary: ($n1,$r1) vs ($n2,$r2)")
    }
    val (r20, r21) = (a(19)._2, a(20)._2)
    info(s"rank #20 = ${a(19)} rank #21 = ${a(20)} gap = ${r20 - r21} " +
      s"(units of 1e-12)")
  }

  test("label propagation: communities partition the co-order node set " +
    "and the result is run-to-run deterministic") {
    import spark.implicits._
    val a = SparkEntry.queries("q_label_prop")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = SparkEntry.queries("q_label_prop")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b, "label propagation diverged between identical runs")
    // the top-20 community sizes can never exceed the graph's node count,
    // and every representative must be a real node id
    val e = graft.queries.Graph.coOrderEdges(spark, sfDir)
    val nodes = e.select($"u".as("x")).union(e.select($"v".as("x")))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(a.map(_._2).sum <= nodes.size)
    a.foreach { case (rep, n) =>
      assert(nodes.contains(rep), s"community rep $rep is not a node")
      assert(n >= 1)
    }
  }

  test("personalized pagerank: total mass never exceeds the teleport " +
    "budget and every rank is non-negative") {
    val rows = SparkEntry.queries("q_ppr")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // mass bound: teleport injects at most Scale per iteration (split over
    // seeds) and damping keeps propagated mass <= received mass, so no
    // node can ever hold more than the full 10^12 budget
    rows.foreach { case (node, rank) =>
      assert(rank > 0L, s"node $node emitted with non-positive rank")
      assert(rank <= 1000000000000L, s"node $node exceeds the mass budget")
    }
    // presentation order is a strict total order (rank desc, node asc)
    rows.sliding(2).foreach { case Seq((n1, r1), (n2, r2)) =>
      assert(r1 > r2 || (r1 == r2 && n1 < n2))
    }
  }

  test("scalar quantization: reconstruction error is non-negative and " +
    "bounded by the worst per-dim quantization cell") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_scalar_quant")(spark, sfDir).collect()
    rows.foreach { r =>
      val (approx, exact, qerr) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(approx >= 0L && exact >= 0L && qerr >= 0L)
    }
    // worst-case per-dim cell width: span/255 + 1 micro-units; the summed
    // squared error can never exceed 64 * cell^2
    val spans = graft.core.Tables.embeddings(spark, sfDir)
      .select(explode(expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000000d)" +
          " as bigint))")).as("x"))
      .agg(max($"x") - min($"x")).collect()(0).getLong(0)
    val cell = spans / 255 + 1
    rows.foreach { r =>
      assert(r.getLong(3) <= 64L * cell * cell,
        s"q_err ${r.getLong(3)} exceeds the 64-dim worst cell bound")
    }
  }

  test("STL decomposition: trend+seasonal+remainder reassembles x exactly " +
    "on every full-window day; edges carry null trend") {
    val rows = SparkEntry.queries("q_stl_decompose")(spark, sfDir).collect()
    val n = rows.length
    rows.zipWithIndex.foreach { case (r, i) =>
      val full = i >= 3 && i < n - 3
      assert(!r.isNullAt(2) == full,
        s"trend nullity wrong at row $i of $n")
      if (full) {
        val (x, t, sea, rem) =
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        assert(x == t + sea + rem,
          s"decomposition does not reassemble at row $i: $x != $t+$sea+$rem")
      } else assert(r.isNullAt(3) && r.isNullAt(4))
    }
  }

  test("constraint audit: detects the deliberate lineitem duplicate keys " +
    "and ok mirrors the violation count") {
    val rows = SparkEntry.queries("q_constraint_audit")(spark, sfDir)
      .collect()
    assert(rows.length == 11)
    rows.foreach { r =>
      val (nRows, nViol, ok) =
        (r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert(nRows > 0L, s"${r.getString(0)} audited an empty table")
      assert(nViol >= 0L && nViol <= nRows)
      assert(ok == (nViol == 0L))
    }
    val pkLi = rows.find(_.getString(0) == "pk_lineitem").get
    assert(pkLi.getLong(3) > 0L,
      "pk_lineitem must flag the testdata's deliberate duplicate keys")
  }
}
