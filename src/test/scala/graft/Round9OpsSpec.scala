package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Graph

/** Driver-side invariants for the round-9 changes, independent of the
  * DuckDB oracle. */
class Round9OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-r9-test")
  val sfDir = "/root/testdata/sf0.001"

  /** Round-8 VERDICT item 2: the co-purchase pair fan-out must be
    * bounded per key regardless of input shape. A synthetic hub
    * customer with 1000 distinct items must emit at most
    * cap·(cap−1)/2 pairs, not ~5·10⁵. */
  test("capBasket bounds a hub key's pair emission at cap·(cap−1)/2") {
    import spark.implicits._
    val hub = spark.range(1000).select(lit(7L).as("cust"), $"id".as("item"))
      .union(spark.range(10).select(lit(8L).as("cust"), ($"id" + 5000).as("item")))
    val capped = Graph.capBasket(hub, "cust", "item", Graph.CustBasketCap)
    val widths = capped.groupBy($"cust").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(widths(7L) == Graph.CustBasketCap.toLong,
      "hub basket must be truncated to exactly the cap")
    assert(widths(8L) == 10L, "sub-cap baskets must pass through untouched")
    val pairs = capped.as("a").join(capped.as("b"),
        $"a.cust" === $"b.cust" && $"a.item" < $"b.item")
      .groupBy($"a.cust").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bound = Graph.CustBasketCap.toLong * (Graph.CustBasketCap - 1) / 2
    assert(pairs(7L) == bound, s"hub pair emission ${pairs(7L)} != $bound")
    assert(pairs(8L) == 45L)
  }

  /** The cap keeps the K smallest item ids — deterministic and
    * replayed verbatim in the DuckDB oracle SQL. */
  test("capBasket pick is the K smallest item ids (oracle-replayable)") {
    import spark.implicits._
    val df = spark.range(500).select(lit(1L).as("k"),
      (abs(hash($"id".cast("string"))) % 100000).cast("long").as("item"))
      .distinct()
    val kept = Graph.capBasket(df, "k", "item", 50)
      .select("item").collect().map(_.getLong(0)).sorted.toSeq
    val expected = df.select("item").collect().map(_.getLong(0))
      .sorted.take(50).toSeq
    assert(kept == expected)
  }

  /** Round-8 VERDICT item 4: the bounded-round H-index iterate must have
    * CONVERGED at test scale — running two extra rounds changes no
    * label, so the k ∈ {2,3,4} report equals the true k-core
    * decomposition, not a truncation artifact. (Engine–oracle parity
    * never depends on this: both replay the same fixed rounds.) */
  test("coreness estimate has converged on the co-order graph at sf0.001") {
    val edges = Graph.coOrderEdges(spark, sfDir)
    val atN = Graph.corenessLabels(spark, edges)
    val atN2 = Graph.corenessLabels(spark, edges, Graph.CorenessRounds + 2)
    val a = atN.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = atN2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "coreness labels still moving after CorenessRounds — raise the bound")
  }

  /** At test scale the caps sit far above real basket widths, so the
    * capped queries are bit-identical to the uncapped derivation — the
    * cap is a 100-TB circuit breaker, not a result change. */
  test("caps exceed every real basket width at sf0.001") {
    import spark.implicits._
    val ui = graft.core.Tables.lineitem(spark, sfDir)
      .join(graft.core.Tables.orders(spark, sfDir),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("cust"), $"l_partkey".as("item"))
      .distinct()
    val maxCust = ui.groupBy($"cust").count()
      .agg(max($"count")).collect().head.getLong(0)
    assert(maxCust < Graph.CustBasketCap,
      s"customer basket width $maxCust reached the cap — retune CustBasketCap")
    val maxOrd = graft.core.Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_partkey").distinct()
      .groupBy($"l_orderkey").count()
      .agg(max($"count")).collect().head.getLong(0)
    assert(maxOrd < Graph.OrderBasketCap,
      s"order basket width $maxOrd reached the cap — retune OrderBasketCap")
  }
}
