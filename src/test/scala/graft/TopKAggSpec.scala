package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial, PartialMerge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native bounded-heap top-k aggregate (graft.expressions.TopKAgg):
  * result equality with the row_number-window formulation, deterministic
  * tie-breaks, degenerate groups, null inputs, and — the point of the
  * operator — a map-side-combinable (Partial → Final) plan. */
class TopKAggSpec extends AnyFunSuite with WithConf {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-test")
  val sfDir = "/root/testdata/sf0.001"

  test("native topk equals the window top-3 on orders, row for row") {
    val native = SparkEntry.queries("q_topk_native")(spark, sfDir)
    val window = SparkEntry.queries("q_window_topk")(spark, sfDir)
    assert(native.schema.fieldNames.sorted.sameElements(
      window.schema.fieldNames.sorted))
    val n = native.select(window.columns.map(col).toSeq: _*)
    assert(n.exceptAll(window).isEmpty && window.exceptAll(n).isEmpty,
      "native and window top-k differ")
  }

  test("ties break deterministically on the id (lower id wins)") {
    import spark.implicits._
    val df = Seq((1L, 5.0, 30L), (1L, 5.0, 10L), (1L, 5.0, 20L), (1L, 4.0, 1L))
      .toDF("g", "s", "i")
    val out = df.groupBy($"g")
      .agg(expr("topk(s, i, 2)").as("t"))
      .selectExpr("inline(t)")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(out == Seq((5.0, 10L), (5.0, 20L)), s"got $out")
  }

  test("groups smaller than k return all rows, best first; nulls skipped") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(2.0), Some(7L)), (1L, None, Some(8L)), (1L, Some(3.0), None))
      .toDF("g", "s", "i")
    val out = df.groupBy($"g")
      .agg(expr("topk(s, i, 5)").as("t"))
      .selectExpr("inline(t)")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(out == Seq((2.0, 7L)), s"null score/id rows must be skipped: $out")
  }

  test("the plan partial-aggregates map-side before the exchange") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = SparkEntry.queries("q_topk_native")(spark, sfDir)
        .queryExecution.executedPlan
      val aggs = plan.collect { case a: ObjectHashAggregateExec => a }
      val modes = aggs.flatMap(_.aggregateExpressions.map(_.mode)).toSet
      assert(modes.contains(Partial) || modes.contains(PartialMerge),
        s"no map-side partial aggregation in plan modes $modes\n$plan")
      assert(modes.contains(Final), s"no final aggregation: $modes")
    }
  }

  test("k must be a positive literal") {
    import spark.implicits._
    val df = Seq((1L, 1.0, 1L)).toDF("g", "s", "i")
    intercept[Exception] {
      df.groupBy($"g").agg(expr("topk(s, i, 0)")).collect()
    }
    intercept[Exception] {
      df.groupBy($"g").agg(expr("topk(s, i, i)")).collect()
    }
  }
}
