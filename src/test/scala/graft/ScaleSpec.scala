package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Skew

/** Scale-mechanics tests: salting correctness and the bucketed co-located
  * join (the documented at-scale swap-in for the lineitem⋈orders fact-fact
  * shuffle, core/Tables.scala scaladoc). */
class ScaleSpec extends AnyFunSuite with WithConf {
  // getOrCreate reuses the suite-shared session, so warehouse conf set
  // here would be ignored — instead drop tables (purging their location)
  // before re-creating them.
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-scale-test")

  test("saltedJoin matches the plain join result under a hot key") {
    import spark.implicits._
    // 10k rows, 90% on one hot key
    val large = spark.range(10000)
      .select((when($"id" % 10 === 0, $"id" % 50).otherwise(0L)).as("k"),
        $"id".as("v"))
    val small = Seq((0L, "hot"), (1L, "a"), (2L, "b"), (10L, "c"))
      .toDF("k", "name")
    val plain = large.join(small, "k").agg(count(lit(1)), sum($"v")).head()
    val salted = Skew.saltedJoin(large, small, "k", 8, Seq($"v"))
      .agg(count(lit(1)), sum($"v")).head()
    assert(plain == salted)
  }

  test("saltedSumCount equals the direct aggregation") {
    import spark.implicits._
    val df = spark.range(5000)
      .select(($"id" % 3).as("k"), ($"id" % 7).cast("double").as("v"))
    val direct = df.groupBy($"k")
      .agg(sum($"v").as("sum_value"), count($"v").as("n"))
      .orderBy($"k").collect().toSeq
    val salted = Skew.saltedSumCount(df, "k", "v", 8)
      .orderBy($"k").collect().toSeq
    assert(direct == salted)
  }

  test("bucketed co-located fact⋈fact join plans without a shuffle") {
    val sfDir = "/root/testdata/sf0.001"
    // the catalog is in-memory per JVM but the warehouse dir persists
    // across runs: drop the metadata AND delete the physical locations
    spark.sql("DROP TABLE IF EXISTS li_bucketed PURGE")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed PURGE")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    graft.core.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    graft.core.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey")
      .write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_bucketed")

    // disable auto-broadcast so the join strategy is decided by bucketing,
    // and AQE so executedPlan is the real plan — under AQE it is a leaf
    // AdaptiveSparkPlanExec and the shuffle collect would be vacuously
    // empty even for a shuffling plan
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan
      assert(plan.collectFirst {
        case e: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => e
      }.isEmpty, "expected a non-adaptive plan for this assertion")
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"bucketed join should be shuffle-free, found: $shuffles")
      // sanity: the same join WITHOUT bucketing does shuffle, proving the
      // assertion can fail
      val unbucketed = graft.core.Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_extendedprice")
        .join(graft.core.Tables.orders(spark, sfDir)
          .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
      assert(unbucketed.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }.nonEmpty, "control: unbucketed join should shuffle")
      assert(joined.count() > 0)
    }
  }
}
