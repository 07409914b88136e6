package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.Incremental

/** The state-table incremental loader: watermark advances without fact
  * scans, overlapping batches dedup, old partitions never re-read. */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-inc-test")

  private def batch(rows: (Long, String, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("order_id", "d", "amount")
      .select(col("order_id"), col("d").cast("date").as("order_date"), col("amount"))
  }

  /** The fact's parquet data files, relative to `fact`. */
  private def dataFiles(fact: String): Set[String] = {
    val root = java.nio.file.Paths.get(fact)
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .map(root.relativize(_).toString).toSet
    } finally walk.close()
  }

  test("two overlapping batches: no duplicates, watermark advances") {
    val dir = Files.createTempDirectory("graft-inc").toString
    val fact = s"$dir/fact_orders"
    val state = s"$dir/state"

    val b1 = batch((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0),
      (3L, "2024-01-03", 30.0))
    val s1 = Incremental.appendIncremental(b1, fact, state, "fact_orders",
      "order_date", Seq("order_id", "order_date"))
    assert(s1.appended == 3)
    assert(Incremental.readWatermark(spark, state, "fact_orders")
      .contains("2024-01-03"))

    // batch 2 replays day 3 (rows 3) and adds day 4
    val b2 = batch((3L, "2024-01-03", 30.0), (4L, "2024-01-03", 40.0),
      (5L, "2024-01-04", 50.0))
    val s2 = Incremental.appendIncremental(b2, fact, state, "fact_orders",
      "order_date", Seq("order_id", "order_date"))
    assert(s2.appended == 2) // 3 deduped, 4+5 appended
    assert(Incremental.readWatermark(spark, state, "fact_orders")
      .contains("2024-01-04"))

    val all = spark.read.parquet(fact)
    assert(all.count() == 5)
    assert(all.groupBy("order_id").count().filter(col("count") > 1).count() == 0)
  }

  test("pre-watermark late rows are dropped (the documented contract)") {
    val dir = Files.createTempDirectory("graft-inc2").toString
    val fact = s"$dir/fact"
    val state = s"$dir/state"
    Incremental.appendIncremental(
      batch((1L, "2024-02-10", 1.0)), fact, state, "fact",
      "order_date", Seq("order_id", "order_date"))
    val before = dataFiles(fact)
    val s = Incremental.appendIncremental(
      batch((9L, "2024-01-01", 9.0)), fact, state, "fact",
      "order_date", Seq("order_id", "order_date"))
    assert(s.aboveWatermark == 0 && s.appended == 0)
    assert(spark.read.parquet(fact).count() == 1)
    // the zero-row append still runs its write job, which adds no data file
    assert(dataFiles(fact) == before && before.size == 1)
  }

  test("null-date rows are excluded, counted, and never crash a first batch") {
    val dir = Files.createTempDirectory("graft-inc-null").toString
    val factDir = new java.io.File(s"$dir/fact")
    // first-ever batch with no rows at all: nothing counted, and no
    // schema-less fact directory left behind for the next read to trip on
    val empty = Incremental.appendIncremental(batch(), s"$dir/fact",
      s"$dir/state", "fact", "order_date", Seq("order_id"))
    assert(empty == Incremental.LoadStats(0, 0, 0, 0))
    assert(!factDir.exists())
    // first-ever batch where EVERY row has a null partition date
    val allNull = batch((1L, null, 1.0), (2L, null, 2.0))
    val s0 = Incremental.appendIncremental(allNull, s"$dir/fact", s"$dir/state",
      "fact", "order_date", Seq("order_id"))
    assert(s0.nullPartition == 2 && s0.appended == 0)
    assert(Incremental.readWatermark(spark, s"$dir/state", "fact").isEmpty)
    assert(!factDir.exists())
    // mixed batch: the dated row loads, the null row is counted out
    val mixed = batch((3L, "2024-05-01", 3.0), (4L, null, 4.0))
    val s1 = Incremental.appendIncremental(mixed, s"$dir/fact", s"$dir/state",
      "fact", "order_date", Seq("order_id"))
    assert(s1.nullPartition == 1 && s1.appended == 1)
    assert(spark.read.parquet(s"$dir/fact").count() == 1)
  }

  test("fact is physically partitioned by (year, month), date kept in data") {
    val dir = Files.createTempDirectory("graft-inc3").toString
    Incremental.appendIncremental(
      batch((1L, "2024-03-01", 1.0), (2L, "2024-03-02", 2.0),
        (3L, "2024-04-01", 3.0)),
      s"$dir/fact", s"$dir/state", "fact",
      "order_date", Seq("order_id", "order_date"))
    val years = new java.io.File(s"$dir/fact").list()
      .filter(_.startsWith("p_year="))
    assert(years.toSet == Set("p_year=2024"))
    val months = new java.io.File(s"$dir/fact/p_year=2024").list()
      .filter(_.startsWith("p_month="))
    assert(months.toSet == Set("p_month=3", "p_month=4"))
    // the date column survives as real data (it is no longer the
    // physical partition key, so it must live in the files themselves)
    val back = spark.read.parquet(s"$dir/fact")
    assert(back.columns.contains("order_date"))
    assert(back.filter(col("order_date") === Date.valueOf("2024-03-02"))
      .count() == 1)
  }

  test("legacy fact layout (no p_year/p_month) fails with the remedy, " +
       "not an unresolved-column error") {
    // a pre-r8 fact was partitioned by the raw date column — simulate by
    // writing the fact WITHOUT the derived (p_year, p_month) columns,
    // then attempt an incremental append against it (r9 ADVICE: the
    // loader must name the reformat, not die in analysis)
    val dir = Files.createTempDirectory("graft-inc-legacy").toString
    val fact = s"$dir/fact"
    batch((1L, "2024-01-01", 10.0)).write
      .partitionBy("order_date").parquet(fact)
    val e = intercept[IllegalStateException] {
      Incremental.appendIncremental(batch((2L, "2024-01-02", 20.0)),
        fact, s"$dir/state", "fact", "order_date", Seq("order_id"))
    }
    assert(e.getMessage.contains("reformat required"), e.getMessage)
    assert(e.getMessage.contains("p_year"), e.getMessage)
  }

  test("state table tracks multiple facts independently") {
    val dir = Files.createTempDirectory("graft-inc4").toString
    val state = s"$dir/state"
    Incremental.appendIncremental(batch((1L, "2024-01-05", 1.0)),
      s"$dir/f1", state, "f1", "order_date", Seq("order_id"))
    Incremental.appendIncremental(batch((1L, "2024-02-07", 1.0)),
      s"$dir/f2", state, "f2", "order_date", Seq("order_id"))
    assert(Incremental.readWatermark(spark, state, "f1").contains("2024-01-05"))
    assert(Incremental.readWatermark(spark, state, "f2").contains("2024-02-07"))
  }
}
