package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.Incremental
import graft.warehouse.Incremental.{LoadStats, MonthCol, YearCol}

/** The two-cache incremental loader: counters from one cached frame, the
  * anti-join against the tail, then the count and max from a second
  * cached frame. Kept only as the oracle the one-cache loader is checked
  * against. */
object IncrementalOracle {
  def appendIncremental(candidates: DataFrame, factPath: String,
                        statePath: String, table: String,
                        partCol: String, keyCols: Seq[String]): LoadStats = {
    val spark = candidates.sparkSession
    val hwm = Incremental.readWatermark(spark, statePath, table)
    val isFresh = hwm.foldLeft(col(partCol).isNotNull) { (p, w) =>
      p && col(partCol) >= lit(w).cast(DateType)
    }
    val cand = candidates.cache()
    val c = cand.agg(count(lit(1)), count(col(partCol)), count(when(isFresh, 1))).head()
    val (nCand, nNullPart, nFresh) = (c.getLong(0), c.getLong(0) - c.getLong(1), c.getLong(2))
    val fresh = cand.filter(isFresh)

    val fs = new Path(factPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deduped =
      if (fs.exists(new Path(factPath)))
        fresh.join(Incremental.tailScan(spark, factPath, partCol, hwm)
          .select(keyCols.map(col): _*), keyCols, "left_anti")
      else fresh
    val rows = deduped.cache()
    val r = rows.agg(count(lit(1)), max(col(partCol)).cast(StringType)).head()
    val nNew = r.getLong(0)
    val newMax: Option[String] = Option(r.getString(1))

    if (nNew > 0) {
      rows
        .withColumn(YearCol, year(col(partCol)))
        .withColumn(MonthCol, month(col(partCol)))
        .write.mode("append").partitionBy(YearCol, MonthCol).parquet(factPath)
      val advanced = (hwm, newMax) match {
        case (Some(w), Some(m)) => if (w >= m) w else m
        case (_, Some(m)) => m
        case _ => throw new IllegalStateException("no partition value")
      }
      Incremental.writeWatermark(spark, statePath, table, advanced)
    }
    rows.unpersist()
    cand.unpersist()
    LoadStats(nCand, nNullPart, nFresh, nNew)
  }
}

/** The one-cache loader against the oracle, each over its own warehouse,
  * on a batch sequence with same-day replays, in-batch duplicates, null
  * key parts, null dates and pre-watermark rows. */
class IncrementalEquivalenceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-inc-equiv-test")

  // the non-key column first: the loader's key-first join must not leak
  // into the written files' column order
  private def batch(rows: (Double, java.lang.Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("amount", "order_id", "d", "sku")
      .select(col("amount"), col("order_id"), col("d").cast("date").as("order_date"),
        col("sku"))
  }
  private val keys = Seq("order_id", "order_date", "sku")

  private def render(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("|"))
      .toSeq.sorted

  private def dataFileColumns(fact: String): Set[Seq[String]] =
    Files.walk(Paths.get(fact)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.toString).columns.toSeq).toSet

  test("one-cache loader == two-cache oracle: stats, fact rows, watermarks, file schema") {
    val id = (n: Long) => java.lang.Long.valueOf(n)
    val batches = Seq(
      // first load: in-batch duplicate, null key part, null date
      batch((1.0, id(1), "2024-01-30", "a"), (1.0, id(1), "2024-01-30", "a"),
        (2.0, id(2), "2024-01-31", "b"), (3.0, null, "2024-01-31", "c"),
        (4.0, id(4), null, "d"), (5.0, id(5), "2024-01-31", null)),
      // same-day replay of the watermark day, a new same-day row, a
      // pre-watermark row, a duplicate of a new row, null keys again
      batch((2.0, id(2), "2024-01-31", "b"), (6.0, id(6), "2024-01-31", "b"),
        (7.0, id(7), "2024-01-15", "a"), (8.0, id(8), "2024-02-01", "a"),
        (8.0, id(8), "2024-02-01", "a"), (3.0, null, "2024-01-31", "c"),
        (5.0, id(5), "2024-01-31", null), (9.0, id(9), null, "a")),
      // the previous batch replayed whole
      batch((2.0, id(2), "2024-01-31", "b"), (6.0, id(6), "2024-01-31", "b"),
        (7.0, id(7), "2024-01-15", "a"), (8.0, id(8), "2024-02-01", "a"),
        (8.0, id(8), "2024-02-01", "a"), (3.0, null, "2024-01-31", "c"),
        (5.0, id(5), "2024-01-31", null), (9.0, id(9), null, "a")),
      // only stale and undated rows: nothing appended, watermark kept
      batch((1.0, id(1), "2024-01-30", "a"), (4.0, id(4), null, "d")),
      // next month, and a replay of the watermark day with another amount
      batch((8.5, id(8), "2024-02-01", "a"), (10.0, id(10), "2024-03-02", "z")))

    val base = Files.createTempDirectory("graft-inc-equiv").toString
    val (mine, oracle) = (s"$base/mine", s"$base/oracle")
    batches.zipWithIndex.foreach { case (b, i) =>
      val got = Incremental.appendIncremental(b, s"$mine/fact", s"$mine/state", "f",
        "order_date", keys)
      val want = IncrementalOracle.appendIncremental(b, s"$oracle/fact", s"$oracle/state", "f",
        "order_date", keys)
      assert(got == want, s"batch $i")
      assert(Incremental.readWatermark(spark, s"$mine/state", "f") ==
        Incremental.readWatermark(spark, s"$oracle/state", "f"), s"batch $i")
      assert(render(spark.read.parquet(s"$mine/fact")) ==
        render(spark.read.parquet(s"$oracle/fact")), s"batch $i")
    }
    assert(Incremental.readWatermark(spark, s"$mine/state", "f").contains("2024-03-02"))
    assert(dataFileColumns(s"$mine/fact") == Set(Seq("amount", "order_id", "order_date", "sku")))
  }
}
