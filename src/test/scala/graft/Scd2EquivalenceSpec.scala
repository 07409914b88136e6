package graft

import java.sql.Date

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.Scd2

/** The union-of-branches SCD2 merge: unchanged ∪ expired ∪ fresh (∪
  * expired-missing), each branch a join that re-reads the dimension. Kept
  * only as the oracle the one-join merge is checked against. */
object Scd2Oracle {
  def merge(current: DataFrame, staged: DataFrame, key: String,
            attrCols: Seq[String], asOf: Date,
            invalidateMissing: Boolean = false): DataFrame = {
    val outCols = (key +: attrCols) ++
      Seq("row_hash", "valid_from", "valid_to", "is_current")

    val stagedH = staged
      .select(col(key) +: attrCols.map(col): _*)
      .withColumn("row_hash", Scd2.rowHash(attrCols))
    val live = current.filter(col("is_current"))
      .select(col(key).as("__k"), col("row_hash").as("__cur_hash"))

    val fresh = stagedH
      .join(live, stagedH(key) === live("__k"), "left")
      .filter(col("__k").isNull || !(col("__cur_hash") <=> col("row_hash")))
      .select((key +: attrCols).map(col) :+ col("row_hash"): _*)
      .withColumn("valid_from", lit(asOf))
      .withColumn("valid_to", lit(null).cast(DateType))
      .withColumn("is_current", lit(true))

    val changedKeys = stagedH
      .join(live, stagedH(key) === live("__k"))
      .filter(!(col("__cur_hash") <=> col("row_hash")))
      .select(col("__k"))

    val expired = current.filter(col("is_current"))
      .join(changedKeys, col(key) === col("__k")).drop("__k")
      .withColumn("valid_to", lit(asOf))
      .withColumn("is_current", lit(false))
      .select(outCols.map(col): _*)

    val expiredMissing =
      if (!invalidateMissing) None
      else Some(current.filter(col("is_current"))
        .join(stagedH.select(col(key)), Seq(key), "left_anti")
        .withColumn("valid_to", lit(asOf))
        .withColumn("is_current", lit(false))
        .select(outCols.map(col): _*))

    val survivingCurrent = {
      val notChanged = current.filter(col("is_current"))
        .join(changedKeys, col(key) === col("__k"), "left_anti")
      if (invalidateMissing)
        notChanged.join(stagedH.select(col(key)), Seq(key), "left_semi")
      else notChanged
    }
    val unchanged = survivingCurrent
      .unionByName(current.filter(!col("is_current")))
      .select(outCols.map(col): _*)

    val merged = unchanged
      .unionByName(expired)
      .unionByName(fresh.select(outCols.map(col): _*))
    expiredMissing.fold(merged)(merged.unionByName(_))
  }
}

/** The one-join merge against the oracle on generated merge sequences:
  * new, changed, unchanged and missing keys, null keys, null and empty
  * attributes, and the history rows earlier merges leave behind. */
class Scd2EquivalenceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-scd2-equiv-test")
  private val attrs = Seq("name", "dept")
  private val keys = (0 until 12).map(i => s"e$i")
  private val values = Seq(null, "", "a", "b")
  private val snapSchema = StructType(Seq("emp_id", "name", "dept")
    .map(StructField(_, StringType)))

  /** A snapshot with unique non-null keys: each key is missing, repeats
    * its previous attributes or draws new ones; plus up to two null-key
    * rows with distinct attributes. */
  private def snapshot(rnd: Random, prev: Map[String, (String, String)])
      : Map[String, (String, String)] = {
    def draw = (values(rnd.nextInt(values.size)), values(rnd.nextInt(values.size)))
    keys.flatMap { k =>
      rnd.nextInt(10) match {
        case 0 | 1 => None
        case 2 | 3 | 4 if prev.contains(k) => Some(k -> prev(k))
        case _ => Some(k -> draw)
      }
    }.toMap
  }

  private def nullKeyRows(rnd: Random): Seq[(String, String)] =
    Seq.fill(rnd.nextInt(3))((values(rnd.nextInt(values.size)),
      values(rnd.nextInt(values.size)))).distinct

  private def toDf(rows: Map[String, (String, String)], nulls: Seq[(String, String)]) =
    spark.createDataFrame((rows.toSeq ++ nulls.map(null.asInstanceOf[String] -> _))
      .map { case (k, (n, d)) => Row(k, n, d) }.asJava, snapSchema)

  private def render(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("|")).sorted

  for (invalidate <- Seq(false, true); seed <- 1 to 4)
    test(s"one-join merge == oracle, 3 merges deep [invalidateMissing=$invalidate, seed $seed]") {
      val rnd = new Random(seed)
      var prev = snapshot(rnd, Map.empty)
      var cur = Scd2.initial(toDf(prev, nullKeyRows(rnd)), "emp_id", attrs,
        Date.valueOf("2024-01-01"))
      var rows = Seq.empty[String]
      for (step <- 1 to 3) {
        val next = snapshot(rnd, prev)
        val staged = toDf(next, nullKeyRows(rnd))
        val asOf = Date.valueOf(s"2024-0${step + 1}-01")
        val expected = Scd2Oracle.merge(cur, staged, "emp_id", attrs, asOf, invalidate).collect()
        val merged = Scd2.merge(cur, staged, "emp_id", attrs, asOf, invalidate)
        val got = merged.collect().toSeq
        rows = render(got)
        assert(rows == render(expected.toSeq), s"step $step")
        cur = spark.createDataFrame(got.asJava, merged.schema)
        prev = next
      }
      // the sequence reached the cases the generator cannot force
      assert(rows.exists(_.startsWith("∅|")), "no null-key row")
      assert(rows.exists(_.endsWith("|false")), "no history row")
    }
}
