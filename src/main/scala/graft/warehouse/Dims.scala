package graft.warehouse

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.etl.JobContext

/** Dimension and fact loaders — the TL_combine.sql load phase as library
  * functions (/root/reference/03_load_into_fact_and_dim_tables/).
  */
object Dims {

  /** Name-dimension upsert (J5: NOT IN → left_anti, TL_combine.sql:14-20,
    * 240-261): append rows for names not yet present, ids continuing after
    * the current max. Deterministic dbt ordering (row_number over name —
    * dim tables are tiny by definition; facts use md5 keys at scale). */
  def upsertNameDim(current: DataFrame, names: DataFrame,
                    nameCol: String, idCol: String): DataFrame = {
    val newNames = names.select(trim(col(nameCol)).as(nameCol))
      .filter(col(nameCol).isNotNull && col(nameCol) =!= "")
      .distinct()
      .join(current.select(col(nameCol)), Seq(nameCol), "left_anti")
    val maxId = coalesce(max(col(idCol)), lit(0))
    val base = current.agg(maxId.as("__base"))
    val appended = newNames
      .withColumn("__rn", row_number().over(Window.orderBy(col(nameCol))))
      .crossJoin(broadcast(base))
      .select((col("__base") + col("__rn")).cast("int").as(idCol), col(nameCol))
    current.unionByName(appended)
  }

  /** Fresh name dimension from scratch (dbt dims/dim_department.sql:4-9):
    * the upsert into an empty dimension. */
  def buildNameDim(names: DataFrame, nameCol: String, idCol: String): DataFrame = {
    val empty = StructType(Seq(
      StructField(idCol, IntegerType), StructField(nameCol, StringType)))
    upsertNameDim(names.sparkSession.createDataFrame(
      java.util.Collections.emptyList[Row](), empty), names, nameCol, idCol)
  }
}

object Facts {

  /** Fact load with FK-miss DQ capture (J4: left join + null filter,
    * TL_combine.sql:141-153): rows whose `fkCol` resolves in `dim` are
    * enriched with the dim id; misses are returned as DQ log rows instead
    * of silently dropped. Two passes over staging, one shuffle each — at
    * scale the dim side broadcasts. */
  def loadWithFkCheck(staging: DataFrame, dim: DataFrame,
                      fkCol: String, dimKeyCol: String, dimIdCol: String,
                      table: String, ctx: JobContext): (DataFrame, DataFrame) = {
    val d = broadcast(dim.select(
      col(dimKeyCol).as("__dk"), col(dimIdCol)))
    val enriched = staging
      .join(d, staging(fkCol) === col("__dk"), "inner")
      .drop("__dk")
    val misses = staging
      .join(d, staging(fkCol) === col("__dk"), "left_anti")
      .select(graft.etl.DqLog.entry(
        ctx, table, fkCol, col(fkCol), col(fkCol), "fk_miss"): _*)
    (enriched, misses)
  }
}
