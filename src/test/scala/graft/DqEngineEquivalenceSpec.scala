package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{DqEngine, DqLog, Etl, EtlResult, JobContext}
import graft.etl.DqEngine.Rule

/** The sequential filter-per-rule formulation of the pipelines: every rule
  * is a filter branch over the frame as the earlier rules left it, the log
  * a union of those branches. Kept only as the oracle the single-projection
  * engine is checked against. */
object FoldOracle {
  def clean(df: DataFrame, table: String, rowRef: Column,
            rules: Seq[Rule], ctx: JobContext): (DataFrame, DataFrame) =
    rules.foldLeft((df, DqLog.empty(df.sparkSession))) { case ((cur, log), r) =>
      val violations = cur.filter(r.violation).select(
        DqLog.entry(ctx, table, r.column, rowRef, col(r.column), r.issue): _*)
      (cur.withColumn(r.column, r.fixed), log.unionByName(violations))
    }

  private def rawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** (staged rows, DQ log) */
  def hr(spark: SparkSession, path: String, ctx: JobContext): (DataFrame, DataFrame) = {
    val withId = rawCsv(spark, path)
      .withColumn("__n", row_number().over(Window.orderBy(monotonically_increasing_id())))
      .cache()
    val ref = col("EmployeeID")
    val idFixed = withId.withColumn("EmployeeID",
      when(ref.isNull || trim(ref) === "", concat(lit("TEMP_"), col("__n")))
        .otherwise(trim(ref)))
    val tempLog = withId.filter(ref.isNull || trim(ref) === "").select(
      DqLog.entry(ctx, "staging_employee", "EmployeeID",
        concat(lit("TEMP_"), col("__n")), ref, "missing_employee_id"): _*)
    val (cleaned, ruleLog) = clean(idFixed.drop("__n"), "staging_employee", ref, Etl.hrRules, ctx)
    val (staged, dupLog) = DqEngine.dedupWithLog(cleaned.select(Etl.hrStaged: _*),
      "staging_employee", col("employee_id"), col("employee_id"), ctx)
    (staged, tempLog.unionByName(ruleLog).unionByName(dupLog))
  }

  def finance(spark: SparkSession, path: String, ctx: JobContext): (DataFrame, DataFrame) = {
    val raw = rawCsv(spark, path).withColumn("ExpenseType", Etl.financeTypoFix)
    val (cleaned, ruleLog) = clean(raw, "staging_finance", col("EmployeeID"),
      Etl.financeRules, ctx)
    val (staged, dupLog) = DqEngine.dedupWithLog(cleaned.select(Etl.financeStaged: _*),
      "staging_finance", col("employee_id"), col("employee_id"), ctx)
    (staged, ruleLog.unionByName(dupLog))
  }

  def ops(spark: SparkSession, path: String, ctx: JobContext): (DataFrame, DataFrame) = {
    val (cleaned, ruleLog) = clean(rawCsv(spark, path), "staging_operations",
      col("Department"), Etl.opsRules, ctx)
    val hours = Etl.opsHours
    val imputeLog = cleaned.filter(hours.isNull).select(
      DqLog.entry(ctx, "staging_operations", "DowntimeHours",
        col("Department"), col("DowntimeHours"), "imputed_downtime"): _*)
    val grp = Window.partitionBy(col("Department"), col("ProcessName"), col("Location"))
    val imputed = cleaned.withColumn("DowntimeHours", coalesce(hours,
      round(avg(hours).over(grp), 2).cast(DecimalType(10, 2)),
      lit(0).cast(DecimalType(10, 2))))
    (imputed.select(Etl.opsStaged: _*), ruleLog.unionByName(imputeLog))
  }
}

/** The single-projection engine against the sequential fold, on generated
  * dirty extracts covering every rule, a chained fix and rule-violating
  * duplicates. */
class DqEngineEquivalenceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-dq-equiv-test")
  val ctx: JobContext = JobContext("equiv-job", Date.valueOf("2024-01-01"))
  lazy val raw: java.nio.file.Path = DirtyCsv.rawDir(seed = 7)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  private def issues(log: DataFrame): Map[String, Long] =
    log.groupBy("issue").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def check(name: String, got: EtlResult, want: (DataFrame, DataFrame),
                    expectedIssues: Set[String]): Unit = {
    val (wantStaged, wantLog) = want
    assert(got.staging.columns.toSeq == wantStaged.columns.toSeq, name)
    assert(got.dqLog.columns.toSeq == DqLog.schema.fieldNames.toSeq, name)
    assert(rows(got.staging) == rows(wantStaged), s"$name staged rows")
    assert(rows(got.dqLog) == rows(wantLog), s"$name DQ log")
    assert(got.audit.rowsProcessed == wantStaged.count(), name)
    assert(got.audit.rowsFailed == wantLog.count(), name)
    // the input exercises every rule of the pipeline
    assert(issues(got.dqLog).keySet == expectedIssues, name)
  }

  test("HR: single projection == sequential fold (every rule, chained fix, dirty duplicates)") {
    val path = raw.resolve("HR_Dataset_Dirty.csv").toString
    val got = Etl.hr(spark, path, ctx)
    check("hr", got, FoldOracle.hr(spark, path, ctx), Set("missing_employee_id",
      "unknown_gender", "invalid_date", "invalid_or_negative_salary", "missing_manager",
      "missing_name", "missing_department", "unknown_status", "duplicate_row"))
    // chained fix: a row with neither id nor name is named after its TEMP id
    val chained = got.staging.filter(col("employee_id").startsWith("TEMP_")).collect()
    assert(chained.exists(r => r.getAs[String]("name") == "EMP_" + r.getAs[String]("employee_id")))
    // two copies of a line that breaks seven rules: each copy is logged by
    // every rule, the second once more as a duplicate
    val x2 = issues(got.dqLog.filter(col("row_reference") === "X2"))
    assert(x2 == Map("missing_name" -> 2L, "missing_department" -> 2L, "unknown_gender" -> 2L,
      "invalid_date" -> 2L, "missing_manager" -> 2L, "invalid_or_negative_salary" -> 2L,
      "unknown_status" -> 2L, "duplicate_row" -> 1L))
    // lines that differ raw but stage identically are duplicates too
    assert(issues(got.dqLog.filter(col("row_reference") === "X1")) == Map("duplicate_row" -> 1L))
    assert(got.staging.filter(col("employee_id").isin("X1", "X2")).count() == 2)
    got.release()
  }

  test("Finance: single projection == sequential fold") {
    val path = raw.resolve("Finance_Dataset_Dirty.csv").toString
    val got = Etl.finance(spark, path, ctx)
    check("finance", got, FoldOracle.finance(spark, path, ctx),
      Set("missing_expense_type", "invalid_amount", "invalid_date", "missing_approver",
        "duplicate_row"))
    got.release()
  }

  test("Operations: single projection == sequential fold") {
    val path = raw.resolve("Operations_Dataset_Dirty.csv").toString
    val got = Etl.ops(spark, path, ctx)
    check("ops", got, FoldOracle.ops(spark, path, ctx),
      Set("missing_department", "missing_process", "missing_location", "invalid_date",
        "imputed_downtime"))
    got.release()
  }

  test("runAll: one DQ-log and one audit append carry all three pipelines") {
    val wh = Files.createTempDirectory("graft-equiv-wh").toString
    val results = Etl.runAll(spark, raw.toString, wh, ctx)
    val audit = spark.read.parquet(s"$wh/logs/audit_log")
    assert(audit.count() == 3)
    assert(audit.select("table_name").collect().map(_.getString(0)).toSet ==
      Set("staging_employee", "staging_finance", "staging_operations"))
    val dq = spark.read.parquet(s"$wh/logs/data_quality_log")
    assert(dq.count() == results.map(_.audit.rowsFailed).sum)
    Seq("staging_employee", "staging_finance", "staging_operations").zip(results).foreach {
      case (t, r) =>
        assert(rows(spark.read.parquet(s"$wh/stg/$t")) == rows(r.staging), t)
        assert(r.audit.rowsProcessed == r.staging.count(), t)
    }
    results.foreach(_.release())
  }

  test("a raw CSV whose header does not match the known layout fails loudly") {
    val dir = Files.createTempDirectory("graft-bad-header")
    val path = DirtyCsv.write(dir.resolve("hr.csv"),
      Seq("Name", "EmployeeID", "Department", "Gender", "DateOfJoining", "ManagerID",
        "Salary", "Status"),
      Seq("Ann,E1,IT,F,2020-01-01,1001,100,Active")).toString
    val e = intercept[Exception](Etl.hr(spark, path, ctx))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("header")), e.toString)
  }
}
