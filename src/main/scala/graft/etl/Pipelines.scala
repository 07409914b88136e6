package graft.etl

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.DqEngine.Rule
import graft.functions.Cleaning
import graft.io.Sinks

/** One ETL run's output: cleaned staging rows, their DQ log and the audit
  * entry. `staging` and `dqLog` are cached: both read the pipeline's one
  * cached frame (filled by the audit counts), so consuming them re-reads no
  * input and re-evaluates no rule. The caller releases that cache with
  * [[release]] (or `spark.catalog.clearCache()`) once done with both. */
final case class EtlResult(staging: DataFrame, dqLog: DataFrame, audit: AuditEntry)(
    cached: DataFrame) {
  /** Drop the cached frame behind `staging` and `dqLog`. */
  def release(): Unit = cached.unpersist()
}

/** The three departmental clean→staging pipelines, re-expressing
  * /root/reference/02_Extract_and_transform_raw_data/ET_combined.py
  * (HR :10-163, Finance :165-279, Operations :282-428) as rule lists over
  * the [[DqEngine]]. Raw ingest is header CSV with every column string-typed
  * (late typing, mirroring the reference's TEXT staging columns —
  * combined_dw_schema.sql:156,172,184-185); types land in the final select.
  *
  * Each pipeline is a pure DataFrame → (DataFrame, DataFrame, AuditEntry)
  * function with one materialization: the input is read once, every rule
  * runs in one projection chain, and the staged rows, the DQ log and the
  * audit counts come from one cached frame. [[Etl.runAll]] runs the three
  * concurrently and owns all writes (staging via overwrite-swap, logs via
  * append) — the reference's `if_exists="replace"` / `"append"` split.
  */
object Etl {

  /** Raw header layouts, all columns string-typed. A file whose header
    * differs fails its read (`enforceSchema=false`) instead of being read
    * positionally under the wrong names. */
  private val HrColumns = Seq("EmployeeID", "Name", "Department", "Gender",
    "DateOfJoining", "ManagerID", "Salary", "Status")
  private val FinanceColumns = Seq("EmployeeID", "ExpenseType", "ExpenseAmount",
    "ExpenseDate", "ApprovedBy")
  private val OpsColumns = Seq("Department", "ProcessName", "DowntimeHours",
    "ProcessDate", "Location")

  /** Header CSV read with its known schema: no header-sniffing job. */
  private def rawCsv(spark: SparkSession, path: String, columns: Seq[String]): DataFrame =
    spark.read.schema(StructType(columns.map(StructField(_, StringType))))
      .option("header", "true").option("enforceSchema", "false").csv(path)

  private val dec12_2 = DecimalType(12, 2)

  /** `df` plus a 1-based `name` column numbering its rows in partition
    * order — line order for a file scan — without moving them: one job
    * counts the rows of each partition, then each row adds its partition's
    * offset to its index within the partition (the low 33 bits of
    * monotonically_increasing_id). For an input whose partitions every
    * evaluation reproduces (a file scan, a local relation) the count and
    * the numbering see the same partitions. */
  private def withPosition(df: DataFrame, name: String): DataFrame = {
    val sizes = df.select(lit(1)).queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(rows.size.toLong)).collect()
    val offsets = sizes.scanLeft(0L)(_ + _).init
    df.withColumn(name, element_at(typedLit(offsets), spark_partition_id() + 1) +
      (monotonically_increasing_id().bitwiseAND((1L << 33) - 1)) + 1)
  }

  // ------------------------------------------------------------------- HR
  private[graft] val hrRules: Seq[Rule] = {
    val salary = Cleaning.coerceDecimal(col("Salary"))
    Seq(
      Rule("Gender",
        // explicit isNull: for null input the isin-negation is NULL (not
        // true), which would silently skip the DQ log while the fix still
        // rewrites the value
        col("Gender").isNull ||
          !upper(trim(col("Gender"))).isin("M", "MALE", "F", "FEMALE"),
        Cleaning.genderNormalize(col("Gender")), "unknown_gender"),
      Rule("DateOfJoining",
        Cleaning.dateSafe(col("DateOfJoining"), None).isNull,
        Cleaning.dateSafe(col("DateOfJoining"), None), "invalid_date"),
      Rule("Salary",
        salary.isNull || salary < 0,
        abs(salary), "invalid_or_negative_salary"),
      Rule("ManagerID",
        col("ManagerID").isNull || upper(trim(col("ManagerID"))).isin("", "NAN", "NULL"),
        Cleaning.nullNormalize(Cleaning.stripFloatSuffix(trim(col("ManagerID"))), "UNKNOWN"),
        "missing_manager"),
      Rule("Name",
        col("Name").isNull || trim(col("Name")) === "",
        when(col("Name").isNull || trim(col("Name")) === "",
          concat(lit("EMP_"), col("EmployeeID"))).otherwise(trim(col("Name"))),
        "missing_name"),
      Rule("Department",
        col("Department").isNull || upper(trim(col("Department"))).isin("", "NAN", "NULL"),
        Cleaning.nullNormalize(upper(trim(col("Department"))), "UNASSIGNED_DEPT"),
        "missing_department"),
      Rule("Status",
        col("Status").isNull ||
          !upper(trim(col("Status"))).isin("ACTIVE", "RESIGNED"),
        Cleaning.statusNormalize(col("Status")), "unknown_status"))
  }

  private[graft] val hrStaged: Seq[Column] = Seq(
    col("EmployeeID").as("employee_id"),
    col("Name").as("name"),
    col("Department").as("department"),
    col("Gender").as("gender"),
    col("DateOfJoining").cast(DateType).as("date_of_joining"),
    col("ManagerID").as("manager_id"),
    col("Salary").cast(dec12_2).as("salary"),
    col("Status").as("status"))

  /** A2_hr_etl.py / ET_combined.py:10-163. */
  def hr(spark: SparkSession, rawPath: String, ctx: JobContext): EtlResult =
    hrFrame(spark, rawCsv(spark, rawPath, HrColumns), ctx)

  /** Same pipeline over an already-ingested raw frame (all-string columns,
    * header promoted) — the [[graft.sources.Xlsx]] path enters here, so
    * workbook and CSV ingest share every rule downstream.
    *
    * A missing EmployeeID falls back to `TEMP_{n}`, n the row's 1-based
    * position in the raw frame (A2_hr_etl.py:80-86), numbered from
    * per-partition row counts ([[withPosition]]), so the rows stay spread
    * over the scan's partitions. Positions follow the raw frame's
    * partitions, which a file scan or a local relation reproduces on every
    * evaluation; staged rows and log entries agree in any case, as both
    * read the one cached frame. */
  def hrFrame(spark: SparkSession, raw: DataFrame, ctx: JobContext): EtlResult = {
    val table = "staging_employee"
    val ref = col("EmployeeID")
    val missing = ref.isNull || trim(ref) === ""
    val tempId = concat(lit("TEMP_"), col("__n").cast(StringType))
    val idFixed = withPosition(raw, "__n").select(raw.columns.toSeq.map { c =>
      if (c == "EmployeeID") when(missing, tempId).otherwise(trim(ref)).as(c) else col(c)
    } :+ DqEngine.logEntry(missing, ctx, table, "EmployeeID", tempId, ref,
      "missing_employee_id").as("__dq_id"): _*)

    val (cleaned, ruleLogs) = DqEngine.clean(idFixed, table, ref, hrRules, ctx)
    DqEngine.finishDeduped(ctx, table, cleaned, hrStaged, col("__dq_id") +: ruleLogs)
  }

  // -------------------------------------------------------------- Finance
  private[graft] val financeRules: Seq[Rule] = {
    val amount = Cleaning.coerceDecimal(col("ExpenseAmount"))
    Seq(
      Rule("ExpenseType",
        col("ExpenseType").isNull || trim(col("ExpenseType")) === "",
        Cleaning.nullNormalize(col("ExpenseType"), "Unknown"), "missing_expense_type"),
      Rule("ExpenseAmount",
        amount.isNull,
        coalesce(amount, lit(0).cast(dec12_2)), "invalid_amount"),
      Rule("ExpenseDate",
        Cleaning.dateSafe(col("ExpenseDate"), None).isNull,
        Cleaning.dateSafe(col("ExpenseDate"), None), "invalid_date"),
      Rule("ApprovedBy",
        col("ApprovedBy").isNull || upper(trim(col("ApprovedBy"))).isin("", "NAN", "NULL"),
        Cleaning.nullNormalize(Cleaning.stripFloatSuffix(trim(col("ApprovedBy"))), "UNKNOWN"),
        "missing_approver"))
  }

  /** Silent typo remap (B2_finance_etl.py:18 — fix without DQ log). */
  private[graft] val financeTypoFix: Column =
    when(initcap(trim(col("ExpenseType"))) === "Travell", "Travel")
      .otherwise(initcap(trim(col("ExpenseType"))))

  private[graft] val financeStaged: Seq[Column] = Seq(
    col("EmployeeID").as("employee_id"),
    col("ExpenseType").as("expense_type"),
    col("ExpenseAmount").cast(dec12_2).as("expense_amount"),
    col("ExpenseDate").cast(DateType).as("expense_date"),
    col("ApprovedBy").as("approved_by"),
    (col("ExpenseAmount").cast(dec12_2) < 0).as("is_refund"))

  /** ET_combined.py:165-279 + B2_finance_etl.py (the deduping standalone
    * variant — ET_combined.py:232's no-op dedup is a documented reference
    * bug, SURVEY §7). Negative amounts are KEPT and flagged is_refund. */
  def finance(spark: SparkSession, rawPath: String, ctx: JobContext): EtlResult = {
    val table = "staging_finance"
    val typoFixed = rawCsv(spark, rawPath, FinanceColumns)
      .withColumn("ExpenseType", financeTypoFix)
    val (cleaned, ruleLogs) =
      DqEngine.clean(typoFixed, table, col("EmployeeID"), financeRules, ctx)
    DqEngine.finishDeduped(ctx, table, cleaned, financeStaged, ruleLogs)
  }

  // ----------------------------------------------------------- Operations
  private[graft] val opsRules: Seq[Rule] = Seq(
    Rule("Department",
      col("Department").isNull || upper(trim(col("Department"))).isin("", "NAN", "NULL"),
      Cleaning.nullNormalize(upper(trim(col("Department"))), "UNASSIGNED_DEPT"),
      "missing_department"),
    Rule("ProcessName",
      col("ProcessName").isNull || upper(trim(col("ProcessName"))).isin("", "NAN", "NULL"),
      Cleaning.nullNormalize(upper(trim(col("ProcessName"))), "UNKNOWN_PROCESS"),
      "missing_process"),
    Rule("Location",
      col("Location").isNull || upper(trim(col("Location"))).isin("", "NAN", "NULL"),
      Cleaning.nullNormalize(upper(trim(col("Location"))), "UNKNOWN_LOCATION"),
      "missing_location"),
    Rule("ProcessDate",
      Cleaning.dateSafe(col("ProcessDate"), None).isNull,
      Cleaning.dateSafe(col("ProcessDate"), Some("1957-01-01")), "invalid_date"))

  /** Raw downtime as decimal; null where missing or unparseable. */
  private[graft] val opsHours: Column = Cleaning.coerceDecimal(col("DowntimeHours"), 10, 2)

  private[graft] val opsStaged: Seq[Column] = Seq(
    col("Department").as("department_name"),
    col("ProcessName").as("process_name"),
    col("Location").as("location_name"),
    col("DowntimeHours").as("downtime_hours"),
    col("ProcessDate").cast(DateType).as("process_date"))

  /** ET_combined.py:282-428. Missing downtime is group-mean imputed over
    * (department, process, location) — the J9 window+coalesce formulation
    * (C2_ops_etl.py:61-85; dbt stg_ops_downtime.sql:27-47): one shuffle on
    * the group key instead of an aggregate+join-back. Date fallback is
    * 1957-01-01 (the Ops-specific semantics; HR/Finance fall back to null).
    */
  def ops(spark: SparkSession, rawPath: String, ctx: JobContext): EtlResult = {
    val table = "staging_operations"
    val (cleaned, ruleLogs) = DqEngine.clean(
      rawCsv(spark, rawPath, OpsColumns), table, col("Department"), opsRules, ctx)
    val imputeLog = DqEngine.logEntry(opsHours.isNull, ctx, table, "DowntimeHours",
      col("Department"), col("DowntimeHours"), "imputed_downtime")
    val grp = Window.partitionBy(col("Department"), col("ProcessName"), col("Location"))
    val imputed = cleaned.withColumn("__dq_impute", imputeLog)
      .withColumn("DowntimeHours", coalesce(opsHours,
        round(avg(opsHours).over(grp), 2).cast(DecimalType(10, 2)),
        lit(0).cast(DecimalType(10, 2))))
    DqEngine.finish(ctx, table, imputed, opsStaged, ruleLogs :+ col("__dq_impute"))
  }

  // ----------------------------------------------------------- orchestrator
  /** ET_combined.py:435-439: one job id, three pipelines, staging replaced,
    * logs appended. `warehouseDir` layout: stg/<table>, logs/{dq,audit}.
    *
    * The pipelines and their staging swaps run concurrently on a pool of
    * one thread per pipeline, created and shut down here; the threads
    * inherit the caller's SparkContext local properties (job group, pool,
    * tags). The DQ logs and audit entries of all three are then appended
    * in one write each. A failure is rethrown after all three finished. */
  def runAll(spark: SparkSession, rawDir: String, warehouseDir: String,
             ctx: JobContext = JobContext.fresh()): Seq[EtlResult] = {
    val pipelines: Seq[(String, () => EtlResult)] = Seq(
      "staging_employee" -> (() => hr(spark, s"$rawDir/HR_Dataset_Dirty.csv", ctx)),
      "staging_finance" -> (() => finance(spark, s"$rawDir/Finance_Dataset_Dirty.csv", ctx)),
      "staging_operations" -> (() => ops(spark, s"$rawDir/Operations_Dataset_Dirty.csv", ctx)))
    val pool = Executors.newFixedThreadPool(pipelines.size)
    val outcomes = try {
      val futures = pipelines.map { case (table, run) =>
        pool.submit(new Callable[EtlResult] {
          def call(): EtlResult = {
            val r = run()
            Sinks.overwriteSwap(r.staging, s"$warehouseDir/stg/$table")
            r
          }
        })
      }
      futures.map(f => Try(f.get()))
    } finally pool.shutdown()
    outcomes.collectFirst { case Failure(e) =>
      outcomes.foreach(_.foreach(_.release()))
      throw (e match {
        case x: ExecutionException if x.getCause != null => x.getCause
        case x => x
      })
    }
    val results = outcomes.map(_.get)
    Sinks.appendParquet(results.map(_.dqLog).reduce(_ unionByName _),
      s"$warehouseDir/logs/data_quality_log")
    Sinks.appendParquet(AuditEntry.toDf(spark, ctx, results.map(_.audit)),
      s"$warehouseDir/logs/audit_log")
    results
  }
}
