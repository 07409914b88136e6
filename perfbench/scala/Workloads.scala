package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Date

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{AuditEntry, Etl, EtlResult, JobContext}
import graft.io.Sinks
import graft.warehouse.{Dims, Facts, Incremental, Scd2}

/** One benchmark workload. A pass is the unit repeated in the timed loop;
  * it returns (operation name, seconds) for every operation it ran. */
trait Workload {
  /** Set-up, untimed and checked: page-cache pre-touch, base state, and a
    * warm-up so that every code path is compiled before timing. */
  def prepare(ck: Checker): Unit
  def pass(tr: Tracer, ck: Checker, n: Int, full: Boolean): Seq[(String, Double)]
  /** Raw input rows (write workloads) or source-table rows scanned (read
    * workloads) per pass. */
  def rowsPerPass: Long
  /** Raw CSV bytes per pass (0 for the read-only workloads). */
  def rawBytesPerPass: Long = 0L
  /** Warehouse directory to scan for files written (write workloads). */
  def warehouse: Option[String] = None
  /** Denominators for the warehouse ratios, per pass. */
  def scd2FreshRows: Long = 0L
  def appendedRows: Long = 0L
  /** Informational set-up timings, printed on the INFO line. */
  def setupInfo: Seq[(String, Double)] = Nil
}

object Fs {
  def delete(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).iterator()
        .asScala.foreach(Files.delete)
  }

  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    Files.walk(src).iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def files(p: String): Seq[Path] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
  }

  /** Read every input byte once so timed passes start from a warm page
    * cache (the quiesce step). */
  def pretouch(p: String): Unit = {
    val buf = new Array[Byte](1 << 20)
    files(p).foreach { f =>
      val in = Files.newInputStream(f)
      try while (in.read(buf) >= 0) {} finally in.close()
    }
  }

  /** Data files (not checksums or markers) modified at or after `sinceMs`. */
  def dataFilesSince(p: String, sinceMs: Double): Seq[Path] =
    files(p).filter { f =>
      val n = f.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_") &&
        Files.getLastModifiedTime(f).toMillis >= sinceMs.toLong
    }
}

/** The load path shared by the nightly and daily workloads: ETL → dims →
  * SCD2 → FK check → incremental fact appends → audit. */
object Load {
  val Attrs = Seq("name", "department", "gender", "date_of_joining", "manager_id")
  val FinKeys = Seq("employee_id", "expense_type", "expense_amount", "expense_date", "approved_by")
  val OpsKeys = Seq("department_name", "process_name", "location_name", "downtime_hours",
    "process_date")
  val Staging = Seq("staging_employee", "staging_finance", "staging_operations")

  final case class Outcome(results: Seq[EtlResult], fin: Incremental.LoadStats,
                           ops: Incremental.LoadStats)

  def run(spark: SparkSession, tr: Tracer, raw: String, wh: String, ctx: JobContext,
          initial: Boolean): Outcome = {
    def read(t: String): DataFrame = Sinks.readParquet(spark, s"$wh/$t")
    val results = tr("etl.runAll") { Etl.runAll(spark, raw, wh, ctx) }
    if (tr.enabled) tr.add("etl.cache_mb", spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / Layers.MB)
    val Seq(emp, fin, ops) = results.map(_.staging)
    tr("warehouse.dims") {
      val names = emp.select(col("department").as("department_name"))
        .unionByName(ops.select(col("department_name")))
      val dept =
        if (initial) Dims.buildNameDim(names, "department_name", "department_id")
        else Dims.upsertNameDim(read("dim/dim_department"), names,
          "department_name", "department_id")
      tr("io.swap") { Sinks.overwriteSwap(dept, s"$wh/dim/dim_department") }
      val ids = emp.select(col("employee_id"))
      val keys =
        if (initial) Dims.buildNameDim(ids, "employee_id", "employee_sk")
        else Dims.upsertNameDim(read("dim/dim_employee_key"), ids, "employee_id", "employee_sk")
      tr("io.swap") { Sinks.overwriteSwap(keys, s"$wh/dim/dim_employee_key") }
    }
    tr("warehouse.scd2") {
      val dim =
        if (initial) Scd2.initial(emp, "employee_id", Attrs, ctx.asOf)
        else Scd2.merge(read("dim/dim_employee"), emp, "employee_id", Attrs, ctx.asOf)
      tr("io.swap") { Sinks.overwriteSwap(dim, s"$wh/dim/dim_employee") }
    }
    val (encF, encO) = tr("warehouse.fk") {
      val (ef, mf) = Facts.loadWithFkCheck(fin, read("dim/dim_employee_key"),
        "employee_id", "employee_id", "employee_sk", "fact_expenses", ctx)
      val (eo, mo) = Facts.loadWithFkCheck(ops, read("dim/dim_department"),
        "department_name", "department_name", "department_id", "fact_downtime", ctx)
      tr("io.append") {
        Sinks.appendParquet(mf.unionByName(mo), s"$wh/logs/data_quality_log")
      }
      (ef, eo)
    }
    val (sf, so) = tr("warehouse.incr") {
      (Incremental.appendIncremental(encF, s"$wh/fact/fact_expenses", s"$wh/state/watermarks",
        "fact_expenses", "expense_date", FinKeys),
        Incremental.appendIncremental(encO, s"$wh/fact/fact_downtime", s"$wh/state/watermarks",
          "fact_downtime", "process_date", OpsKeys))
    }
    tr("io.append") {
      val audit = Seq("fact_expenses" -> sf, "fact_downtime" -> so).map { case (t, s) =>
        AuditEntry.of(ctx, t, "load", s.candidates, s.candidates - s.appended,
          s"$t loaded: ${s.appended} rows appended")
      }
      Sinks.appendParquet(AuditEntry.toDf(spark, ctx, audit), s"$wh/logs/audit_log")
    }
    Outcome(results, sf, so)
  }

  private def long(m: JsonNode, ptr: String): Long = m.at(ptr).asLong(-1)

  /** Compare one load against its manifest. The audit and load-stats
    * comparisons are free (the pipeline returns them); `full` adds the
    * table scans: DQ log per issue, SCD2 invariants, fact rows, watermark. */
  def check(spark: SparkSession, ck: Checker, wh: String, ctx: JobContext, m: JsonNode,
            o: Outcome, full: Boolean): Unit = {
    Staging.zip(o.results).foreach { case (t, r) =>
      ck.expect(s"$t staged", long(m, s"/staged/$t"), r.audit.rowsProcessed)
      val issues = Option(m.at(s"/dq/$t")).filterNot(_.isMissingNode)
        .fold(0L)(n => Json.fields(n).map(_._2.asLong).sum)
      ck.expect(s"$t dq rows", issues, r.audit.rowsFailed)
    }
    for ((t, s) <- Seq("fact_expenses" -> o.fin, "fact_downtime" -> o.ops)) {
      ck.expect(s"$t candidates", long(m, s"/facts/$t/candidates"), s.candidates)
      ck.expect(s"$t null_partition", long(m, s"/facts/$t/null_partition"), s.nullPartition)
      ck.expect(s"$t above_watermark", long(m, s"/facts/$t/above_watermark"), s.aboveWatermark)
      ck.expect(s"$t appended", long(m, s"/facts/$t/appended"), s.appended)
    }
    if (full) {
      def read(t: String): DataFrame = Sinks.readParquet(spark, s"$wh/$t")
      val logged = read("logs/data_quality_log").filter(col("job_id") === ctx.jobId)
        .groupBy("table_name", "issue").count().collect()
        .map(r => s"${r.getString(0)}/${r.getString(1)}" -> r.getLong(2)).toMap
      val expected = Json.fields(m.get("dq")).flatMap { case (t, issues) =>
        Json.fields(issues).map { case (i, n) => s"$t/$i" -> n.asLong }
      }.toMap
      ck.expect("dq log per issue", expected, logged)
      Staging.foreach { t =>
        ck.expect(s"stg/$t rows", long(m, s"/staged/$t"), read(s"stg/$t").count())
      }
      val dim = read("dim/dim_employee")
      val r = dim.agg(
        count(when(col("is_current"), 1)),
        count(lit(1)),
        count(when(!col("is_current") && col("valid_to") === lit(ctx.asOf), 1))).head()
      ck.expect("scd2 current rows", long(m, "/scd2/current"), r.getLong(0))
      ck.expect("scd2 total rows", long(m, "/scd2/total"), r.getLong(1))
      ck.expect("scd2 expired rows", long(m, "/scd2/expired"), r.getLong(2))
      ck.expect("scd2 keys with >1 current row", 0L,
        dim.filter(col("is_current")).groupBy("employee_id").count()
          .filter(col("count") > 1).count())
      for (t <- Seq("fact_expenses", "fact_downtime")) {
        ck.expect(s"$t rows", long(m, s"/facts/$t/total_rows"), read(s"fact/$t").count())
        ck.expect(s"$t watermark", m.at(s"/facts/$t/watermark").asText(),
          Incremental.readWatermark(spark, s"$wh/state/watermarks", t).getOrElse("null"))
      }
    }
  }
}

/** A daily batch over a base warehouse that set-up builds with a nightly
  * full load of the base extract (which also compiles the load path shared
  * with the batch). Each pass restores the base state (untimed) and applies
  * the batch, so every pass, traced or not, times the same batch on the
  * state its manifest expects. */
final class DailyIncremental(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  private val baseWh = s"$work/base_wh"
  private val wh = s"$work/wh"
  private val timed = "batch_001"
  private val manifest = Json.read(s"$data/$timed/manifest.json")
  def rowsPerPass: Long = manifest.get("raw_rows").asLong
  override def rawBytesPerPass: Long = manifest.get("raw_bytes").asLong
  override def warehouse: Option[String] = Some(wh)
  override def scd2FreshRows: Long = manifest.at("/scd2/fresh").asLong
  override def appendedRows: Long =
    manifest.at("/facts/fact_expenses/appended").asLong +
      manifest.at("/facts/fact_downtime/appended").asLong

  private val setupTimes = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  private var checked = false
  override def setupInfo: Seq[(String, Double)] = setupTimes.toSeq

  private def load(tr: Tracer, ck: Checker, b: String, target: String, jobId: String,
                   initial: Boolean, full: Boolean): Option[Double] = {
    val m = Json.read(s"$data/$b/manifest.json")
    val ctx = JobContext(jobId, Date.valueOf(m.get("as_of").asText))
    val dt = ck.op(b) {
      Load.run(spark, tr, s"$data/$b", target, ctx, initial)
    } { o => Load.check(spark, ck, target, ctx, m, o, full) }
    spark.catalog.clearCache()
    dt
  }

  def prepare(ck: Checker): Unit = {
    val off = new Tracer(spark.sparkContext, false, "")
    Fs.pretouch(data)
    Fs.delete(baseWh)
    load(off, ck, "base", baseWh, s"daily-$seed-base", initial = true, full = true)
      .foreach(t => setupTimes += "base_build_s" -> t)
  }

  /** One batch. Its first application is fully checked (untimed). */
  def pass(tr: Tracer, ck: Checker, n: Int, full: Boolean): Seq[(String, Double)] = {
    Fs.delete(wh)
    Fs.copy(baseWh, wh)
    val first = !checked
    checked = true
    load(tr, ck, timed, wh, s"daily-$seed-$n-$timed", initial = false, full = first)
      .map(timed -> _).toSeq
  }
}

/** The read-only workload: each operation materializes one KPI view or
  * registry query through the noop sink, in a seed-shuffled order per pass.
  * Set-up runs one checked pass that collects every result instead and
  * compares its row count and digest with the recorded ones. */
final class KpiAnalytics(spark: SparkSession, data: String, seed: Long, expected: JsonNode)
    extends Workload {
  private val registry = graft.SparkEntry.queries
  /** (module, name, builder, tables scanned) */
  private val ops: Seq[(String, String, (SparkSession, String) => DataFrame, Seq[String])] =
    KpiAnalytics.Views.map { case (n, t) => ("kpi", n, graft.kpi.Kpi.queries(n), t) } ++
      KpiAnalytics.Queries.map { case (n, t) => ("queries", n, registry(n), t) }
  private val tableRows = Json.fields(Json.read(s"$data/counts.json"))
    .map { case (t, n) => t -> n.asLong }.toMap
  def rowsPerPass: Long = ops.map(_._4.map(tableRows).sum).sum
  private val rng = new scala.util.Random(seed)

  def prepare(ck: Checker): Unit = {
    Fs.pretouch(data)
    pass(new Tracer(spark.sparkContext, false, ""), ck, 0, full = true)
  }

  def pass(tr: Tracer, ck: Checker, n: Int, full: Boolean): Seq[(String, Double)] =
    rng.shuffle(ops).flatMap { case (module, name, build, _) =>
      val dt = ck.op(name) {
        tr(s"$module.$name") {
          val df = build(spark, data)
          if (full) Some(Digest.of(df))
          else {
            if (tr.enabled) {
              val t0 = System.nanoTime()
              val plan = df.queryExecution.executedPlan.treeString
              tr.add(s"$module.plan_s", (System.nanoTime() - t0) / 1e9)
              if (module == "queries")
                tr.add("plans.dist_window_nodes",
                  "(DistributedWindow|GlobalRank)".r.findAllIn(plan).size)
            }
            val t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            tr.add(s"$module.exec_s", (System.nanoTime() - t1) / 1e9)
            None
          }
        }
      } {
        case Some((rows, digest)) =>
          val e = Option(expected).flatMap(x => Option(x.get(name)))
          ck.expect(s"$name rows", e.fold(-1L)(_.get("rows").asLong), rows)
          ck.expect(s"$name digest", e.fold("unrecorded")(_.get("digest").asText), digest)
        case None =>
      }
      dt.map(name -> _)
    }
}

object KpiAnalytics {
  /** The eight KPI views, with the tables each one scans. */
  val Views: Seq[(String, Seq[String])] = Seq(
    "q_kpi_headcount" -> Seq("orders"),
    "q_kpi_resignations" -> Seq("orders"),
    "q_kpi_salary_by_gender" -> Seq("customer"),
    "q_kpi_gross_expenses" -> Seq("lineitem", "orders", "customer", "nation"),
    "q_kpi_net_expenses" -> Seq("lineitem", "orders", "customer", "nation"),
    "q_kpi_net_vs_gross" -> Seq("lineitem"),
    "q_kpi_downtime_by_process" -> Seq("events"),
    "q_kpi_downtime_by_dept" -> Seq("events", "customer", "nation"))

  /** Registry queries routed through graft.plans and graft.expressions,
    * which no KPI view reaches. */
  val Queries: Seq[(String, Seq[String])] = Seq(
    "q_fact_rank" -> Seq("lineitem"),                 // DistributedRank
    "q_fact_cumsum_grouped_dist" -> Seq("lineitem"),
    "q_fact_fullframe_dist" -> Seq("lineitem"),
    "q_window_running" -> Seq("lineitem"),
    "q_fact_regr_dist" -> Seq("lineitem"),            // WindowVarianceDecompose
    "q_fact_timewindow" -> Seq("lineitem"),           // RangeFrameCollapse
    "q_topk_native" -> Seq("orders"),                 // native expressions
    "q_window_kmv" -> Seq("events"),
    "q_dedup_corpus" -> Seq("documents"),
    "q_embed_ann" -> Seq("embeddings"),
    "q_string_sim_join" -> Seq("part"))
}
