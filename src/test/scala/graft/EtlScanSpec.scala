package graft

import java.nio.file.Files
import java.sql.Date
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Etl, JobContext}
import graft.warehouse.Incremental

/** `body`'s result and the number of Spark jobs started while it ran. The
  * listener bus is asynchronous, so after `body` a marker job is started
  * and awaited: its start event is queued behind every event `body`
  * produced. */
object JobCount {
  private val Marker = "graft.test.jobcount.marker"

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Marker) != null)) seen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Marker, null)
      assert(seen.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (result, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}

/** The staging scan: positional TEMP ids without a single-partition
  * window, and the job budget of the daily write path. */
class EtlScanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-etl-scan-test")
  val ctx: JobContext = JobContext("scan-job", Date.valueOf("2024-01-01"))

  test("TEMP ids are the data-line number across several input splits") {
    val lines = 3000
    val missing = Set(1, lines / 2, lines)
    val body = (1 to lines).map { i =>
      val id = if (missing(i)) "" else s"E$i"
      s"$id,Name $i,IT,M,2020-01-01,1001,50000,Active"
    }
    val dir = Files.createTempDirectory("graft-hr-splits")
    val path = DirtyCsv.write(dir.resolve("hr.csv"), DirtyCsv.HrHeader, body).toString
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "16k")
    try {
      val splits = spark.read.option("header", "true").csv(path).rdd.getNumPartitions
      assert(splits >= 4, s"input read in $splits partitions")
      val r = Etl.hr(spark, path, ctx)
      val temp = r.staging.filter(col("employee_id").startsWith("TEMP_"))
        .select("employee_id", "name").collect()
        .map(row => row.getString(0) -> row.getString(1)).toMap
      assert(temp == missing.map(i => s"TEMP_$i" -> s"Name $i").toMap)
      val logged = r.dqLog.filter(col("issue") === "missing_employee_id")
        .select("row_reference").collect().map(_.getString(0)).sorted.toSeq
      assert(logged == missing.toSeq.map(i => s"TEMP_$i").sorted)
      r.release()
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("job budget: runAll and appendIncremental submit fewer jobs than the per-rule engine") {
    val raw = DirtyCsv.rawDir(seed = 3).toString
    val wh = Files.createTempDirectory("graft-job-budget").toString
    val (results, etlJobs) = JobCount(spark)(Etl.runAll(spark, raw, wh, ctx))
    val keys = Seq("employee_id", "expense_type", "expense_amount", "expense_date",
      "approved_by")
    val fin = results(1).staging.select(keys.map(col): _*)
    // first append builds the fact and the watermark; the second, of the
    // same rows, runs the steady-state path: tail scan + anti-dedup
    val (_, incrJobs) = JobCount(spark) {
      Seq(1, 2).foreach(_ => Incremental.appendIncremental(fin, s"$wh/fact", s"$wh/state",
        "fact_expenses", "expense_date", keys))
    }
    results.foreach(_.release())
    info(s"runAll: $etlJobs jobs, two appendIncremental calls: $incrJobs jobs")
    // on this input the filter-per-rule engine's runAll submitted 33 jobs,
    // and the five-counter appendIncremental 31 over the two calls
    assert(etlJobs < 33, s"runAll submitted $etlJobs jobs")
    assert(incrJobs < 31, s"appendIncremental submitted $incrJobs jobs")
  }
}
