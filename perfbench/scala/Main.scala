package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Warehouse benchmark JVM side. Usually started by perfbench/run.py,
  * which builds the classes, generates the inputs and adds the process
  * metrics (peak RSS, generation time):
  *
  *   java ... perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR [--expected digests.json]
  *
  * Prints `ENV {...}`, `INFO {...}` and, last, `RESULT {...}` lines.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val (data, work) = (o("data"), o("work"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    new java.io.File(work).mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Sessions.tune(spark)
    val sc = spark.sparkContext

    val ck = new Checker
    def expected = Json.read(o("expected")).get(workload)
    val wl: Workload = workload match {
      case "daily_incremental" => new DailyIncremental(spark, data, work, seed)
      case "kpi_analytics" => new KpiAnalytics(spark, data, seed, expected)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // ---- set-up: page-cache pre-touch, base state, checked warm-up
    wl.prepare(ck)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    // live heap after set-up and after the first timed pass: fixed points,
    // so the figure does not depend on how many passes fit in a run
    var live = Stats.liveHeapMb()

    // ---- timed passes: closed loop, one client
    val off = new Tracer(sc, false, "")
    var passNo = 1
    val opTimes = ArrayBuffer.empty[(String, Double)]
    def phase(tr: Tracer, budget: Double): (Seq[Double], Seq[Double]) = {
      val passes = ArrayBuffer.empty[Double]
      val ops = ArrayBuffer.empty[Double]
      while (passes.isEmpty || passes.sum < budget) {
        val t = tr.now
        val r = wl.pass(tr, ck, passNo, full = false)
        passNo += 1
        if (passNo == 2) live = live.max(Stats.liveHeapMb())
        wl.warehouse.foreach(w => tr.add("io.files_written", Fs.dataFilesSince(w, t).size))
        passes += r.map(_._2).sum
        ops ++= r.map(_._2)
        opTimes ++= r
      }
      (passes.toSeq, ops.toSeq)
    }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val (passes, ops) = phase(off, seconds)
        val wall = Stats.median(passes)
        val (tailPct, tailVal, tailN) = Stats.tail(ops)
        // the latency and throughput figures each workload's users read;
        // not gated, as within one run they follow wall_s
        val perWorkload =
          if (wl.warehouse.isDefined) Seq("rows_per_s" -> wl.rowsPerPass / wall)
          else Seq("ops_per_s" -> ops.size / ops.sum,
            "op_gmean_s" -> math.exp(ops.map(math.log).sum / ops.size))
        info(ck, wl.setupInfo ++ perWorkload ++ Seq("op_p50_s" -> Stats.median(ops),
          "op_tail_s" -> tailVal, "op_tail_pct" -> tailPct,
          "op_tail_beyond" -> tailN, "samples" -> ops.size.toDouble,
          "passes" -> passes.size.toDouble) ++
          passes.zipWithIndex.map { case (v, i) => s"pass_${i + 1}_s" -> v } ++
          opTimes.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, ts) =>
            s"op_${n}_p50_s" -> Stats.median(ts.map(_._2).toSeq) })
        Seq(("setup_s", setupS, "s"), ("wall_s", wall, "s"),
          ("live_heap_mb", live, "MB"))
      } else {
        // untraced (warm-up), traced, untraced: the overhead compares the
        // traced passes with the untraced ones after them, which run the
        // same inputs equally warm
        val (before, _) = phase(off, seconds / 2)
        val col = new Collector
        val tr = new Tracer(sc, true, s"$workload-$seed")
        col.spanModules = tr.modules
        sc.addSparkListener(col)
        val gc0 = Stats.gcMs()
        val (traced, _) = phase(tr, seconds / 2)
        val gcS = (Stats.gcMs() - gc0) / 1000.0
        col.drain()
        sc.removeSparkListener(col)
        val (after, _) = phase(off, seconds / 2)
        tr.dump(s"$work/spans.jsonl")
        info(ck, Seq("traced_passes" -> traced.size.toDouble,
          "warmup_wall_s" -> Stats.median(before),
          "untraced_wall_s" -> Stats.median(after), "traced_wall_s" -> Stats.median(traced)))
        new Layers(wl, tr, col, traced.size, traced.sum, cores).all(gcS) :+
          (("trace.overhead_s", Stats.median(traced) - Stats.median(after), "s"))
      }

    val env = Seq(
      "nproc" -> cores.toString, "cores_used" -> cores.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "seed" -> seed.toString, "workload" -> workload,
      "rows_per_pass" -> wl.rowsPerPass.toString,
      "raw_bytes_per_pass" -> wl.rawBytesPerPass.toString,
      "input_bytes" -> Fs.files(data).map(java.nio.file.Files.size(_)).sum.toString)
    println("ENV " + env.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ", ", "}"))
    println(s"""RESULT {"correct": ${ck.failed == 0}, "attempted": ${ck.attempted}, """ +
      s""""failed": ${ck.failed}, "metrics": ${Json.metrics(metrics)}}""")
    spark.stop()
  }

  private def info(ck: Checker, kv: Seq[(String, Double)]): Unit = {
    val fr = if (ck.attempted == 0) 0.0 else ck.failed.toDouble / ck.attempted
    val nums = (kv :+ ("failed_ratio" -> fr)).map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
    val msgs = ck.messages.map(Json.str).mkString("[", ", ", "]")
    println("INFO " + (nums :+ s""""failures": $msgs""").mkString("{", ", ", "}"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest of the usual percentiles with at least ten samples beyond it:
    * (percentile, value, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    val n = s.size
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).iterator.map { p =>
      val idx = math.min(n - 1, math.ceil(p / 100 * n).toInt - 1).max(0)
      (p, idx, n - 1 - idx)
    }.find(_._3 >= 10) match {
      case Some((p, idx, beyond)) => (p, s(idx), beyond.toDouble)
      case None => (50.0, median(s), (n / 2).toDouble)
    }
  }

  /** Heap in use after full collections, in MB: what the program keeps
    * (cached data, state built in set-up), without garbage. Three rounds,
    * so that blocks Spark's cleaner drops after the first one are gone. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed
    }.last / Layers.MB
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** Per-layer metrics of one traced phase, each averaged per pass. */
final class Layers(wl: Workload, tr: Tracer, col: Collector, passes: Int,
                   tracedWall: Double, cores: Int) {
  import Layers._
  col.countJobs()
  private val spans = tr.spans.toSeq.filter(_.end >= 0)
  private val finished = col.jobs.values().asScala.filter(_.end >= 0).toSeq
  private val jobsBySpan = finished.groupBy(_.span)
  private val p = passes.toDouble
  /** counters of traced spans only (not of checks run between spans) */
  private val spanAccs = spans.flatMap(s => col.accsOf(s.id)).map(_._2)

  private def jobsIn(s: Span): Seq[JobRec] = jobsBySpan.getOrElse(s.id, Nil)
  private def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id)
  private def descendants(s: Span): Seq[Span] = children(s).flatMap(c => c +: descendants(c))
  private def accsOfModule(m: String): Seq[Acc] =
    spans.flatMap(s => col.accsOf(s.id)).collect { case (`m`, a) => a }
  private def accsUnder(prefix: String): Seq[Acc] =
    spans.filter(_.name == prefix).flatMap(s => (s +: descendants(s)).flatMap(d => col.accsOf(d.id).map(_._2)))
  private def named(n: String): Seq[Span] = spans.filter(_.name == n)
  private def ofModule(m: String): Seq[Span] = spans.filter(_.module == m)
  private def sum(as: Seq[Acc])(f: Acc => Double): Double = as.map(f).sum

  private def selfTime(s: Span): Double = {
    val kids = children(s).map(c => (c.start, c.end))
    val ioJobs = jobsIn(s).filter(_.module == "io").map(j => (j.start, j.end))
    s.dur - Intervals.covered(kids ++ ioJobs, s.start, s.end)
  }

  private def gap(s: Span): Double =
    s.dur - Intervals.covered(jobsIn(s).map(j => (j.start, j.end)), s.start, s.end)

  def all(gcS: Double): Seq[(String, Double, String)] = {
    val rawBytes = wl.rawBytesPerPass * p
    val etl = accsOfModule("etl")
    val outBytes = sum(spanAccs)(_.outBytes.toDouble)
    val files = tr.notes("io.files_written")
    val ioSpans = spans.filter(_.module == "io")
    val out = ArrayBuffer.empty[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit =
      out += ((n, if (v.isNaN || v.isInfinite) 0.0 else v, u))

    // etl
    put("etl.self_s", ofModule("etl").map(selfTime).sum / p / 1000, "s")
    put("etl.task_cpu_s", sum(etl)(_.cpuNs / 1e9) / p, "s")
    put("etl.jobs", sum(etl)(_.jobs.toDouble) / p, "count")
    put("etl.scan_passes", sum(etl)(_.inBytes.toDouble) / rawBytes, "ratio")
    put("etl.serial_stage_s", sum(etl)(_.serialStageMs) / p / 1000, "s")
    put("etl.shuffle_mb", sum(etl)(_.shufWrite / MB) / p, "MB")
    put("etl.cache_mb", tr.notes("etl.cache_mb") / p, "MB")
    // io
    put("io.bytes_written_mb", outBytes / MB / p, "MB")
    put("io.files_written", files / p, "count")
    put("io.mean_file_kb", outBytes / 1024 / files, "KB")
    put("io.driver_tail_s", ioSpans.map { s =>
      val ends = jobsIn(s).map(_.end)
      if (ends.isEmpty) s.dur else s.end - ends.max
    }.sum / p / 1000, "s")
    put("io.write_amp", outBytes / rawBytes, "ratio")
    // warehouse
    for (w <- Seq("dims", "fk", "scd2", "incr"))
      put(s"warehouse.$w.s", named(s"warehouse.$w").map(_.dur).sum / p / 1000, "s")
    put("warehouse.scd2.rows_written_per_changed_row",
      sum(accsUnder("warehouse.scd2"))(_.outRecs.toDouble) / (wl.scd2FreshRows * p), "ratio")
    val incr = named("warehouse.incr")
    put("warehouse.incr.jobs", incr.map(s => jobsIn(s).size).sum / p, "count")
    put("warehouse.incr.tail_rows_read_per_appended_row",
      sum(accsUnder("warehouse.incr"))(_.inRecs.toDouble) / (wl.appendedRows * p), "ratio")
    // read layers
    for ((m, names) <- Seq("kpi" -> KpiAnalytics.Views, "queries" -> KpiAnalytics.Queries)
           .map { case (m, ops) => m -> ops.map(_._1) }) {
      val acc = accsOfModule(m)
      val ss = ofModule(m)
      put(s"$m.plan_s", tr.notes(s"$m.plan_s") / p, "s")
      put(s"$m.exec_s", tr.notes(s"$m.exec_s") / p, "s")
      put(s"$m.driver_gap_s", ss.map(gap).sum / p / 1000, "s")
      if (m == "kpi") put("kpi.jobs_per_view", ss.map(s => jobsIn(s).size).sum.toDouble / ss.size, "count")
      else put("queries.jobs", ss.map(s => jobsIn(s).size).sum / p, "count")
      if (m == "kpi") put("kpi.scan_mb", sum(acc)(_.inBytes / MB) / p, "MB")
      else put("queries.spill_mb", sum(acc)(_.spill / MB) / p, "MB")
      put(s"$m.shuffle_mb", sum(acc)(_.shufWrite / MB) / p, "MB")
      put(s"$m.task_cpu_s", sum(acc)(_.cpuNs / 1e9) / p, "s")
      if (m == "queries") put("plans.dist_window_nodes", tr.notes("plans.dist_window_nodes") / p, "count")
      names.foreach(n => put(s"$m.$n.s", Stats.median(named(s"$m.$n").map(_.dur / 1000)), "s"))
    }
    // spark runtime
    put("spark.task_cpu_util", sum(spanAccs)(_.cpuNs / 1e9) / (tracedWall * cores), "ratio")
    put("spark.gc_s", gcS / p, "s")
    put("spark.failed_tasks", sum(spanAccs)(_.failedTasks.toDouble), "count")
    put("trace.unfinished_jobs", col.unfinished.size.toDouble, "count")
    out.toSeq
  }
}

object Layers {
  val MB: Double = 1 << 20
}
