package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One traced interval around a layer call made by the benchmark. Times
  * are epoch milliseconds (fractional), the clock listener events use. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val run: String, val start: Double) {
  var end: Double = -1
  def module: String = name.takeWhile(_ != '.')
  def dur: Double = end - start
}

/** Opens spans around layer calls and tags every Spark job started inside
  * one with the span id (a SparkContext local property, inherited by the
  * threads Spark SQL starts for broadcasts and subqueries). Spans stay in
  * memory; [[Tracer.dump]] writes them once at exit. Disabled, it is a
  * plain call. */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) {
  val spans = ArrayBuffer.empty[Span]
  /** span id -> module, readable from the listener thread */
  val modules = new ConcurrentHashMap[Int, String]()
  /** Counters recorded by the benchmark itself (plan/exec split, cache
    * size, files written), summed over the traced passes. */
  val notes = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(name: String, v: Double): Unit = if (enabled) notes(name) += v
  private var stack: List[Span] = Nil
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), runId, now)
      spans += s
      modules.put(s.id, s.module)
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = now
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
    } finally w.close()
  }
}

object Tracer {
  val Key = "perfbench.span"
}

/** Task/stage/job counters summed per (span, module). */
final class Acc {
  var jobs = 0L
  var cpuNs = 0L
  var inBytes = 0L
  var inRecs = 0L
  var outBytes = 0L
  var outRecs = 0L
  var shufRead = 0L
  var shufWrite = 0L
  var spill = 0L
  var gcMs = 0L
  var failedTasks = 0L
  var serialStageMs = 0.0
}

final class JobRec(val id: Int, val span: Int, val module: String, val start: Double) {
  @volatile var end: Double = -1
}

/** Public-listener collector. A job is attributed to the span that was open
  * when it started; its module is `io` when its innermost graft frame is in
  * graft.io (writes issued inside another layer's call, e.g. Etl.runAll's
  * staging swaps), otherwise the span's module.
  *
  * A job whose end event never arrived keeps end = -1: it is counted in
  * [[unfinished]] and never enters a duration. */
final class Collector extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val accs = new ConcurrentHashMap[(Int, String), Acc]()

  def acc(span: Int, module: String): Acc =
    accs.computeIfAbsent((span, module), _ => new Acc)

  def accsOf(span: Int): Seq[(String, Acc)] =
    accs.asScala.toSeq.collect { case ((s, m), a) if s == span => m -> a }

  def unfinished: Seq[JobRec] = jobs.values().asScala.filter(_.end < 0).toSeq

  private def callsiteModule(details: String): String =
    details.split("\n").iterator.map(_.trim.stripPrefix("at "))
      .find(_.startsWith("graft.")) match {
        case Some(f) if f.startsWith("graft.io.") => "io"
        case _ => ""
      }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)
    val cs = e.stageInfos.map(_.details).find(_.nonEmpty).fold("")(callsiteModule)
    val rec = new JobRec(e.jobId, span, cs, e.time.toDouble)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(stageJob.put(_, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  /** span id -> module of the tracer whose jobs this collector sees */
  @volatile var spanModules: java.util.Map[Int, String] = new java.util.HashMap()

  private def accOf(rec: JobRec): Acc =
    acc(rec.span,
      if (rec.module.nonEmpty) rec.module else spanModules.getOrDefault(rec.span, "none"))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).foreach { rec =>
      if (info.numTasks == 1)
        for (s <- info.submissionTime; c <- info.completionTime)
          accOf(rec).synchronized { accOf(rec).serialStageMs += (c - s) }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { rec =>
      val a = accOf(rec)
      a.synchronized {
        if (e.reason != Success) a.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecs += m.inputMetrics.recordsRead
          a.outBytes += m.outputMetrics.bytesWritten
          a.outRecs += m.outputMetrics.recordsWritten
          a.shufRead += m.shuffleReadMetrics.totalBytesRead
          a.shufWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.gcMs += m.jvmGCTime
        }
      }
    }

  /** Count each job once, in the (span, module) its tasks land in. */
  def countJobs(): Unit = jobs.values().asScala.foreach(r => accOf(r).jobs += 1)

  /** Wait (bounded) until every started job has delivered its end event. */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (unfinished.nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // let trailing task/stage events land too
  }
}

/** Interval arithmetic for self time and driver gaps. */
object Intervals {
  /** Total length of the union of `xs`, clipped to [lo, hi]. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
