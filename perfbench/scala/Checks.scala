package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Outcome bookkeeping: every operation the benchmark runs is attempted
  * once; it fails if it throws or if any check on its output fails. */
final class Checker {
  var attempted = 0L
  var failed = 0L
  val messages = ArrayBuffer.empty[String]
  private var opFailed = false

  /** Record one failed expectation of the current operation. */
  def expect(what: String, expected: Any, actual: Any): Unit =
    if (expected != actual) {
      opFailed = true
      if (messages.size < 50) messages += s"$what: expected $expected, got $actual"
    }

  /** Run one operation: `body` is timed, `check` (untimed) inspects its
    * result. Returns the seconds `body` took, or None if it threw. */
  def op[T](name: String)(body: => T)(check: T => Unit): Option[Double] = {
    attempted += 1
    opFailed = false
    def fail(e: Throwable): Unit = {
      opFailed = true
      if (messages.size < 50) messages += s"$name threw ${e.getClass.getName}: ${e.getMessage}"
    }
    val t0 = System.nanoTime()
    val r = try Some(body) catch { case e: Exception => fail(e); None }
    val dt = (System.nanoTime() - t0) / 1e9
    r.foreach(v => try check(v) catch { case e: Exception => fail(e) })
    if (opFailed) failed += 1
    r.map(_ => dt)
  }
}

object Json {
  val mapper = new ObjectMapper()
  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq

  def str(s: String): String = mapper.writeValueAsString(s)

  /** Render a flat metric map: name -> (value, unit). */
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) =>
      s"${str(n)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString("{", ", ", "}")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

/** Order-insensitive content digest of a result: columns sorted by name,
  * each row rendered canonically and md5-hashed, the first 8 bytes of every
  * row hash summed modulo 2^64. The same rendering is implemented in
  * tools/record_digests.py over DuckDB results, so one recorded digest is
  * checked against both engines. */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(c => col(s"`$c`")): _*).collect()
    var sum = 0L
    val md = MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val h = md.digest(render(r, "\u001f").getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (rows.length.toLong, java.lang.Long.toUnsignedString(sum, 16))
  }

  private def render(r: Row, sep: String): String =
    (0 until r.length).map(i => canon(r.get(i))).mkString(sep)

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => canonD(d)
    case f: Float => canonD(f.toDouble)
    case d: java.math.BigDecimal => canonD(d.doubleValue)
    case d: scala.math.BigDecimal => canonD(d.toDouble)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.format(tsFmt)
    case t: java.time.LocalDateTime => t.format(tsFmt)
    case t: java.time.Instant =>
      java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(tsFmt)
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => "(" + render(r, ",") + ")"
    case o => o.toString
  }

  /** Integral doubles print as integers (so INT vs DOUBLE result types
    * agree); any other double prints its exact IEEE bits. */
  def canonD(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == 0.0) "0"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
}
