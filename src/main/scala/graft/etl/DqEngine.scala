package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Rule-based data-quality engine (SURVEY §2.9): the reference's ~14
  * check-log-fix patterns (row-iterating Python loops,
  * /root/reference/02_Extract_and_transform_raw_data/A2_hr_etl.py:34-41,96-111)
  * become a declarative rule list — each rule contributes a violation
  * predicate (logged with the pre-fix value) and a fix expression, applied
  * sequentially like the pandas code so later rules see earlier fixes.
  *
  * Everything is Column algebra: no collect, no loops over rows, no UDFs.
  * Every rule lands in one projection chain over the source — each rule
  * adds a nullable log-struct column (a [[DqLog]] row, set only where the
  * rule fires), then replaces its column by the fix — so a pipeline reads
  * its input once. [[finish]] packs a pipeline's staged columns, its keep
  * flag and the non-null log structs of each row into one cached frame;
  * the staged rows, the DQ log (`inline` of the log array) and both audit
  * counts are all read from that one materialization.
  */
object DqEngine {

  /** One cleaning rule for `column`: rows matching `violation` are logged
    * with the current column value, then the column is replaced by `fixed`
    * everywhere (fix expressions are usually conditional, leaving clean rows
    * untouched). */
  final case class Rule(column: String, violation: Column, fixed: Column, issue: String)

  private val Keep = "__keep"
  private val Log = "__log"
  private val Rank = "__rn"

  /** One DQ-log row as a struct, set where `fires` holds, null elsewhere. */
  def logEntry(fires: Column, ctx: JobContext, table: String, column: String,
               rowRef: Column, original: Column, issue: String): Column =
    when(fires, struct(DqLog.entry(ctx, table, column, rowRef, original, issue): _*))

  /** Apply rules in order as one projection chain; returns the cleaned frame
    * (same columns as `df`, plus one log-struct column per rule) and those
    * log columns in rule order. Each rule's struct is computed from the
    * column's value at that step — after the earlier rules' fixes, before
    * its own. `rowRef` identifies the row in log entries — a business key
    * column, never a positional index (Spark has no stable row order;
    * SURVEY §7). */
  def clean(df: DataFrame, table: String, rowRef: Column,
            rules: Seq[Rule], ctx: JobContext): (DataFrame, Seq[Column]) = {
    val (cleaned, names) = rules.zipWithIndex.foldLeft((df, Vector.empty[String])) {
      case ((cur, logs), (r, i)) =>
        val name = s"__dq_${table}_$i"
        val entry = logEntry(r.violation, ctx, table, r.column, rowRef, col(r.column), r.issue)
        val next = cur.select(cur.columns.toSeq.map { c =>
          if (c == r.column) r.fixed.as(c) else col(c)
        } :+ entry.as(name): _*)
        (next, logs :+ name)
    }
    (cleaned, names.map(col))
  }

  /** Finish a pipeline as one cached frame (its single materialization):
    * the `staged` columns of `df` and the non-null `logs` structs of each
    * row. The staged rows, the DQ log (`inline` of the log array) and both
    * audit counts are read from it; the counts' one aggregate fills it. */
  def finish(ctx: JobContext, table: String, df: DataFrame,
             staged: Seq[Column], logs: Seq[Column]): EtlResult = {
    val typed = df.select(staged ++ logs: _*)
    materialize(ctx, table, typed, typed.columns.toSeq.take(staged.size), lit(true), logs)
  }

  /** [[finish]] with full-row dedup (A8, ET_combined.py:118-132): copies
    * of a staged row beyond the first are logged as `duplicate_row`, then
    * dropped. The first staged column is the log's row reference and
    * orders the copies. One shuffle on the full-row hash. */
  def finishDeduped(ctx: JobContext, table: String, df: DataFrame,
                    staged: Seq[Column], logs: Seq[Column]): EtlResult = {
    val typed = df.select(staged ++ logs: _*)
    val names = typed.columns.toSeq.take(staged.size)
    val ref = col(names.head)
    materialize(ctx, table, rankCopies(typed, names, ref), names, col(Rank) === 1,
      logs :+ logEntry(col(Rank) > 1, ctx, table, "*", ref, lit(null).cast(StringType),
        "duplicate_row"))
  }

  private def materialize(ctx: JobContext, table: String, df: DataFrame,
                          staged: Seq[String], keep: Column, logs: Seq[Column]): EtlResult = {
    val m = df.select(staged.map(col) :+ keep.as(Keep) :+
      filter(array(logs: _*), _.isNotNull).as(Log): _*).cache()
    val r = m.agg(count(when(col(Keep), 1)), coalesce(sum(size(col(Log))), lit(0L))).head()
    val (processed, failed) = (r.getLong(0), r.getLong(1))
    EtlResult(m.filter(col(Keep)).drop(Keep, Log), m.select(inline(col(Log))),
      AuditEntry.of(ctx, table, "extract_transform", processed, failed,
        s"$table cleaned: $processed rows staged, $failed DQ issues"))(m)
  }

  /** Rank every row among its identical copies over `keyCols` (1 = the
    * copy kept, ordered by `orderCol`); other columns ride along. */
  private def rankCopies(df: DataFrame, keyCols: Seq[String], orderCol: Column): DataFrame =
    df.withColumn(Rank,
      row_number().over(Window.partitionBy(keyCols.map(col): _*).orderBy(orderCol)))

  /** Full-row dedup with capture as two lazy frames: duplicates beyond the
    * first (ordered by `orderCol` within identical rows) are logged then
    * dropped. */
  def dedupWithLog(df: DataFrame, table: String, rowRef: Column,
                   orderCol: Column, ctx: JobContext): (DataFrame, DataFrame) = {
    val rn = rankCopies(df, df.columns.toSeq, orderCol)
    (rn.filter(col(Rank) === 1).drop(Rank), rn.filter(col(Rank) > 1).select(
      DqLog.entry(ctx, table, "*", rowRef, lit(null).cast(StringType), "duplicate_row"): _*))
  }
}
