package graft

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Etl, JobContext}
import graft.warehouse.Scd2

/** Unit + invariant tests for the SCD2 batch merge (TL_combine.sql:22-62
  * semantics; SURVEY §5.4 property list). */
class Scd2Spec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-scd2-test")
  import spark.implicits._

  private val d0 = Date.valueOf("2020-01-01")
  private val d1 = Date.valueOf("2024-01-01")
  private val attrs = Seq("name", "dept")

  private def snap(rows: (String, String, String)*) =
    rows.toSeq.toDF("emp_id", "name", "dept")

  test("changed row expires old version and inserts new") {
    val cur = Scd2.initial(snap(("e1", "Ann", "IT"), ("e2", "Bob", "HR")),
      "emp_id", attrs, d0)
    val merged = Scd2.merge(cur,
      snap(("e1", "Ann", "LEGAL"), ("e2", "Bob", "HR")), "emp_id", attrs, d1)
      .cache()
    val e1 = merged.filter($"emp_id" === "e1").orderBy($"valid_from").collect()
    assert(e1.length == 2)
    assert(e1(0).getAs[Date]("valid_to") == d1 && !e1(0).getAs[Boolean]("is_current"))
    assert(e1(1).getAs[String]("dept") == "LEGAL" &&
      e1(1).getAs[Boolean]("is_current") && e1(1).getAs[Date]("valid_from") == d1)
    // unchanged e2 passes through untouched
    val e2 = merged.filter($"emp_id" === "e2").collect()
    assert(e2.length == 1 && e2(0).getAs[Boolean]("is_current"))
  }

  test("new key inserts fresh current row; missing key stays current") {
    val cur = Scd2.initial(snap(("e1", "Ann", "IT")), "emp_id", attrs, d0)
    val merged = Scd2.merge(cur, snap(("e3", "Cyn", "OPS")), "emp_id", attrs, d1)
    assert(merged.filter($"emp_id" === "e3" && $"is_current").count() == 1)
    // e1 absent from batch: no hard delete (TL_combine semantics)
    assert(merged.filter($"emp_id" === "e1" && $"is_current").count() == 1)
  }

  test("invariants: ≤1 current row per key; rerun without changes is a no-op") {
    val cur = Scd2.initial(snap(("e1", "Ann", "IT"), ("e2", "Bob", "HR")),
      "emp_id", attrs, d0)
    val once = Scd2.merge(cur,
      snap(("e1", "Ann", "LEGAL"), ("e2", "Bob", "HR")), "emp_id", attrs, d1)
    val twice = Scd2.merge(once,
      snap(("e1", "Ann", "LEGAL"), ("e2", "Bob", "HR")), "emp_id", attrs, d1)
    val perKey = twice.filter($"is_current")
      .groupBy($"emp_id").count().filter($"count" > 1)
    assert(perKey.count() == 0)
    assert(twice.count() == once.count()) // idempotent under no changes
  }

  test("invalidateMissing expires absent keys at asOf; rerun idempotent") {
    val cur = Scd2.initial(snap(("e1", "Ann", "IT"), ("e2", "Bob", "HR")),
      "emp_id", attrs, d0)
    val batch = snap(("e2", "Bob", "HR")) // e1 hard-deleted upstream
    val once = Scd2.merge(cur, batch, "emp_id", attrs, d1,
      invalidateMissing = true).cache()
    val e1 = once.filter($"emp_id" === "e1").collect()
    assert(e1.length == 1)
    assert(!e1(0).getAs[Boolean]("is_current") &&
      e1(0).getAs[Date]("valid_to") == d1)
    // e2 untouched and still current
    assert(once.filter($"emp_id" === "e2" && $"is_current").count() == 1)
    // rerun with the same batch: e1 already non-current, nothing changes
    val twice = Scd2.merge(once, batch, "emp_id", attrs, d1,
      invalidateMissing = true)
    assert(twice.count() == once.count())
    assert(twice.filter($"is_current").count() == once.filter($"is_current").count())
    // default merge (no flag) still keeps missing keys current
    val soft = Scd2.merge(cur, batch, "emp_id", attrs, d1)
    assert(soft.filter($"emp_id" === "e1" && $"is_current").count() == 1)
  }

  test("null attribute is hashed null-safely (no collision with empty)") {
    val withNull = Seq(("e1", null.asInstanceOf[String], "IT"))
      .toDF("emp_id", "name", "dept")
    val cur = Scd2.initial(withNull, "emp_id", attrs, d0)
    // null -> "" coalesce means (null, IT) and ("", IT) hash the same by
    // design (dbt generate_surrogate_key); a real change must still trigger
    val merged = Scd2.merge(cur,
      Seq(("e1", "Ann", "IT")).toDF("emp_id", "name", "dept"),
      "emp_id", attrs, d1)
    assert(merged.filter($"emp_id" === "e1").count() == 2)
  }

  test("an employee listed twice with only the salary changed is versioned once") {
    val ctx = JobContext("dup-job", d0)
    val hrAttrs = Seq("name", "department", "gender", "date_of_joining", "manager_id")
    def staged(lines: String*) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-hr-dup")
      Etl.hr(spark, DirtyCsv.write(dir.resolve("hr.csv"), DirtyCsv.HrHeader,
        lines).toString, ctx)
    }
    def current(df: DataFrame, id: String) =
      df.filter($"employee_id" === id && $"is_current").count()

    val first = staged("E1,Ann,IT,F,2020-01-01,1001,50000,Active",
      "E1,Ann,IT,F,2020-01-01,1001,52000,Active",
      "E2,Bob,HR,M,2020-01-01,1001,40000,Active")
    assert(first.staging.count() == 3) // the full-row dedup keeps both E1 rows
    val cur = Scd2.initial(first.staging, "employee_id", hrAttrs, d0).cache()
    assert(current(cur, "E1") == 1 && cur.count() == 2)

    // E1 changes department, new E3 appears, both listed twice
    val second = staged("E1,Ann,LEGAL,F,2020-01-01,1001,50000,Active",
      "E1,Ann,LEGAL,F,2020-01-01,1001,53000,Active",
      "E2,Bob,HR,M,2020-01-01,1001,40000,Active",
      "E3,Cyn,OPS,F,2021-01-01,1001,45000,Active",
      "E3,Cyn,OPS,F,2021-01-01,1001,46000,Active")
    val merged = Scd2.merge(cur, second.staging, "employee_id", hrAttrs, d1).cache()
    assert(current(merged, "E1") == 1 && current(merged, "E3") == 1)
    assert(merged.filter($"employee_id" === "E1").count() == 2) // one expired, one current
    assert(merged.count() == 4)
    Seq(first, second).foreach(_.release())
  }
}
