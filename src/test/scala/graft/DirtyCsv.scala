package graft

import java.nio.file.{Files, Path}

/** Seeded dirty HR / Finance / Operations extracts in the raw CSV layouts
  * [[graft.etl.Etl]] reads, written under the file names `Etl.runAll`
  * expects. Every cleaning rule fires on some rows: missing and padded ids,
  * blank and placeholder strings, invalid dates in both parsers' eyes,
  * garbage and negative numbers, unknown codes, the `Travell` typo, missing
  * downtime. Fixed rows add the chained fix (a missing id and a missing name
  * on one row: the name falls back to the TEMP id) and duplicates: exact
  * copies of rule-violating lines, and lines that differ raw but clean to
  * the same staged row. */
object DirtyCsv {
  val HrHeader = Seq("EmployeeID", "Name", "Department", "Gender", "DateOfJoining",
    "ManagerID", "Salary", "Status")
  val FinanceHeader = Seq("EmployeeID", "ExpenseType", "ExpenseAmount", "ExpenseDate",
    "ApprovedBy")
  val OpsHeader = Seq("Department", "ProcessName", "DowntimeHours", "ProcessDate", "Location")

  private def pick[T](rnd: scala.util.Random, xs: T*): T = xs(rnd.nextInt(xs.size))

  def hr(rows: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val body = (1 to rows).map { i =>
      val id = pick(rnd, s"E$i", s"E$i", s"E$i", s" E$i ", "", "\"\"")
      val name = pick(rnd, s"Name $i", s"Name $i", s" Name $i ", "", "\" \"")
      val dept = pick(rnd, "IT", "hr", " Sales ", "Finance", "", "nan", "NULL")
      val gender = pick(rnd, "M", "f", "Male", "FEMALE", "x", "")
      val doj = pick(rnd, "2020-01-15", "15-01-2018", "2019-12-31", "2020/01/01", "", "n/a")
      val mgr = pick(rnd, "1001.0", "1002", "E7", "", "nan", "NULL")
      val salary = pick(rnd, "50000", "61000.5", "-10000", "abc", "", "123.456")
      val status = pick(rnd, "Active", "resigned", "ACTIVE", "", "On Leave")
      Seq(id, name, dept, gender, doj, mgr, salary, status).mkString(",")
    }
    val chained = ",,IT,M,2020-01-01,1001,50000,Active" // TEMP id, then EMP_TEMP name
    val sameStaged = Seq("X1,Dup Name,IT,M,2020-01-01,1001,50000,Active",
      "X1, Dup Name ,it,Male,2020-01-01,1001.0,50000.00,ACTIVE")
    val dirtyCopy = "X2,,nan,x,2020/01/01,,abc,On Leave"
    body ++ Seq(chained) ++ sameStaged ++ Seq(dirtyCopy, dirtyCopy) ++ body.take(5)
  }

  def finance(rows: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val body = (1 to rows).map { i =>
      val id = pick(rnd, s"E${rnd.nextInt(50) + 1}", "E9999", "")
      val typ = pick(rnd, "Travel", "travell", "Travell", " meals ", "", "\" \"", "Office")
      val amt = pick(rnd, "100.50", "-50.75", "2000", "abc", "")
      val date = pick(rnd, "2024-01-02", "03-01-2024", "2024-13-01", "")
      val by = pick(rnd, "1001.0", "E5", "", "nan", "NULL")
      Seq(id, typ, amt, date, by).mkString(",")
    }
    body ++ body.take(4) :+ "E1, travel ,10,2024-01-02,1001.0" :+ "E1,Travel,10.00,2024-01-02,1001"
  }

  def ops(rows: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val body = (1 to rows).map { _ =>
      val dept = pick(rnd, "IT", " ops ", "Legal", "", "nan")
      val proc = pick(rnd, "Assembly", "packing", "", "NULL")
      val hours = pick(rnd, "1.5", "2", "0.25", "", "x")
      val date = pick(rnd, "2024-01-02", "02-01-2024", "bad", "")
      val loc = pick(rnd, "Site A", "Remot Site A", "", "nan")
      Seq(dept, proc, hours, date, loc).mkString(",")
    }
    body ++ body.take(3)
  }

  def write(file: Path, header: Seq[String], lines: Seq[String]): Path = {
    Files.writeString(file, (header.mkString(",") +: lines).mkString("", "\n", "\n"))
    file
  }

  /** A raw directory holding all three extracts; returns its path. */
  def rawDir(seed: Long, hrRows: Int = 300, finRows: Int = 200, opsRows: Int = 200): Path = {
    val dir = Files.createTempDirectory("graft-dirty-raw")
    write(dir.resolve("HR_Dataset_Dirty.csv"), HrHeader, hr(hrRows, seed))
    write(dir.resolve("Finance_Dataset_Dirty.csv"), FinanceHeader,
      finance(finRows, seed + 1))
    write(dir.resolve("Operations_Dataset_Dirty.csv"), OpsHeader,
      ops(opsRows, seed + 2))
    dir
  }
}
