package perfbench

/** Writes the DuckDB oracle SQL of every read-workload operation as JSON
  * ({workload: {name: sql}}) for tools/record_digests.py:
  *
  *   java ... perfbench.DumpOracle out.json
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    def section(names: Seq[String]): String =
      names.map(n => s"${Json.str(n)}: ${Json.str(sql(n))}").mkString("{", ", ", "}")
    val w = new java.io.PrintWriter(args(0), "UTF-8")
    try w.println(s"""{"kpi_analytics": ${section(
      (KpiAnalytics.Views ++ KpiAnalytics.Queries).map(_._1))}}""")
    finally w.close()
  }
}
