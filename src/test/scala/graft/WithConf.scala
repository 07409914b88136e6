package graft

import org.apache.spark.sql.SparkSession

/** Scoped session-conf overrides for specs. The spec JVM shares one
  * session across suites (`getOrCreate`), so every override must put
  * back exactly what it found: the previous value, or no value at all
  * when the key was unset. */
trait WithConf {
  def spark: SparkSession

  /** Spark's own per-rule off switch: a comma-separated list of optimizer
    * rule names (`Rule.ruleName`) that the optimizer skips. */
  val ExcludedRules = "spark.sql.optimizer.excludedRules"

  def withConf[T](entries: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll // explicitly set keys only, no defaults
    val prev = entries.map { case (k, _) => k -> set.get(k) }
    entries.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
