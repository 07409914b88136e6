package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Config choices (all scale-motivated, see SURVEY.md §4):
  *  - UTC session timezone: oracle (DuckDB) parity for date/timestamp math.
  *  - ANSI off: preserve null-on-cast-failure coercion semantics that the
  *    reference relies on (pandas `to_numeric(errors='coerce')`,
  *    `/root/reference/02_Extract_and_transform_raw_data/A2_hr_etl.py:57`).
  *  - AQE on: runtime re-plan (skew joins, shuffle coalescing) is the main
  *    defense at 100 TB where static stats are stale.
  *  - shuffle.partitions sized to the local core count here; a real cluster
  *    deployment overrides this (or relies on AQE coalescing).
  */
object Sessions {
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // full tune (incl. native-function registration) so sessions built
    // here can use rolling_hash/float_dot without touching Tables first
    tune(spark)
  }

  /** Run `body` under a temporarily narrowed `spark.sql.shuffle.partitions`
    * — for ITERATIVE loop builds whose per-round working set is a
    * dim-sized node table: each round is a join+agg+persist+count whose
    * FIXED cost (task launch, one shuffle-state unit per partition)
    * scales with the width while the real work doesn't, so a 10-round
    * loop at the session default pays ~10×width fixed units for
    * kilobyte partitions. AQE cannot recover this — its coalescing acts
    * within one stage's reducers, not on the NEXT round's plan, and the
    * eager persist+count freezes each round before coalescing feedback
    * exists. Results are unchanged by contract (the iterative family
    * pins bit-identical output across shuffle widths —
    * IterativePerturbationSpec); the one caller, q_components in
    * [[graft.queries.Graph]], records its measurement there.
    * At 100 TB the same principle sizes the width UP — data-proportional
    * width, not the session default, is the invariant. Restores the
    * previous width on exit. CONCURRENCY CONTRACT (r10 ADVICE): the
    * set/restore mutates the SESSION-global conf, so a concurrent query
    * on the same SparkSession would silently plan with the narrowed
    * width — safe only under the sequential Verify/Bench harness. A
    * concurrent caller must isolate first: `withShuffleWidth(
    * spark.newSession(), w)(body)` gives `body` a per-session conf clone
    * sharing the SparkContext, and every `body` in this repo reaches its
    * session through the parameter, so the swap is mechanical. */
  def withShuffleWidth[T](spark: SparkSession, width: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, width.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Apply graft's standard conf to an externally-built session (e.g. the
    * driver's Verify/Bench session) without restarting it. Idempotent and
    * guarded: applied at most once per session, so callers on the hot path
    * (Tables.load) pay only a conf-map lookup, and an externally-owned
    * session's semantics are never flipped mid-flight by a repeat call. */
  def tune(spark: SparkSession): SparkSession = {
    if (!spark.conf.getOption("graft.tuned").contains("true")) {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      // events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's
      // vectorized reader rejects; read nanos as long, convert in
      // Tables.events.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native graft expressions (rolling_hash, …) for SQL + expr() use
      graft.plans.GraftExtensions.register(spark)
      // distributed-rank rule + strategy (inert until the flag or the
      // __dist_rank column-name marker appears in a plan)
      graft.plans.DistributedRank.install(spark)
      spark.conf.set("graft.tuned", "true")
    }
    spark
  }
}
