package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** Streaming surface tests via MemoryStream — watermarked windowed agg,
  * mapGroupsWithState, and the foreachBatch bridge into the batch library.
  */
class StreamsSpec extends AnyFunSuite with WithConf {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-stream-test")

  case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

  private def ev(min: Int, user: Long, typ: String, v: Double) =
    Ev(Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), user, typ, v)

  test("windowed aggregation over a memory stream produces per-window sums") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val out = Streams.windowedEventStats(src.toDF(), "10 minutes", "30 minutes")
    val q = out.writeStream.format("memory").queryName("win_stats")
      .outputMode("complete").start()
    try {
      src.addData(ev(1, 1, "click", 1.5), ev(2, 2, "click", 2.5),
        ev(11, 1, "view", 4.0))
      q.processAllAvailable()
      val rows = spark.table("win_stats").collect()
      assert(rows.length == 2)
      val click = rows.find(_.getAs[String]("event_type") == "click").get
      assert(click.getAs[Long]("n_events") == 2)
      assert(click.getAs[Double]("total_value") == 4.0)
    } finally q.stop()
  }

  test("Append-mode tumbling window emits ONCE when the watermark passes " +
       "its end and its state row is evicted (r10 VERDICT item 1)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val out = Streams.windowedEventStats(src.toDF(), "10 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("win_evict")
      .outputMode("append").start()
    try {
      // batch 1: window [10:00,10:10) data only — watermark is still at
      // the epoch, so Append emits nothing and one state row is open
      src.addData(ev(1, 1, "click", 1.0), ev(2, 1, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("win_evict").count() == 0,
        "an open window must not emit in Append mode")
      // batch 2: an event at 10:31 — processed under batch 1's watermark
      // (9:52), so still nothing emits; it RAISES the watermark to 10:21
      src.addData(ev(31, 1, "click", 9.0))
      q.processAllAvailable()
      // batch 3: under watermark 10:21 > 10:10, window 1 emits and evicts
      src.addData(ev(35, 1, "click", 4.0))
      q.processAllAvailable()
      val emitted = spark.table("win_evict").collect()
      assert(emitted.length == 1, s"window 1 must emit exactly once: " +
        emitted.mkString("; "))
      assert(emitted.head.getAs[Long]("n_events") == 2 &&
        emitted.head.getAs[Double]("total_value") == 3.0)
      // state now holds ONLY the open [10:30,10:40) window — the closed
      // window's row is gone (this is the unbounded-stream guarantee:
      // state is bounded by the watermark span, not stream history)
      val state = q.lastProgress.stateOperators
      assert(state.nonEmpty && state.head.numRowsTotal == 1,
        s"expected 1 live state row, got ${state.map(_.numRowsTotal).mkString(",")}")
      // a later batch must not re-emit the closed window
      src.addData(ev(36, 1, "click", 5.0))
      q.processAllAvailable()
      assert(spark.table("win_evict").count() == 1,
        "a closed window must never re-emit")
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-user state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val out = Streams.userRunningCounts(spark, src.toDF())
    val q = out.writeStream.format("memory").queryName("user_counts")
      .outputMode("update").start()
    try {
      src.addData(ev(1, 7, "click", 1.0), ev(2, 7, "click", 2.0))
      q.processAllAvailable()
      src.addData(ev(3, 7, "view", 3.0))
      q.processAllAvailable()
      val last = spark.table("user_counts")
        .filter(col("user_id") === 7).orderBy(col("n_events").desc).head()
      assert(last.getAs[Long]("n_events") == 3)
      assert(last.getAs[Double]("total_value") == 6.0)
    } finally q.stop()
  }

  test("streaming kmv sketch state merges across micro-batches == one batch") {
    // q_stream_kmv's gated run is a single AvailableNow batch (one file);
    // the cross-batch claim — the state store partial-merges the bounded
    // sketch buffer exactly as map-side combine does — needs a real
    // multi-batch run: three addData/process cycles with overlapping
    // users must yield the identical (n_kept, kth) as one batch pass
    // over the union
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.register(spark)
    val src = MemoryStream[Ev]
    val hv = "cast(conv(substring(md5(cast(user_id as string)), 1, 15)," +
      " 16, 10) as bigint)"
    val out = src.toDF()
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr(s"kmv($hv, 8) AS sk"))
    val q = out.writeStream.format("memory").queryName("stream_kmv")
      .outputMode("complete").start()
    try {
      // 3 batches, 30 users total with cross-batch overlap; k = 8 << 30
      // so the sketch saturates and kth depends on the MERGED hash set
      src.addData((1 to 12).map(u => ev(1, u.toLong, "click", 1.0)): _*)
      q.processAllAvailable()
      src.addData((8 to 22).map(u => ev(2, u.toLong, "click", 1.0)): _*)
      q.processAllAvailable()
      src.addData((18 to 30).map(u => ev(3, u.toLong, "click", 1.0)): _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_kmv")
        .selectExpr("sk.n_kept", "sk.kth").as[(Int, Long)].head()
      val batch = (1 to 30).map(_.toLong).toDF("user_id")
        .selectExpr(s"kmv($hv, 8) AS sk")
        .selectExpr("sk.n_kept", "sk.kth").as[(Int, Long)].head()
      assert(streamed == batch,
        "state-store merge must equal the one-pass sketch")
      assert(streamed._1 == 8, "fixture must saturate the sketch")
    } finally q.stop()
  }

  test("dedupWithinWatermark drops in-window duplicates, state bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val out = Streams.dedupWithinWatermark(src.toDF(), "ts", "30 minutes",
      "user_id", "event_type")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      src.addData(ev(1, 1, "click", 1.0), ev(2, 1, "click", 1.0), // dup key
        ev(3, 2, "view", 2.0))
      q.processAllAvailable()
      src.addData(ev(4, 1, "click", 9.0)) // still within watermark → dup
      q.processAllAvailable()
      val rows = spark.table("dedup_stream").collect()
      assert(rows.length == 2) // (1,click) once + (2,view)
    } finally q.stop()
  }

  test("SCD2 batch merge composes into foreachBatch (stateful load bridge)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val dimDir = Files.createTempDirectory("graft-scd2-stream").toString + "/dim"
    val ckpt = Files.createTempDirectory("graft-scd2-ckpt").toString
    val asOf = java.sql.Date.valueOf("2024-01-01")
    // bootstrap the dim, then let each micro-batch SCD2-merge into it
    graft.io.Sinks.overwriteSwap(
      graft.warehouse.Scd2.initial(
        Seq((1L, "click")).toDF("user_id", "event_type"),
        "user_id", Seq("event_type"), asOf),
      dimDir)
    val q = Streams.foreachBatchSink(src.toDF(), ckpt) { (batch, _) =>
      val staged = batch.select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id")
      if (!staged.isEmpty) {
        val cur = spark.read.parquet(dimDir)
        graft.io.Sinks.overwriteSwap(
          graft.warehouse.Scd2.merge(cur, staged, "user_id",
            Seq("event_type"), java.sql.Date.valueOf("2024-02-01")),
          dimDir)
      }
    }
    try {
      src.addData(ev(1, 1, "purchase", 1.0)) // user 1 changed attribute
      q.processAllAvailable()
      val dim = spark.read.parquet(dimDir)
      assert(dim.filter(col("user_id") === 1 && col("is_current")).head()
        .getAs[String]("event_type") == "purchase")
      assert(dim.filter(col("user_id") === 1).count() == 2) // history kept
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to clicks in-window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val out = Streams.intervalJoin(clicks.toDF(), buys.toDF(), "1 hour")
    val q = out.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      clicks.addData(ev(0, 1, "click", 1.0))          // 10:00
      buys.addData(ev(30, 1, "purchase", 9.0))        // 10:30 → in window
      buys.addData(ev(30, 2, "purchase", 5.0))        // other user → no match
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Long]("user_id") == 1)
    } finally q.stop()
  }

  test("left-outer interval join: window end exactly AT the watermark is NOT evicted") {
    // Pins the eviction inclusivity the q_stream_outer_join oracle depends
    // on: a left row whose match window closes exactly at the final
    // watermark (l_ts + within == watermark) can in principle still match
    // an on-time right row with r_ts == watermark, so Spark must KEEP it in
    // state — the unmatched-null row is emitted only when the watermark
    // moves strictly PAST the window end. The oracle's strict `<`
    // comparator encodes exactly that; this fixture fails if either side's
    // inclusivity ever flips.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val buys = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val out = Streams.intervalJoin(buys.toDF(), clicks.toDF(),
      within = "1 hour", watermark = "1 hour", joinType = "left_outer")
    val q = out.writeStream.format("memory").queryName("ojoin_boundary")
      .outputMode("append").start()
    def unmatched(u: Long) = spark.table("ojoin_boundary")
      .filter(col("user_id") === u && col("r_ts").isNull).count()
    try {
      // user 1's purchase at 10:00 (window end 11:00) with no click; both
      // streams' max ts is 12:00 → final watermark 12:00 − 1h == 11:00,
      // landing EXACTLY on the window end
      buys.addData(ev(0, 1, "purchase", 1.0))
      buys.addData(Ev(Timestamp.valueOf("2024-01-01 12:00:00"), 9, "purchase", 0.0))
      clicks.addData(Ev(Timestamp.valueOf("2024-01-01 12:00:00"), 8, "click", 0.0))
      q.processAllAvailable()
      // batch 2 at the same max ts: watermark stays 11:00, eviction runs
      clicks.addData(Ev(Timestamp.valueOf("2024-01-01 12:00:00"), 8, "click", 0.0))
      q.processAllAvailable()
      assert(unmatched(1L) == 0,
        "window end == watermark must stay in state (oracle uses strict <)")
      // advance the watermark one second PAST the window end → now provably
      // unmatchable, the null row must flush
      clicks.addData(Ev(Timestamp.valueOf("2024-01-01 12:00:01"), 8, "click", 0.0))
      buys.addData(Ev(Timestamp.valueOf("2024-01-01 12:00:01"), 9, "purchase", 0.0))
      q.processAllAvailable()
      clicks.addData(Ev(Timestamp.valueOf("2024-01-01 12:00:01"), 8, "click", 0.0))
      q.processAllAvailable()
      assert(unmatched(1L) == 1,
        "watermark strictly past window end must emit the unmatched row")
    } finally q.stop()
  }

  test("full-outer interval join: unmatched RIGHT row evicts when watermark passes r_ts") {
    // Pins the right-side null-emission rule the q_stream_full_outer
    // oracle encodes: a click at r_ts can only match a purchase with
    // l_ts <= r_ts; once the watermark moves strictly past r_ts no such
    // purchase can still arrive, so the click must flush with left-nulls
    // — and not before (r_ts == watermark could still match an on-time
    // l_ts == watermark purchase).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val buys = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val out = Streams.intervalJoin(buys.toDF(), clicks.toDF(),
      within = "1 hour", watermark = "1 hour", joinType = "full_outer")
    val q = out.writeStream.format("memory").queryName("fojoin_boundary")
      .outputMode("append").start()
    def unmatchedRight(u: Long) = spark.table("fojoin_boundary")
      .filter(col("user_id") === u && col("l_ts").isNull).count()
    try {
      // user 1's click at 10:00 with no purchase; both streams' max ts
      // 11:00 → watermark 11:00 − 1h == 10:00, EXACTLY r_ts
      clicks.addData(ev(0, 1, "click", 1.0))
      clicks.addData(Ev(Timestamp.valueOf("2024-01-01 11:00:00"), 8, "click", 0.0))
      buys.addData(Ev(Timestamp.valueOf("2024-01-01 11:00:00"), 9, "purchase", 0.0))
      q.processAllAvailable()
      clicks.addData(Ev(Timestamp.valueOf("2024-01-01 11:00:00"), 8, "click", 0.0))
      q.processAllAvailable()
      assert(unmatchedRight(1L) == 0,
        "r_ts == watermark must stay in state (oracle uses strict <)")
      // advance one second past r_ts → provably unmatchable, must flush
      clicks.addData(Ev(Timestamp.valueOf("2024-01-01 11:00:01"), 8, "click", 0.0))
      buys.addData(Ev(Timestamp.valueOf("2024-01-01 11:00:01"), 9, "purchase", 0.0))
      q.processAllAvailable()
      clicks.addData(Ev(Timestamp.valueOf("2024-01-01 11:00:01"), 8, "click", 0.0))
      q.processAllAvailable()
      assert(unmatchedRight(1L) == 1,
        "watermark strictly past r_ts must emit the left-null row")
    } finally q.stop()
  }

  test("restart with the same checkpoint resumes exactly: old files never reprocess") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_resume")
    val (src, out, ck) = (s"$root/src", s"$root/out", s"$root/ck")
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("id LONG, batch STRING")
        .parquet(src)
      val q = stream.writeStream
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.io.Sinks.appendParquet(b, out)
        }
        .start()
      q.awaitTermination()
    }
    // epoch 1: one source file → processed once
    spark.range(0, 50).select($"id", lit("e1").as("batch"))
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(out).count() == 50)
    // epoch 2: a NEW file arrives; restart from the same checkpoint must
    // process ONLY it — reprocessing e1 would double the append sink
    spark.range(50, 80).select($"id", lit("e2").as("batch"))
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val after = spark.read.parquet(out)
    assert(after.count() == 80, "restart reprocessed or missed files")
    assert(after.select($"id").distinct().count() == 80)
    // epoch 3: nothing new → a no-op restart appends nothing
    runOnce()
    assert(spark.read.parquet(out).count() == 80)
  }

  test("stream source over a zero-file layout throws with the layout named, " +
       "never an empty result (r12 VERDICT item 5)") {
    // an events.parquet DIRECTORY with no part files — the shape the r12
    // layout bug silently streamed zero rows from; the only *.parquet
    // content is metadata-ish noise a Spark job could leave behind
    val root = Files.createTempDirectory("graft_zero_stream")
    val evDir = root.resolve("events.parquet")
    Files.createDirectory(evDir)
    Files.writeString(evDir.resolve("_SUCCESS"), "")
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.Streams.queries("q_stream_dedup")(spark, root.toString)
    }
    assert(ex.getMessage.contains("ZERO files"), ex.getMessage)
    assert(ex.getMessage.contains("directory layout"), ex.getMessage)
    // and the no-events.parquet-at-all case names the expected layouts
    val empty = Files.createTempDirectory("graft_no_events")
    val ex2 = intercept[IllegalArgumentException] {
      graft.streaming.Streams.queries("q_stream_dedup")(spark, empty.toString)
    }
    assert(ex2.getMessage.contains("neither a"), ex2.getMessage)
  }

  test("RocksDB state store provider ENGAGES (state operator reports " +
       "rocksdb metrics) and a windowed agg is provider-independent " +
       "(r12 VERDICT item 7)") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.streaming.Streams.RocksDbProviderClass)
    try {
      val q = Streams.windowedEventStats(src.toDF(), "10 minutes", "30 minutes")
        .writeStream.format("memory").queryName("rocks_win")
        .outputMode("complete").start()
      try {
        src.addData(ev(1, 1, "click", 1.5), ev(2, 2, "click", 2.5),
          ev(11, 1, "view", 4.0))
        q.processAllAvailable()
        // identical answer to the default-provider run in the first test
        val rows = spark.table("rocks_win").collect()
        assert(rows.length == 2)
        val click = rows.find(_.getAs[String]("event_type") == "click").get
        assert(click.getAs[Long]("n_events") == 2)
        assert(click.getAs[Double]("total_value") == 4.0)
        // ...and the provider really is RocksDB, not a silently-ignored
        // conf: the state operator's custom metrics are rocksdb-specific
        val ops = q.lastProgress.stateOperators
        assert(ops.nonEmpty, "expected a stateful operator in progress")
        val names = ops.head.customMetrics.keySet().asScala
        assert(names.exists(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb metric in: $names")
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("gated streaming queries are provider-independent: tumbling + CDC " +
       "results identical under spark.graft.streaming.rocksdb=true") {
    val dir = "/root/testdata/sf0.001"
    def runBoth(name: String): Unit = {
      val off = Streams.queries(name)(spark, dir)
        .collect().map(_.toString).toSeq
      val on = withConf("spark.sql.streaming.stateStore.providerClass" ->
          Streams.RocksDbProviderClass) {
        Streams.queries(name)(spark, dir).collect().map(_.toString).toSeq
      }
      assert(on == off, s"$name diverges under the RocksDB state store")
    }
    runBoth("q_stream_tumbling") // windowed agg + kmv-free state eviction
    runBoth("q_stream_cdc")      // mapGroupsWithState custom state class
  }

  test("foreachBatch runs a batch-library cleaning stage per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val outDir = Files.createTempDirectory("graft-stream-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val q = Streams.foreachBatchSink(src.toDF(), ckpt) { (batch, _) =>
      // the same pure-combinator cleaning the batch ETL uses
      val cleaned = batch.withColumn("event_type",
        graft.functions.Cleaning.nullNormalize(col("event_type"), "UNKNOWN"))
      graft.io.Sinks.appendParquet(cleaned, s"$outDir/events_clean")
    }
    try {
      src.addData(ev(1, 1, null, 1.0), ev(2, 2, "click", 2.0))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$outDir/events_clean")
      assert(got.count() == 2)
      assert(got.filter(col("event_type") === "UNKNOWN").count() == 1)
    } finally q.stop()
  }

  test("streaming sessionizer merges state across batches and emits on gap + timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val out = Streams.sessionizeStream(spark, src.toDF())
      .toDF("user_id", "session_start", "session_end", "n_events", "total_value")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // batch 1: two events 5 min apart — one open session, nothing emitted
      src.addData(ev(0, 1, "click", 1.0), ev(5, 1, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_out").isEmpty, "open session must not emit")
      // batch 2: an event 40 min later (> 30-min gap) CLOSES the session —
      // proving the open state survived the batch boundary and merged
      src.addData(ev(45, 1, "click", 4.0))
      q.processAllAvailable()
      val emitted = spark.table("sess_out").collect()
      assert(emitted.length == 1, s"expected the closed session, got ${emitted.toSeq}")
      val r = emitted.head
      assert(r.getAs[Long]("n_events") == 2 && r.getAs[Double]("total_value") == 3.0)
      assert(r.getAs[Timestamp]("session_end").getTime
        == ev(5, 1, "", 0).ts.getTime + 30L * 60 * 1000)
      // batch 3: advance the watermark far past batch 2's event — the
      // event-time TIMEOUT must flush the remaining session for user 1
      src.addData(ev(59, 2, "click", 9.0))
      q.processAllAvailable()
      src.addData(Ev(Timestamp.valueOf("2024-01-01 14:00:00"), 3L, "click", 0.5))
      q.processAllAvailable()
      val u1 = spark.table("sess_out").filter(col("user_id") === 1).collect()
      assert(u1.length == 2, s"timeout did not flush user 1's tail: ${u1.toSeq}")
      assert(u1.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }
}
