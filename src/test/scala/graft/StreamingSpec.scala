package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps
import graft.ops.EventsPack

/** Streaming semantics: the streaming window aggregation must converge
  * to the batch answer, and watermark/append behavior is pinned with a
  * MemoryStream micro-fixture.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("file-source stream converges to the batch window counts") {
    val batch = EventsPack.queries("events_window_counts")(spark, sf())
      .select("window_start_us", "event_type", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val streamed = StreamOps.runToMemory(spark,
      StreamOps.windowCounts(StreamOps.eventsStream(spark, sf())), "spec_wc")
      .select("window_start_us", "event_type", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("session_window stream rollup equals the batch islands sessionization") {
    val batch = EventsPack.queries("events_sessionize")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val sess = StreamOps.runToMemory(spark,
      StreamOps.sessionize(StreamOps.eventsStream(spark, sf())), "spec_sess")
    val streamed = StreamOps.sessionRollup(sess, EventsPack.GapUs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-static enrichment join equals the batch join rollup") {
    val dim = spark.read.parquet(s"${sf()}/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val batch = StreamOps.joinEnrich(
        spark.read.parquet(s"${sf()}/events.parquet"), dim)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = StreamOps.runToMemory(spark,
      StreamOps.joinEnrich(StreamOps.eventsStream(spark, sf()), dim), "spec_enrich")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup collapses the doubled source to exactly-once") {
    val nEvents = graft.tables.Tables.events(spark, sf()).count()
    val raw = StreamOps.runToMemoryAppend(spark,
      StreamOps.eventsStreamDoubled(spark, sf()), "spec_dup_raw").count()
    assert(raw == 2 * nEvents, "the doubled source must actually deliver twice")
    val deduped = StreamOps.runToMemoryAppend(spark,
      StreamOps.dedupEvents(StreamOps.eventsStreamDoubled(spark, sf())),
      "spec_dup_clean").count()
    assert(deduped == nEvents, "dedup must restore exactly-once")
    val bounded = StreamOps.runToMemoryAppend(spark,
      StreamOps.dedupEventsBounded(StreamOps.eventsStreamDoubled(spark, sf())),
      "spec_dup_bounded").count()
    assert(bounded == nEvents,
      "watermark-bounded dedup must also restore exactly-once on in-horizon replays")
  }

  test("cdc-apply snapshot equals the batch argmax despite replay and batch splits") {
    val e = graft.tables.Tables.events(spark, sf())
    val withUs = e.withColumn("ts_us", graft.ops.OpsUtil.tsMicros(e))
    val batch = withUs
      .select(col("user_id"),
        struct(col("ts_us"), col("event_id"), col("event_type"), col("value")).as("st"))
      .groupBy(col("user_id")).agg(max(col("st")).as("st"))
      .select(col("user_id"), col("st.ts_us"), col("st.event_type"), col("st.value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    val snap = StreamOps.cdcApply(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(snap == batch,
      "doubled source split into per-file micro-batches must fold to the batch argmax")
    assert(snap.nonEmpty)
  }

  test("bounded dedup: in-horizon replays drop, expired state re-admits") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]              // (event_id, ts_us)
    val df = mem.toDF().toDF("event_id", "ts_us")
      .withColumn("ts", col("ts_us") * 1000)          // nanos, as stored
    val q = StreamOps.dedupEventsBounded(df, horizon = "10 minutes")
      .writeStream.format("memory").queryName("spec_dedup_horizon")
      .outputMode("append").start()
    val H = 3600L * 1000 * 1000                       // 1 hour in micros
    // Batch 1: event 1 plus an immediate replay — one survivor. (Starts
    // at t = 1h, not 0: a timestamp equal to the initial watermark is
    // filtered as late before the dedup state is consulted.)
    mem.addData((1L, H), (1L, H))
    q.processAllAvailable()
    // Batch 2: unrelated event far ahead; the watermark passes event 1's
    // horizon and its dedup state is evicted (state stays bounded).
    mem.addData((2L, 2 * H))
    q.processAllAvailable()
    // Batch 3: same event_id with a fresh event time, after eviction —
    // re-admitted (the bounded-state contract; an unbounded dropDuplicates
    // would still drop it).
    mem.addData((1L, 3 * H))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("spec_dedup_horizon")
      .select("event_id", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(emitted == Seq((1L, H), (1L, 3 * H), (2L, 2 * H)),
      s"got $emitted")
  }

  test("streaming SCD2 emits closed intervals as they close, one state row per user") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String)] // (user, event_id, ts_us, type)
    val df = mem.toDF().toDF("user_id", "event_id", "ts_us", "event_type")
      .withColumn("ts", col("ts_us") * 1000)           // nanos, as stored
    val q = StreamOps.scd2Stateful(df)
      .writeStream.format("memory").queryName("spec_scd2")
      .outputMode("append").start()
    // Batch 1: u1 A,A then B — run A closes AT the type change; B open.
    mem.addData((1L, 1L, 100L, "A"), (1L, 2L, 200L, "A"), (1L, 3L, 300L, "B"))
    q.processAllAvailable()
    val after1 = spark.table("spec_scd2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(after1.toSeq == Seq((1L, "A", 100L, 300L, 2L)),
      s"run A must close with valid_to = B's start: ${after1.toSeq}")
    // Batch 2: the type flips back — the OPEN run B (carried state, not
    // output) closes across the micro-batch boundary.
    mem.addData((1L, 4L, 400L, "A"))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("spec_scd2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(t => t._3)
    assert(all == Seq((1L, "A", 100L, 300L, 2L), (1L, "B", 300L, 400L, 1L)),
      s"cross-batch close must carry the open run through state: $all")
  }

  test("stateful funnel: dead state evicts at the watermark, output equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]     // (user, ts_us, type)
    val df = mem.toDF().toDF("user_id", "ts_us", "event_type")
      .withColumn("ts", col("ts_us") * 1000)         // nanos, as stored
    val T = EventsPack.FunnelUs
    val q = StreamOps.funnelStateful(df, "view", "purchase", T,
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("spec_funnel_evict")
      .outputMode("append").start()
    def stateRows: Long = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)
    val H = 3600L * 1000 * 1000                      // 1 hour in micros
    // Batch 1: users 1-3 each view; user 1 purchases inside the window.
    mem.addData((1L, H, "view"), (1L, H + T / 2, "purchase"),
      (2L, H, "view"), (3L, H, "view"))
    q.processAllAvailable()
    assert(stateRows == 3, s"one state row per user with a live view, got $stateRows")
    // Batches 2-3: far-future events push the watermark well past every
    // carried deadline (lastA + T); users 1-3 are dead weight and the
    // EventTimeTimeout must evict them — the store tracks users active
    // within one funnel window, not users ever seen.
    mem.addData((99L, 10 * H, "view"))
    q.processAllAvailable()
    mem.addData((99L, 20 * H, "view"))
    q.processAllAvailable()
    assert(stateRows == 1,
      s"dead users evicted, only the live user remains, got $stateRows")
    // Batch 4: user 2 purchases ages after its view. Its state is gone —
    // and the purchase must count as UNCONVERTED, exactly as in batch
    // (an evicted lastA was too old to convert anything in-watermark).
    mem.addData((2L, 20 * H + 1, "purchase"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("spec_funnel_evict")
      .groupBy("user_id")
      .agg(sum("n_purchases").as("np"), sum("n_converted").as("nc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val allEvents = Seq((1L, H, "view"), (1L, H + T / 2, "purchase"),
      (2L, H, "view"), (3L, H, "view"), (99L, 10 * H, "view"),
      (99L, 20 * H, "view"), (2L, 20 * H + 1, "purchase"))
      .toDF("uid", "t_us", "etype")
    val batch = graft.api.Graft.events.funnel(allEvents, col("uid"), col("t_us"),
        col("etype"), stepA = "view", stepB = "purchase", windowUs = T)
      .groupBy(col("uid").as("user_id"))
      .agg(count(lit(1)).as("np"), sum("converted").cast("long").as("nc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"stream $streamed must equal batch $batch")
    assert(streamed == Set((1L, 1L, 1L), (2L, 1L, 0L)))
  }

  test("stateful funnel: a straggler step-A cannot regress the carried lastA") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val df = mem.toDF().toDF("user_id", "ts_us", "event_type")
      .withColumn("ts", col("ts_us") * 1000)
    val T = EventsPack.FunnelUs
    val q = StreamOps.funnelStateful(df, "view", "purchase", T,
        watermarkDelay = "10 hours")
      .writeStream.format("memory").queryName("spec_funnel_straggler")
      .outputMode("append").start()
    val H = 3600L * 1000 * 1000
    mem.addData((1L, 5 * H, "view"))
    q.processAllAvailable()
    // A late (but in-watermark) straggler view arrives with the next
    // batch alongside a purchase within T of the NEWER carried view —
    // the fold must keep max(A) like the batch window, not the last-seen.
    mem.addData((1L, 4 * H, "view"), (1L, 5 * H + T / 2, "purchase"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("spec_funnel_straggler")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 1L, 1L)), s"${rows.toSeq}")
  }

  test("session_window boundary: event exactly at gap starts a new session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]            // (ts_us, user)
    val df = mem.toDF().toDF("ts_us", "user_id")
      .withColumn("ts", col("ts_us") * 1000)        // sessionize expects nanos
    val q = StreamOps.sessionize(df)
      .writeStream.format("memory").queryName("spec_sess_edge")
      .outputMode("complete").start()
    val Gap = EventsPack.GapUs
    mem.addData((0L, 1L), (Gap - 1, 1L), (2 * Gap, 1L))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("spec_sess_edge")
      .select("start_us", "n_events").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // [0, Gap-1] coalesce into one session; 2*Gap = (Gap-1) + Gap + 1 is
    // past the gap and opens a second one.
    assert(sessions == Map(0L -> 2L, 2 * Gap -> 1L))
  }

  test("MemoryStream: late rows beyond the watermark are dropped in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val df = mem.toDF().toDF("ts_ms", "event_type", "value")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = df.writeStream.format("memory").queryName("spec_late")
      .outputMode("append").start()
    val H = 3600L * 1000
    // Batch 1: two events in hour-window 0, advance watermark far past it.
    mem.addData((10L * 60 * 1000, "a", 1.0), (20L * 60 * 1000, "a", 1.0))
    q.processAllAvailable()
    mem.addData((5L * H, "a", 1.0))       // watermark -> ~4:50
    q.processAllAvailable()
    // Batch 3: a late event for window 0 — behind the watermark, dropped.
    mem.addData((30L * 60 * 1000, "a", 1.0))
    q.processAllAvailable()
    mem.addData((10L * H, "a", 1.0))      // push watermark to close window 5
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("spec_late")
      .select(unix_millis(col("window.start")).as("ws"), col("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(0L) == 2L, "window 0 must close with the 2 on-time events only")
    assert(rows(5L * H) == 1L)
  }

  test("streaming bloom gate equals the batch gate (stateless stream-static probe)") {
    def rows(q: String) = graft.ops.StreamingPack.queries
      .getOrElse(q, graft.ops.DedupPack.queries(q))(spark, sf())
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    val streamed = rows("stream_bloom_gate")
    assert(streamed == rows("dedup_bloom_gate"))
    assert(streamed.nonEmpty)
  }
}
