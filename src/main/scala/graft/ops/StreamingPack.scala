package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Streaming pack: the windowed event aggregation executed as an actual
  * Structured Streaming query (file source → watermark + tumbling window
  * → memory sink, Trigger.AvailableNow) whose final result is checked
  * against the SAME DuckDB oracle as the batch twin — the stream must
  * converge to the batch answer.
  */
object StreamingPack {
  type Q = (SparkSession, String) => DataFrame

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** |z| threshold of stream_rate_anomaly. */
  private val AnomalyZ = 2.0

  val queries: Map[String, Q] = Map(
    "stream_window_counts" -> ((s, d) => {
      val name = s"graft_stream_wc_${counter.incrementAndGet()}"
      val res = StreamOps.runToMemory(s,
        StreamOps.windowCounts(StreamOps.eventsStream(s, d)), name)
      res.orderBy(col("window_start_us"), col("event_type"))
    }),

    // Streaming exactly-once dedup: the source delivers every event
    // twice (at-least-once ingestion); the WATERMARK-BOUNDED dedup (state
    // bounded by rate × horizon — the unbounded-ingest form) collapses
    // the replay, and the per-type aggregate must equal the batch answer
    // over the ORIGINAL single-copy table. Replays here carry identical
    // event times, so they always land inside the horizon.
    "stream_dedup_events" -> ((s, d) => {
      val name = s"graft_stream_dedup_${counter.incrementAndGet()}"
      val deduped = StreamOps.runToMemoryAppend(s,
        StreamOps.dedupEventsBounded(StreamOps.eventsStreamDoubled(s, d)), name)
      deduped.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          OpsUtil.dsum(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    }),

    // Stream-static enrichment: event stream joined to the broadcast
    // customer dimension (stateless per micro-batch), segment rollup
    // equal to the batch join.
    "stream_join_enrich" -> ((s, d) => {
      val name = s"graft_stream_enrich_${counter.incrementAndGet()}"
      val dim = graft.tables.Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val res = StreamOps.runToMemory(s,
        StreamOps.joinEnrich(StreamOps.eventsStream(s, d), dim), name)
      res.orderBy(col("segment"))
    }),

    // STREAM-STREAM interval join: two live streams (clicks, purchases)
    // joined on user within a 6-hour event-time interval. Watermarks +
    // the two-sided time bound are what make join state evictable — the
    // 100 TB/day shape for correlating two unbounded feeds. Rolled up
    // per user; the DuckDB twin is the equivalent batch range join.
    "stream_interval_join" -> ((s, d) => {
      val name = s"graft_stream_ij_${counter.incrementAndGet()}"
      val joined = StreamOps.runToMemoryAppend(s,
        StreamOps.intervalJoin(StreamOps.eventsStream(s, d),
          StreamOps.eventsStream(s, d), intervalUs = EventsPack.RangeJoinUs), name)
      joined.groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          OpsUtil.dsum(col("value")).as("total_value"))
        .orderBy(col("user_id"))
    }),

    // Custom-state streaming funnel (flatMapGroupsWithState — the
    // KeyValueGroupedDataset path for semantics the built-in stateful
    // operators can't express): per-user A-then-B-within-T conversion
    // counting with ONE carried timestamp of state per user. Must equal
    // the batch events_funnel answer (same DuckDB oracle).
    "stream_funnel" -> ((s, d) => {
      val name = s"graft_stream_funnel_${counter.incrementAndGet()}"
      val res = StreamOps.runToMemoryAppend(s,
        StreamOps.funnelStateful(StreamOps.eventsStream(s, d),
          stepA = "view", stepB = "purchase", EventsPack.FunnelUs), name)
      res.select(col("user_id"), col("n_purchases"), col("n_converted"))
        .orderBy(col("user_id"))
    }),

    // Streaming SCD2: closed validity intervals emitted live (one open
    // run of state per user; append-mode discipline — a row leaves the
    // operator only when it can never change). Must equal the batch
    // islands form's closed intervals.
    "stream_scd2" -> ((s, d) => {
      val name = s"graft_stream_scd2_${counter.incrementAndGet()}"
      val res = StreamOps.runToMemoryAppend(s,
        StreamOps.scd2Stateful(StreamOps.eventsStream(s, d)), name)
      res.select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_events"))
        .orderBy(col("user_id"), col("valid_from"), col("valid_to"), col("event_type"))
    }),

    // Native session_window sessionization run as a stream, rolled up to
    // the batch events_sessionize shape — stream must equal batch.
    "stream_sessionize" -> ((s, d) => {
      val name = s"graft_stream_sess_${counter.incrementAndGet()}"
      val sess = StreamOps.runToMemory(s,
        StreamOps.sessionize(StreamOps.eventsStream(s, d)), name)
      StreamOps.sessionRollup(sess, EventsPack.GapUs)
        .orderBy(col("user_id"))
    }),

    // Streaming Bloom ingest gate — dedup_bloom_gate's production shape:
    // the document feed arrives as a stream and probes the standing
    // corpus's broadcast bitset micro-batch by micro-batch. Every step
    // is a stateless projection or a stream-static equi-join (the
    // constant-key bitset broadcast + the exact-membership left join),
    // so the operator carries ZERO streaming state at any corpus size —
    // the filter, not the stream, holds the memory. Same DuckDB oracle
    // as the batch twin: the stream must converge to it exactly.
    "stream_bloom_gate" -> ((s, d) => {
      val name = s"graft_stream_bloom_${counter.incrementAndGet()}"
      val gated = StreamOps.runToMemoryAppend(s,
        DedupPack.bloomGateProbe(s, d,
          StreamOps.documentsStream(s, d).filter(col("doc_id") % 10 === 0)),
        name)
      gated.orderBy(col("doc_id"))
    }),

    // Complete-output-mode leaderboard: an UNWINDOWED running aggregate
    // (per-user lifetime event counts) re-emitted whole every
    // micro-batch — the third output-mode discipline next to the pack's
    // append and update queries, and the live-dashboard shape (state =
    // one row per user, emission = the current full table). Final table
    // must equal the batch events_top_users answer.
    "stream_leaderboard" -> ((s, d) => {
      val name = s"graft_stream_lead_${counter.incrementAndGet()}"
      val agg = StreamOps.eventsStream(s, d)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      val res = StreamOps.runToMemory(s, agg, name)
      res.orderBy(col("n_events").desc, col("user_id").asc).limit(25)
    }),

    // Parquet FILE-SINK landing zone: the purchase feed is filtered and
    // projected statelessly and streamed straight into checkpointed
    // columnar files (the sink commit log = exactly-once under
    // retries); the check reads the directory back and rolls it up —
    // which must equal the batch answer over the same slice. The shape
    // every 100 TB ingest pipeline starts with.
    "stream_sink_parquet" -> ((s, d) => {
      val e = StreamOps.eventsStream(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
      // Raw name; runToParquet's scratchKey makes it filesystem-safe,
      // collision-free, and per-process.
      val landed = StreamOps.runToParquet(s, purchases, s"purchases_$d")
      landed.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          OpsUtil.dsum(col("value")).as("total_value"))
        .orderBy(col("user_id"))
    }),

    // CDC-apply snapshot materialization via foreachBatch — the
    // streaming MERGE: each micro-batch collapses to its latest change
    // per user, then merges into the standing snapshot keeping the
    // greater (ts, event_id). The fold is associative and idempotent,
    // so a DOUBLED source split across micro-batches still equals the
    // single-copy batch argmax (the oracle).
    "stream_cdc_apply" -> ((s, d) => {
      StreamOps.cdcApply(s, d).orderBy(col("user_id"))
    }),

    // Streaming rate-anomaly alerting: the tumbling-window counts come
    // from the LIVE stream (integer-exact state — same windowed
    // aggregation as stream_window_counts), and windows whose count
    // z-scores past ±AnomalyZ against their type's own distribution are
    // flagged. The z computation is a deterministic projection over the
    // collected integer counts (Σn, Σn² stay exact longs), so the alert
    // set hash-matches the full batch replay — the monitoring shape
    // where the stream maintains counters and alerting reads them.
    "stream_rate_anomaly" -> ((s, d) => {
      val name = s"graft_stream_anom_${counter.incrementAndGet()}"
      val sink = StreamOps.runToMemory(s,
        StreamOps.windowCounts(StreamOps.eventsStream(s, d)), name)
      // The memory-sink view cannot be self-joined (DeduplicateRelations
      // cannot re-instantiate a MemoryPlan leaf) — give each side of the
      // stats join its own fresh-attribute frame over the tiny result.
      def fresh() = s.createDataFrame(sink.rdd, sink.schema)
      val wc = fresh()
      val su = fresh().groupBy(col("event_type")).agg(
        count(lit(1)).as("w"), sum(col("n")).as("sn"),
        sum(col("n") * col("n")).as("snn"))
      wc.join(su, "event_type")
        .withColumn("mean", col("sn").cast("double") / col("w"))
        .withColumn("variance",
          (col("snn").cast("double") - col("sn").cast("double") * col("sn") / col("w")) / col("w"))
        .filter(col("variance") > 0)
        .withColumn("z", (col("n").cast("double") - col("mean")) / sqrt(col("variance")))
        .filter(abs(col("z")) > AnomalyZ)
        .select(col("event_type"), col("window_start_us"), col("n"),
          round(col("z"), 6).as("z"))
        .orderBy(col("event_type"), col("window_start_us"))
    })
  )

  val oracle: Map[String, String] = Map(
    // Same oracles as the batch twins: streaming must equal batch.
    "stream_window_counts" -> EventsPack.oracle("events_window_counts"),

    "stream_leaderboard" -> EventsPack.oracle("events_top_users"),

    "stream_rate_anomaly" ->
      s"""WITH wc AS (SELECT (epoch_ns(ts) // 1000 // ${EventsPack.WindowUs})
         |      * ${EventsPack.WindowUs} AS window_start_us,
         |    event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
         |su AS (SELECT event_type, COUNT(*) AS w, SUM(n) AS sn,
         |    SUM(n * n) AS snn FROM wc GROUP BY 1),
         |j AS (SELECT wc.event_type, wc.window_start_us, wc.n,
         |    CAST(sn AS DOUBLE) / w AS mean,
         |    (CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / w) / w AS variance
         |  FROM wc JOIN su ON su.event_type = wc.event_type)
         |SELECT event_type, window_start_us, n,
         |  round((CAST(n AS DOUBLE) - mean) / sqrt(variance), 6) AS z
         |FROM j WHERE variance > 0
         |  AND abs((CAST(n AS DOUBLE) - mean) / sqrt(variance)) > $AnomalyZ
         |ORDER BY event_type, window_start_us""".stripMargin,
    "stream_sessionize"    -> EventsPack.oracle("events_sessionize"),
    "stream_funnel"        -> EventsPack.oracle("events_funnel"),
    "stream_bloom_gate"    -> DedupPack.oracle("dedup_bloom_gate"),

    // Batch SCD2 islands restricted to CLOSED intervals — exactly what
    // the append-mode stateful operator may emit.
    "stream_scd2" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
        |    event_type FROM events),
        |l AS (SELECT user_id, event_id, ts_us, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS prev_type
        |  FROM e),
        |b AS (SELECT user_id, event_id, ts_us, event_type,
        |    CASE WHEN prev_type IS NULL OR prev_type <> event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM l),
        |r AS (SELECT user_id, ts_us, event_type,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM b),
        |runs AS (SELECT user_id, run, event_type,
        |    MIN(ts_us) AS valid_from, COUNT(*) AS n_events
        |  FROM r GROUP BY user_id, run, event_type),
        |iv AS (SELECT user_id, event_type, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id
        |      ORDER BY valid_from, run) AS valid_to,
        |    n_events
        |  FROM runs)
        |SELECT user_id, event_type, valid_from, valid_to, n_events
        |FROM iv WHERE valid_to IS NOT NULL
        |ORDER BY user_id, valid_from, valid_to, event_type""".stripMargin,

    // Batch range-join twin of the watermarked stream-stream join.
    "stream_interval_join" ->
      s"""WITH c AS (SELECT user_id, epoch_ns(ts) // 1000 AS cus FROM events
         |  WHERE event_type = 'click'),
         |p AS (SELECT user_id, epoch_ns(ts) // 1000 AS pus, value FROM events
         |  WHERE event_type = 'purchase')
         |SELECT c.user_id, COUNT(*) AS n_pairs,
         |  ${OpsUtil.dsumSql("value")} AS total_value
         |FROM c JOIN p ON c.user_id = p.user_id
         |  AND p.pus >= c.cus AND p.pus <= c.cus + ${EventsPack.RangeJoinUs}
         |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    "stream_join_enrich" ->
      s"""SELECT c_mktsegment AS segment, COUNT(*) AS n_events,
         |  ${OpsUtil.dsumSql("value")} AS total_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1 ORDER BY segment""".stripMargin,

    "stream_sink_parquet" ->
      s"""SELECT user_id, COUNT(*) AS n_purchases,
         |  ${OpsUtil.dsumSql("value")} AS total_value
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Single-copy batch argmax per user — the doubled, batch-split CDC
    // fold must land exactly here.
    "stream_cdc_apply" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
        |    event_type, value FROM events),
        |rk AS (SELECT user_id, ts_us, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, ts_us AS last_ts_us, event_type AS last_event_type,
        |  value AS last_value
        |FROM rk WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // The doubled-then-deduped stream must equal the single-copy batch.
    "stream_dedup_events" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  ${OpsUtil.dsumSql("value")} AS total_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
