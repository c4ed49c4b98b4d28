package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{EventsPack, OpsUtil}

/** Structured Streaming over the events log — the reference has no
  * streams (SURVEY.md §7.3), but an activity log at 100 TB IS a stream;
  * this is the readStream → event-time window + watermark → sink path.
  *
  * The windowed aggregation is the same computation as the batch
  * events_window_counts query; StreamingPack's query runs it with
  * Trigger.AvailableNow over the parquet file source and must produce
  * byte-identical results (asserted by the DuckDB oracle AND
  * StreamingSpec's batch-vs-stream comparison).
  */
object StreamOps {

  /** events schema AS STORED in the fixture — inferred from the file with
    * a one-off batch footer read, never hardcoded: a file source needs an
    * explicit schema, and pinning one here silently reinterprets the
    * physical int64 when the fixture's timestamp encoding changes (the
    * round-6 failure: micros read as nanos shrank every event time 1000×).
    * Event-time consumers stay encoding-agnostic via OpsUtil.tsMicros. */
  def eventsSchema(s: SparkSession, dir: String): StructType =
    s.read.parquet(s"$dir/events.parquet").schema

  /** Every stateful streaming operator instantiates one state store per
    * shuffle partition per store (a stream-stream join keeps FOUR), and
    * each store pays per-micro-batch fixed cost (provider init, state
    * scan, delta commit) regardless of rows. Measured at sf0.1:
    * stream_interval_join spent ~150 s of task time across 128 store
    * instances producing 0 output rows — 13.5 s wall at 32 partitions
    * vs 4.2 s at 8 ON FEWER CORES. The state partition count is
    * ceil(sourceBytes / StatePartitionBytes), CLAMPED to the session's
    * shuffle.partitions — it only ever lowers the count when the
    * source is small relative to the session's parallelism, so a
    * cluster session with thousands of partitions and a TB feed is
    * untouched (it follows the deployment's parallelism, no knob). */
  private val StatePartitionBytes: Long = 1L << 20

  /** Largest staged source size per session, registered by the stream
    * builders ([[eventsStream]] et al.) and consumed by the run-to-
    * completion helpers' partition sizing. Weak keys: a GC'd session
    * drops its entry. */
  private val sourceBytes =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Long]())

  private def registerSource(s: SparkSession, bytes: Long): Unit =
    sourceBytes.merge(s, bytes,
      (a, b) => java.lang.Long.valueOf(math.max(a, b)))

  /** Scope `spark.sql.shuffle.partitions` to the sized state-partition
    * count while a run-to-completion streaming query plans and runs
    * (streaming queries capture the conf at start), then restore. */
  private def withSizedStatePartitions[T](s: SparkSession)(body: => T): T = {
    val cur = s.conf.get("spark.sql.shuffle.partitions").toInt
    val bytes = Option(sourceBytes.get(s)).map(_.longValue).getOrElse(0L)
    val k = if (bytes <= 0L) cur
      else math.min(cur.toLong,
        math.max(1L, (bytes + StatePartitionBytes - 1) / StatePartitionBytes)).toInt
    if (k == cur) body
    else {
      s.conf.set("spark.sql.shuffle.partitions", k)
      try body
      finally s.conf.set("spark.sql.shuffle.partitions", cur)
    }
  }

  /** File-source stream over the events parquet. The file source needs a
    * directory of its own (the fixture dir holds every table), so the
    * events file is staged into a scratch dir via symlink — at real scale
    * this is just the events/ landing directory. */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_events_stream")
    tmp.toFile.deleteOnExit()
    val src = Paths.get(s"$dir/events.parquet").toAbsolutePath
    Files.createSymbolicLink(tmp.resolve("events.parquet"), src)
    registerSource(s, src.toFile.length())
    s.readStream.schema(eventsSchema(s, dir)).parquet(tmp.toString)
  }

  /** documents schema as stored. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over the documents parquet (same symlink staging
    * as [[eventsStream]]) — the corpus-ingest feed a streaming dedup
    * gate consumes. */
  def documentsStream(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_docs_stream")
    tmp.toFile.deleteOnExit()
    val src = Paths.get(s"$dir/documents.parquet").toAbsolutePath
    Files.createSymbolicLink(tmp.resolve("documents.parquet"), src)
    registerSource(s, src.toFile.length())
    s.readStream.schema(documentsSchema).parquet(tmp.toString)
  }

  /** Event-time tumbling-window counts with a watermark — works on any
    * events-shaped frame, batch or streaming (identical plan surface). */
  def windowCounts(events: DataFrame): DataFrame = {
    val withTime = events
      .withColumn("event_time", OpsUtil.tsEventTime(events))
    withTime
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,4)")).cast("double").as("total_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** File-source stream in which every event arrives TWICE (the events
    * file staged under two names) — the at-least-once delivery a real
    * ingestion pipeline must assume; stream_dedup_events collapses it
    * back to exactly-once. */
  def eventsStreamDoubled(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_events_dup")
    tmp.toFile.deleteOnExit()
    val src = Paths.get(s"$dir/events.parquet").toAbsolutePath
    Files.createSymbolicLink(tmp.resolve("events_a.parquet"), src)
    Files.createSymbolicLink(tmp.resolve("events_b.parquet"), src)
    registerSource(s, 2L * src.toFile.length())
    s.readStream.schema(eventsSchema(s, dir)).parquet(tmp.toString)
  }

  /** Streaming exact dedup on the event key: each event_id's FIRST
    * arrival passes, replays are dropped against the dedup state store.
    * No watermark → state is unbounded: the BOUNDED-INGEST form only
    * (backfills, finite replays). For unbounded ingest use
    * `dedupEventsBounded`. */
  def dedupEvents(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  /** Watermark-bounded streaming dedup — the unbounded-ingest (100 TB/
    * day) form, and the primary stream_dedup_events path: dedup state for
    * an event_id lives only within the watermark horizon of its event
    * time, so the store is bounded by rate × horizon instead of growing
    * with total history. At-least-once replays land within the horizon
    * (same event time) and are dropped exactly like the unbounded form;
    * a replay arriving after the horizon re-admits — the documented
    * dropDuplicatesWithinWatermark contract, pinned by StreamingSpec.
    * The helper event-time column is dropped so downstream schema
    * matches the raw events frame. */
  def dedupEventsBounded(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    events
      .withColumn("event_time", OpsUtil.tsEventTime(events))
      .withWatermark("event_time", horizon)
      .dropDuplicatesWithinWatermark("event_id")
      .drop("event_time")

  /** Run an append-mode stream (stateless or dedup-only) to completion
    * into a memory sink. */
  def runToMemoryAppend(s: SparkSession, streamed: DataFrame, name: String): DataFrame = {
    withSizedStatePartitions(s) {
      val q = streamed.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
  }

  /** Event-time gap sessionization with Spark's native session_window —
    * the streaming form of EventsPack.events_sessionize's islands SQL.
    * A session's window is [first, last + gap), so duration = end − start
    * − gap, exact in integer micros. Built-in stateful operator — no
    * custom mapGroupsWithState needed (Spark-first preference order).
    * Boundary semantics: an event exactly `gap` after the previous one
    * starts a NEW session here but extends the session in the batch
    * islands form (strict `>`); the fixtures contain no exact-gap pairs,
    * and the spec pins both behaviors on a micro fixture. */
  def sessionize(events: DataFrame): DataFrame = {
    events
      .withColumn("event_time", OpsUtil.tsEventTime(events))
      .withWatermark("event_time", "1 hour")
      .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
  }

  /** Per-user rollup of materialized sessions to the events_sessionize
    * output shape (n_sessions, n_events, max_session_us). */
  def sessionRollup(sessions: DataFrame, gapUs: Long): DataFrame =
    sessions.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("end_us") - col("start_us") - gapUs).as("max_session_us"))

  /** Watermarked STREAM-STREAM interval join: click events joined to the
    * purchase events that follow within `intervalUs` for the same user —
    * both sides are unbounded streams (two independent file sources
    * here). The scale contract is the pair of watermarks PLUS the
    * two-sided event-time bound in the join condition: they are what let
    * Spark compute how long a buffered row can still match and EVICT
    * join state at the watermark horizon — an unconditioned
    * stream-stream join would buffer both streams forever. */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame,
      intervalUs: Long): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .withColumn("c_time", OpsUtil.tsEventTime(clicks))
      .withWatermark("c_time", "1 hour")
      .select(col("user_id").as("c_user"), col("c_time"))
    val p = purchases.filter(col("event_type") === "purchase")
      .withColumn("p_time", OpsUtil.tsEventTime(purchases))
      .withWatermark("p_time", "1 hour")
      .select(col("user_id").as("p_user"), col("p_time"), col("value"))
    c.join(p, col("c_user") === col("p_user") &&
      col("p_time") >= col("c_time") &&
      col("p_time") <= col("c_time") + expr(s"INTERVAL $intervalUs MICROSECONDS"))
  }

  /** Typed rows of the stateful funnel operator. */
  case class FunnelEvent(user_id: Long, ts_us: Long, event_type: String)
  /** Carried funnel state: event-time of the user's latest step-A. */
  case class FunnelState(lastA: Long)
  /** Per-user funnel emission (one row per micro-batch with ≥1 step-B). */
  case class FunnelOut(user_id: Long, n_purchases: Long, n_converted: Long)

  /** STATEFUL streaming funnel — the custom-state form the built-in
    * operators can't express (KeyValueGroupedDataset.flatMapGroupsWithState,
    * SURVEY §2 streaming row): per user, a step-B event converts when a
    * step-A event sits at-or-before it within `windowUs`. Each group's
    * batch slice is sorted by event time (A before B on ties — the same
    * total order as the batch window form) and folded through the carried
    * `lastA` state, so the state store holds ONE timestamp per user
    * regardless of history length. Exact when micro-batch boundaries
    * respect event-time order (the AvailableNow backfill case and any
    * in-order source); cross-batch stragglers fall back to the carried
    * state like every per-key streaming fold.
    *
    * STATE EVICTION (the 100 TB contract): a carried `lastA` is only
    * live while a future step-B could still convert against it — i.e.
    * until event time passes `lastA + windowUs`. Each update arms an
    * EventTimeTimeout at exactly that deadline; when the WATERMARK
    * passes it the state row is dropped, so the store is bounded by the
    * number of users ACTIVE within one funnel window, not by every user
    * ever seen. Users with no step-A yet keep no state at all. A step-B
    * whose event time is BELOW the watermark never reaches this operator
    * at all — Spark drops sub-watermark rows before stateful operators
    * (standard watermark semantics), so such stragglers are missing from
    * `n_b` as well as `n_conv`, an undercount versus batch. The batch
    * equivalence claimed above therefore holds exactly for events
    * at-or-after the watermark: for those, a step-B arriving after its
    * user's state was evicted counts as unconverted, because an evicted
    * `lastA` was by construction too old to satisfy
    * `ts_b - lastA <= windowUs` for any at-or-after-watermark event. */
  def funnelStateful(events: DataFrame, stepA: String, stepB: String,
      windowUs: Long, watermarkDelay: String = "1 hour"): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .withColumn("event_time", OpsUtil.tsEventTime(events))
      .withWatermark("event_time", watermarkDelay)
      // event_time must survive the projection: EventTimeTimeout requires
      // the watermark attribute in the stateful operator's input (the
      // typed encoder below just ignores the extra column).
      .select(col("user_id"), OpsUtil.tsMicros(events).as("ts_us"),
        col("event_type"), col("event_time"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state) =>
          if (state.hasTimedOut) {
            // Watermark passed lastA + windowUs: no future in-watermark
            // step-B can convert against this state — drop it.
            state.remove()
            Iterator.empty
          } else {
            val evs = it.toSeq.sortBy(e => (e.ts_us, if (e.event_type == stepA) 0 else 1))
            var lastA = state.getOption.map(_.lastA).getOrElse(Long.MinValue)
            var nB = 0L
            var nConv = 0L
            evs.foreach { e =>
              // max, not overwrite: within the sorted slice they agree,
              // and a cross-batch straggler A older than the carried
              // lastA must not regress it (batch keeps the max prior A).
              if (e.event_type == stepA) lastA = math.max(lastA, e.ts_us)
              else if (e.event_type == stepB) {
                nB += 1
                if (lastA != Long.MinValue && e.ts_us - lastA <= windowUs) nConv += 1
              }
            }
            if (lastA == Long.MinValue) {
              // No step-A seen for this user yet: nothing worth carrying.
              if (state.exists) state.remove()
            } else {
              state.update(FunnelState(lastA))
              // Dead once the watermark passes lastA + windowUs (ceil to
              // ms); the floor keeps Spark's "timeout must be ahead of
              // the current watermark" invariant when lastA is already
              // near-expired at update time.
              val deadlineMs = (lastA + windowUs) / 1000L + 1L
              state.setTimeoutTimestamp(
                math.max(deadlineMs, state.getCurrentWatermarkMs() + 1L))
            }
            if (nB > 0) Iterator(FunnelOut(uid, nB, nConv)) else Iterator.empty
          }
      }
      .toDF()
  }

  /** Typed rows of the stateful SCD2 operator. */
  case class Scd2Event(user_id: Long, event_id: Long, ts_us: Long, event_type: String)
  /** Carried SCD2 state: the user's OPEN run (type, start, event count). */
  case class Scd2State(curType: String, validFrom: Long, n: Long)
  /** A CLOSED validity interval (the open run stays in state). */
  case class Scd2Out(user_id: Long, event_type: String, valid_from: Long,
    valid_to: Long, n_events: Long)

  /** STATEFUL streaming SCD Type-2 — the live form of
    * api.Events.scd2Ranges: each user's open run is ONE row of carried
    * state; an incoming type change CLOSES the run (emits the finished
    * validity interval, valid_to = the new run's start) and opens the
    * next. Emitted rows are exactly the batch form's closed intervals
    * (`valid_to IS NOT NULL`) — the still-open run is state, not output,
    * which is what append-mode semantics require: a row is emitted only
    * once its contents can never change. Per-batch slices fold in
    * (ts, event_id) order — the same total order as the batch window —
    * with the same in-order-source caveat as [[funnelStateful]].
    *
    * STATE CONTRACT — why this operator keeps `NoTimeout` while the
    * funnel evicts: SCD2 state is REQUIRED BY SEMANTICS, not a cache.
    * A key's open run stays open until a type change arrives — which can
    * be arbitrarily far in the future — and evicting it would emit a
    * wrong interval (or silently drop one) on the key's next event. So
    * the store is bounded by the number of ACTIVE KEYS (one fixed-size
    * row each), the minimum any correct SCD2 implementation must hold;
    * dimension keyspaces are bounded entities (users, products), unlike
    * the funnel's `lastA` timestamps whose usefulness expires after
    * `windowUs`. Watermark-evictable state (funnel, interval join) times
    * out; semantically-live state (this) must not. */
  def scd2Stateful(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col("user_id"), col("event_id"),
        OpsUtil.tsMicros(events).as("ts_us"), col("event_type"))
      .as[Scd2Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, it, state) =>
          val evs = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var cur = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
          evs.foreach { e =>
            if (cur == null) cur = Scd2State(e.event_type, e.ts_us, 1L)
            else if (e.event_type == cur.curType) cur = cur.copy(n = cur.n + 1)
            else {
              out += Scd2Out(uid, cur.curType, cur.validFrom, e.ts_us, cur.n)
              cur = Scd2State(e.event_type, e.ts_us, 1L)
            }
          }
          if (cur != null) state.update(cur)
          out.iterator
      }
      .toDF()
  }

  /** Stream-static enrichment join: the event stream against a broadcast
    * dimension table (users → market segment), rolled up per segment.
    * Stream-static joins are stateless — each micro-batch probes the
    * static side, no state store — so this is the 100 TB enrichment
    * shape: the dimension broadcasts once per executor, the stream never
    * shuffles. */
  def joinEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(broadcast(dim), events("user_id") === dim("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,4)")).cast("double").as("total_value"))

  /** CDC-apply: materialize a keyed snapshot from a change stream via
    * foreachBatch — the streaming MERGE pattern (each micro-batch first
    * collapses to one latest-change row per key, then full-merges with
    * the standing snapshot; the snapshot swaps generations atomically by
    * path). The merge keeps the row with the GREATER (ts_us, event_id)
    * struct, which makes the fold:
    *  - batch-boundary independent (any split of the log yields the same
    *    final snapshot — the argmax is associative/commutative), and
    *  - idempotent under at-least-once replay (this runs on a DOUBLED
    *    source; the single-copy batch argmax is the oracle).
    * At production scale the generation swap is a Delta/Iceberg MERGE;
    * the per-batch plan — delta pre-aggregation, key-partitioned merge
    * join — is exactly this one. */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_cdc_src")
    tmp.toFile.deleteOnExit()
    val src = Paths.get(s"$dir/events.parquet").toAbsolutePath
    Files.createSymbolicLink(tmp.resolve("events_a.parquet"), src)
    Files.createSymbolicLink(tmp.resolve("events_b.parquet"), src)
    val stream = s.readStream.schema(eventsSchema(s, dir))
      // One file per micro-batch: the replay copy arrives as a SECOND
      // batch, so the cross-batch merge path actually executes.
      .option("maxFilesPerTrigger", 1)
      .parquet(tmp.toString)
    // Stable per-(dir, process) snapshot root recycled at call start
    // (same discipline as runToParquet): a fresh temp dir per call
    // would leak its FINAL generation forever — the returned frame
    // reads it lazily, so it can only be reclaimed by the NEXT run in
    // this process (or the OS tmp sweeper). The pid key keeps
    // concurrent processes on the same fixture dir isolated.
    val snap = Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft_cdc_snap/${scratchKey(dir)}")
    deleteTree(snap)
    Files.createDirectories(snap)
    @volatile var cur: String = null
    var gen = 0
    def runQuery(): Unit = withSizedStatePartitions(s) { val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val delta = batch
          .withColumn("ts_us", OpsUtil.tsMicros(batch))
          .select(col("user_id"),
            struct(col("ts_us"), col("event_id"), col("event_type"), col("value")).as("st"))
          .groupBy(col("user_id")).agg(max(col("st")).as("st"))
        val merged = Option(cur) match {
          case None => delta
          case Some(p) => s.read.parquet(p).unionByName(delta)
            .groupBy(col("user_id")).agg(max(col("st")).as("st"))
        }
        gen += 1
        val out = snap.resolve(s"gen_$gen").toString
        merged.write.mode("overwrite").parquet(out)
        cur = out
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      q.awaitTermination()
    }
    runQuery()
    // Source staging is finished and superseded generations are dead —
    // reclaim them NOW (deleteOnExit cannot remove non-empty trees, so
    // relying on it leaked a snapshot generation per run). Only the
    // final generation must outlive this call: the returned frame reads
    // it lazily.
    deleteTree(tmp)
    if (cur == null)
      throw new IllegalStateException(
        s"cdcApply: source directory $dir/events.parquet yielded no " +
          "micro-batches — no snapshot generation was materialized")
    (1 until gen).foreach(g => deleteTree(snap.resolve(s"gen_$g")))
    s.read.parquet(cur)
      .select(col("user_id"), col("st.ts_us").as("last_ts_us"),
        col("st.event_type").as("last_event_type"), col("st.value").as("last_value"))
  }

  /** Scratch-root key for a raw path/name: filesystem-safe chars plus a
    * hash of the raw string (distinct inputs that sanitize identically
    * must not share a root) plus the JVM pid — concurrent PROCESSES get
    * isolated roots, while calls within one process recycle theirs
    * (consume-before-next-call contract). One definition so every
    * path-keying site stays in lockstep. */
  private[graft] def scratchKey(raw: String): String =
    raw.replaceAll("[^A-Za-z0-9.]", "_") +
      "_" + Integer.toHexString(raw.hashCode) +
      "_p" + ProcessHandle.current().pid()

  /** Recursive scratch-tree delete (child-first walk; deleteOnExit is a
    * no-op on non-empty directories). */
  private def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
      finally stream.close()
    }
  }

  /** Run an append-mode stream into a PARQUET FILE SINK (checkpointed —
    * the sink's commit log is what makes file output exactly-once under
    * retries: a re-run micro-batch overwrites its own manifest entry
    * instead of double-appending) and return the read-back result. The
    * production landing-zone shape: stateless transforms stream straight
    * to columnar files, downstream batch jobs read the directory. */
  def runToParquet(s: SparkSession, streamed: DataFrame,
      name: String = "default"): DataFrame = {
    import java.nio.file.{Files, Paths}
    // Stable per-name scratch root, recycled run to run (a fresh
    // createTempDirectory per call accumulated sink+checkpoint trees
    // that deleteOnExit can never remove — ADVICE r7). The previous
    // run's tree is torn down before the new query starts so the file
    // sink's commit log never mixes generations. CONTRACT: the frame a
    // call returns reads this path lazily, so it must be consumed
    // before the next same-`name` call — concurrent or interleaved
    // runs need distinct names.
    val root = Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft_stream_sink/${scratchKey(name)}")
    deleteTree(root)
    Files.createDirectories(root)
    withSizedStatePartitions(s) {
      val q = streamed.writeStream
        .format("parquet")
        .option("path", s"$root/data")
        .option("checkpointLocation", s"$root/ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(s"$root/data")
  }

  /** Run a streaming frame to completion (AvailableNow) into a memory
    * sink and return the materialized result: one batch over a bounded
    * source emits the final state exactly once. Complete mode: with a
    * one-shot trigger, append mode would hold every window (or session)
    * open behind the watermark and emit nothing, and Spark 4
    * session-window aggregation does not allow update mode. */
  def runToMemory(s: SparkSession, streamed: DataFrame, name: String): DataFrame = {
    withSizedStatePartitions(s) {
      val q = streamed.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
  }
}
