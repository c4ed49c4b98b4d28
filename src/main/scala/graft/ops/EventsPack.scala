package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Event-log pack over `events` — the reference's append-only activity
  * log (S13) grown into the event-time operators a production pipeline
  * needs: tumbling-window aggregation, gap-based sessionization (the SQL
  * islands form of session_window), JSON property flattening (S7's
  * nested-JSON projection on a column), and per-user top-k.
  *
  * `ts` lands in whatever parquet timestamp encoding the fixture uses
  * (currently TIMESTAMP(MICROS) naive → timestamp_ntz; formerly
  * TIMESTAMP(NANOS) read as long) — OpsUtil.tsMicros normalizes it to
  * exact integer epoch-micros, so all window arithmetic is integer and
  * both engines agree exactly. StreamingPack runs the same window
  * aggregation as a Structured Streaming query and must produce
  * identical results.
  */
object EventsPack {
  type Q = (SparkSession, String) => DataFrame

  /** 6-hour tumbling window, in micros, aligned to the epoch. */
  val WindowUs: Long = 6L * 3600 * 1000000
  /** Session gap: 30 minutes (micros). */
  val GapUs: Long = 30L * 60 * 1000000
  /** Funnel conversion window: 30 minutes (micros). */
  val FunnelUs: Long = 30L * 60 * 1000000
  /** Range-join interval: 6 hours (micros) — shared by the batch banded
    * form and the stream-stream interval join. */
  val RangeJoinUs: Long = 6L * 3600 * 1000000
  /** Retention-cohort bucket: one week (micros), epoch-aligned. */
  val WeekUs: Long = 7L * 24 * 3600 * 1000000
  /** Time-decay constant τ: one day (micros). */
  val DecayTauUs: Long = 24L * 3600 * 1000000

  /** events with an integer-micros event-time column. */
  def withMicros(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    e.withColumn("ts_us", OpsUtil.tsMicros(e))
  }

  val queries: Map[String, Q] = Map(
    // Tumbling-window counts per event type (the batch twin of
    // stream_window_counts — StreamingSpec asserts equality). Not
    // api.Events.windowCounts: this adds the exact sum of `value`.
    "events_window_counts" -> ((s, d) => {
      withMicros(s, d)
        .groupBy((expr(s"ts_us div $WindowUs") * WindowUs).as("window_start_us"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), OpsUtil.dsum(col("value")).as("total_value"))
        .orderBy(col("window_start_us"), col("event_type"))
    }),

    // Gap-based sessionization (islands): a session breaks when the gap
    // to the previous event of the same user exceeds 30 min. Summary per
    // user: sessions, events, longest session (exact integer micros).
    "events_sessionize" -> ((s, d) => {
      graft.api.Events.sessionize(withMicros(s, d),
          user = col("user_id"), tsUs = col("ts_us"), gapUs = GapUs)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("dur_us")).as("max_session_us"))
        .orderBy(col("user_id"))
    }),

    // JSON property extraction (S7 nested projection on a string column).
    "events_json_props" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // AS-OF enrichment: every click event carries the user's most recent
    // purchase value at-or-before the click (point-in-time feature
    // semantics — no future leakage). The naive l.ts >= r.ts range join
    // is a nested-loop product; api.Events.asofJoin is one union + one
    // per-user window — the shape that survives corpus scale. The DuckDB
    // twin is an INDEPENDENT formulation (native ASOF LEFT JOIN), so the
    // hash match cross-validates the window re-expression.
    "events_asof_value" -> ((s, d) => {
      val e = withMicros(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("value"))
      graft.api.Events.asofJoin(clicks, purchases,
          "user_id", "ts_us", "value", outCol = "last_purchase_value")
        .orderBy(col("event_id")).limit(2000)
    }),

    // Funnel conversion: per user, how many purchases had a view
    // at-or-before them within 30 minutes (A-then-B-within-T sequence
    // detection — same single-window shape, no self-join over the log).
    "events_funnel" -> ((s, d) => {
      graft.api.Events.funnel(withMicros(s, d), col("user_id"), col("ts_us"),
          col("event_type"), stepA = "view", stepB = "purchase", FunnelUs)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("converted")).cast("long").as("n_converted"))
        .orderBy(col("user_id"))
    }),

    // BATCH temporal range join, BANDED: purchases within 6 h after each
    // click of the same user. The naive `pus BETWEEN cus AND cus+I`
    // inequality join is a nested-loop product; here each click is
    // exploded into its two interval-width time buckets (a match at
    // distance ≤ I lies in bucket(cus) or bucket(cus)+1 — pigeonhole),
    // candidates come from the (user, bucket) EQUI-join, and the exact
    // range predicate decides. Candidate volume is bounded by per-bucket
    // co-activity, never |clicks|×|purchases|; a pair can match only one
    // of the two exploded bucket rows, so no dedup pass is needed.
    // Same answer as the watermarked stream-stream form
    // (stream_interval_join) — both share the DuckDB range-join oracle.
    "events_range_join" -> ((s, d) => {
      val I = RangeJoinUs
      val e = withMicros(s, d)
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("cus"))
        .withColumn("pb", explode(array(
          expr(s"cus div $I"), expr(s"cus div $I") + 1)))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("pus"), col("value"))
        .withColumn("pb", expr(s"pus div $I"))
      c.join(p, Seq("user_id", "pb"))
        .filter(col("pus") >= col("cus") && col("pus") <= col("cus") + I)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          OpsUtil.dsum(col("value")).as("total_value"))
        .orderBy(col("user_id"))
    }),

    // SCD Type-2 from a change log: collapse each user's consecutive
    // runs of the same event_type into validity intervals
    // (valid_from, valid_to, is_current) — the islands pattern that
    // turns an append-only log into a temporally-versioned dimension
    // (the warehouse MERGE's batch equivalent). Two per-user windows
    // (lag → change flag → cumulative run id) and one aggregation; all
    // windows partition by user_id, so the work distributes with the
    // user key and no global sort exists. Ordering is total (ts, then
    // event_id) so run boundaries are deterministic on both engines.
    "events_scd2_ranges" -> ((s, d) => {
      graft.api.Events.scd2Ranges(
          withMicros(s, d)
            .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type")),
          key = col("user_id"), tsUs = col("ts_us"), ord = col("event_id"),
          state = col("event_type"))
        .select(col("key").as("user_id"), col("state").as("event_type"),
          col("valid_from"), col("valid_to"), col("n_events"),
          col("is_current"), col("run"))
        .orderBy(col("user_id"), col("run"))
        .drop("run")
        .limit(5000)
    }),

    // Cohort retention: users bucketed by first-seen week, activity
    // counted per week offset — the engagement matrix every activity
    // log gets asked for. Distinct (user, week) one pass, per-user min
    // for the cohort, then one equi-join back on user_id: all three
    // stages share the user-key partitioning, so at corpus scale only
    // the first distinct shuffles the log.
    "events_retention_cohorts" -> ((s, d) => {
      val uw = withMicros(s, d)
        .select(col("user_id"), expr(s"ts_us div $WeekUs").as("wk"))
        .distinct()
      val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
      uw.join(cohort, "user_id")
        .groupBy(col("cw").as("cohort_week"), (col("wk") - col("cw")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Exponential time-decay engagement score — the recency-weighted
    // activity feature (each event contributes e^(−Δt/τ) against the
    // corpus horizon, τ = 1 day): one broadcast scalar (the horizon) and
    // one map-side-combined aggregation per user; the weights sum
    // through exact decimals so the score is order-independent.
    "events_decay_score" -> ((s, d) => {
      val e = withMicros(s, d)
      val mx = e.agg(max(col("ts_us")).as("mx"))
      e.crossJoin(broadcast(mx))
        .select(col("user_id"),
          exp((col("ts_us") - col("mx")).cast("double") / DecayTauUs).as("wgt"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(OpsUtil.rsum(col("wgt")), 6)
            .as("decay_score"))
        .orderBy(col("user_id"))
    }),

    // Inter-arrival gap profile — the activity-cadence statistic behind
    // session-gap and decay-constant tuning: per-user lag() gaps (one
    // partitioned window, integer micros), then a global summary with
    // exact interpolated percentiles. The window partitions by user_id,
    // so no single-partition sort at any scale; the summary reduce is a
    // one-row aggregate.
    "events_gap_stats" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      withMicros(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .agg(count(lit(1)).as("n_gaps"),
          round(OpsUtil.davg(col("gap")), 6).as("mean_gap_us"),
          round(expr("percentile(gap, 0.5)"), 6).as("p50_us"),
          round(expr("percentile(gap, 0.9)"), 6).as("p90_us"),
          max(col("gap")).as("max_gap_us"))
    }),

    // First-order Markov transition matrix over the event-type sequence —
    // the "what happens next" model product analytics fits on every
    // activity log. One per-user lead() window (total order ts, event_id)
    // emits (from, to) adjacent pairs; the transition domain is
    // |event_types|² (≤ 25 cells here), so the count aggregation and the
    // per-from normalization join are both map-side-combinable and the
    // final frame is broadcast-sized at any corpus scale.
    "events_markov_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val tr = withMicros(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
      tr.join(broadcast(tot), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("tot"), 6).as("prob"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // Session path signatures — the top entry-path analysis ("which
    // 3-step journeys start sessions"): the same per-user islands
    // sessionization as events_sessionize, then the FIRST three event
    // types of each session concatenated into a path key. All windows
    // partition by user (then by (user, session)); the path-frequency
    // aggregation lands on a tiny key domain, top-k via
    // TakeOrderedAndProject.
    "events_session_paths" -> ((s, d) => {
      val wu = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val e = withMicros(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("prev", lag(col("ts_us"), 1).over(wu))
        .withColumn("brk",
          when(col("prev").isNull || col("ts_us") - col("prev") > GapUs, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("brk")).over(
          wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val ws = Window.partitionBy(col("user_id"), col("sid"))
        .orderBy(col("ts_us"), col("event_id"))
      e.withColumn("rn", row_number().over(ws))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"), col("sid"))
        .agg(max(when(col("rn") === 1, col("event_type"))).as("e1"),
          max(when(col("rn") === 2, col("event_type"))).as("e2"),
          max(when(col("rn") === 3, col("event_type"))).as("e3"))
        .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path").asc)
        .limit(20)
    }),

    // Three-step funnel (view → click → purchase, each hop within 30
    // min of the previous qualifying step): the generalized
    // api.Events.funnelChain fold — two per-user windows, no self-join
    // over the log. Per-user conversion rollup.
    "events_funnel_steps" -> ((s, d) => {
      graft.api.Events.funnelChain(withMicros(s, d), col("user_id"),
          col("ts_us"), col("event_type"),
          steps = Seq("view", "click", "purchase"), FunnelUs)
        .groupBy(col("key").as("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("converted")).cast("long").as("n_converted3"))
        .orderBy(col("user_id"))
    }),

    // Weekly-active / monthly-active users + stickiness (WAU/MAU) — the
    // engagement health metric every activity log reports. Both distinct
    // counts come from ONE pass over the per-(user, week) distinct frame
    // (weeks roll up into the containing 4-week "month"), so the log is
    // shuffled once on user-time keys; the ratio is one rounded division
    // over broadcast-sized week rows.
    "events_wau_mau" -> ((s, d) => {
      val uw = withMicros(s, d)
        .select(col("user_id"), expr(s"ts_us div $WeekUs").as("wk"))
        .distinct()
      val wau = uw.groupBy(col("wk")).agg(countDistinct(col("user_id")).as("wau"))
      val mau = uw.select(col("user_id"), expr("wk div 4").as("mo")).distinct()
        .groupBy(col("mo")).agg(countDistinct(col("user_id")).as("mau"))
      wau.withColumn("mo", expr("wk div 4"))
        .join(broadcast(mau), "mo")
        .select(col("wk"), col("wau"), col("mau"),
          round(col("wau").cast("double") / col("mau"), 6).as("stickiness"))
        .orderBy(col("wk"))
    }),

    // Growth accounting — per week: new / retained / resurrected active
    // users plus churned-from-last-week (the four quantities every
    // weekly growth report decomposes WAU into). One distinct
    // (user, week) pass, one per-user lag() window to classify each
    // active week, and a self-join shifted by one week for churn; all
    // keyed work shares the user partitioning, and the final frame is
    // calendar-sized.
    "events_user_lifecycle" -> ((s, d) => {
      val uw = withMicros(s, d)
        .select(col("user_id"), expr(s"ts_us div $WeekUs").as("wk"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
      val cls = uw.withColumn("prev", lag(col("wk"), 1).over(w))
        .select(col("user_id"), col("wk"),
          when(col("prev").isNull, "new")
            .when(col("wk") - col("prev") === 1, "retained")
            .otherwise("resurrected").as("status"))
      val active = cls.groupBy(col("wk"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("status") === "new", 1).otherwise(0)).cast("long").as("n_new"),
          sum(when(col("status") === "retained", 1).otherwise(0)).cast("long").as("n_retained"),
          sum(when(col("status") === "resurrected", 1).otherwise(0)).cast("long")
            .as("n_resurrected"))
      // Churned at week w: active at w−1 but not at w (weeks with no
      // active users at all don't appear — calendar gaps are empty in
      // the fixture and the metric is per-observed-week).
      val churn = uw.select(col("user_id").as("u"), (col("wk") + 1).as("wk"))
        .join(uw.select(col("user_id").as("u"), col("wk")), Seq("u", "wk"), "left_anti")
        .groupBy(col("wk")).agg(count(lit(1)).as("n_churned"))
      active.join(churn, Seq("wk"), "left")
        .select(col("wk"), col("n_active"), col("n_new"), col("n_retained"),
          col("n_resurrected"), coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy(col("wk"))
    }),

    // Per-user event-type top-k (W3 shape on the activity log).
    "events_top_users" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("n_events").desc, col("user_id").asc)
        .limit(25)
    })
  )

  val oracle: Map[String, String] = Map(
    "events_window_counts" ->
      s"""SELECT (epoch_ns(ts) // 1000 // $WindowUs) * $WindowUs AS window_start_us,
         |  event_type, COUNT(*) AS n,
         |  ${OpsUtil.dsumSql("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin,

    "events_sessionize" ->
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
         |l AS (SELECT user_id, ts_us,
         |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev
         |  FROM e),
         |b AS (SELECT user_id, ts_us,
         |    CASE WHEN prev IS NULL OR ts_us - prev > $GapUs THEN 1 ELSE 0 END AS brk
         |  FROM l),
         |sid AS (SELECT user_id, ts_us,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM b),
         |per AS (SELECT user_id, sid, COUNT(*) AS n_events,
         |    MAX(ts_us) - MIN(ts_us) AS dur_us
         |  FROM sid GROUP BY user_id, sid)
         |SELECT user_id, COUNT(*) AS n_sessions,
         |  CAST(SUM(n_events) AS BIGINT) AS n_events,
         |  MAX(dur_us) AS max_session_us
         |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_json_props" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_gap_stats" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us
         |  FROM events),
         |g AS (SELECT ts_us - lag(ts_us) OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id) AS gap FROM e)
         |SELECT COUNT(*) AS n_gaps,
         |  round(${OpsUtil.davgSql("gap")}, 6) AS mean_gap_us,
         |  round(quantile_cont(gap, 0.5), 6) AS p50_us,
         |  round(quantile_cont(gap, 0.9), 6) AS p90_us,
         |  MAX(gap) AS max_gap_us
         |FROM g WHERE gap IS NOT NULL""".stripMargin,

    "events_top_users" ->
      """SELECT user_id, COUNT(*) AS n_events FROM events
        |GROUP BY user_id ORDER BY n_events DESC, user_id ASC LIMIT 25""".stripMargin,

    "events_markov_transitions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
        |    event_type FROM events),
        |p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS to_type
        |  FROM e),
        |tr AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM tr GROUP BY 1)
        |SELECT tr.from_type, tr.to_type, tr.n,
        |  round(CAST(tr.n AS DOUBLE) / tot.tot, 6) AS prob
        |FROM tr JOIN tot ON tr.from_type = tot.from_type
        |ORDER BY tr.from_type, tr.to_type""".stripMargin,

    "events_session_paths" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
         |    event_type FROM events),
         |l AS (SELECT user_id, event_id, ts_us, event_type,
         |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
         |  FROM e),
         |b AS (SELECT user_id, event_id, ts_us, event_type,
         |    CASE WHEN prev IS NULL OR ts_us - prev > $GapUs THEN 1 ELSE 0 END AS brk
         |  FROM l),
         |sid AS (SELECT user_id, event_id, ts_us, event_type,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM b),
         |rn AS (SELECT user_id, sid, event_type,
         |    row_number() OVER (PARTITION BY user_id, sid
         |      ORDER BY ts_us, event_id) AS rn
         |  FROM sid),
         |paths AS (SELECT user_id, sid,
         |    concat_ws('>',
         |      MAX(CASE WHEN rn = 1 THEN event_type END),
         |      MAX(CASE WHEN rn = 2 THEN event_type END),
         |      MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
         |  FROM rn WHERE rn <= 3 GROUP BY user_id, sid)
         |SELECT path, COUNT(*) AS n_sessions FROM paths
         |GROUP BY path ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin,

    "events_user_lifecycle" ->
      s"""WITH uw AS (SELECT DISTINCT user_id, epoch_ns(ts) // 1000 // $WeekUs AS wk
         |  FROM events),
         |cls AS (SELECT user_id, wk,
         |    CASE WHEN lag(wk) OVER (PARTITION BY user_id ORDER BY wk) IS NULL
         |        THEN 'new'
         |      WHEN wk - lag(wk) OVER (PARTITION BY user_id ORDER BY wk) = 1
         |        THEN 'retained'
         |      ELSE 'resurrected' END AS status
         |  FROM uw),
         |act AS (SELECT wk, COUNT(*) AS n_active,
         |    CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_new,
         |    CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_retained,
         |    CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_resurrected
         |  FROM cls GROUP BY wk),
         |ch AS (SELECT a.wk + 1 AS wk, COUNT(*) AS n_churned FROM uw a
         |  WHERE NOT EXISTS (SELECT 1 FROM uw b
         |    WHERE b.user_id = a.user_id AND b.wk = a.wk + 1)
         |  GROUP BY a.wk + 1)
         |SELECT act.wk, n_active, n_new, n_retained, n_resurrected,
         |  COALESCE(ch.n_churned, 0) AS n_churned
         |FROM act LEFT JOIN ch ON ch.wk = act.wk
         |ORDER BY act.wk""".stripMargin,

    "events_funnel_steps" ->
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
         |  FROM events),
         |s0 AS (SELECT user_id, ts_us, event_type,
         |    CASE WHEN event_type = 'view' THEN ts_us END AS q0 FROM e),
         |l0 AS (SELECT *, last_value(q0 IGNORE NULLS) OVER (
         |    PARTITION BY user_id ORDER BY ts_us ASC,
         |      CAST(q0 IS NOT NULL AS INT) DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv FROM s0),
         |s1 AS (SELECT user_id, ts_us, event_type,
         |    CASE WHEN event_type = 'click' AND lv IS NOT NULL
         |      AND ts_us - lv <= $FunnelUs THEN ts_us END AS q1 FROM l0),
         |l1 AS (SELECT *, last_value(q1 IGNORE NULLS) OVER (
         |    PARTITION BY user_id ORDER BY ts_us ASC,
         |      CAST(q1 IS NOT NULL AS INT) DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc FROM s1)
         |SELECT user_id, COUNT(*) AS n_purchases,
         |  CAST(SUM(CASE WHEN lc IS NOT NULL AND ts_us - lc <= $FunnelUs
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted3
         |FROM l1 WHERE event_type = 'purchase'
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_wau_mau" ->
      s"""WITH uw AS (SELECT DISTINCT user_id, epoch_ns(ts) // 1000 // $WeekUs AS wk
         |  FROM events),
         |wau AS (SELECT wk, COUNT(DISTINCT user_id) AS wau FROM uw GROUP BY wk),
         |mau AS (SELECT wk // 4 AS mo, COUNT(DISTINCT user_id) AS mau
         |  FROM uw GROUP BY 1)
         |SELECT wk, wau, mau,
         |  round(CAST(wau AS DOUBLE) / mau, 6) AS stickiness
         |FROM wau JOIN mau ON wau.wk // 4 = mau.mo
         |ORDER BY wk""".stripMargin,

    "events_scd2_ranges" ->
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
        |  FROM r GROUP BY user_id, run, event_type)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run)
        |    AS valid_to,
        |  n_events,
        |  CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run)
        |    IS NULL AS INT) AS is_current
        |FROM runs ORDER BY user_id, run LIMIT 5000""".stripMargin,

    "events_decay_score" ->
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
         |m AS (SELECT MAX(ts_us) AS mx FROM e)
         |SELECT user_id, COUNT(*) AS n_events,
         |  round(CAST(SUM(CAST(exp((ts_us - mx) / $DecayTauUs.0) AS DECIMAL(28,15)))
         |    AS DOUBLE), 6) AS decay_score
         |FROM e, m GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_retention_cohorts" ->
      s"""WITH uw AS (SELECT DISTINCT user_id, epoch_ns(ts) // 1000 // $WeekUs AS wk
         |  FROM events),
         |c AS (SELECT user_id, MIN(wk) AS cw FROM uw GROUP BY user_id)
         |SELECT c.cw AS cohort_week, uw.wk - c.cw AS week_offset,
         |  COUNT(DISTINCT uw.user_id) AS n_active
         |FROM uw JOIN c ON uw.user_id = c.user_id
         |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,

    // Independent formulation: DuckDB's native ASOF join vs the Spark
    // union+window re-expression — the hash match proves the last-value
    // window carries exactly "most recent right row with ts <= left ts".
    "events_asof_value" ->
      """WITH l AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, value
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, MAX(value) AS lpv
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts_us, l.value,
        |  r.lpv AS last_purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
        |ORDER BY l.event_id LIMIT 2000""".stripMargin,

    // The band-join must equal the plain range join exactly.
    "events_range_join" ->
      s"""WITH c AS (SELECT user_id, epoch_ns(ts) // 1000 AS cus FROM events
         |  WHERE event_type = 'click'),
         |p AS (SELECT user_id, epoch_ns(ts) // 1000 AS pus, value FROM events
         |  WHERE event_type = 'purchase')
         |SELECT c.user_id, COUNT(*) AS n_pairs,
         |  ${OpsUtil.dsumSql("value")} AS total_value
         |FROM c JOIN p ON c.user_id = p.user_id
         |  AND p.pus >= c.cus AND p.pus <= c.cus + $RangeJoinUs
         |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    "events_funnel" ->
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
         |  FROM events),
         |m AS (SELECT user_id, ts_us, event_type,
         |    last_value(CASE WHEN event_type = 'view' THEN ts_us END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts_us ASC,
         |          (CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) DESC
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lastA
         |  FROM e)
         |SELECT user_id, COUNT(*) AS n_purchases,
         |  CAST(SUM(CASE WHEN lastA IS NOT NULL AND ts_us - lastA <= $FunnelUs
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
         |FROM m WHERE event_type = 'purchase'
         |GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
