package graft.graph

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, Decimal, DoubleType, IntegerType,
  LongType, ShortType, StructField, StructType}

/** DataFrame-native synchronous graph algorithms (fixed-round BSP).
  *
  * Each round is a join of the state into the edge list plus an
  * aggregation on the vertex key — the pattern that scales to 1000
  * executors: every round reuses the same materialized edge list, and no
  * data ever reaches the driver. Rank sums go through exact decimals so
  * results are shuffle-order-independent (see graft.ops.OpsUtil).
  * Semantics match graft.graph.GraphAlgs (GraphX/Pregel) round for
  * round; GraphSpec asserts agreement on micro-graphs.
  *
  * The loops share one skeleton:
  *
  *  - [[mat]] materializes the edge list a loop re-scans — once, and
  *    only when it is not in memory already: an input that is only
  *    narrow projections / filters / coalesces over a persisted,
  *    DFCache or checkpointed frame ([[inMemory]]) is used IN PLACE, so
  *    a serving session's cached edge list is never copied per call.
  *  - [[bspRounds]] drives the eager loops (the relaxation family, PPR,
  *    k-core). Each round's state is materialized by [[matObserved]]:
  *    LOCAL-CHECKPOINTED, so its logical lineage is truncated to an RDD
  *    scan. persist() alone is not enough — every downstream action
  *    still re-ANALYZES the full k-round join tree on the driver
  *    (measured ~35 s of pure planning for a fully-cached 6-round BFS at
  *    sf0.1; execution was milliseconds). The checkpoint job also posts
  *    the state's row count, which picks the next round's broadcast
  *    path, and the fixed-point flag that ends the loop early.
  *  - [[relaxRounds]] adds the frontier join of the relaxation family
  *    (SSSP, predecessors, multi-source SSSP, components, LPA): state
  *    broadcast into the edge join when it is small, the shuffle join
  *    otherwise, hub keys salted when a hub exceeds the budget
  *    ([[SaltTargetDegConf]]). Each algorithm supplies its initial state,
  *    its aggregation and its `__chg` update — nothing else.
  *  - Single- and multi-source shortest paths share one SPARSE body
  *    ([[relaxReached]]): the state holds only reached (keys…, id) rows,
  *    never a |V|-row frame, and each round is ONE shuffle — state rows
  *    and frontier candidates meet in a single union-aggregate instead
  *    of an aggregate joined back to the state. PPR's state is sparse
  *    the same way (nonzero-mass rows only) and its round is one
  *    aggregation over messages ∪ restart rows.
  *  - The PageRank family shares one contribution fill ([[contribPlan]])
  *    and the global ranks one lazy rank recurrence ([[rankRounds]]),
  *    both keyed by `src`/`id` or `(rel, src)`/`(rel, id)`.
  *
  * The serving-time calls, [[shortestPaths]] and [[personalizedPageRank]],
  * have a second configuration of the same rounds: the ONE-TASK path
  * ([[oneTask]]). When the edge list, once per source (per seed-row
  * estimate for PPR), fits `spark.sql.autoBroadcastJoinThreshold` — the
  * rule Spark itself uses to ship a relation whole — outside plan-only
  * mode and with integral ids, the edge list (and the seeds) move into one
  * partition and a single `mapPartitions` task runs every round over a
  * dense vertex index and a CSR adjacency: one Spark job per request
  * instead of one checkpoint job per round. The result is a lazy frame
  * with the BSP result's rows, bits and schema (GraphSpec runs every value
  * case on both paths); above the threshold, under plan-only and with
  * `spark.sql.autoBroadcastJoinThreshold=-1` the BSP loop runs.
  * No data reaches the driver on either path: the task runs on an
  * executor.
  *
  * localCheckpoint is executor-local (fine on local[*] and for
  * driver-session lifetimes); [[ReliableCheckpointConf]] switches to
  * reliable checkpoint() for jobs that must survive executor loss.
  */
object DFGraphAlgs {

  /** The exact type rank sums fold in. */
  private val Dec = "decimal(28,15)"

  private def rsum(c: Column): Column = sum(c.cast(Dec)).cast("double")

  /** Conf key opting BSP rounds into RELIABLE checkpoints: set it to
    * "true" AND set a sparkContext checkpoint dir on a fault-tolerant
    * store. Default (unset) uses localCheckpoint — executor-local blocks,
    * right for local[*] and driver-session lifetimes, but lost with an
    * executor; a long-lived cluster job that must survive executor loss
    * wants the reliable form. */
  val ReliableCheckpointConf = "spark.graft.reliableCheckpoint"

  /** Conf key: when "true", the BSP loops build their UNTRUNCATED lazy
    * plan — [[mat]] becomes the identity (no checkpoint jobs) and the
    * sizing actions behind the broadcast decisions are skipped (rounds
    * take the shuffle-join path). This exists for PLAN INSPECTION
    * (PlanSpec's bounded-window sweep — checkpointing otherwise truncates
    * the inspectable plan to a LogicalRDD scan): loops also clamp to ≤ 2
    * rounds under it, because every round is the same operator shape and
    * the un-truncated k-round tree doubles per round (state feeds the
    * next round twice), so analyzing the full-depth plan is exponential
    * for zero extra coverage. Never EXECUTE under this flag. */
  val PlanOnlyConf = "spark.graft.bsp.planOnly"

  private def planOnly(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(PlanOnlyConf).contains("true")

  /** Loop rounds to actually build: full `iters` normally, 2 under
    * plan-only (identical per-round shape; see [[PlanOnlyConf]]). */
  private def rounds(df: DataFrame, iters: Int): Int =
    if (planOnly(df)) math.min(iters, 2) else iters

  /** Target bytes per partition of checkpointed/cached frames the rounds
    * re-scan, measured at the sf0.1/sf1 checkpoints: per-task fixed
    * overhead (launch, codegen init, block fetch, shuffle-write setup) is
    * ~100-200 ms in the BSP level joins, so a cached partition under a
    * few MB is mostly overhead; above it the per-row join work dominates.
    * 4 MB keeps a 30 MB sf0.1 edge checkpoint at 8 scan tasks (vs 64
    * inherited from the union lineage) and a 300 MB sf1 one at ~75. */
  private val MatTargetBytes: Long = 4L << 20

  /** Minimum bytes per partition under the parallelism floor of
    * [[sizedParts]]: a 64 KB partition is per-task overhead even on a
    * loaded host, so the floor never resurrects the kilobyte-block waves
    * the byte sizing removed. */
  private val MatMinBytes: Long = 64L << 10

  /** Partition count for `bytes` of checkpointed/cached data scanned by
    * downstream stages: ceil(bytes / [[MatTargetBytes]]) for throughput,
    * FLOORED at min(cores, ceil(bytes / [[MatMinBytes]])) so a frame big
    * enough to carry real per-row work still spreads across the machine.
    * The floor fixes a measured regression of the pure bytes/target rule
    * (r13): BSP relaxation joins BROADCAST the small state, so the whole
    * round's compute fuses into the checkpoint's scan stage — an 11 MB
    * sf0.1 edge checkpoint coalesced to 3-5 partitions ran its rounds at
    * 3-5-way parallelism on 32 cores (graph_betweenness terms join: 1.8 s
    * wall for 7.6 s of task time on 5 tasks). With the floor the same
    * frame keeps 32 × ≥64 KB partitions; a truly tiny frame still
    * coalesces to a handful of tasks, and big frames are untouched. */
  private def sizedParts(s: org.apache.spark.sql.SparkSession,
      bytes: BigInt, n: Int): Int = {
    if (bytes <= 0) return n
    val byThroughput = (bytes + MatTargetBytes - 1) / MatTargetBytes
    val floor = BigInt(s.sparkContext.defaultParallelism)
      .min((bytes + MatMinBytes - 1) / MatMinBytes)
    byThroughput.max(floor).min(BigInt(n)).max(BigInt(1)).toInt
  }

  /** SIZE-DERIVED partition count for a just-materialized checkpoint
    * (guide §2.2 "fewer, larger partitions" applied to BSP state): a
    * localCheckpoint pins the partitioning its lineage happened to have
    * — a union of two 32-partition cache scans yields 64 partitions
    * regardless of bytes, and every per-round scan of it then pays 64
    * task launches for kilobyte-sized blocks (measured: ~10 × 64 tiny
    * tasks ≈ 100 s of pure task overhead in one sf0.1 betweenness run).
    * The materialized RDD's cached size is already known to the block
    * manager (driver metadata — no job), so coalesce to [[sizedParts]]:
    * big frames keep their parallelism, tiny ones stop paying per-task
    * overhead. coalesce() is NARROW (no shuffle, deterministic grouping)
    * and aggregation results are order-independent (exact decimal sums /
    * min-merges), so outputs are bit-identical. Reliable checkpoints
    * (cluster durability path) are not block-manager-cached and pass
    * through untouched. */
  private def sizedCoalesce(cp: DataFrame): DataFrame = {
    val s = cp.sparkSession
    cp.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val info = s.sparkContext.getRDDStorageInfo.find(_.id == lr.rdd.id)
        info match {
          case Some(i) if i.numCachedPartitions > 0 =>
            val bytes = i.memSize + i.diskSize
            val n = lr.rdd.getNumPartitions
            val k = sizedParts(s, BigInt(bytes), n)
            if (k < n) cp.coalesce(k) else cp
          case _ => cp
        }
      case _ => cp
    }
  }

  /** [[mat]] for callers outside the BSP loops (GraphPack's HITS
    * rounds): eager localCheckpoint + [[sizedCoalesce]]. */
  private[graft] def sizedCheckpoint(df: DataFrame): DataFrame =
    sizedCoalesce(df.localCheckpoint(true))

  /** Size-coalesced SCAN VIEW of a persisted cache that downstream code
    * re-scans many times (the walk corpora probe the full neighbor
    * index once per step): materialize the cache (one count — these
    * frames are warmed anyway), read the materialized size from the
    * InMemoryRelation stats (driver metadata), and coalesce the scan to
    * [[sizedParts]] partitions. The cache itself is untouched (stats,
    * storage, consumers elsewhere); only this view's scans launch fewer
    * tasks. coalesce is narrow and deterministic — values identical. */
  private[graft] def sizedScanView(df: DataFrame): DataFrame = {
    df.count()
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = df.rdd.getNumPartitions
    val kc = sizedParts(df.sparkSession, bytes, n)
    if (kc < n) df.coalesce(kc) else df
  }

  /** Whether `df` already reads materialized data: its plan, with cached
    * data substituted, is only deterministic Project / Filter /
    * non-shuffle Repartition nodes over InMemoryRelation (a persisted or
    * DFCache frame) or checkpointed LogicalRDD leaves (a LogicalRDD over
    * an RDD that is neither checkpointed nor persisted is a lineage, not
    * data). Re-scanning such a frame costs a narrow pass over blocks
    * already held, so [[mat]] uses it in place instead of checkpointing
    * a copy of it. */
  private def inMemory(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def narrow(p: LogicalPlan): Boolean = p match {
      case _: InMemoryRelation => true
      case r: LogicalRDD =>
        r.rdd.isCheckpointed || r.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case Project(list, child) => list.forall(_.deterministic) && narrow(child)
      case Filter(cond, child) => cond.deterministic && narrow(child)
      case Repartition(_, false, child) => narrow(child)
      case _ => false
    }
    narrow(df.queryExecution.withCachedData)
  }

  /** Materialize a frame and truncate its logical lineage —
    * localCheckpoint by default, reliable checkpoint() when
    * [[ReliableCheckpointConf]] is set and a checkpoint dir exists;
    * identity under [[PlanOnlyConf]] and for a frame that is already
    * [[inMemory]] (a cached edge list is never copied per call). Local
    * checkpoints are then [[sizedCoalesce]]d so per-round scans don't
    * pay task overhead proportional to the lineage's partition count. */
  private def mat(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    if (planOnly(df) || inMemory(df)) df
    else {
      val reliable = s.conf.getOption(ReliableCheckpointConf).contains("true") &&
        s.sparkContext.getCheckpointDir.isDefined
      if (reliable) df.checkpoint(true) else sizedCoalesce(df.localCheckpoint(true))
    }
  }

  /** Field `field` of the named observed-metric row `name` posted by the
    * action that executed `df`, as a Number — read listener-free from the
    * executed plan (QueryExecution.observedMetrics, public API). None when
    * no row was posted (the frame never ran) or the aggregate is null
    * (empty input); the caller picks the fallback.
    *
    * Producers use the NAMED observe, never the Observation helper:
    * Observation() touches the session's ObservationManager, a
    * non-Serializable lazy field of classic.SparkSession — once
    * instantiated, ANY later closure that (transitively) captures the
    * session fails task serialization (ml_train_eval's predict UDF
    * captures a model whose training summary holds the session).
    * GraphSpec pins the session's serializability after a BSP loop. */
  private[graft] def observedNum(df: DataFrame, name: String,
      field: String): Option[Number] =
    df.queryExecution.observedMetrics.get(name)
      .flatMap(r => Option(r.getAs[Number](field)))

  /** [[mat]] that collects, in the checkpoint job the round already pays
    * (CollectMetrics is a pass-through plan node and localCheckpoint /
    * checkpoint run under withAction), the state's row count and — when
    * `df` carries a fixed-point loop's boolean `__chg` column — whether
    * any row changed. Returns the checkpointed frame without the flag,
    * the flag (None without a `__chg` column) and the count. A metric
    * that was not posted reads as count −1 and "changed": a missing read
    * costs the broadcast path and the early exit, never a result. Under
    * plan-only: the identity, "changed", −1. */
  private def matObserved(df: DataFrame): (DataFrame, Option[Boolean], Long) = {
    val flagged = df.columns.contains("__chg")
    val (cp, n, chg) =
      if (planOnly(df)) (df, -1L, None)
      else {
        val flag = if (flagged) Seq(max(col("__chg").cast("int")).as("chg")) else Nil
        val observed = df.observe("__graft_bsp", count(lit(1)).as("n"), flag: _*)
        val cp = mat(observed)
        def read(field: String) = observedNum(observed, "__graft_bsp", field)
        (cp, read("n").map(_.longValue).getOrElse(-1L), if (flagged) read("chg") else None)
      }
    if (!flagged) (cp, None, n)
    else (cp.drop("__chg"), Some(chg.map(_.intValue == 1).getOrElse(n != 0)), n)
  }

  /** Rounds the last [[bspRounds]] loop on this JVM actually executed —
    * test-only telemetry (GraphSpec pins that a converged loop stops
    * early AND returns the full-iters result); never read by query
    * code. */
  private[graft] val lastRoundsRun = new java.util.concurrent.atomic.AtomicInteger(0)

  /** THE round driver. Materializes `init`, then runs up to `iters`
    * rounds (2 under plan-only) — see [[roundsFrom]]. Returns the final
    * state and its last posted row count (−1 when none was posted). */
  private def bspRounds(init: DataFrame, iters: Int,
      sameSizeIsFixedPoint: Boolean = false)(
      round: (DataFrame, Boolean) => DataFrame): (DataFrame, Long) = {
    val (st, _, n) = matObserved(init)
    roundsFrom(st, n, iters, sameSizeIsFixedPoint)(round)
  }

  /** The rounds of [[bspRounds]] from an already materialized state `st`
    * of `n` rows (a caller that derives more than the loop from its
    * initial state materializes it once, via [[matObserved]]):
    * `round(state, small)` builds the next state, `small` saying whether
    * the current state's row count is within the broadcast limit, and
    * [[matObserved]] materializes it. The
    * count comes back from each checkpoint and is carried to the next
    * round only when it was posted, so a missing read keeps the last
    * known size; growing states (multi-source SSSP, PPR) thereby re-check
    * broadcast every round without a count() job.
    *
    * FIXED-POINT EARLY EXIT: every loop computes state_{k+1} = f(state_k)
    * with f deterministic and independent of the round index, so
    * state_{k+1} = state_k makes every later round the identity and the
    * returned frame equals the full-`iters` run EXACTLY (the oracle
    * unrolls all rounds). The loop stops when the round's `__chg` flag
    * says no row changed or — `sameSizeIsFixedPoint`, for a state that
    * only loses rows (k-core) — when its row count did not change. Round
    * counts are sized for the worst graph the contract admits; real
    * fixtures converge earlier, and at 100 TB each saved round is a full
    * shuffle over the edge list. Loops with neither signal (PPR — damped
    * ranks never reach an exact fixed point) run every round. */
  private def roundsFrom(st0: DataFrame, n0: Long, iters: Int,
      sameSizeIsFixedPoint: Boolean = false)(
      round: (DataFrame, Boolean) => DataFrame): (DataFrame, Long) = {
    var (st, n) = (st0, n0)
    var changing = true
    lastRoundsRun.set(0)
    for (_ <- 1 to rounds(st, iters) if changing) {
      val small = !planOnly(st) && n >= 0 && n <= bcastLimit(st)
      val (next, chg, m) = matObserved(round(st, small))
      changing = chg.getOrElse(!sameSizeIsFixedPoint || m < 0 || m != n)
      st = next
      if (m >= 0) n = m
      lastRoundsRun.incrementAndGet()
    }
    (st, n)
  }

  /** Vertex-state row count below which per-round state/message frames are
    * broadcast into the edge joins instead of shuffled. localCheckpoint
    * truncates lineage to a bare RDD scan, which loses the size stats AQE
    * would use to make this call at runtime — so the loop makes the same
    * size-based decision itself, from the exact count of the materialized
    * state. ~2M rows ≈ tens of MB serialized: cheap to ship to every
    * executor, and each round then touches the big edge list with zero
    * exchanges on it. Above the limit the rounds fall back to shuffle
    * joins — the 1B-vertex shape, where per-vertex state must never be
    * centralized — with hub keys SALTED (see [[SaltTargetDegConf]]).
    * Override with [[StateBroadcastLimitConf]] (cluster tuning; tests
    * set it to 0 to force the shuffle path). */
  private val StateBroadcastLimit = 2000000L

  /** Conf key overriding [[StateBroadcastLimit]]. */
  val StateBroadcastLimitConf = "spark.graft.bsp.stateBroadcastLimit"

  private def bcastLimit(df: DataFrame): Long =
    df.sparkSession.conf.getOption(StateBroadcastLimitConf)
      .map(_.toLong).getOrElse(StateBroadcastLimit)

  /** Conf key: out-degree budget per (src, salt) sub-key in the
    * relaxation and contribution joins' SHUFFLE path. A γ≈3.4 power-law
    * hub (the reference graph's shape) can carry millions of out-edges on
    * one join key; when rounds shuffle (state too big to broadcast), that
    * key serializes one task per round. Edges of a hub with out-degree
    * d split across ceil(d / target) ≤ [[MaxSalt]] salt sub-keys
    * (deterministic: salt = hash(dst) mod n_salts), and each round the
    * state rows of salted vertices REPLICATE across their sub-keys —
    * O(Σ hubs · n_salts) extra state rows, bounded and tiny next to a
    * round's edge volume — so relaxation work for a hub spreads over
    * n_salts tasks. Non-hub keys keep n_salts = 1 and are untouched.
    * Default 500k rows per sub-key; tests set 1 to salt everything. */
  val SaltTargetDegConf = "spark.graft.bsp.saltTargetDeg"

  /** Salt-fanout cap — 32 sub-keys ≈ 16M relaxations per hub task at
    * the default target, far past any real round's critical path. */
  private val MaxSalt = 32

  private def saltTarget(df: DataFrame): Long =
    df.sparkSession.conf.getOption(SaltTargetDegConf)
      .map(_.toLong).getOrElse(500000L)

  /** Per-key salt fanout (keys…, __ns) and the salted edge list
    * (keys…, dst, …, __ns, __salt) for a shuffle-path state⋈edges join.
    * `keys` is the edge-side join key (src for the single-graph loops,
    * (rel, src) for the composite-key multi-view loops). Returns None
    * when no key exceeds the target (the common case — rounds then skip
    * the per-round fanout join entirely; one probe action at build
    * time, driver metadata only). Under plan-only the probe is skipped
    * and salting activates iff target ≤ 1 (how PlanSpec asserts the
    * salted shape without running jobs). */
  private def saltPlan(e: DataFrame, keys: Seq[String] = Seq("src"),
      knownMaxDeg: Option[Long] = None): Option[(DataFrame, DataFrame)] = {
    val kcols = keys.map(col)
    val deg = e.groupBy(kcols: _*).agg(count(lit(1)).as("__deg"))
    saltPlanFromDeg(deg, "__deg", keys, e,
      // A caller-supplied max degree (or any UPPER BOUND — a subgraph
      // may pass its parent graph's) turns the probe into driver-side
      // arithmetic; the fallback is one bounded probe over the
      // (mat'ed) edge list's degree agg (ns > 1 ⟺ deg > target).
      target => knownMaxDeg.map(_ > target).getOrElse(
        deg.filter(col("__deg") > target).limit(1).count() > 0))
  }

  /** As [[saltPlan]] but with the hub-existence probe supplied by the
    * caller. The right probe is caller knowledge: the query layer memoizes
    * max out-degree once per session over its shared edge cache (an
    * upper bound covers every subgraph and per-relation view), so the
    * per-query probe is driver-side arithmetic — measured alternatives
    * all paid a per-query job (the ns-filter probe re-aggregated the
    * edge list, +3-7 s at sf1; the r9 probe over the persisted
    * contribution frame re-read the whole edge cache, ~2 s; persisting
    * the out-degree frame for the probe made the contribution join
    * WORSE, +2-4 s, because the now-stats-known |V|-row cache planned
    * as a broadcast). The probe runs only outside plan-only mode; `deg`
    * is used to build the fanout frame when salting does activate. */
  private def saltPlanFromDeg(deg: DataFrame, degCol: String,
      keys: Seq[String], e: DataFrame,
      probe: Long => Boolean): Option[(DataFrame, DataFrame)] = {
    val target = saltTarget(e)
    val active = if (planOnly(e)) target <= 1L else probe(target)
    if (!active) None
    else {
      val kcols = keys.map(col)
      val ns = deg.select(kcols :+
        least(lit(MaxSalt.toLong), greatest(lit(1L),
          ceil(col(degCol).cast("double") / target).cast("long")))
          .cast("int").as("__ns"): _*)
      val eS = mat(e.join(ns, keys)
        .withColumn("__salt", pmod(hash(col("dst")), col("__ns"))))
      Some((mat(ns), eS))
    }
  }

  /** State fanned out across its vertices' salt sub-keys: each row of
    * `state` replicates to (__sl = 0..__ns−1); vertices absent from the
    * fanout frame (no out-edges) keep one row. `keyMap` maps each
    * state-side key column to its fanout-frame twin (id→src alone for
    * the single-graph loops, plus rel→rel for the composite-key ones).
    * Costs one extra shuffle of the (small) state per round — the price
    * of un-skewing the big edge-side exchange. */
  private def fanOutState(state: DataFrame, ns: DataFrame,
      keyMap: Seq[(String, String)] = Seq("id" -> "src")): DataFrame = {
    val cond = keyMap.map { case (sk, nk) => state(sk) === ns(nk) }
      .reduce(_ && _)
    keyMap.foldLeft(state.join(ns, cond, "left")) {
        case (df, (_, nk)) => df.drop(ns(nk))
      }
      .withColumn("__sl",
        explode(sequence(lit(0), coalesce(col("__ns"), lit(1)) - 1)))
      .drop("__ns")
  }

  /** Hint `df` broadcast-able when the measured state size is bounded. */
  private def maybeBcast(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df

  /** State ⋈ out-edges on src = id, restricted to the state's `live`
    * (message-sending) rows: the plain join of `e` — with the state
    * broadcast when `small` — or, when the state is too big to broadcast
    * and a hub exceeds the salt budget, the salted join against `salt`'s
    * (fanout, (src, __salt)-keyed edge) pair, the state fanned out to
    * match so a hub's work spreads over __ns tasks instead of
    * serializing on one key. */
  private def frontier(e: DataFrame, salt: Option[(DataFrame, DataFrame)],
      st: DataFrame, small: Boolean, live: Option[Column] = None): DataFrame =
    salt match {
      case Some((ns, eS)) if !small =>
        val stS = fanOutState(live.fold(st)(st.filter), ns)
        eS.join(stS, eS("src") === stS("id") && eS("__salt") === stS("__sl"))
      case _ =>
        val joined = e.join(maybeBcast(st, small), e("src") === st("id"))
        live.fold(joined)(joined.filter)
    }

  /** [[bspRounds]] for the relaxation family over a materialized edge
    * list `e` (src, dst, …): each round hands `step` the state, its
    * [[frontier]] join and a hint that broadcasts a state-sized frame on
    * the broadcast path; `step` aggregates the frontier and returns the
    * next state carrying its `__chg` flag. `bcast = false` keeps every
    * round on the shuffle path (LPA). Returns what [[bspRounds]] does. */
  private def relaxRounds(e: DataFrame, init: DataFrame, iters: Int,
      knownMaxDeg: Option[Long], live: Option[Column] = None,
      bcast: Boolean = true)(
      step: (DataFrame, DataFrame, DataFrame => DataFrame) => DataFrame): (DataFrame, Long) = {
    val salt = saltPlan(e, knownMaxDeg = knownMaxDeg)
    bspRounds(init, iters) { (st, fits) =>
      val small = bcast && fits
      step(st, frontier(e, salt, st, small, live), maybeBcast(_, small))
    }
  }

  /** The weighted edge list (src, dst, w), w null → 1. */
  private def weightedCols(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), coalesce(col("w"), lit(1.0)).as("w"))

  /** [[weightedCols]], materialized. */
  private def weighted(edges: DataFrame): DataFrame = mat(weightedCols(edges))

  /** Distinct endpoints (prefix…, id) of an edge list (prefix…, src, dst). */
  private def vertices(e: DataFrame, prefix: Seq[String] = Nil): DataFrame = {
    val p = prefix.map(col)
    e.select(p :+ col("src").as("id"): _*)
      .union(e.select(p :+ col("dst").as("id"): _*)).distinct()
  }

  /** Fixed-iteration PageRank over a directed edge list (src, dst):
    * r0 = 1; r_{k+1} = 0.15 + 0.85 * Σ_in r_k(src)/outdeg(src).
    * Returns (id, rank). Ref data_processor.py:56-78 (damping 0.85). */
  def pageRank(edges: DataFrame, iters: Int,
      knownMaxDeg: Option[Long] = None,
      prebuiltContrib: Option[DataFrame] = None): DataFrame =
    usableContrib(edges, knownMaxDeg, prebuiltContrib) match {
      case Some(pc) =>
        // The loop frames key to the PREBUILT frame's partition count
        // (its fill derived it from the same size rule), and nodes derive
        // from the contribution rows themselves (identical row set: the
        // deg window keeps every edge row), so the edge list is never
        // re-checkpointed or re-exchanged per query.
        val k = math.max(1, pc.rdd.getNumPartitions)
        rankRounds(pc, rankNodes(pc, Nil, Some(k)), Nil, None, iters)
      case None =>
        pageRankLoop(mat(edges.select(col("src"), col("dst"))), Nil, iters, knownMaxDeg)
    }

  /** A caller-supplied [[contribFrame]] is usable iff the hub probe is
    * decidable DRIVER-SIDE as "salting off" (a memoized max out-degree
    * bound within the salt budget): the prebuilt frame carries the
    * unsalted fill's partitioning, and the salted path must keep
    * building its own (src, __salt)-keyed frame. Plan-only runs ignore
    * it (the inspectable shape stays the self-building loop's). */
  private def usableContrib(edges: DataFrame, knownMaxDeg: Option[Long],
      prebuilt: Option[DataFrame]): Option[DataFrame] =
    prebuilt.filter(_ => !planOnly(edges) &&
      knownMaxDeg.exists(_ <= saltTarget(edges)))

  /** The unsalted loops' per-round join input — (src, dst, deg), hash-
    * partitioned and SORTED on src at the size-derived loop count (the
    * exact fill [[pageRank]] builds internally) — exposed so the query
    * layer can session-cache ONE fill for the whole pagerank/ppr
    * family: each of those queries otherwise pays its own |E| exchange
    * + sort + window per run for an identical frame. The caller
    * persists it (DFCache) and passes it back through the
    * `prebuiltContrib` hooks, which consume it only when
    * [[usableContrib]] proves the salted path off. */
  private[graft] def contribFrame(edges: DataFrame): DataFrame = {
    val e = mat(edges.select(col("src"), col("dst")))
    degFill(e, Seq("src"), loopParts(e))
  }

  /** Loop-frame partition count, inherited from the mat'ed edge frame:
    * sizedCoalesce already derived THAT from the materialized bytes, so
    * reusing it keys the per-round co-partitioned joins to data volume
    * instead of spark.sql.shuffle.partitions (32 waves of ~200 ms task
    * overhead per round at small SFs; ~bytes/target partitions at any
    * scale). planOnly (mat = identity) keeps the session default. */
  private def loopParts(e: DataFrame): Option[Int] =
    if (planOnly(e)) None else Some(math.max(1, e.rdd.getNumPartitions))

  /** `df` hash-partitioned on `keys` (at `kP` partitions, else the
    * session default) and sorted within partitions on them. */
  private def sortedOn(df: DataFrame, keys: Seq[String], kP: Option[Int]): DataFrame = {
    val ks = keys.map(col)
    kP.map(k => df.repartition(k, ks: _*)).getOrElse(df.repartition(ks: _*))
      .sortWithinPartitions(ks: _*)
  }

  /** The unsalted contribution fill: `e` sorted on its source `keys`
    * (see [[sortedOn]]) with each row's out-degree `deg` as a WINDOW
    * count over the already key-sorted partitions — one |E| exchange +
    * one sort total, where an aggregate + self-join paid the aggregation
    * exchange, the join's own exchanges AND a redundant user repartition
    * the planner does not elide (measured ~2 s of a 12 s sf1 query). */
  private def degFill(e: DataFrame, keys: Seq[String], kP: Option[Int]): DataFrame =
    sortedOn(e, keys, kP).withColumn("deg",
      count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))

  /** The PageRank family's per-round join input over a cheap-to-rescan
    * edge frame `e` (keys…, dst) — (keys…, dst, deg[, __salt]), persisted
    * SORTED on its join keys, not just co-partitioned: the in-memory
    * relation advertises its outputOrdering, so each round's sort-merge
    * join re-sorts only the |V|-row rank side (one fill-time sort instead
    * of iters × |E| log |E| on identical data). Returned with the salt
    * plan. Hub salting (see [[SaltTargetDegConf]]): a power-law hub
    * still lands all its out-edges in ONE partition — one task per
    * round — so when a hub exceeds the budget the frame keys on
    * (keys…, __salt) instead; the message sum is a decimal aggregate, so
    * results are bit-identical. The salted fill joins the out-degree
    * aggregate (a window over the source key would straddle the salt
    * sub-keys the repartition just split apart). The hub probe is
    * max(deg) over that same |V|-row aggregate unless `knownMaxDeg`
    * bounds it driver-side. */
  private def contribPlan(e: DataFrame, keys: Seq[String], kP: Option[Int],
      knownMaxDeg: Option[Long]): (DataFrame, Option[(DataFrame, DataFrame)]) = {
    lazy val outdeg = e.groupBy(keys.map(col): _*).agg(count(lit(1)).as("deg"))
    val salt = saltPlanFromDeg(outdeg, "deg", keys, e,
      target => knownMaxDeg.getOrElse(maxDegOf(outdeg)) > target)
    val contrib = salt match {
      case Some((_, eS)) =>
        sortedOn(eS.join(outdeg, keys)
          .select((keys ++ Seq("dst", "deg", "__salt")).map(col): _*),
          keys :+ "__salt", kP)
      case None => degFill(e, keys, kP)
    }
    (contrib.persist(), salt)
  }

  /** Largest `deg` value of a degree frame (empty edge list → no hub). */
  private def maxDegOf(deg: DataFrame): Long =
    Option(deg.agg(max(col("deg"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)

  /** The rank vertices (prefix…, id) of a contribution or edge frame,
    * persisted hash-partitioned on them at `kP` partitions (so each
    * round's message exchange and node join co-partition) and sorted. */
  private def rankNodes(src: DataFrame, prefix: Seq[String], kP: Option[Int]): DataFrame = {
    val ids = (prefix :+ "id").map(col)
    val raw = vertices(src, prefix)
    kP.map(k => raw.repartition(k, ids: _*)).getOrElse(raw)
      .sortWithinPartitions(ids: _*).persist()
  }

  /** [[pageRank]]'s self-building loop over a cheap-to-rescan edge frame
    * `e` (prefix…, src, dst) — materialized, or a narrow projection over
    * a materialized frame (the packed multi-view path passes the latter:
    * re-running a when-chain + bit-pack per scan beats checkpoint-copying
    * the projection). `prefix` is empty for the single graph and
    * Seq("rel") for the composite multi-view keys. */
  private def pageRankLoop(e: DataFrame, prefix: Seq[String], iters: Int,
      knownMaxDeg: Option[Long]): DataFrame = {
    val kP = loopParts(e)
    val (contrib, salt) = contribPlan(e, prefix :+ "src", kP, knownMaxDeg)
    val out = rankRounds(contrib, rankNodes(e, prefix, kP), prefix,
      salt.map(_._1), iters)
    contrib.unpersist(false)
    out
  }

  /** The global rank recurrence over a persisted contribution frame and
    * its persisted `nodes`, keyed by (prefix…, id). Loop-carried frames
    * are persist()ed CO-PARTITIONED on their join keys, not
    * checkpointed: persist preserves outputPartitioning (checkpointing
    * truncates to a bare RDD scan and loses it), so each round's
    * contrib⋈rank join and the nodes⋈msgs join are exchange-free and only
    * the message aggregation shuffles — one exchange per round over the
    * edge list instead of three (with composite (rel, id) keys the
    * avoided re-shuffles are 2× the whole multi-view edge list per
    * round). rank stays a LINEAR recurrence (each round reads the
    * previous rank once), so the loop is ONE lazy plan, materialized at
    * the end; measured ~2× over checkpointed inputs at sf0.1. With a
    * salt fanout `ns`, the rank state fans out to the contribution
    * frame's (keys…, __salt) keying. Unpersists `nodes`. */
  private def rankRounds(contrib: DataFrame, nodes: DataFrame,
      prefix: Seq[String], ns: Option[DataFrame], iters: Int): DataFrame = {
    val ids = prefix :+ "id"
    val keyMap = prefix.map(k => k -> k) :+ ("id" -> "src")
    def on(st: DataFrame): Column =
      keyMap.map { case (sk, ck) => contrib(ck) === st(sk) }.reduce(_ && _)
    var rank = nodes.select(ids.map(col) :+ lit(1.0).as("rank"): _*)
    for (_ <- 1 to iters) {
      val joined = ns match {
        case Some(n) =>
          val rk = fanOutState(rank, n, keyMap)
          contrib.join(rk, on(rk) && contrib("__salt") === rk("__sl"))
        case None => contrib.join(rank, on(rank))
      }
      val msgs = joined
        .select(prefix.map(k => contrib(k).as(k)) ++ Seq(col("dst").as("id"),
          (col("rank") / col("deg")).as("m")): _*)
        .groupBy(ids.map(col): _*).agg(rsum(col("m")).as("msum"))
      rank = nodes.join(msgs, ids, "left")
        .select(ids.map(col) :+
          (lit(0.15) + lit(0.85) * coalesce(col("msum"), lit(0.0))).as("rank"): _*)
    }
    val out = mat(rank)
    nodes.unpersist(false)
    out
  }

  /** Per-relation ("multi-view") PageRank in ONE BSP job: vertices are
    * (rel, id) composite keys, so all relation subgraphs iterate together
    * — the 100 TB form of the reference's loop over ~44 per-relation
    * igraph PageRanks (ref data_processor.py:35-107). A driver loop of
    * 44 jobs re-reads and re-shuffles the edge list 44 times; composite
    * keys do it once, and skew across relations is absorbed by the
    * normal shuffle partitioning of (rel, id).
    * Input: (rel, src, dst). Returns (rel, id, rank). */
  def pageRankByRel(edges: DataFrame, iters: Int,
      knownMaxDeg: Option[Long] = None): DataFrame = {
    val e = mat(edges.select(col("rel"), col("src"), col("dst")))
    // PACKED fast path: the per-relation subgraphs are DISJOINT, so
    // global pageRank over a union with (relIdx, vertex) bit-packed into
    // one long id IS per-relation pagerank — same message multiset per
    // vertex, same decimal sums, bit-identical ranks. The packed loop
    // runs the single-long-key round shape, measured 2.2× cheaper per
    // round than composite (string, long) keys at the sf1 checkpoint
    // (hash, compare, and shuffle all touch one word instead of a
    // struct row). Conditions (else the composite loop below): an
    // atomic non-null rel type (the dictionary is a driver-side
    // when-chain — bounded by the multi-view contract, ~44 relations
    // in the reference), and integral ids small enough that
    // vertex << bits(rel) cannot overflow (packed as longs, decoded back
    // to the input's id type). knownMaxDeg stays a valid upper bound for the
    // packed graph's hub probe (per-(rel,src) degree ≤ total degree).
    // Skipped under plan-only (the dictionary probe is an action; the
    // inspectable shape is the composite loop's).
    val packed: Option[DataFrame] = if (planOnly(e)) None else {
      val packable = {
        import org.apache.spark.sql.types._
        val atomicRel = edges.schema("rel").dataType match {
          case _: StructType | _: ArrayType | _: MapType |
               _: UserDefinedType[_] => false
          case _ => true
        }
        atomicRel && Seq("src", "dst").forall(c => integral(e.schema(c).dataType))
      }
      if (!packable) None
      else {
        // ONE probe action over the materialized edge list: the rel
        // dictionary (collect_set — order is irrelevant, the same
        // in-run array drives both encode and decode), the id bounds,
        // and a null-rel count (collect_set drops nulls; a null rel
        // routes to the composite loop, which alone carries its
        // join-semantics).
        val probe = e.agg(collect_set(col("rel")).as("rels"),
          max(greatest(col("src"), col("dst"))).as("mx"),
          min(least(col("src"), col("dst"))).as("mn"),
          sum(when(col("rel").isNull, 1L).otherwise(0L)).as("nulls")).head()
        val rels: Array[Any] = probe.getSeq[Any](0).toArray
        val bits = 64 - java.lang.Long.numberOfLeadingZeros(
          math.max(rels.length - 1, 1).toLong)
        def num(i: Int) = Option(probe.getAs[Number](i)).map(_.longValue).getOrElse(0L)
        val (maxId, minId, nNull) = (num(1), num(2), num(3))
        if (rels.isEmpty || nNull > 0L || minId < 0L ||
            maxId > (Long.MaxValue >> bits)) None
        else {
          val relIdx = rels.zipWithIndex.tail
            .foldLeft(when(col("rel") === lit(rels.head), lit(0L))) {
              case (w, (r, i)) => w.when(col("rel") === lit(r), lit(i.toLong))
            }
          def pack(c: Column) = shiftleft(c.cast("long"), bits).bitwiseOR(col("__ri"))
          val enc = e.withColumn("__ri", relIdx)
            .select(pack(col("src")).as("src"), pack(col("dst")).as("dst"))
          val pr = pageRankLoop(enc, Nil, iters, knownMaxDeg)
          val mask = (1L << bits) - 1L
          val relBack = rels.zipWithIndex.tail
            .foldLeft(when(col("id").bitwiseAND(lit(mask)) === lit(0L),
              lit(rels.head))) { case (w, (r, i)) =>
                w.when(col("id").bitwiseAND(lit(mask)) === lit(i.toLong), lit(r))
            }
          Some(pr.select(relBack.as("rel"),
            shiftrightunsigned(col("id"), bits).cast(vertices(e).schema("id").dataType)
              .as("id"), col("rank")))
        }
      }
    }
    packed.getOrElse(pageRankLoop(e, Seq("rel"), iters, knownMaxDeg))
  }

  /** Multi-seed personalized PageRank (random-walk-with-restart) — the
    * classic link-prediction scorer next to Adamic-Adar (the reference's
    * igraph `personalized_pagerank` shape; our battery lacked it).
    * r0(s,·) = e_s; r_{k+1}(s,·) = 0.15·e_s + 0.85·Pᵀ r_k(s,·), one
    * composite-key (seed, id) BSP job for ALL seeds at once.
    *
    * Unlike the global pageRank above, the state here is SPARSE: only
    * rows with nonzero mass exist (each round = message rows ∪ the
    * 0.15-restart rows, re-aggregated), so per-round state is bounded by
    * the seeds' k-hop neighborhoods, not |seeds|×|V|. That is what makes
    * PPR-for-every-user feasible at 100 TB — a million seeds iterate in
    * one job, state proportional to touched mass only, one exchange per
    * round on (seed, id).
    *
    * EAGER rounds through [[roundsFrom]] (r14, measured: the "one lazy
    * plan" form ran graph_ppr 9.0 s vs 7.5 s eager at sf0.1/32 cores —
    * PPR state is DENSE per round, so each lazy round stacked wide
    * exchanges whose AQE re-planning and un-coalesced state cost more
    * than the eager form's per-round checkpoint). The edge list is
    * materialized with [[mat]] (a cached one is read in place) and the
    * restart rows are a projection of the materialized initial state,
    * so a call pays no checkpoint job for either. A serving-sized call
    * runs all rounds in one task instead ([[oneTask]]).
    * Input: edges (src, dst), seeds (seed). Returns (seed, id, rank). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      knownMaxDeg: Option[Long] = None,
      prebuiltContrib: Option[DataFrame] = None): DataFrame = {
    val init0 = seeds.select(col("seed"), col("seed").as("id"),
      lit(1.0).cast("double").as("rank"))
    val ids = Seq(edges.schema("src"), edges.schema("dst"), seeds.schema("seed"))
    if (oneTask(edges, ids.map(_.dataType))(rowEstimate(seeds)))
      oneTaskPpr(edges, seeds, init0, iters)
    else {
      // With a usable prebuilt contribution frame (see usableContrib) the
      // edge list is never touched: no per-query checkpoint, no fill.
      val (contrib, salt, ownContrib) =
        usableContrib(edges, knownMaxDeg, prebuiltContrib) match {
          case Some(pc) => (pc, None, false)
          case None =>
            val (c, s) = contribPlan(mat(edges.select(col("src"), col("dst"))),
              Seq("src"), None, knownMaxDeg)
            (c, s, true)
        }
      val (init, _, n) = matObserved(init0)
      val contribSalt = salt.map { case (ns, _) => (ns, contrib) }
      val (rank, _) = roundsFrom(init, n, iters)(pprRound(contrib, contribSalt, init))
      if (ownContrib) contrib.unpersist(false)
      rank
    }
  }

  /** One PPR round from the state `rank` over the contribution frame
    * (src, dst, deg): ONE aggregation over messages ∪ the restart rows
    * (seed, seed, r = 0.15) — a projection of the initial state `init`,
    * one row per seed row. It folds the exact decimals the two-step form
    * (Σ messages, then Σ over {0.85·msum, restart}) folded: each side
    * cast to DECIMAL(28,15), an absent side 0, one exact decimal add, one
    * cast to double. */
  private def pprRound(contrib: DataFrame, salt: Option[(DataFrame, DataFrame)],
      init: DataFrame)(rank: DataFrame, small: Boolean): DataFrame = {
    val nul = lit(null).cast("double")
    val restart = init.select(col("seed"), col("id"), nul.as("m"),
      lit(0.15).cast("double").as("r"))
    def dec(c: Column): Column = coalesce(c.cast(Dec), lit(0).cast(Dec))
    frontier(contrib, salt, rank, small)
      .select(col("seed"), col("dst").as("id"), (col("rank") / col("deg")).as("m"),
        nul.as("r"))
      .union(restart)
      .groupBy(col("seed"), col("id"))
      .agg(rsum(col("m")).as("msum"), sum(col("r").cast(Dec)).as("rsum"))
      .select(col("seed"), col("id"),
        (dec(lit(0.85) * col("msum")) + dec(col("rsum"))).cast("double").as("rank"))
  }

  /** Min-plus relaxation over the REACHED-SET state (keys…, id, dist) —
    * only rows with a distance exist — from `init` over the weighted
    * edge list `e`. One shuffle per round: the state rows (old = dist)
    * and the frontier's candidates (reach = dist + w) meet in ONE
    * union-aggregate on (keys…, id), where a min-aggregate followed by a
    * join back to the state paid a second exchange or broadcast stage.
    * __chg: a newly reached row or a strictly shorter path; rows never
    * leave the state, so "no row changed" is the fixed point. Returns
    * the state and its last posted row count. */
  private def relaxReached(e: DataFrame, init: DataFrame, keys: Seq[String],
      iters: Int, knownMaxDeg: Option[Long]): (DataFrame, Long) = {
    val ks = keys.map(col)
    val nul = lit(null).cast("double")
    relaxRounds(e, init, iters, knownMaxDeg) { (dist, frontier, _) =>
      dist.select(ks ++ Seq(col("id"), col("dist").as("old"), nul.as("reach")): _*)
        .union(frontier.select(ks ++ Seq(col("dst").as("id"), nul.as("old"),
          (col("dist") + col("w")).as("reach")): _*))
        .groupBy(ks :+ col("id"): _*)
        .agg(min(col("old")).as("old"), min(col("reach")).as("reach"))
        .select(ks ++ Seq(col("id"), least(col("old"), col("reach")).as("dist"),
          coalesce(col("reach") < col("old"),
            col("old").isNull && col("reach").isNotNull).as("__chg")): _*)
    }
  }

  /** Fixed-round min-plus relaxation over weighted edges (src, dst, w)
    * from one source. Returns (id, dist) with unreached = null.
    * With w ≡ 1 this is BFS hop count. Ref bfs.py:91-147.
    *
    * The rounds run on the reached set ([[relaxReached]]), never a
    * |V|-row state. The null rows of the unreached vertices are a lazy
    * anti-join branch of the result: a caller filtering
    * `dist IS NOT NULL` prunes it at plan time and never pays for it.
    * The source keeps its own 0.0 row iff it is a vertex — known
    * without a job when the state grew past that one row (the source
    * then has an out-edge). A serving-sized call runs all rounds in one
    * task instead ([[oneTask]]). */
  def shortestPaths(edges: DataFrame, source: Long, iters: Int,
      knownMaxDeg: Option[Long] = None): DataFrame = {
    val w = weightedCols(edges)
    if (w.schema("w").dataType == DoubleType &&
        oneTask(edges, Seq(w.schema("src").dataType, w.schema("dst").dataType))(1))
      oneTaskShortestPaths(w, source, iters)
    else {
      val spark = edges.sparkSession
      import spark.implicits._
      val e = mat(w)
      val v = vertices(e)
      val init = Seq(source).toDF("id").select(col("id"), lit(0.0).as("dist"))
      val (st, n) = relaxReached(e, init, Nil, iters, knownMaxDeg)
      val isVertex = n > 1 || planOnly(st) ||
        e.filter(col("src") === source || col("dst") === source).limit(1).count() > 0
      val reached = (if (isVertex) st else st.filter(col("id") =!= source))
        .select(col("id").cast(v.schema("id").dataType).as("id"), col("dist"))
      reached.union(v.join(reached, Seq("id"), "left_anti")
        .select(col("id"), lit(null).cast("double").as("dist")))
    }
  }

  // ---- The one-task path (see the header) ----

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Whether a call runs on the one-task path: outside plan-only mode,
    * with integral `ids`, when `sources` copies of the edge list's
    * optimized-plan size estimate fit spark.sql.autoBroadcastJoinThreshold
    * (−1 turns the path off). `sources` is only evaluated when the other
    * tests pass. */
  private def oneTask(edges: DataFrame, ids: Seq[DataType])(sources: => BigInt): Boolean =
    !planOnly(edges) && ids.forall(integral) &&
      sources * edges.queryExecution.optimizedPlan.stats.sizeInBytes <=
        edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold

  /** A frame's plan-stats row estimate: its row count, else bytes / 8. */
  private def rowEstimate(df: DataFrame): BigInt = {
    val st = df.queryExecution.optimizedPlan.stats
    st.rowCount.getOrElse(st.sizeInBytes / 8)
  }

  /** `df` in one partition: a narrow coalesce over data already in
    * memory ([[inMemory]]), a one-partition shuffle over a lineage. */
  private def onePartition(df: DataFrame, narrow: Boolean): DataFrame =
    if (narrow) df.coalesce(1) else df.repartition(1)

  /** [[shortestPaths]] as one task over the weighted edge list `w`. The
    * schema is the BSP result's: the vertex id column, a nullable dist. */
  private def oneTaskShortestPaths(w: DataFrame, source: Long, iters: Int): DataFrame = {
    val schema = StructType(Seq(vertices(w).schema("id"), StructField("dist", DoubleType)))
    val idType = schema("id").dataType
    val in = w.select(col("src").cast("long"), col("dst").cast("long"), col("w"))
    onePartition(in, inMemory(in))
      .mapPartitions(ssspTask(_, source, iters, idType))(Encoders.row(schema))
  }

  /** [[personalizedPageRank]] as one task over the edge list and the seed
    * rows, tagged into one frame (t = 0: an edge (a, b); t = 1: a seed a).
    * The schema is the BSP result's — one round's over `init0`, or
    * `init0`'s without rounds — read off the lazy plan (analysis only). */
  private def oneTaskPpr(edges: DataFrame, seeds: DataFrame, init0: DataFrame,
      iters: Int): DataFrame = {
    val schema = if (iters < 1) init0.schema else pprRound(
      edges.select(col("src"), col("dst"), lit(1L).as("deg")), None, init0)(init0, false).schema
    val (seedType, idType) = (schema("seed").dataType, schema("id").dataType)
    val e = edges.select(lit(0).as("t"), col("src").cast("long").as("a"),
      col("dst").cast("long").as("b"))
    val s = seeds.select(lit(1).as("t"), col("seed").cast("long").as("a"),
      lit(null).cast("long").as("b"))
    onePartition(e.union(s), inMemory(e))
      .mapPartitions(pprTask(_, iters, seedType, idType))(Encoders.row(schema))
  }

  /** A one-task call's graph. Ids map to dense slots 0..n−1 in first-seen
    * order; a null id gets a slot of its own (a null endpoint or seed is
    * a vertex of the BSP's frames too, one no join key ever matches).
    * [[seal]] lays the edges out in CSR form: the out-edges of slot u are
    * the positions [[out]](u) of `dst` and `w`. */
  private final class TaskGraph {
    private val slots = new mutable.LongMap[Int]
    private val ids = mutable.ArrayBuffer.empty[Long]
    private var nullSlot = -1
    private val (es, ed, ew) =
      (mutable.ArrayBuilder.make[Int], mutable.ArrayBuilder.make[Int],
        mutable.ArrayBuilder.make[Double])
    private var off: Array[Int] = _
    var dst: Array[Int] = _
    var w: Array[Double] = _

    def n: Int = ids.length

    /** The slot of column `i` of `r` (a long, or null). */
    def slot(r: Row, i: Int): Int =
      if (r.isNullAt(i)) {
        if (nullSlot < 0) { nullSlot = n; ids += 0L }
        nullSlot
      } else {
        val id = r.getLong(i)
        slots.getOrElseUpdate(id, { ids += id; n - 1 })
      }

    /** The slot of a non-null id, −1 when it is not a vertex. */
    def find(id: Long): Int = slots.getOrElse(id, -1)

    def isNull(u: Int): Boolean = u == nullSlot

    /** Slot `u`'s id as a value of the integral type `t`. */
    def id(u: Int, t: DataType): Any =
      if (isNull(u)) null
      else t match {
        case ByteType => ids(u).toByte
        case ShortType => ids(u).toShort
        case IntegerType => ids(u).toInt
        case _ => ids(u)
      }

    /** An edge from a non-null source (a null source never joins a state row). */
    def edge(s: Int, d: Int, wt: Double): Unit = { es += s; ed += d; ew += wt }

    def seal(): Unit = {
      val (s, d, wt) = (es.result(), ed.result(), ew.result())
      off = new Array[Int](n + 1)
      s.foreach(u => off(u + 1) += 1)
      for (u <- 1 to n) off(u) += off(u - 1)
      val fill = off.clone()
      dst = new Array[Int](s.length)
      w = new Array[Double](s.length)
      for (i <- s.indices) {
        val p = fill(s(i))
        fill(s(i)) += 1
        dst(p) = d(i)
        w(p) = wt(i)
      }
    }

    def out(u: Int): Range = off(u) until off(u + 1)
  }

  /** [[shortestPaths]]'s rounds over (src, dst, w) rows: the synchronous
    * min-plus rounds of [[relaxReached]] in Spark's double order (NaN
    * greatest) — each round relaxes the out-edges of the rows the last
    * round changed from their values before the round, a row changes when
    * it is newly reached or strictly shorter — up to `iters` rounds or the
    * first round that changes nothing. Rows: every reached vertex with its
    * distance (the source only if it is a vertex), then every other vertex
    * with a null — and the null vertex with a null always, as the BSP's
    * anti-join never matches a null key. */
  private def ssspTask(rows: Iterator[Row], source: Long, iters: Int,
      idType: DataType): Iterator[Row] = {
    val g = new TaskGraph
    rows.foreach { r =>
      val (s, d) = (g.slot(r, 0), g.slot(r, 1))
      if (!r.isNullAt(0)) g.edge(s, d, r.getDouble(2))
    }
    g.seal()
    val dist = new Array[Double](g.n)
    val seen = new Array[Boolean](g.n)
    val s0 = g.find(source)
    if (s0 >= 0) {
      seen(s0) = true
      val stamp = Array.fill(g.n)(-1)
      var frontier = Array(s0)
      var k = 0
      while (k < iters && frontier.nonEmpty) {
        val from = frontier.map(dist(_))
        val changed = mutable.ArrayBuffer.empty[Int]
        for (i <- frontier.indices; e <- g.out(frontier(i))) {
          val (t, c) = (g.dst(e), from(i) + g.w(e))
          if (!seen(t) || SQLOrderingUtil.compareDoubles(c, dist(t)) < 0) {
            seen(t) = true
            dist(t) = c
            if (stamp(t) != k) { stamp(t) = k; changed += t }
          }
        }
        frontier = changed.toArray
        k += 1
      }
    }
    (0 until g.n).iterator.filter(seen(_)).map(u => Row(g.id(u, idType), dist(u))) ++
      (0 until g.n).iterator.filter(u => !seen(u) || g.isNull(u))
        .map(u => Row(g.id(u, idType), null))
  }

  /** CAST(x AS DECIMAL(28,15)) through the class Spark's Cast uses. */
  private def dec15(x: Double): Decimal = {
    val d = Decimal(x)
    if (!d.changePrecision(28, 15)) throw new ArithmeticException(s"$x overflows $Dec")
    d
  }

  /** [[personalizedPageRank]]'s rounds over the tagged rows of
    * [[oneTaskPpr]]. A (seed, id) key never mixes two seeds, so each
    * distinct seed runs its own rounds; a seed listed k times has k
    * initial and k restart rows, as in the BSP. A round is the BSP round
    * on Spark's own Decimal: a row exists iff a message or a restart
    * arrived, and rank = double(D(0.85 · double(Σ D(m))) + Σ D(0.15)),
    * D = [[dec15]], an absent side left out. */
  private def pprTask(rows: Iterator[Row], iters: Int, seedType: DataType,
      idType: DataType): Iterator[Row] = {
    val g = new TaskGraph
    val mult = mutable.LinkedHashMap.empty[Int, Int]
    rows.foreach { r =>
      if (r.getInt(0) == 1) {
        val s = g.slot(r, 1)
        mult(s) = mult.getOrElse(s, 0) + 1
      } else {
        val (s, d) = (g.slot(r, 1), g.slot(r, 2))
        if (!r.isNullAt(1)) g.edge(s, d, 0.0)
      }
    }
    g.seal()
    val acc = new Array[Decimal](g.n)
    mult.iterator.flatMap { case (s, k) =>
      val restart = Iterator.fill(k)(dec15(0.15)).reduce(_ + _)
      var ids = Array.fill(k)(s)
      var ranks = Array.fill(k)(1.0)
      for (_ <- 1 to iters) {
        val hit = mutable.ArrayBuffer(s)
        for (j <- ids.indices; deg = g.out(ids(j)).size if deg > 0) {
          val m = dec15(ranks(j) / deg)
          for (e <- g.out(ids(j))) {
            val t = g.dst(e)
            if (acc(t) == null) { acc(t) = m; if (t != s) hit += t }
            else acc(t) = acc(t) + m
          }
        }
        ranks = hit.map { t =>
          val msg = Option(acc(t)).map(a => dec15(0.85 * a.toDouble))
          (msg ++ Option.when(t == s)(restart)).reduce(_ + _).toDouble
        }.toArray
        hit.foreach(acc(_) = null)
        ids = hit.toArray
      }
      val seed = g.id(s, seedType)
      ids.iterator.zip(ranks.iterator).map { case (t, r) => Row(seed, g.id(t, idType), r) }
    }
  }

  /** Sampled-source Brandes betweenness dependencies (Brandes 2001;
    * Brandes-Pich 2007 pivot sampling — the estimator scales by source
    * COUNT, not graph size, exactly like the landmark harmonic
    * centrality next to it). One composite-key (s0, id) BSP job for all
    * sources:
    *
    *  - FORWARD, level-synchronous unweighted BFS accumulating σ(s, v)
    *    (shortest-path counts): level-k vertices are first reached at
    *    round k, σ = Σ of predecessor σ over same-round discoveries —
    *    an equi-join + sum per round, new vertices found by anti-join
    *    (each vertex enters the state exactly once, so state is
    *    monotone and O(sources × reached) like the six-degrees runs).
    *    σ is exact DECIMAL(38,0): path counts multiply through hubs
    *    and overflow int64 within a few levels at power-law degrees.
    *  - BACKWARD, the dependency recurrence δ(s,v) = Σ_{v→w, d(w)=d(v)+1}
    *    (σv/σw)·(1+δw) processed one level per round from the deepest:
    *    in an unweighted BFS DAG every shortest-path edge spans exactly
    *    one level, so each level's δ closes in a single join against the
    *    level above. Per-term DECIMAL(28,15) casts make every δ sum
    *    order-independent (the engines replay identical doubles).
    *
    * Returns the per-source dependency frame (s0, id, dist, delta) —
    * betweenness is the caller's Σ_s δ(s, v) over v ≠ s. Rounds clamp
    * under [[PlanOnlyConf]] like every loop here.
    *
    * `knownDists` (r13, guide §2.4 — remove work): a precomputed
    * multi-source BFS frame (s0, id, dist) over the SAME sources, edges
    * and ≥ `iters` unweighted rounds (GraphPack passes its warmed
    * landmark run). The forward σ-counting BFS then needs no discovery
    * state of its own: level-k membership is exactly {(s0,id) :
    * dist = k} (a vertex is first reached at round k iff its hop
    * distance is k), so the per-round anti-join against a growing
    * `seen` union becomes a semi-join against a filter of the given
    * frame, σ sums run over the identical predecessor rows
    * (bit-identical decimals), and the forward recurrence turns LINEAR
    * (each level references only the level below). With the chain
    * linear, level frames are lazy persists instead of eager per-round
    * checkpoints and the whole forward+backward DAG executes as ONE
    * job (profiled at sf0.1: the eager form was latency-bound — ~40
    * dependent stages of 100-900 ms wall for 87 s of task time, 2.7 s
    * of ideal 32-core work). */
  def betweennessDeltas(edges: DataFrame, sources: Seq[Long], iters: Int,
      knownDists: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // The checkpointed edge list re-exchanges per level join (2·levels
    // ~110 MB shuffle writes at sf1) — MEASURED alternative: two
    // key-sorted persisted copies (src-keyed forward, dst-keyed
    // backward) removed 9 of the 11 edge shuffles but cost MORE wall
    // (+1.8 s at sf1): the level-state side is tiny, so AQE already
    // replans each level join as a broadcast with a local shuffle read
    // of the edge side — the exchanges being "saved" were never paid as
    // sorts, while the sorted fills are. Keep the bare checkpoint and
    // let AQE do per-level runtime replanning.
    val e = mat(edges.select(col("src"), col("dst")))
    // Per-LEVEL frames, each (s0, id, sigma) mat'ed once — a vertex
    // enters exactly one level, so the full state is a flat union of
    // the level frames and no round ever re-checkpoints earlier levels
    // (the growing-state loops above rewrite O(rounds × state); here
    // checkpoint volume is O(state) total).
    val released = scala.collection.mutable.Buffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame =
      knownDists match {
        case Some(_) => val p = df.persist(); released += p; p
        case None    => mat(df)
      }
    var levs = Vector(keep(sources.toDF("s0").select(col("s0"),
      col("s0").as("id"), lit(1L).cast("decimal(38,0)").as("sigma"))))
    val n = rounds(levs.head, iters)
    // EXACT per-level sizes from the given distances (r14): one tiny
    // aggregate over the warmed cache (≤ iters+1 rows to the driver).
    // Level frames and membership filters are slices of the known
    // distance partition, so their row counts are knowable BEFORE any
    // level computes — the same measured-size broadcast discipline as
    // the BSP loops (localCheckpoint/persist lineage hides sizes from
    // the planner's estimates; AQE only converts to broadcast at
    // runtime AFTER the edge side's exchange map output is written,
    // ~10 MB × 2 joins × levels at sf0.1). A level within the
    // broadcast limit gets an explicit hint: the level joins then plan
    // as BroadcastHashJoin over the edge checkpoint scan directly — no
    // edge exchange at all. Levels past the limit (the 1B-vertex
    // shape) stay unhinted and AQE decides as before; plan-only skips
    // the probe (no actions) and keeps the unhinted shape.
    val lvlSized = knownDists.isDefined && !planOnly(e)
    val lvlSizes: Map[Int, Long] =
      if (!lvlSized) Map.empty
      else knownDists.get.groupBy(col("dist")).count().collect()
        .map(r => r.getDouble(0).toInt -> r.getLong(1)).toMap
    def lvlBcast(df: DataFrame, k: Int): DataFrame =
      if (lvlSized && lvlSizes.getOrElse(k, 0L) <= bcastLimit(df)) broadcast(df)
      else df
    // Running discovered-vertex union, replaced (not re-derived) each
    // round: the anti-join probe at round k reads ONE cached frame of
    // |seen_k| rows instead of a k-way union over every level frame —
    // O(state) probe input per round and a constant number of stage
    // inputs, where the re-union form's plan width grew with k.
    // Superseded unions are released once the next one is materialized
    // by the level checkpoint that consumes it. (Discovery state exists
    // only on the self-discovering path — with knownDists the level
    // membership is a filter of the given frame and `seen` never
    // exists.)
    var seen: DataFrame =
      if (knownDists.isEmpty) levs.head.select(col("s0"), col("id")).persist()
      else null
    for (k <- 1 to n) {
      val prev = levs(k - 1)
        .select(col("s0"), col("id").as("pid"), col("sigma").as("psig"))
      def cand = e.join(prev, e("src") === prev("pid"))
        .groupBy(col("s0"), col("dst").as("id"))
        .agg(sum(col("psig")).cast("decimal(38,0)").as("sigma"))
      val lev = knownDists match {
        case Some(dists) =>
          // First-discovered-at-round-k ⟺ hop distance k: semi-join
          // the candidate sums with the known level membership — the
          // same row set, the same decimal sums, no growing state.
          // When the level fits the broadcast limit, the membership
          // semi-join moves BELOW the σ aggregation (r14): the
          // aggregation then only folds candidate rows whose head is
          // actually at level k — the discarded groups (edges from
          // level k−1 into already-seen vertices, most of the
          // candidate volume on a dense graph) never pay the exact-
          // decimal partial sum or its exchange. Whole groups are kept
          // or discarded identically either side of the aggregation
          // (the semi key IS the group key), so surviving sums fold
          // the same rows — bit-identical.
          val memK = dists.filter(col("dist") === lit(k.toDouble))
            .select(col("s0").as("ms0"), col("id").as("mid"))
          if (lvlSized && lvlSizes.getOrElse(k, 0L) <= bcastLimit(e))
            keep(e.join(lvlBcast(prev, k - 1), e("src") === prev("pid"))
              .join(broadcast(memK),
                col("s0") === col("ms0") && e("dst") === col("mid"),
                "left_semi")
              .groupBy(col("s0"), col("dst").as("id"))
              .agg(sum(col("psig")).cast("decimal(38,0)").as("sigma")))
          else
            keep(cand.join(memK,
              col("s0") === col("ms0") && col("id") === col("mid"),
              "left_semi"))
        case None =>
          mat(cand.join(seen, Seq("s0", "id"), "left_anti"))
      }
      levs = levs :+ lev
      if (knownDists.isEmpty && k < n) {
        val grown = seen.unionByName(lev.select(col("s0"), col("id"))).persist()
        released += seen
        seen = grown
      }
    }
    if (seen != null) released += seen
    // The backward sweep references each level frame TWICE (as the
    // upper level's v-side and as the base of its own δ join), so the
    // levels it reads must be plan-truncated or the analyzed tree blows
    // up combinatorially. The self-discovering path checkpointed each
    // level eagerly (6 jobs); the knownDists path materializes ALL
    // levels in ONE job — a union of the lazy linear forward chain,
    // checkpointed once — and hands the sweep per-level filter slices
    // of that LogicalRDD (measured at sf0.1: lazy levels fed straight
    // into the sweep re-planned the deep trees and ran 17.9 s; the
    // union checkpoint keeps the forward pass one job AND the sweep's
    // inputs one-node plans).
    val levSlices: Int => DataFrame = knownDists match {
      case Some(_) =>
        val all = mat(levs.zipWithIndex.map { case (l, k) =>
          l.withColumn("__lvl", lit(k)) }.reduce(_ unionByName _))
        released.foreach(_.unpersist(false)); released.clear()
        k => all.filter(col("__lvl") === k).drop("__lvl")
      case None => k => levs(k)
    }
    // Backward sweep, one level per step from the deepest. Each level
    // frame references the one above it exactly ONCE, so the plan depth
    // is linear — lazy persist (not checkpoint) is enough: the final
    // action computes every level once and reuses the cached blocks.
    var del = levSlices(n).select(col("s0"), col("id"), col("sigma"),
      lit(0.0).as("delta")).persist()
    released += del
    var acc = del.withColumn("dist", lit(n))
    for (k <- (n - 1) to 0 by -1) {
      val wside = del.select(col("s0").as("ws0"), col("id").as("wid"),
        col("sigma").as("sw"), col("delta").as("dw"))
      val vside = levSlices(k)
        .select(col("s0").as("vs0"), col("id").as("vid"), col("sigma").as("sv"))
      // Level sides hinted by their known exact sizes (see lvlBcast):
      // both joins then build hash relations over the level frames and
      // stream the edge checkpoint once per level with NO edge
      // exchange. terms output is ≤ the level-k row count (one group
      // per level-k vertex with successors), so it gets the same hint —
      // the δ-merge left join below then probes it broadcast too.
      val terms = e.join(lvlBcast(wside, k + 1), e("dst") === wside("wid"))
        .join(lvlBcast(vside, k), e("src") === col("vid") && col("vs0") === col("ws0"))
        .groupBy(col("vs0").as("s0"), col("vid").as("id"))
        .agg(sum(((col("sv").cast("double") / col("sw").cast("double")) *
            (lit(1.0) + col("dw"))).cast("decimal(28,15)"))
          .cast("double").as("dsum"))
      del = levSlices(k).select(col("s0"), col("id"), col("sigma"))
        .join(lvlBcast(terms, k), Seq("s0", "id"), "left")
        .select(col("s0"), col("id"), col("sigma"),
          coalesce(col("dsum"), lit(0.0)).as("delta"))
        .persist()
      released += del
      acc = acc.unionByName(del.withColumn("dist", lit(k)))
    }
    // Materialize the result, then release every persisted per-level /
    // per-step frame — repeated invocations in one session otherwise
    // accumulate cached blocks with no release path (the mat'ed level
    // frames are localCheckpoint blocks, freed by the ContextCleaner
    // when their RDDs go out of scope, same as every BSP loop here).
    val out = mat(acc.select(col("s0"), col("id"), col("dist"), col("delta")))
    released.foreach(_.unpersist(false))
    out
  }

  /** One-to-many batch shortest paths from MULTIPLE sources in one BSP
    * run — the reference's 100k-pair six-degrees experiment shape
    * (ref bfs.py:119-147, analysis_service.py:223-263: group pairs by
    * source, one multi-target Dijkstra per source, process pool). Here
    * the state is the REACHED set of (s0, id, dist) triples — sparse in
    * early rounds and never nodes×sources — and all sources advance in
    * the same synchronous rounds ([[relaxReached]] keyed (s0, id)): one
    * job, no driver loop, no pool.
    * Input: weighted edges (src, dst, w). Returns (s0, id, dist). */
  def multiSourceShortestPaths(edges: DataFrame, sources: Seq[Long], iters: Int,
      knownMaxDeg: Option[Long] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val init = sources.toDF("s0")
      .select(col("s0"), col("s0").as("id"), lit(0.0).as("dist"))
    relaxReached(weighted(edges), init, Seq("s0"), iters, knownMaxDeg)._1
  }

  /** Fixed-round SSSP with PREDECESSOR tracking — the path-recovery form
    * (SURVEY §7.4 risk 1: Pregel gives distances cheaply, paths need a
    * predecessor per vertex, reconstructed by ≤ iters backward joins).
    * Tie-breaks are fully deterministic: each round's best relaxation per
    * vertex is chosen by (new-dist, pred-id) lexicographic order, and an
    * equal-distance rediscovery never replaces the incumbent (strict <),
    * so both engines converge to the identical predecessor forest.
    * Returns (id, dist, pred); pred is null for the source/unreached. */
  def shortestPathsWithPred(edges: DataFrame, source: Long, iters: Int,
      knownMaxDeg: Option[Long] = None): DataFrame = {
    val e = weighted(edges)
    val init = vertices(e).select(col("id"),
      when(col("id") === source, lit(0.0)).otherwise(lit(null).cast("double")).as("dist"),
      lit(null).cast("long").as("pred"))
    relaxRounds(e, init, iters, knownMaxDeg, live = Some(col("dist").isNotNull)) {
      (st, frontier, hint) =>
        // Lexicographic min over (nd, pred) as a struct-min hash aggregate:
        // same deterministic tie-break as a (nd, pred) sort-window, but
        // with map-side partial aggregation and no per-partition sort.
        val cand = frontier
          .select(col("dst").as("id"),
            struct((col("dist") + col("w")).as("nd"),
              col("src").as("cand_pred")).as("c"))
          .groupBy(col("id")).agg(min(col("c")).as("c"))
          .select(col("id"), col("c.nd").as("nd"), col("c.cand_pred").as("cand_pred"))
        val better = col("nd").isNotNull && (col("dist").isNull || col("nd") < col("dist"))
        // __chg: the strict-improvement predicate itself (an equal-dist
        // rediscovery never replaces the incumbent, so `better` false
        // everywhere ⟹ dist AND pred both at their fixed point).
        st.join(hint(cand), Seq("id"), "left")
          .select(col("id"),
            when(better, col("nd")).otherwise(col("dist")).as("dist"),
            when(better, col("cand_pred")).otherwise(col("pred")).as("pred"),
            coalesce(better, lit(false)).as("__chg"))
    }._1
  }

  /** Fixed-round min-label propagation connected components over a
    * SYMMETRIC edge list (src, dst): comp0 = id; each round every vertex
    * takes the min of its own label and its neighbors' labels. After
    * `iters` rounds labels are exact for components of diameter <= iters
    * (fixed-round semantics, same discipline as the BFS family — the
    * oracle unrolls the identical recurrence). Returns (id, comp). */
  def connectedComponents(edges: DataFrame, iters: Int,
      knownMaxDeg: Option[Long] = None): DataFrame = {
    val e = mat(edges.select(col("src"), col("dst")))
    relaxRounds(e, vertices(e).select(col("id"), col("id").as("comp")), iters,
        knownMaxDeg) { (comp, frontier, hint) =>
      val better = frontier
        .groupBy(col("dst").as("id")).agg(min(col("comp")).as("ncomp"))
      // __chg: a strictly smaller neighbor label.
      comp.join(hint(better), Seq("id"), "left")
        .select(col("id"), least(col("comp"), col("ncomp")).as("comp"),
          coalesce(col("ncomp") < col("comp"), lit(false)).as("__chg"))
    }._1
  }

  /** Triangle count over a CANONICAL undirected edge list (x < y, one
    * row per edge): each triangle a<b<c is assembled exactly once by the
    * two-join chain (a,b)⋈(b,c)⋈(a,c) — equi-joins only (shuffle on the
    * shared endpoint, then on the closing pair), never an all-pairs
    * product, and the repeated edge frame's shuffle is shared via
    * ReusedExchange. Returns one row (n_triangles). GraphSpec pins
    * agreement with GraphX's TriangleCount on micro graphs. */
  def triangleCount(pairs: DataFrame): DataFrame =
    pairs.as("e1")
      .join(pairs.as("e2"), col("e1.y") === col("e2.x"))
      .join(pairs.as("e3"),
        col("e3.x") === col("e1.x") && col("e3.y") === col("e2.y"))
      .agg(count(lit(1)).as("n_triangles"))

  /** Fixed-round synchronous label propagation (community detection)
    * over a SYMMETRIC edge list: every vertex starts as its own label;
    * each round every vertex adopts the most frequent label among its
    * neighbors (ties broken by the SMALLEST label — a total,
    * engine-agnostic order; plain LPA's random tie-break is what makes
    * it non-reproducible). Isolated-in-round vertices keep their label.
    * Rounds always shuffle (no broadcast leg). The oracle unrolls the
    * identical recurrence. Returns (id, lbl). */
  def labelPropagation(edges: DataFrame, iters: Int,
      knownMaxDeg: Option[Long] = None): DataFrame = {
    val e = mat(edges.select(col("src"), col("dst")))
    val init = e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    relaxRounds(e, init, iters, knownMaxDeg, bcast = false) { (lbl, frontier, _) =>
      // argmax by (count desc, label asc) as a struct-max hash aggregate:
      // map-side combinable, no per-vertex sort window.
      val best = frontier
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("n"))
        .select(col("dst").as("id"),
          struct(col("n"), (-col("lbl")).as("neg")).as("c"))
        .groupBy(col("id")).agg(max(col("c")).as("c"))
        .select(col("id"), (-col("c.neg")).as("nlbl"))
      // __chg: the most-frequent neighbor label differs from the current
      // one. LPA may oscillate forever (then every round runs); a
      // pointwise-identical round is still a true fixed point of the
      // deterministic update.
      lbl.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("nlbl"), col("lbl")).as("lbl"),
          coalesce(col("nlbl") =!= col("lbl"), lit(false)).as("__chg"))
    }._1
  }

  /** Fixed-round k-core peel over a SYMMETRIC edge list (src, dst): each
    * round drops every vertex of degree < k and its incident edges.
    * After `iters` rounds the survivors are the exact k-core when a round
    * reaches a fixed point (peeling cascades at most `iters` deep
    * otherwise — same fixed-round semantics as the BFS family; the
    * oracle unrolls the identical recurrence). Returns the surviving
    * symmetric edges. Each round is one hash aggregation + two semi
    * joins on the vertex key — shuffle-bounded by the shrinking edge
    * list, nothing global. Rounds only REMOVE rows, so an unchanged row
    * count ends the loop (see [[bspRounds]]). */
  def kcore(edges: DataFrame, k: Int, iters: Int): DataFrame =
    bspRounds(edges.select(col("src"), col("dst")), iters,
        sameSizeIsFixedPoint = true) { (e, _) =>
      // Undirected degree = out-degree on the symmetric list.
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("src").as("v"))
      e.join(keep.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
    }._1

  /** Local clustering coefficient per vertex over a CANONICAL undirected
    * edge list (x < y): lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for
    * deg ≥ 2. Triangles come from [[triangleCount]]'s two-join chain —
    * each canonical triangle credits its three corners via one explode,
    * so the whole operator is equi-joins + hash aggregates (no per-corner
    * re-join, no all-pairs product). Returns (v, deg, n_tri, lcc). */
  def localClusteringCoeff(pairs: DataFrame): DataFrame = {
    val tri = pairs.as("e1")
      .join(pairs.as("e2"), col("e1.y") === col("e2.x"))
      .join(pairs.as("e3"),
        col("e3.x") === col("e1.x") && col("e3.y") === col("e2.y"))
      .select(col("e1.x").as("a"), col("e1.y").as("b"), col("e2.y").as("c"))
    val perV = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    val deg = pairs.select(col("x").as("v"))
      .union(pairs.select(col("y").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(perV, Seq("v"), "left")
      .select(col("v"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
          (col("deg") * (col("deg") - 1)), 6).as("lcc"))
  }

  /** Undirected total degree per vertex. Ref data_processor.py:83-93. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
}
