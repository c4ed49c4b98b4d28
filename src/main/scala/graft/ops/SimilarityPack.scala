package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.tables.Tables
import OpsUtil.rsum
import TextHash.{h28Sql, h28}

/** Similarity-search pack over the `embeddings` table (64-dim float
  * vectors): embedding-cosine near-dup, brute-force cosine top-k (the
  * correctness baseline), and a random-hyperplane-LSH bucketed variant
  * (the 100 TB path — candidates come from one bucket join, never an
  * all-pairs product; V5's brute-force candidate scan in the reference,
  * predicter.py:194-291, re-designed to scale).
  *
  * Numerics: dot products are computed from posexploded (vec, pos, val)
  * rows with exact decimal accumulation, so both engines sum identical
  * IEEE products in an order-independent way — results hash-match
  * without tolerance. Hyperplanes are pseudo-random ±1 vectors derived
  * from the cross-engine MD5 hash (TextHash), deterministic everywhere.
  */
object SimilarityPack {
  type Q = (SparkSession, String) => DataFrame

  // SELF-SIZING hyperplane count: smallest p (≤ MaxPlanes) with
  // ceil(n / 2^p) ≤ TargetBucket — buckets stay ~TargetBucket vectors
  // and same-bucket candidate pairs stay LINEAR in n (a fixed p makes
  // them n²/2^p: the round-7 sf1 checkpoint measured the then-fixed
  // p = 6 at 54× time for 10× vectors on sim_dedup_sweep). The integer
  // derivation (n ≤ TargetBucket·2^p) is replayed verbatim by the
  // DuckDB oracle — same discipline as Search.sizedBlockedSimJoin.
  private val TargetBucket = 32
  private val MaxPlanes    = 16
  // PINNED CONTRACT NOTE (r12, measured): sim_dedup_sweep's candidate
  // volume steps with the INTEGER plane count p (n ≤ TargetBucket·2^p),
  // so a scale capture near a step boundary reads up to ~11× for 10×
  // data (r11 sf10: 10.8× headline / 9.2× isolated) — the step is the
  // sweep's honest cost model, not a super-linear plan. A two-phase
  // overfull-bucket split was BUILT AND MEASURED in r12 and reverted:
  // +2.5 s at sf1 and +40 s at sf10 (96.8 vs 56.8 s unsplit), because
  // the replica-clustered fixture puts most vectors in overfull buckets
  // and the extra sign-bit pass costs more than the pair reduction
  // saves at both scales. The smoothing knob that remains honest is
  // TargetBucket itself.
  // Floored at p = 1: p = 0 means ZERO hyperplanes, and lshBuckets'
  // inner join on the (empty) plane frame would silently drop every
  // vector on a ≤ TargetBucket corpus — one plane (two buckets) keeps
  // the index total while still trivially satisfying the size rule.
  private[graft] def sizedNumPlanes(n: Long): Int = {
    var p = 1
    while (p < MaxPlanes && n > (TargetBucket.toLong << p)) p += 1
    p
  }
  /** Block count of the exact near-dup sweep: ids are hashed into
    * NumBlocks blocks and the all-pairs product is re-expressed as an
    * equi-join on the NumBlocks·(NumBlocks+1)/2 block-pair keys. Each
    * join key carries (n/NumBlocks)² pairs — uniform by construction —
    * and each vector is shipped NumBlocks+1 times; at corpus scale
    * NumBlocks grows like n/√(target pairs per task). */
  private val NumBlocks = 8
  private val QueryVec  = 0L
  private val Dim       = 64
  /** Result size of the top-k retrieval queries. */
  private val TopK      = 10
  /** Matryoshka prefix width of sim_matryoshka_recall. */
  private val MrlDims   = 16
  /** IVF coarse-quantizer SEED vectors: k-means init centroids (k = 8).
    * The quantizer is a deterministic Lloyd fit (KmIters rounds) seeded
    * from these data vectors — see `kmeansCentroids`. */
  private val Pivots    = Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L)
  /** Lloyd rounds for the IVF coarse quantizer. */
  private val KmIters   = 2
  /** Target cell occupancy of the SIZED SemDeDup quantizer (semCells):
    * k = max(8, ceil(n / SemTargetCell)) seeds, so cells stay
    * ~constant-sized as the corpus grows — the k ∝ n contract from
    * Abbas et al. 2023 (the paper fits 50k-110k clusters for corpora of
    * millions for exactly this reason). The 8 floor keeps the quantizer
    * IVF-shaped on the tiny fixtures. */
  private val SemTargetCell = 512
  private def semK(n: Long): Int =
    math.max(8L, (n + SemTargetCell - 1) / SemTargetCell).toInt
  /** Super-cell count of the TWO-LEVEL ANN-probed assignment (r11
    * verdict: the flat n·k probe was the 18.4× sf10 residual): g = ⌈√k⌉
    * FIXED super-vectors (the first g of the k hash-minimal seeds — no
    * Lloyd on supers, so the n·g vector→super ranking is computed ONCE).
    * Each Lloyd-round assignment then probes only centroids whose
    * nearest super is among the vector's top-[[SemProbe]] supers:
    * n·g + rounds·n·m·(k/g) ≈ n·√k work instead of rounds·n·k. The
    * 4 floor keeps the probe exhaustive (= exact flat assignment) on
    * the small fixtures where k ≤ ~16. */
  private def semG(k: Int): Int = math.max(4, math.ceil(math.sqrt(k.toDouble)).toInt)
  /** Supers probed per vector (the IVF nprobe knob applied to the
    * assignment itself). m = g on small fixtures → exhaustive probe. */
  private val SemProbe = 4
  /** Lloyd rounds of the SEM quantizer — ONE, not KmIters: the seeds
    * are already a uniform hash sample (h28-minimal ids), so one
    * assignment+mean pass balances the cells; the second round polished
    * centroids the drop rule is insensitive to while costing a full
    * n·m·(k/g) probe + means pass (the r12 sf10 profile priced each
    * round at 9-17 s of the fit's ~45 s). The IVF/PQ teaching fits
    * keep KmIters = 2. */
  private val SemIters = 1
  /** PQ geometry: Dim/PqSubDim subspaces of PqSubDim dims each; codebook
    * size = |Pivots| codes per subspace; top-PqOverfetch ADC candidates
    * are exactly re-ranked. */
  private val PqSubDim    = 8
  private val PqOverfetch = 100
  /** Cells probed per query (nprobe — the standard IVF recall/cost knob;
    * 3 of 8 cells ≈ 3/8 of the corpus scanned instead of all of it). */
  private val NProbe    = 3
  /** Cosine threshold of the SemDeDup drop rule (dedup_semantic). The
    * paper uses 1 − ε with ε ≈ 0.05-0.5 depending on corpus; the fixture
    * embeddings are near-isotropic, so 0.4 sits in the near-dup band the
    * sweep query also reports. */
  private val SemThresh = 0.4
  /** Scalar-quantization levels (one int8 code per dimension). */
  private val SqLevels  = 256
  /** sim_dedup_sweep's swept cutoffs — ONE list read by the query (its
    * candidate prefilter bound is min − 1e-4) AND the DuckDB twin, so
    * the two can't drift (r12 advice). */
  private val SweepThresholds = Seq(0.6, 0.5, 0.45, 0.4)

  /** [[OpsUtil.rsum]]'s scale in SQL: products of normalized embedding
    * components need 15 fractional digits (OpsUtil.dsum's money-scale
    * DECIMAL(28,4) would truncate them). */
  private val PsumCast = "DECIMAL(28,15)"

  /** Exact squared L2 distance of two numeric ARRAY columns as a
    * MAP-SIDE fold: each squared-difference term is computed in double
    * (bit-identical to the exploded form's (v−cv)² over double
    * components), cast to DECIMAL(28,15), and summed with an exact
    * decimal fold. Decimal addition is exact, so the value equals the
    * posexplode + [[OpsUtil.rsum]] form — and the twin's SUM(CAST(… AS
    * DECIMAL(28,15))) — in ANY order, WITHOUT materializing n·dim rows
    * or shuffling the component cache: the r12 sf10 profile measured
    * the quantizer fit at 41.9 s of which most was six 12.8M-row comps
    * shuffle-joins serving the exact re-ranks; this fold does the same
    * arithmetic inside the survivor row. Accumulator is DECIMAL(37,15)
    * so the Add stays within precision 38 and is EXACT — a 38-digit
    * accumulator forces precision 39 and Spark rounds every partial
    * sum to scale 14 (see api.Similarity.decimalDotArr / the r12
    * advice finding; DecimalFoldSpec pins the equality). */
  private[graft] def d2ExactArr(a: Column, c: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), c,
        (x, cv) => ((x - cv) * (x - cv)).cast(PsumCast)),
      lit(java.math.BigDecimal.ZERO).cast("decimal(37,15)"),
      (acc, t) => (acc + t).cast("decimal(37,15)"))
      .cast("double")

  /** (vec_id, pos, v) exploded embedding components, as double
    * (session-cached: every exact-cosine query re-reads this).
    *
    * Spread round-robin across all cores at cache build: the embeddings
    * file is a single row group that byte-range splitting cannot
    * parallelize, so without this the whole cache lands in ONE scan
    * task and every aggregate over it runs on one core (the IVF k-means
    * warm build measured 40 s at the sf1 checkpoint; the cluster analog
    * is a small dimension file read by one executor then fanned out).
    * Deliberately NOT hash-clustered by vec_id: a persisted key
    * partitioning makes the planner elide consumer-side exchanges and
    * pick exchange-free sort-merge joins whose per-query SORTS of the
    * full cache cost more than the shuffles they save — and without
    * shuffle stages AQE can no longer see sizes to convert small sides
    * to broadcasts (measured: the sim_* query family 2-3x slower under
    * vec_id clustering). Values are partition-order independent (all
    * consumers use exact decimal sums), so the spread cannot change any
    * oracle-checked result. */
  private[graft] def comps(s: SparkSession, d: String): DataFrame =
    // sized = false: the spread IS this cache's contract (heavy decimal
    // folds run in its scan stage) — see the scaladoc; PlanSpec pins it.
    DFCache.cached(s, s"sim.comps:$d", sized = false) {
      graft.api.Similarity.components(Tables.embeddings(s, d), "vec_id", "embedding")
        .repartition(s.sparkContext.defaultParallelism)
    }

  private val compsSql =
    s"""comps AS MATERIALIZED (SELECT vec_id, pos, CAST(embedding[pos + 1] AS DOUBLE) AS v
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, $Dim)) AS pos))""".stripMargin

  /** Per-vector L2 norm (exact decimal sum of squares, then sqrt). */
  private def norms(c: DataFrame): DataFrame = graft.api.Similarity.norms(c)

  private val normsSql =
    s"""nrm AS MATERIALIZED (SELECT vec_id,
       |    sqrt(CAST(SUM(CAST(v * v AS $PsumCast)) AS DOUBLE)) AS nrm
       |  FROM comps GROUP BY vec_id)""".stripMargin

  /** ±1 hyperplane components: sign from md5 parity of "hp<j>_<pos>";
    * plane COUNT sized to the corpus (one metadata-only count() — the
    * same driver-side derivation precedent as sizedBlockedSimJoin). */
  private def planes(s: SparkSession, d: String): DataFrame = {
    val n = Tables.embeddings(s, d).count()
    graft.api.Similarity.hyperplanes(s, sizedNumPlanes(n), Dim)
  }

  private val planesSql =
    s"""np AS (SELECT MIN(p) AS p FROM (SELECT unnest(range(1, ${MaxPlanes + 1})) AS p)
       |  CROSS JOIN (SELECT COUNT(*) AS n FROM embeddings)
       |  WHERE p = $MaxPlanes OR n <= $TargetBucket * (1 << p)),
       |planes AS MATERIALIZED (SELECT j, pos,
       |    CASE WHEN ${h28Sql("concat('hp', j, '_', pos)")} % 2 = 1
       |      THEN 1.0 ELSE -1.0 END AS r
       |  FROM (SELECT unnest(range(0, $MaxPlanes)) AS j)
       |  CROSS JOIN (SELECT unnest(range(0, $Dim)) AS pos)
       |  CROSS JOIN np WHERE j < np.p)""".stripMargin

  /** 16-bit LSH bucket per vector: bit j = sign of dot(v, plane_j). */
  // Session-cached: the bucket index is a prebuilt artifact queries
  // PROBE (sim_lsh_buckets/sim_lsh_topk each reference it on BOTH sides
  // of their self-join — uncached, one query built it twice; this was
  // the worst sf1 scale ratio at 7.2× before caching, and it is already
  // a Warm.scala entry so the build cost stays attributed).
  private[graft] def buckets(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"sim.buckets:$d") {
      graft.api.Similarity.lshBuckets(comps(s, d), planes(s, d))
    }

  private val bucketsSql =
    s"""proj AS (SELECT c.vec_id, p.j,
       |    CAST(SUM(CAST(c.v * p.r AS $PsumCast)) AS DOUBLE) AS dot
       |  FROM comps c JOIN planes p ON p.pos = c.pos
       |  GROUP BY c.vec_id, p.j),
       |buckets AS MATERIALIZED (SELECT vec_id,
       |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(power(2, j) AS BIGINT)
       |      ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id)""".stripMargin

  /** Pairwise cosine over given candidate pairs (i < j), exact decimals,
    * rounded to the report precision. */
  private def cosineOf(c: DataFrame, pairs: DataFrame): DataFrame =
    graft.api.Similarity.cosineOf(c, pairs)
      .select(col("i"), col("j"), round(col("cosine"), 6).as("cosine"))

  /** Nearest fitted centroid per vector by squared L2 (exact decimal
    * sums; ties broken by centroid id — both engines pick identical
    * cells). `cent` is (cid, pos, cv). */
  private def nearestCell(c: DataFrame, cent: DataFrame): DataFrame =
    c.join(cent, "pos")
      .groupBy(col("vec_id"), col("cid"))
      .agg(rsum((col("v") - col("cv")) * (col("v") - col("cv"))).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d2").asc, col("cid").asc)))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))

  /** Deterministic k-means coarse quantizer: Lloyd's algorithm, KmIters
    * rounds, initialized from the fixed seed vectors (the deterministic
    * analog of a seeded MLlib KMeans fit — MLlib's float reductions are
    * not cross-engine reproducible, this is, so the FITTED quantizer
    * itself stays under the DuckDB oracle; same unrolled-recurrence
    * discipline as the BSP graph family). Per-dimension means are exact
    * decimal sums over members / count. Returns (cid, pos, cv). */
  private[ops] def kmeansCentroids(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"sim.ivfcent:$d") {
      val c = comps(s, d)
      var cent = c.filter(col("vec_id").isin(Pivots: _*))
        .select(col("vec_id").as("cid"), col("pos"), col("v").as("cv"))
      for (_ <- 1 to KmIters) {
        val a = nearestCell(c, cent)
        val next = c.join(a, "vec_id")
          .groupBy(col("cid"), col("pos"))
          .agg((rsum(col("v")) / count(lit(1))).as("cv"))
          // Materialize each Lloyd round (k·dim rows — tiny): without
          // this the unrolled lineage recomputes round i inside round
          // i+1, doubling the work per extra iteration. Same BSP-round
          // persist discipline as DFGraphAlgs. repartition(1) so the
          // persisted centroid frame is one real partition instead of
          // shuffle.partitions mostly-empty ones (consumers pay a task
          // per cached partition).
          .repartition(1)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count()
        // Release the superseded round (the seed frame is unpersisted —
        // unpersist there is a no-op); only the fitted centroids stay
        // cached across repeated builds in one session.
        cent.unpersist(false)
        cent = next
      }
      cent
    }

  /** Fitted centroids packed to one array row per cell — (cid, cvec),
    * the broadcastable form the native prefilter probes. */
  private def packCent(cent: DataFrame): DataFrame =
    cent.groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pc"))
      .select(col("cid"), expr("transform(pc, x -> x.cv)").as("cvec"))

  /** Nearest-centroid assignment that never explodes n·k·dim rows:
    * a DOUBLE-precision native `l2_dist2` probe over the broadcast
    * packed centroids prunes to the cells within a small margin of each
    * vector's minimum (one codegen'd pass over n·k pairs, min is
    * map-side combined so only |V| rows shuffle), then the exact
    * order-independent decimal distance re-ranks the ~1-3 survivors and
    * picks the winner with the (d2, cid) tie-break. The DuckDB twin
    * computes the exact decimal distance for EVERY (vec, cid) pair
    * directly — sound because the margin provably contains the exact
    * argmin (double error on a 64-term sum is ~1e-14 relative, the
    * margin is 1e-6), so Spark re-ranks a superset that contains the
    * oracle's winner and exact ties carry both candidates into the
    * shared tie-break. Same prefilter + exact-verify discipline as the
    * cosine near-dup family, applied to quantizer assignment. */
  private def assignFlat(s: SparkSession, d: String, cent: DataFrame,
      emb: DataFrame): DataFrame = {
    val probe = emb.crossJoin(broadcast(packCent(cent)))
      .select(col("vec_id"), col("cid"),
        call_function("l2_dist2", col("embedding"), col("cvec")).as("d2d"))
    // |V|-row min frame; broadcast back so the n·k probe stream itself
    // never shuffles (it is re-scanned, which beats spilling it — the
    // probe is pure codegen over a broadcast).
    val mins = probe.groupBy(col("vec_id")).agg(min(col("d2d")).as("md"))
    val surv = probe.join(broadcast(mins), "vec_id")
      .filter(col("d2d") <= col("md") * lit(1.000001) + lit(1e-9))
      .select(col("vec_id"), col("cid"))
    surv.join(emb, "vec_id")
      .join(broadcast(packCent(cent)), "cid")
      .select(col("vec_id"), col("cid"),
        d2ExactArr(col("embedding"), col("cvec")).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d2").asc, col("cid").asc)))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
  }

  /** Per-vector top-[[SemProbe]] supers — the ONE n·g ranking of the
    * two-level assignment, computed once per fit (supers are fixed).
    * Same prefilter discipline as everything else here: an l2_dist2
    * double probe finds each vector's m-th-smallest distance, a small
    * margin keeps every candidate the exact ranking could place in the
    * top m (double error ~1e-14 relative vs the 1e-6 margin), and the
    * exact decimal distance ranks the survivors with the (d2, sid)
    * tie-break. The DuckDB twin ranks ALL n·g pairs exactly — identical
    * top-m sets by the margin argument. */
  private def vecSupers(s: SparkSession, d: String,
      packSup: DataFrame, supComps: DataFrame): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val probe = emb.crossJoin(broadcast(packSup))
      .select(col("vec_id"), col("sid"),
        call_function("l2_dist2", col("embedding"), col("svec")).as("d2d"))
    // The m-th smallest DOUBLE distance per vector — the rank value is
    // tie-order independent, so row_number's (d2d, sid) order is only
    // for per-row determinism.
    val kth = probe.withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d2d").asc, col("sid").asc)))
      .filter(col("rn") === SemProbe)
      .select(col("vec_id"), col("d2d").as("kd"))
    val surv = probe.join(broadcast(kth), "vec_id")
      .filter(col("d2d") <= col("kd") * lit(1.000001) + lit(1e-9))
      .select(col("vec_id"), col("sid"))
    surv.join(emb, "vec_id")
      .join(broadcast(packSup), "sid")
      .select(col("vec_id"), col("sid"),
        d2ExactArr(col("embedding"), col("svec")).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d2").asc, col("sid").asc)))
      .filter(col("rn") <= SemProbe)
      .select(col("vec_id"), col("sid"))
  }

  /** TWO-LEVEL nearest-centroid assignment (the r11 verdict's ANN-probed
    * form): centroids are bucketed by their nearest FIXED super
    * (exact decimal over k·g pairs — tiny), candidate (vector, cell)
    * pairs come from the EQUI-JOIN of the vector's precomputed top-m
    * supers with the centroid buckets (n·m·k/g expected pairs instead
    * of n·k), and the winner is picked by the same l2_dist2-margin +
    * exact-decimal re-rank as the flat form. Vectors whose probed
    * supers hold no centroid (possible once Lloyd moves cells between
    * supers) fall back to the exact flat probe — a replayable rule, and
    * a near-empty input in practice. The probe rule — not the flat
    * argmin — IS the assignment's spec; the DuckDB twin replays the
    * identical rule with exact decimal arithmetic end-to-end. */
  private def assignCells(s: SparkSession, d: String, cent: DataFrame,
      vsup: DataFrame, supComps: DataFrame): DataFrame = {
    val csup = cent.join(broadcast(supComps), "pos")
      .groupBy(col("cid"), col("sid"))
      .agg(rsum((col("cv") - col("sv")) * (col("cv") - col("sv"))).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("d2").asc, col("sid").asc)))
      .filter(col("rn") === 1)
      .select(col("cid"), col("sid"))
    val cand = vsup.join(broadcast(csup), "sid").select(col("vec_id"), col("cid"))
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val probe = cand.join(emb, "vec_id")
      .join(broadcast(packCent(cent)), "cid")
      .select(col("vec_id"), col("cid"),
        call_function("l2_dist2", col("embedding"), col("cvec")).as("d2d"))
    val mins = probe.groupBy(col("vec_id")).agg(min(col("d2d")).as("md"))
    val surv = probe.join(broadcast(mins), "vec_id")
      .filter(col("d2d") <= col("md") * lit(1.000001) + lit(1e-9))
      .select(col("vec_id"), col("cid"))
    val assigned = surv.join(emb, "vec_id")
      .join(broadcast(packCent(cent)), "cid")
      .select(col("vec_id"), col("cid"),
        d2ExactArr(col("embedding"), col("cvec")).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d2").asc, col("cid").asc)))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
    val missing = emb.join(cand.select(col("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")
    assigned.unionByName(assignFlat(s, d, cent, missing))
  }

  /** The SIZED SemDeDup quantizer — the k ∝ n contract made real:
    * k = semK(n) hash-minimal seed vectors (h28 order — a deterministic
    * uniform sample both engines replay), refined by SemIters
    * Lloyd rounds as the fixed fixture quantizer, every assignment
    * through [[assignCells]]' prefilter + exact re-rank. Cells stay
    * ~SemTargetCell vectors at every scale, so dedup_semantic's
    * within-cell pair sweep is LINEAR in the corpus (the r10-pinned
    * k = 8 form measured Σcell² = n²/8 — the sf10 full-surface
    * checkpoint caught it filling the host disk). Assignment is the
    * TWO-LEVEL probe ([[assignCells]] — r12): the flat n·k probe that
    * was the r11 sf10 checkpoint's 18.4× residual is replaced by one
    * n·g super ranking plus per-round n·m·(k/g) candidate probes —
    * ≈ n·√k total, the standard hierarchical form of IVF assignment
    * (flat quantizers pay n·k everywhere; SemDeDup hides it in GPU
    * k-means). Session-cached like the other fitted artifacts. */
  private[graft] def semCells(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"sim.semcells:$d") {
      val k = semK(Tables.embeddings(s, d).count())
      val g = semG(k)
      val ranked = Tables.embeddings(s, d)
        .orderBy(h28(col("vec_id").cast("string")).asc, col("vec_id").asc)
      val seeds = ranked.limit(k).select(col("vec_id").as("cid"))
      // The g = ⌈√k⌉ FIXED supers are the hash-minimal PREFIX of the
      // seed set — both frames are the same deterministic rank, so the
      // oracle replays them from one row_number.
      val supers = ranked.limit(g).select(col("vec_id").as("sid"))
      // Every fit-internal artifact below is truncated with an EAGER
      // localCheckpoint, not persist: the two-level assignment references
      // each frame from several branches (csup, cand, probe, fallback),
      // so an un-truncated lineage makes each Lloyd round's plan TREE a
      // multiple of the last round's — the probed r12 form OOM'd the
      // driver in generateTreeString before truncation (same blowup class
      // as the DFGraphAlgs BSP rounds, same fix). The lost size stats
      // don't matter: every small frame is joined under an explicit
      // broadcast() hint. Superseded rounds are freed by ContextCleaner
      // once the var is reassigned (k×dim frames — tiny).
      val supComps = comps(s, d)
        .join(broadcast(supers), col("vec_id") === col("sid"))
        .select(col("sid"), col("pos"), col("v").as("sv"))
        .repartition(1)
        .localCheckpoint(true)
      val packSup = supComps.groupBy(col("sid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("sv")))).as("ps"))
        .select(col("sid"), expr("transform(ps, x -> x.sv)").as("svec"))
      // The one n·g ranking — materialized once for the whole fit (every
      // Lloyd round and the final assignment probe through it).
      val vsup = vecSupers(s, d, packSup, supComps).localCheckpoint(true)
      var cent = comps(s, d)
        .join(broadcast(seeds), col("vec_id") === col("cid"))
        .select(col("cid"), col("pos"), col("v").as("cv"))
        .repartition(1)
        .localCheckpoint(true)
      for (_ <- 1 to SemIters) {
        cent = comps(s, d).join(assignCells(s, d, cent, vsup, supComps), "vec_id")
          .groupBy(col("cid"), col("pos"))
          .agg((rsum(col("v")) / count(lit(1))).as("cv"))
          .repartition(1)
          .localCheckpoint(true)
      }
      // The cached ASSIGNMENT is the fitted artifact (unlike
      // kmeansCentroids, whose centroid frame is what consumers join);
      // its plan is one probed assignment over checkpointed leaves, and
      // DFCache's persist supplies the consumer-facing stats.
      assignCells(s, d, cent, vsup, supComps)
    }

  /** L2-NORMALIZED exploded components with a subspace id —
    * (vec_id, pos, sub, nv). PQ approximates cosine as a sum of
    * per-subspace dot products, which is exact algebra only on the
    * normalized vectors. Session-cached. */
  private[ops] def ncomps(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"sim.ncomps:$d") {
      val c = comps(s, d)
      c.join(norms(c), "vec_id")
        .select(col("vec_id"), col("pos"),
          (col("pos") / PqSubDim).cast("int").as("sub"),
          (col("v") / col("nrm")).as("nv"))
    }

  private val ncompsSql =
    s"""ncomps AS MATERIALIZED (SELECT c.vec_id, c.pos,
       |    CAST(c.pos // $PqSubDim AS INT) AS sub, c.v / n.nrm AS nv
       |  FROM comps c JOIN nrm n ON n.vec_id = c.vec_id)""".stripMargin

  /** Nearest code per (vector, subspace) by squared L2 against a
    * per-subspace codebook `cent` = (sub, cid, pos, cv); exact decimal
    * sums, ties to the lower cid — identical codes on both engines. */
  private def pqNearest(c: DataFrame, cent: DataFrame): DataFrame =
    c.join(cent, Seq("sub", "pos"))
      .groupBy(col("vec_id"), col("sub"), col("cid"))
      .agg(rsum((col("nv") - col("cv")) * (col("nv") - col("cv"))).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"), col("sub"))
          .orderBy(col("d2").asc, col("cid").asc)))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("cid"))

  /** Deterministic per-subspace PQ codebooks — the same seeded Lloyd
    * discipline as [[kmeansCentroids]], fitted independently in every
    * subspace (one grouped job, not a subspace loop): seeds are the
    * Pivots' sub-vectors, KmIters rounds, exact-decimal means. Returns
    * (sub, cid, pos, cv). Session-cached. */
  private[ops] def pqCodebooks(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"sim.pqcent:$d") {
      val c = ncomps(s, d)
      var cent = c.filter(col("vec_id").isin(Pivots: _*))
        .select(col("vec_id").as("cid"), col("sub"), col("pos"), col("nv").as("cv"))
      for (_ <- 1 to KmIters) {
        val a = pqNearest(c, cent)
        val next = c.join(a, Seq("vec_id", "sub"))
          .groupBy(col("cid"), col("sub"), col("pos"))
          .agg((rsum(col("nv")) / count(lit(1))).as("cv"))
          // Per-round persist — same recompute-truncation and
          // single-partition rationale as kmeansCentroids above.
          .repartition(1)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count()
        cent.unpersist(false) // release the superseded round
        cent = next
      }
      cent
    }

  /** The PQ index proper — one code per (vector, subspace) against the
    * fitted codebooks. Session-cached like the LSH buckets: the index is
    * a prebuilt artifact queries PROBE (8 bytes/vector at serving time),
    * not per-query work. */
  private[ops] def pqCodes(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"sim.pqcodes:$d") {
      pqNearest(ncomps(s, d), pqCodebooks(s, d))
    }

  /** The IVF index proper — each vector's nearest fitted coarse cell.
    * Session-cached for the same reason as [[pqCodes]]. */
  private[ops] def ivfAssign(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"sim.ivfassign:$d") {
      nearestCell(comps(s, d), kmeansCentroids(s, d))
    }

  /** Per-dimension quantization range of the SQ index — (pos, mn, mx)
    * over the NORMALIZED components. Dim rows: a broadcast-sized fitted
    * artifact, like the PQ codebooks. Session-cached. */
  private[ops] def sqStats(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"sim.sqstats:$d") {
      ncomps(s, d).groupBy(col("pos"))
        .agg(min(col("nv")).as("mn"), max(col("nv")).as("mx"))
    }

  /** The SQ index proper — one uniform int8 code per (vector, dim):
    * code = floor((nv − mn)/(mx − mn)·256) clamped to 255 (degenerate
    * constant dims code to 0). 1 byte/dim where the raw component is 8 —
    * same compressed-artifact role as [[pqCodes]]. Session-cached. */
  private[ops] def sqCodes(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"sim.sqcodes:$d") {
      ncomps(s, d).join(broadcast(sqStats(s, d)), "pos")
        .select(col("vec_id"), col("pos"),
          when(col("mx") === col("mn"), lit(0L))
            .otherwise(least(
              floor((col("nv") - col("mn")) / (col("mx") - col("mn")) * SqLevels),
              lit((SqLevels - 1).toLong)))
            .cast("int").as("code"))
    }

  val queries: Map[String, Q] = Map(
    // Embedding-cosine near-duplicates as a BLOCK-PAIR EQUI-JOIN sweep,
    // two-phase: (1) every unordered pair is enumerated exactly once by
    // hashing ids into NumBlocks blocks and equi-joining the two
    // replicated sides on the block-pair key — the distributed form of
    // exact all-pairs similarity: Θ(n²) WORK (unavoidable for an exact
    // 0.45-threshold result, see below) but load-balanced into
    // NumBlocks·(NumBlocks+1)/2 uniform join keys with no nested-loop
    // join and no single hot partition, each pair scanned with the
    // native codegen'd cosine_sim expression and kept above
    // threshold−1e-4; (2) the exact decimal cosine recomputed on the few
    // survivors so the reported values and the final >= threshold cut
    // are engine-exact.
    //
    // Why not LSH candidates here: at threshold 0.45 (angle 63.3°) the
    // per-hyperplane collision probability of a qualifying pair is
    // 1−θ/π ≈ 0.648 vs 0.5 for an unrelated pair — any band/rotation
    // OR-amplification whose recall approaches 1 at 0.648 also admits
    // nearly every random pair (and the fixture embeddings are isotropic:
    // the pair-cosine histogram is symmetric around 0, so 0.45 is a 3.6σ
    // tail, not a planted-duplicate cluster). Sub-quadratic candidate
    // generation with exact recall is impossible at this threshold;
    // the honest scale design is the balanced exact sweep. For HIGH
    // thresholds (≥ ~0.8) the LSH bucket path (sim_lsh_topk /
    // api.Dedup.lshNearDupPairs) is the sub-quadratic form of record.
    // Not api.Similarity.cosineNearDups: that operator's all-pairs
    // product has no block balancing and no ScaleGuard.
    "sim_cosine_neardup" -> ((s, d) => {
      import s.implicits._
      // Quadratic-by-contract exact-recall sweep — ScaleGuard steers
      // users to the sub-quadratic LSH path past the warn threshold
      // (and hard-fails under spark.graft.quadraticFailRows).
      ScaleGuard.quadratic(s, "sim_cosine_neardup", s"embeddings:$d",
        Tables.embeddings(s, d).count(), "sim_lsh_topk / api.Dedup.lshNearDupPairs")
      val bps = (for (x <- 0 until NumBlocks; y <- x until NumBlocks)
        yield (x * NumBlocks + y, x, y)).toDF("bp", "bx", "by")
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          pmod(col("vec_id"), lit(NumBlocks.toLong)).cast("int").as("blk"))
      val aSide = emb.join(broadcast(bps), col("blk") === col("bx"))
        .select(col("bp"), col("vec_id").as("ia"), col("embedding").as("va"),
          col("blk").as("blka"))
      val bSide = emb.join(broadcast(bps.select(col("bp").as("bpb"), col("by"))),
          col("blk") === col("by"))
        .select(col("bpb"), col("vec_id").as("ib"), col("embedding").as("vb"),
          col("blk").as("blkb"))
      val cand = aSide.join(bSide, col("bp") === col("bpb"))
        // diagonal block-pairs pair a block with itself: keep ia < ib
        // once; off-diagonal pairs are unique by construction.
        .filter(col("blka") =!= col("blkb") || col("ia") < col("ib"))
        .filter(call_function("cosine_sim", col("va"), col("vb")) >= 0.45 - 1e-4)
        .select(least(col("ia"), col("ib")).as("i"),
          greatest(col("ia"), col("ib")).as("j"))
      cosineOf(comps(s, d), cand)
        .filter(col("cosine") >= 0.45)
        .orderBy(col("i"), col("j"))
    }),

    // Brute-force cosine top-k for a fixed query vector — the ANN
    // correctness baseline (ref predicter.py:194-291 full candidate scan).
    "sim_bruteforce_topk" -> ((s, d) => {
      val c = comps(s, d)
      val pairs = Tables.embeddings(s, d)
        .select(lit(QueryVec).as("i"), col("vec_id").as("j"))
        .filter(col("j") =!= QueryVec)
      cosineOf(c, pairs)
        .select(col("j").as("vec_id"), col("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    }),

    // Dedup threshold-tuning sweep — the curve an operator reads before
    // picking a near-dup cutoff: over the LSH same-bucket candidate
    // pairs (the sub-quadratic scale path), exact cosines are computed
    // ONCE and the pair/drop counts at each candidate threshold come
    // from a constant-fanout (×4) broadcast of the threshold list —
    // one candidate join + one aggregation regardless of how many
    // thresholds are swept. n_dropped = distinct higher-id members with
    // a lower-id near-dup (the SemDeDup keep-min-id drop count).
    "sim_dedup_sweep" -> ((s, d) => {
      import s.implicits._
      // Candidates = same-bucket pairs from the self-sized LSH index.
      // The candidate volume steps with the integer plane count — see
      // the pinned contract note at the constants (a two-phase overfull
      // split was measured strictly worse at both sf1 and sf10 in r12
      // and reverted). Arrays ride THROUGH the bucket self-join (two
      // n-row shuffles); the pair stream exists only inside the join's
      // codegen pipeline, prefiltered inline at the LOWEST swept
      // threshold, and the exact decimal cosine is a map-side array
      // fold on survivors — same values as the exploded-components
      // form, none of its pairs-sized shuffles.
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val bv = buckets(s, d).join(e, "vec_id")
      val av = bv.select(col("bucket"), col("vec_id").as("i"), col("embedding").as("va"))
      val bw = bv.select(col("bucket"), col("vec_id").as("j"), col("embedding").as("vb"))
      // coalesce makes the fold NON-NULLABLE: without it Catalyst infers
      // isnotnull(<the whole decimal fold>) from the downstream
      // threshold filter and pushes it INTO the bucket-join condition,
      // evaluating the interpreted fold for every candidate pair before
      // the cheap conjuncts (measured 77 s for 272k pairs at sf1; the
      // sentinel −2 sits below every threshold, so a null cosine —
      // impossible on the fixed-width contract — still drops).
      // Prefilter bound DERIVED from the swept list (r12 advice: a
      // hardcoded literal silently under-counts any lower threshold
      // someone later adds to the sweep); the oracle SQL reads the
      // same SweepThresholds constant.
      val cos = av.join(bw, "bucket")
        .filter(col("i") < col("j"))
        .filter(call_function("cosine_sim", col("va"), col("vb"))
          >= SweepThresholds.min - 1e-4)
        .select(col("i"), col("j"),
          coalesce(round(graft.api.Similarity.decimalDotArr(col("va"), col("vb"))
            / (graft.api.Similarity.normArr(col("va"))
              * graft.api.Similarity.normArr(col("vb"))), 6), lit(-2.0)).as("cosine"))
      val thr = SweepThresholds.toDF("threshold")
      cos.crossJoin(broadcast(thr))   // constant fanout: |thresholds|
        .filter(col("cosine") >= col("threshold"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("j")).as("n_dropped"))
        .orderBy(col("threshold").desc)
    }),

    // Matryoshka prefix-dimension retrieval (Kusupati et al. 2022): rank
    // by cosine over only the first MrlDims of the 64-dim embedding
    // (prefix-renormalized — the MRL contract) and report top-k overlap
    // against the full-dimension ranking. THE knob of dimension-adaptive
    // retrieval: a prefix scan reads MrlDims/Dim of the vector bytes, and
    // this query measures exactly what that truncation costs in recall.
    // Both rankings use the shared exact-decimal cosine, so the overlap
    // count is engine-identical.
    "sim_matryoshka_recall" -> ((s, d) => {
      val c = comps(s, d)
      val pairs = Tables.embeddings(s, d)
        .select(lit(QueryVec).as("i"), col("vec_id").as("j"))
        .filter(col("j") =!= QueryVec)
      val fullTop = cosineOf(c, pairs)
        .orderBy(col("cosine").desc, col("j").asc).limit(TopK)
        .select(col("j"))
      val prefTop = graft.api.Similarity
        .cosineOf(c.filter(col("pos") < MrlDims), pairs)
        .select(col("j"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("j").asc).limit(TopK)
        .select(col("j").as("jp"))
      fullTop.join(prefTop, col("j") === col("jp"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(TopK).as("k"), lit(MrlDims).as("prefix_dims"),
          col("n_overlap"),
          round(col("n_overlap").cast("double") / lit(TopK.toDouble), 6)
            .as("recall"))
    }),

    // Brute-force top-k through the native cosine_sim Catalyst expression
    // (graft.functions.CosineSim) — api.Similarity.bruteForceTopK, the
    // serving lookup: one task when the (id, vector) input fits the
    // one-task rule, else one codegen'd scan against the broadcast query
    // vector. Must return exactly what the posexplode/decimal oracle
    // returns after 6-place rounding (double accumulation is sequential
    // in index order; TrainingDataSpec pins agreement with the exact form
    // at 1e-9).
    "sim_native_topk" -> ((s, d) => {
      graft.api.Similarity.bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        QueryVec, 10)
    }),

    // Per-class embedding centroid — the class-prototype operator an
    // embedding pipeline needs everywhere (cluster summaries, centroid
    // classifiers, drift monitors, IVF seeding). Long (label, pos)
    // output: one posexplode then ONE hash aggregation whose map-side
    // partial combine reduces every partition to |labels|·Dim rows
    // before the shuffle — reduce side is bounded by classes × dims,
    // never by corpus size. Exact decimal accumulation (order-
    // independent), so the mean hash-matches DuckDB bitwise.
    "sim_centroid_by_group" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("label"), col("pos"), col("v").cast("double").as("v"))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n_vecs"),
          round(rsum(col("v")) / count(lit(1)), 6).as("centroid_v"))
        .orderBy(col("label"), col("pos"))
    }),

    // Hyperplane-LSH bucket stats: bucket population histogram — shows
    // the candidate-set reduction the LSH path buys at scale.
    "sim_lsh_buckets" -> ((s, d) => {
      buckets(s, d)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("n_vectors").desc, col("bucket").asc)
        .limit(20)
    }),

    // IVF ANN with a FITTED coarse quantizer: k-means centroids (Lloyd,
    // deterministic seed + exact-decimal reductions — oracle-checked
    // including the fit), every vector assigned to its nearest centroid
    // cell, the query's NProbe nearest cells probed (multi-probe — the
    // standard recall knob), exact cosine re-rank inside those cells
    // only. TrainingDataSpec pins recall vs the brute-force baseline.
    "sim_ivf_topk" -> ((s, d) => {
      val c = comps(s, d)
      val cent = kmeansCentroids(s, d)
      val assign = ivfAssign(s, d)
      val qcells = c.filter(col("vec_id") === QueryVec).join(cent, "pos")
        .groupBy(col("cid"))
        .agg(rsum((col("v") - col("cv")) * (col("v") - col("cv"))).as("d2"))
        // unpartitioned window over the CENTROID set (k = 8 rows), never
        // over data-scale rows
        .withColumn("rn", row_number().over(
          Window.orderBy(col("d2").asc, col("cid").asc)))
        .filter(col("rn") <= NProbe).select(col("cid"))
      val cand = assign.join(broadcast(qcells), Seq("cid"))
        .filter(col("vec_id") =!= QueryVec)
        .select(lit(QueryVec).as("i"), col("vec_id").as("j"))
      cosineOf(c, cand)
        .select(col("j").as("vec_id"), col("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    }),

    // ANN honesty metric: recall@10 of the IVF/nprobe path against the
    // exact brute-force ranking — the number an ANN deployment actually
    // tunes nprobe by. Cosines are computed ONCE over all query pairs;
    // the IVF list is the same ranking restricted to the probed cells'
    // candidates, so the comparison isolates exactly what the coarse
    // quantizer loses. One row: k, overlap, recall.
    "sim_ivf_recall" -> ((s, d) => {
      val c = comps(s, d)
      val allPairs = Tables.embeddings(s, d)
        .select(lit(QueryVec).as("i"), col("vec_id").as("j"))
        .filter(col("j") =!= QueryVec)
      val cos = cosineOf(c, allPairs)
      val ex = cos.orderBy(col("cosine").desc, col("j").asc)
        .limit(TopK).select(col("j"))
      val cent = kmeansCentroids(s, d)
      val qcells = c.filter(col("vec_id") === QueryVec).join(cent, "pos")
        .groupBy(col("cid"))
        .agg(rsum((col("v") - col("cv")) * (col("v") - col("cv"))).as("d2"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("d2").asc, col("cid").asc)))
        .filter(col("rn") <= NProbe).select(col("cid"))
      val iv = cos.join(
          ivfAssign(s, d).join(broadcast(qcells), Seq("cid"))
            .select(col("vec_id").as("j")), "j")
        .orderBy(col("cosine").desc, col("j").asc)
        .limit(TopK).select(col("j"))
      ex.join(iv, "j")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(TopK).as("k"), col("n_overlap"),
          round(col("n_overlap").cast("double") / TopK, 6).as("recall"))
    }),

    // PQ (product quantization) ANN — the third standard ANN family next
    // to IVF and LSH (Jégou et al. 2011): vectors are compressed to one
    // code per subspace against FITTED per-subspace codebooks
    // (deterministic Lloyd, oracle-checked including the fit); a query is
    // answered by an ADC scan — a broadcast lookup table of per-
    // (subspace, code) partial dots, summed per vector with NO access to
    // the original vectors — then the top-PqOverfetch candidates are
    // exactly re-ranked. At 100 TB the codes table is 8 bytes/vector
    // where the raw embeddings are 256: the scan that decides candidates
    // touches 3% of the bytes, and the LUT join is a broadcast hash join
    // against 64 rows. TrainingDataSpec pins recall vs brute force.
    "sim_pq_topk" -> ((s, d) => {
      val c = ncomps(s, d)
      val cent = pqCodebooks(s, d)
      val codes = pqCodes(s, d)
      val lut = c.filter(col("vec_id") === QueryVec)
        .join(cent, Seq("sub", "pos"))
        .groupBy(col("sub"), col("cid"))
        .agg(rsum(col("nv") * col("cv")).as("pdot"))
      val adc = codes.filter(col("vec_id") =!= QueryVec)
        .join(broadcast(lut), Seq("sub", "cid"))
        .groupBy(col("vec_id"))
        .agg(rsum(col("pdot")).as("adc"))
      val cand = adc
        .orderBy(col("adc").desc, col("vec_id").asc)
        .limit(PqOverfetch)
        .select(lit(QueryVec).as("i"), col("vec_id").as("j"))
      cosineOf(comps(s, d), cand)
        .select(col("j").as("vec_id"), col("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    }),

    // SQ (scalar quantization) ANN — the fourth standard ANN family next
    // to IVF/PQ/LSH (the SQ8 index of FAISS/Milvus): every NORMALIZED
    // component is uniformly quantized to one int8 code against a fitted
    // per-dimension (min, max) range — a Dim-row broadcast artifact —
    // and a query is answered by an asymmetric scan, dot(query,
    // dequantized codes), then exact re-rank of the top-PqOverfetch.
    // At 100 TB the codes artifact is 1 byte/dim where the raw embedding
    // is 8 (64 B vs 512 B per vector): the scan that decides candidates
    // touches 12.5% of the bytes with NO codebook training beyond a
    // per-dim min/max agg. Exact-decimal accumulation of the ADC dots,
    // so the fitted range, the codes, and the estimates all replay
    // bit-for-bit in DuckDB; recall vs brute force pinned in
    // TrainingDataSpec.
    "sim_sq_topk" -> ((s, d) => {
      val q = ncomps(s, d).filter(col("vec_id") === QueryVec)
        .select(col("pos"), col("nv").as("qv"))
      val adc = sqCodes(s, d).filter(col("vec_id") =!= QueryVec)
        .join(broadcast(sqStats(s, d)), "pos")
        .join(broadcast(q), "pos")
        .groupBy(col("vec_id"))
        .agg(rsum(col("qv") * (col("mn") +
          (col("code") + lit(0.5)) * (col("mx") - col("mn")) / SqLevels)).as("adc"))
      val cand = adc
        .orderBy(col("adc").desc, col("vec_id").asc)
        .limit(PqOverfetch)
        .select(lit(QueryVec).as("i"), col("vec_id").as("j"))
      cosineOf(comps(s, d), cand)
        .select(col("j").as("vec_id"), col("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    }),

    // LSH-bucketed ANN: candidates share the query's 16-bit bucket;
    // exact cosine re-rank inside the bucket only.
    "sim_lsh_topk" -> ((s, d) => {
      val b = buckets(s, d)
      val qb = b.filter(col("vec_id") === QueryVec).select(col("bucket").as("qbucket"))
      val cand = b.join(broadcast(qb), col("bucket") === col("qbucket"))
        .filter(col("vec_id") =!= QueryVec)
        .select(lit(QueryVec).as("i"), col("vec_id").as("j"))
      cosineOf(comps(s, d), cand)
        .select(col("j").as("vec_id"), col("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC dedup at
    // corpus scale — pairwise cosine is computed ONLY between vectors the
    // fitted coarse quantizer assigns to the same cell, never across the
    // corpus: the k-means partition bounds candidate generation the way
    // LSH bands do for MinHash. Drop rule: a vector is a semantic
    // duplicate when a SMALLER-id cell-mate sits at ≥ SemThresh cosine —
    // the deterministic keep-the-min-id form of the paper's
    // keep-one-per-cluster step. The quantizer is the SIZED Lloyd fit
    // (semCells): k = max(8, ceil(n/512)) hash-minimal seeds, so cells
    // stay ~constant and the within-cell sweep Σcell² ≈ n·512 is LINEAR
    // in the corpus. (Through round 10 this query pinned k = 8, whose
    // Σcell² = n²/8 filled the host disk at the sf10 full-surface
    // checkpoint — the "grow the seed set with the corpus" production
    // form this comment used to defer to is now the query itself; the
    // whole sized fit stays under the DuckDB oracle via the seed-rank
    // CTE + the same unrolled Lloyd chain.) Output is the drop list with
    // its evidence (how many better copies, the closest one's cosine).
    "dedup_semantic" -> ((s, d) => {
      graft.api.Similarity.semanticDropList(Tables.embeddings(s, d),
          "vec_id", "embedding", semCells(s, d), SemThresh)
        .orderBy(col("vec_id"))
    })
  )

  /** One exact-decimal Lloyd assignment step as a CTE (every (vec, cid)
    * distance — the oracle replays the full product; Spark prunes it
    * with the l2_dist2 prefilter, provably same winners). */
  private def kmAssignSql(name: String, centCte: String) =
    s"""$name AS MATERIALIZED (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY d2 ASC, cid ASC) AS rn
       |    FROM (SELECT x.vec_id, c.cid,
       |        CAST(SUM(CAST((x.v - c.cv) * (x.v - c.cv) AS $PsumCast)) AS DOUBLE) AS d2
       |      FROM comps x JOIN $centCte c ON c.pos = x.pos
       |      GROUP BY x.vec_id, c.cid))
       |  WHERE rn = 1)""".stripMargin

  /** One exact-decimal Lloyd mean step as a CTE. */
  private def kmCentSql(name: String, assignCte: String) =
    s"""$name AS MATERIALIZED (SELECT a.cid, x.pos,
       |    CAST(SUM(CAST(x.v AS $PsumCast)) AS DOUBLE) / COUNT(*) AS cv
       |  FROM comps x JOIN $assignCte a ON a.vec_id = x.vec_id
       |  GROUP BY a.cid, x.pos)""".stripMargin

  /** KmIters Lloyd rounds from seed CTE `c0` of prefix `p`, ending in
    * the final assignment CTE `${p}afin`. */
  private def kmChainSql(p: String): String = {
    val chain = (1 to KmIters).map { k =>
      kmAssignSql(s"${p}a$k", s"${p}c${k - 1}") + ",\n" + kmCentSql(s"${p}c$k", s"${p}a$k")
    }.mkString(",\n")
    s"$chain,\n${kmAssignSql(s"${p}afin", s"${p}c$KmIters")}"
  }

  /** DuckDB twin of kmeansCentroids + final cell assignment: the Lloyd
    * recurrence unrolled into chained CTEs (c0 → a1 → c1 → … → afin),
    * exact-decimal distance and mean reductions — identical cells on
    * both engines. */
  private def ivfKmeansSql: String =
    s"""c0 AS MATERIALIZED (SELECT vec_id AS cid, pos, v AS cv FROM comps
       |  WHERE vec_id IN (${Pivots.mkString(", ")})),
       |${kmChainSql("")}""".stripMargin

  /** One TWO-LEVEL assignment step as CTEs — the twin of [[assignCells]]
    * with exact decimal arithmetic end-to-end (no margin needed: the
    * oracle ranks every candidate exactly). `{name}_cs` buckets each
    * centroid under its nearest super; `{name}_pa` ranks each vector
    * over the centroids in its precomputed top-m supers; the fallback
    * branch ranks vectors with NO probed candidate over all centroids —
    * the identical replayable rule the Spark side applies. */
  private def semAssignSql(name: String, centCte: String): String =
    s"""${name}_cs AS (SELECT cid, sid FROM (
       |    SELECT q.cid, q.sid, row_number() OVER (PARTITION BY q.cid
       |        ORDER BY q.d2 ASC, q.sid ASC) AS rn
       |    FROM (SELECT c.cid, p.sid,
       |        CAST(SUM(CAST((c.cv - p.sv) * (c.cv - p.sv) AS $PsumCast)) AS DOUBLE) AS d2
       |      FROM $centCte c JOIN supc p ON p.pos = c.pos
       |      GROUP BY c.cid, p.sid) q)
       |  WHERE rn = 1),
       |${name}_pa AS MATERIALIZED (SELECT vec_id, cid FROM (
       |    SELECT q.vec_id, q.cid, row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY q.d2 ASC, q.cid ASC) AS rn
       |    FROM (SELECT cd.vec_id, cd.cid,
       |        CAST(SUM(CAST((x.v - c.cv) * (x.v - c.cv) AS $PsumCast)) AS DOUBLE) AS d2
       |      FROM (SELECT v.vec_id, cs.cid
       |        FROM vsup v JOIN ${name}_cs cs USING (sid)) cd
       |      JOIN comps x ON x.vec_id = cd.vec_id
       |      JOIN $centCte c ON c.cid = cd.cid AND c.pos = x.pos
       |      GROUP BY cd.vec_id, cd.cid) q)
       |  WHERE rn = 1),
       |$name AS MATERIALIZED (
       |  SELECT vec_id, cid FROM ${name}_pa
       |  UNION ALL
       |  SELECT vec_id, cid FROM (
       |    SELECT q.vec_id, q.cid, row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY q.d2 ASC, q.cid ASC) AS rn
       |    FROM (SELECT x.vec_id, c.cid,
       |        CAST(SUM(CAST((x.v - c.cv) * (x.v - c.cv) AS $PsumCast)) AS DOUBLE) AS d2
       |      FROM comps x JOIN $centCte c ON c.pos = x.pos
       |      WHERE x.vec_id NOT IN (SELECT vec_id FROM ${name}_pa)
       |      GROUP BY x.vec_id, c.cid) q)
       |  WHERE rn = 1)""".stripMargin

  /** DuckDB twin of [[semCells]] — the SIZED quantizer with the
    * TWO-LEVEL probed assignment: k = semK(n) hash-minimal seeds and
    * g = semG(k) supers from ONE h28 rank (same rule as the Spark
    * orderBy + limit prefix), the n·g vector→super ranking computed
    * once, then the Lloyd chain with every assignment through
    * [[semAssignSql]]; ends in `safin`. */
  private def semKmeansSql: String = {
    val kExpr = s"GREATEST(8, CAST(CEIL((SELECT COUNT(*) FROM embeddings)" +
      s" / $SemTargetCell.0) AS BIGINT))"
    val gExpr = s"GREATEST(4, CAST(CEIL(SQRT(CAST($kExpr AS DOUBLE))) AS BIGINT))"
    val chain = (1 to SemIters).map { r =>
      semAssignSql(s"sa$r", s"sc${r - 1}") + ",\n" + kmCentSql(s"sc$r", s"sa$r")
    }.mkString(",\n")
    s"""srank AS MATERIALIZED (SELECT vec_id, row_number() OVER (
       |    ORDER BY ${h28Sql("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC) AS rn
       |  FROM embeddings),
       |sseed AS (SELECT vec_id FROM srank WHERE rn <= $kExpr),
       |ssup AS (SELECT vec_id AS sid FROM srank WHERE rn <= $gExpr),
       |supc AS MATERIALIZED (SELECT u.sid, c.pos, c.v AS sv
       |  FROM comps c JOIN ssup u ON c.vec_id = u.sid),
       |vsup AS MATERIALIZED (SELECT vec_id, sid FROM (
       |    SELECT q.vec_id, q.sid, row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY q.d2 ASC, q.sid ASC) AS rn
       |    FROM (SELECT x.vec_id, p.sid,
       |        CAST(SUM(CAST((x.v - p.sv) * (x.v - p.sv) AS $PsumCast)) AS DOUBLE) AS d2
       |      FROM comps x JOIN supc p ON p.pos = x.pos
       |      GROUP BY x.vec_id, p.sid) q)
       |  WHERE rn <= $SemProbe),
       |sc0 AS MATERIALIZED (SELECT vec_id AS cid, pos, v AS cv FROM comps
       |  WHERE vec_id IN (SELECT vec_id FROM sseed)),
       |$chain,
       |${semAssignSql("safin", s"sc$SemIters")}""".stripMargin
  }

  /** DuckDB twin of pqCodebooks + the final per-(vec, sub) code
    * assignment: the per-subspace Lloyd recurrence unrolled into chained
    * CTEs (pc0 → pa1 → pc1 → … → pafin), exact-decimal reductions —
    * identical codes on both engines. */
  private def pqKmeansSql: String = {
    def assignSql(name: String, centCte: String) =
      s"""$name AS MATERIALIZED (SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid, row_number() OVER (PARTITION BY vec_id, sub
         |        ORDER BY d2 ASC, cid ASC) AS rn
         |    FROM (SELECT x.vec_id, x.sub, c.cid,
         |        CAST(SUM(CAST((x.nv - c.cv) * (x.nv - c.cv) AS $PsumCast)) AS DOUBLE) AS d2
         |      FROM ncomps x JOIN $centCte c ON c.sub = x.sub AND c.pos = x.pos
         |      GROUP BY x.vec_id, x.sub, c.cid))
         |  WHERE rn = 1)""".stripMargin
    def centSql(name: String, assignCte: String) =
      s"""$name AS MATERIALIZED (SELECT a.cid, x.sub, x.pos,
         |    CAST(SUM(CAST(x.nv AS $PsumCast)) AS DOUBLE) / COUNT(*) AS cv
         |  FROM ncomps x JOIN $assignCte a ON a.vec_id = x.vec_id AND a.sub = x.sub
         |  GROUP BY a.cid, x.sub, x.pos)""".stripMargin
    val chain = (1 to KmIters).map { k =>
      assignSql(s"pa$k", s"pc${k - 1}") + ",\n" + centSql(s"pc$k", s"pa$k")
    }.mkString(",\n")
    s"""pc0 AS MATERIALIZED (SELECT vec_id AS cid, sub, pos, nv AS cv FROM ncomps
       |  WHERE vec_id IN (${Pivots.mkString(", ")})),
       |$chain,
       |${assignSql("pafin", s"pc$KmIters")}""".stripMargin
  }

  private val cosinePairSql =
    s"""dot AS (SELECT p.i, p.j,
       |    CAST(SUM(CAST(x.v * y.v AS $PsumCast)) AS DOUBLE) AS dot
      |  FROM pairs p
      |  JOIN comps x ON x.vec_id = p.i
      |  JOIN comps y ON y.vec_id = p.j AND y.pos = x.pos
      |  GROUP BY p.i, p.j),
      |cos AS (SELECT d.i, d.j, round(d.dot / (a.nrm * b.nrm), 6) AS cosine
      |  FROM dot d JOIN nrm a ON a.vec_id = d.i JOIN nrm b ON b.vec_id = d.j)""".stripMargin

  val oracle: Map[String, String] = Map(
    "sim_centroid_by_group" ->
      s"""WITH lcomps AS (SELECT label, pos, CAST(embedding[pos + 1] AS DOUBLE) AS v
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, $Dim)) AS pos))
         |SELECT label, pos, COUNT(*) AS n_vecs,
         |  round(CAST(SUM(CAST(v AS $PsumCast)) AS DOUBLE) / COUNT(*), 6) AS centroid_v
         |FROM lcomps GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "sim_cosine_neardup" ->
      s"""WITH $compsSql, $normsSql,
         |pairs AS (SELECT a.vec_id AS i, b.vec_id AS j
         |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id),
         |$cosinePairSql
         |SELECT i, j, cosine FROM cos WHERE cosine >= 0.45 ORDER BY i, j""".stripMargin,

    "sim_bruteforce_topk" ->
      s"""WITH $compsSql, $normsSql,
         |pairs AS (SELECT $QueryVec AS i, vec_id AS j FROM embeddings
         |  WHERE vec_id <> $QueryVec),
         |$cosinePairSql
         |SELECT j AS vec_id, cosine FROM cos
         |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,

    "sim_dedup_sweep" ->
      s"""WITH $compsSql, $planesSql, $bucketsSql, $normsSql,
         |pairs AS (SELECT a.vec_id AS i, b.vec_id AS j
         |  FROM buckets a JOIN buckets b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |$cosinePairSql
         |SELECT threshold, COUNT(*) AS n_pairs,
         |  COUNT(DISTINCT j) AS n_dropped
         |FROM cos CROSS JOIN
         |  (SELECT CAST(unnest([${SweepThresholds.mkString(", ")}]) AS DOUBLE) AS threshold)
         |WHERE cosine >= threshold
         |GROUP BY threshold ORDER BY threshold DESC""".stripMargin,

    "sim_matryoshka_recall" ->
      s"""WITH $compsSql, $normsSql,
         |pcomps AS MATERIALIZED (SELECT vec_id, pos, v FROM comps WHERE pos < $MrlDims),
         |pnrm AS (SELECT vec_id,
         |    sqrt(CAST(SUM(CAST(v * v AS $PsumCast)) AS DOUBLE)) AS nrm
         |  FROM pcomps GROUP BY vec_id),
         |pairs AS (SELECT $QueryVec AS i, vec_id AS j FROM embeddings
         |  WHERE vec_id <> $QueryVec),
         |$cosinePairSql,
         |fulltop AS (SELECT j FROM (
         |    SELECT j, row_number() OVER (ORDER BY cosine DESC, j ASC) AS rn
         |    FROM cos) WHERE rn <= $TopK),
         |pdot AS (SELECT p.i, p.j,
         |    CAST(SUM(CAST(x.v * y.v AS $PsumCast)) AS DOUBLE) AS dot
         |  FROM pairs p
         |  JOIN pcomps x ON x.vec_id = p.i
         |  JOIN pcomps y ON y.vec_id = p.j AND y.pos = x.pos
         |  GROUP BY p.i, p.j),
         |pcos AS (SELECT d.j, round(d.dot / (a.nrm * b.nrm), 6) AS cosine
         |  FROM pdot d JOIN pnrm a ON a.vec_id = d.i JOIN pnrm b ON b.vec_id = d.j),
         |ptop AS (SELECT j FROM (
         |    SELECT j, row_number() OVER (ORDER BY cosine DESC, j ASC) AS rn
         |    FROM pcos) WHERE rn <= $TopK)
         |SELECT $TopK AS k, $MrlDims AS prefix_dims, COUNT(*) AS n_overlap,
         |  round(CAST(COUNT(*) AS DOUBLE) / $TopK.0, 6) AS recall
         |FROM fulltop JOIN ptop USING (j)""".stripMargin,

    // Same oracle as the exact brute-force form: the native expression
    // must agree after rounding.
    "sim_native_topk" ->
      s"""WITH $compsSql, $normsSql,
         |pairs AS (SELECT $QueryVec AS i, vec_id AS j FROM embeddings
         |  WHERE vec_id <> $QueryVec),
         |$cosinePairSql
         |SELECT j AS vec_id, cosine FROM cos
         |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,

    "sim_ivf_topk" ->
      s"""WITH $compsSql, $normsSql,
         |$ivfKmeansSql,
         |qc AS (SELECT cid FROM (
         |    SELECT cid, row_number() OVER (ORDER BY d2 ASC, cid ASC) AS rn
         |    FROM (SELECT c.cid,
         |        CAST(SUM(CAST((x.v - c.cv) * (x.v - c.cv) AS $PsumCast)) AS DOUBLE) AS d2
         |      FROM comps x JOIN c$KmIters c ON c.pos = x.pos
         |      WHERE x.vec_id = $QueryVec GROUP BY c.cid))
         |  WHERE rn <= $NProbe),
         |pairs AS (SELECT $QueryVec AS i, a.vec_id AS j
         |  FROM afin a JOIN qc ON qc.cid = a.cid
         |  WHERE a.vec_id <> $QueryVec),
         |$cosinePairSql
         |SELECT j AS vec_id, cosine FROM cos
         |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,

    "sim_ivf_recall" ->
      s"""WITH $compsSql, $normsSql,
         |$ivfKmeansSql,
         |qc AS (SELECT cid FROM (
         |    SELECT cid, row_number() OVER (ORDER BY d2 ASC, cid ASC) AS rn
         |    FROM (SELECT c.cid,
         |        CAST(SUM(CAST((x.v - c.cv) * (x.v - c.cv) AS $PsumCast)) AS DOUBLE) AS d2
         |      FROM comps x JOIN c$KmIters c ON c.pos = x.pos
         |      WHERE x.vec_id = $QueryVec GROUP BY c.cid))
         |  WHERE rn <= $NProbe),
         |pairs AS (SELECT $QueryVec AS i, vec_id AS j FROM embeddings
         |  WHERE vec_id <> $QueryVec),
         |$cosinePairSql,
         |ex AS (SELECT j FROM cos ORDER BY cosine DESC, j ASC LIMIT $TopK),
         |iv AS (SELECT c2.j FROM cos c2
         |  JOIN afin a ON a.vec_id = c2.j
         |  JOIN qc ON qc.cid = a.cid
         |  ORDER BY c2.cosine DESC, c2.j ASC LIMIT $TopK)
         |SELECT $TopK AS k, COUNT(*) AS n_overlap,
         |  round(CAST(COUNT(*) AS DOUBLE) / $TopK, 6) AS recall
         |FROM ex JOIN iv ON ex.j = iv.j""".stripMargin,

    "sim_pq_topk" ->
      s"""WITH $compsSql, $normsSql, $ncompsSql,
         |${pqKmeansSql},
         |lut AS (SELECT c.sub, c.cid,
         |    CAST(SUM(CAST(x.nv * c.cv AS $PsumCast)) AS DOUBLE) AS pdot
         |  FROM ncomps x JOIN pc$KmIters c ON c.sub = x.sub AND c.pos = x.pos
         |  WHERE x.vec_id = $QueryVec GROUP BY c.sub, c.cid),
         |adc AS (SELECT a.vec_id,
         |    CAST(SUM(CAST(l.pdot AS $PsumCast)) AS DOUBLE) AS adc
         |  FROM pafin a JOIN lut l ON l.sub = a.sub AND l.cid = a.cid
         |  WHERE a.vec_id <> $QueryVec GROUP BY a.vec_id),
         |pairs AS (SELECT $QueryVec AS i, vec_id AS j FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY adc DESC, vec_id ASC) AS rn
         |    FROM adc)
         |  WHERE rn <= $PqOverfetch),
         |$cosinePairSql
         |SELECT j AS vec_id, cosine FROM cos
         |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,

    // Replays the SQ index exactly: per-dim (min, max) fit, the clamped
    // uniform codes, and the same dequantized-ADC arithmetic.
    "sim_sq_topk" ->
      s"""WITH $compsSql, $normsSql, $ncompsSql,
         |sqs AS MATERIALIZED (SELECT pos, MIN(nv) AS mn, MAX(nv) AS mx
         |  FROM ncomps GROUP BY pos),
         |sqc AS MATERIALIZED (SELECT x.vec_id, x.pos,
         |    CAST(CASE WHEN s.mx = s.mn THEN 0
         |      ELSE least(floor((x.nv - s.mn) / (s.mx - s.mn) * $SqLevels),
         |                 ${SqLevels - 1}) END AS INT) AS code
         |  FROM ncomps x JOIN sqs s ON s.pos = x.pos),
         |adc AS (SELECT c.vec_id,
         |    CAST(SUM(CAST(q.nv * (s.mn + (c.code + 0.5) * (s.mx - s.mn)
         |      / $SqLevels) AS $PsumCast)) AS DOUBLE) AS adc
         |  FROM sqc c JOIN sqs s ON s.pos = c.pos
         |  JOIN ncomps q ON q.pos = c.pos AND q.vec_id = $QueryVec
         |  WHERE c.vec_id <> $QueryVec GROUP BY c.vec_id),
         |pairs AS (SELECT $QueryVec AS i, vec_id AS j FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY adc DESC, vec_id ASC) AS rn
         |    FROM adc)
         |  WHERE rn <= $PqOverfetch),
         |$cosinePairSql
         |SELECT j AS vec_id, cosine FROM cos
         |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,

    "sim_lsh_buckets" ->
      s"""WITH $compsSql, $planesSql, $bucketsSql
         |SELECT bucket, COUNT(*) AS n_vectors FROM buckets
         |GROUP BY bucket ORDER BY n_vectors DESC, bucket ASC LIMIT 20""".stripMargin,

    "sim_lsh_topk" ->
      s"""WITH $compsSql, $planesSql, $bucketsSql, $normsSql,
         |pairs AS (SELECT $QueryVec AS i, b.vec_id AS j FROM buckets b
         |  WHERE b.bucket = (SELECT bucket FROM buckets WHERE vec_id = $QueryVec)
         |    AND b.vec_id <> $QueryVec),
         |$cosinePairSql
         |SELECT j AS vec_id, cosine FROM cos
         |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,

    // The oracle mirrors the Spark plan's two-stage shape: a CHEAP
    // native cosine prefilter over the within-cell candidates (DuckDB's
    // vectorized list_cosine_similarity, double precision, with the same
    // 1e-4 margin the Spark cosine_sim prefilter uses), then the exact
    // decimal cosine deciding the threshold on survivors only. Float-dot
    // error is ~1e-7 at Dim=64, so the margin makes the prefilter
    // lossless — proven value-identical to the unfiltered form at
    // sf0.01, and what turns the sf1 twin from >25 min (every
    // within-cell pair through decimal arithmetic) into ~3 min.
    "dedup_semantic" ->
      s"""WITH $compsSql, $normsSql,
         |$semKmeansSql,
         |cand AS (SELECT a.vec_id AS i, b.vec_id AS j
         |  FROM safin a JOIN safin b ON b.cid = a.cid AND a.vec_id < b.vec_id),
         |pairs AS (SELECT c.i, c.j FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.i
         |  JOIN embeddings eb ON eb.vec_id = c.j
         |  WHERE list_cosine_similarity(ea.embedding, eb.embedding)
         |    >= $SemThresh - 1e-4),
         |$cosinePairSql
         |SELECT j AS vec_id, COUNT(*) AS n_better_dups,
         |  max(cosine) AS max_cosine
         |FROM cos WHERE cosine >= $SemThresh
         |GROUP BY j ORDER BY vec_id""".stripMargin
  )
}
