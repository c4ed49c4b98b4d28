package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.graph.DFGraphAlgs
import graft.tables.Tables
import TextHash.{h28, h28Sql}

/** Graph operator pack — SURVEY.md §2.7: degree (G9), edge-weight model
  * (G2), fixed-iteration PageRank (G8), BFS hop distance / six-degrees
  * histogram (G4/G5), weighted shortest path via Bellman-Ford relaxation
  * (G3), connectivity metadata (G12).
  *
  * The graph is the bipartite customer↔supplier graph induced by
  * orders⋈lineitem (the testdata analog of the reference's heterogeneous
  * social graph, ref transformer.py:279-349). Supplier vertex ids are
  * offset by 2^40 so the two id spaces never collide — including under
  * the replicated scale-up fixtures, whose keys stride 10^8 per replica
  * (10^9 cleared customer keys only up to ~9 replicas; 2^40 ≈ 1.1·10^12
  * clears ~10^4 replicas, i.e. fixture scale-ups past sf100).
  *
  * Iterative algorithms run a FIXED number of synchronous rounds as pure
  * DataFrame join+agg programs — the driver-facing, oracle-checkable
  * form; the oracle SQL is generated by unrolling the same recurrence
  * into chained CTEs. The test suite's GraphX/Pregel twins
  * (graft.graph.GraphAlgs, test scope) assert the same semantics on
  * micro-graphs.
  *
  * Scale notes: the edge list is built once per query, deduplicated, and
  * persisted across rounds; every round shuffles on the vertex id only
  * (one partitioning reused by AQE); rank sums go through exact decimals
  * so results are shuffle-order-independent. At 1000 executors this is
  * the standard synchronous-BSP pattern — each round one co-partitioned
  * shuffle join, no driver-side data movement.
  */
object GraphPack {
  type Q = (SparkSession, String) => DataFrame

  private[ops] val SuppOffset = 1L << 40
  private val PrIters    = 5
  private val BfsIters   = 6
  private val SsspIters  = 6
  private val CcIters    = 10
  /** graph_components keeps only discount-free REPEAT purchase edges
    * (w < CcMaxW, >= CcMinOrders lineitems) — a subgraph sparse enough
    * to actually disconnect; the full co-purchase graph is one giant
    * component through the supplier hubs. */
  private val CcMaxW     = 1.01
  private val CcMinOrders = 3
  /** BFS/SSSP source vertex: customer #1. */
  private val SourceId   = 1L
  /** G13 pruning threshold (ref settings.py:43 MIN_EDGE_COUNT=500). */
  private val MinEdgeCount = 400
  /** k-core order and peel rounds (fixed-round semantics, oracle-unrolled). */
  private val KcoreK     = 3
  private val KcoreIters = 3
  /** Label-propagation rounds (fixed-round semantics, oracle-unrolled). */
  private val LpIters = 3

  /** Distinct (rel, customer, supplier) purchase pairs, rel =
    * l_returnflag — the one pass over orders⋈lineitem that the plain
    * graph, the per-relation graph, AND MLPack's link universe all
    * project from (package-private so the suite builds it once). */
  private[ops] def relPairs(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"graph.relpairs:$d") {
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("l_returnflag").as("rel"), col("o_custkey").as("c"),
          (col("l_suppkey") + SuppOffset).as("p"))
        .distinct()
    }

  /** Max out-degree of the symmetric co-purchase graph, memoized per
    * (session, fixture dir) in [[DFCache.memo]]: one aggregate over the
    * session-cached edge list, charged to Bench's explicit shared-warmup
    * stage (Warm). Every BSP input in this pack is this graph, a
    * filtered subgraph of it, or a per-relation split of it, so this one
    * number upper-bounds the hub probe for all of them — an upper bound
    * can only over-salt, which is bit-identical (GraphSpec pins forced
    * salting). Passing it turns each query's hub probe into driver-side
    * arithmetic; every measured per-query alternative cost a job (see
    * DFGraphAlgs.saltPlanFromDeg). */
  private[ops] def maxCoDeg(s: SparkSession, d: String): Long =
    DFCache.memo(s, s"graph.maxdeg:$d") {
      Option(edges(s, d).groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .agg(max(col("deg"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    }

  /** Directed symmetric edge list (src,dst) of the bipartite graph.
    * Session-cached: five queries walk this same graph (§4's
    * "precomputed weights reused across queries"). */
  private[ops] def edges(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"graph.edges:$d") {
      val cs = relPairs(s, d).select(col("c"), col("p")).distinct()
      cs.select(col("c").as("src"), col("p").as("dst"))
        .union(cs.select(col("p").as("src"), col("c").as("dst")))
    }

  /** Weighted symmetric edges: w = 1 + min discount over the pair's
    * lineitems (ref bfs.py:15-90 precomputes one weight per edge). */
  private[ops] def weightedEdges(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"graph.wedges:$d") {
      val cs = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), (col("l_suppkey") + SuppOffset).as("p"))
        // n (lineitems behind the pair) rides along for the subgraph
        // filters (graph_components) — free in the same aggregation.
        .agg((lit(1.0) + min(col("l_discount"))).as("w"), count(lit(1)).as("n"))
      cs.select(col("c").as("src"), col("p").as("dst"), col("w"), col("n"))
        .union(cs.select(col("p").as("src"), col("c").as("dst"), col("w"), col("n")))
    }

  /** Standing neighbor index of the random-walk family — (src, rn, dst)
    * with rn a dense per-source rank ordered by dst. The walk step is a
    * composite-key (src, rn) equi-join against this; session-cached
    * because it is a prebuilt artifact walks PROBE, like the LSH/PQ
    * indexes. */
  private[ops] def nbrIndex(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"graph.nbridx:$d") {
      edges(s, d).withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dst"))))
    }

  /** Random-walk geometry of graph_rw_corpus: walks per root × steps;
    * roots are fixture-pinned to ids ≤ RwRootMax so the unrolled oracle
    * stays cheap (production roots = every node). */
  private val RwWalks   = 2
  private val RwLen     = 4
  private val RwRootMax = 200L
  /** Skip-gram context window of graph_rw_skipgram (word2vec's `window`). */
  private val RwWindow  = 2
  /** Mutual-reinforcement rounds of graph_hits (Kleinberg's HITS). */
  private val HitsIters = 2
  /** Personalized-PageRank rounds and seed cutoff (customers 1..max;
    * fixture-pinned seed set keeps the unrolled oracle cheap — the
    * production shape is every user as a seed, same one BSP job). */
  private val PprIters   = 4
  private val PprSeedMax = 8L
  /** Landmark set for harmonic-centrality estimation (customers 1..max).
    * Production contract: L ~ O(log n / ε²) uniformly sampled landmarks
    * (Eppstein-Wang style) — the estimate converges independent of graph
    * size, so the job stays L × BFS at any scale. */
  private val HarmonicLandmarkMax = 8L
  /** node2vec walk length (total steps after the root; step 1 is the
    * uniform first-order pick, steps 2.. use the p/q bias). */
  private val N2vSteps = 4

  /** What a walk step probes: the size-coalesced neighbour index view
    * (src, rn, dst) and its per-source degrees (src, deg). */
  private final case class WalkIndex(nbr: DataFrame, degs: DataFrame) {
    /** The uniform first-order pick of walk step `t`: neighbour
      * rn = h28(prefix?_root_walk_t_node) % deg + 1 of each frontier
      * row's node, joined on (src, rn). Returns the frontier's columns
      * plus `dst`, the picked neighbour. */
    def uniform(frontier: DataFrame, t: Int, prefix: Option[String]): DataFrame = {
      val key = prefix.map(lit).toSeq ++
        Seq(col("root"), col("walk"), lit(t), col("node"))
      frontier.join(degs, col("node") === col("src"))
        .withColumn("pick", h28(concat_ws("_", key: _*)) % col("deg") + 1)
        .drop("src", "deg")
        .join(nbr.select(col("src").as("nsrc"), col("rn"), col("dst")),
          col("node") === col("nsrc") && col("rn") === col("pick"))
        .drop("nsrc", "rn", "pick")
    }
  }

  /** The one step loop of the walk corpora — (root, walk, step, node)
    * for RwWalks walks from every root ≤ RwRootMax over `len` steps.
    * `step(ix, frontier, t)` maps the step-t frontier (root, walk,
    * node, plus whatever the corpus carries) to the step-(t+1) one.
    *
    * Every step re-scans the full neighbour index, so the loop reads the
    * cache's size-coalesced scan view (at its inherited 64 tiny
    * partitions those scans were nearly all task-launch overhead — the
    * build measured ~flat from sf0.1 to sf1). The degree frame is
    * persisted so the per-step plans read it as a tiny cached frame
    * instead of re-aggregating the index once per unrolled step. Each
    * step's frontier (≤ |roots|·RwWalks rows) is persisted in ONE
    * partition: the persist truncates the step-t lineage so step t+1
    * does not replay steps 0..t, and the single partition keeps the
    * corpus at len+1 blocks instead of len·shuffle.partitions mostly
    * empty ones. The corpus is then [[DFGraphAlgs.mat]]erialized — its
    * logical plan embeds every step's joins into the whole index, and
    * consumers re-planned that tree per action (measured at sf1: a
    * cached 2 000-row corpus count spent 80 ms executing and ~1.9 s
    * planning) — and the per-step scaffolding is released. */
  private def walkCorpus(s: SparkSession, d: String, len: Int)(
      step: (WalkIndex, DataFrame, Int) => DataFrame): DataFrame = {
    val nbr = nbrIndex(s, d)
    val ix = WalkIndex(nbr, nbr.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val roots = edges(s, d).select(col("src").as("root")).distinct()
      .filter(col("root") <= RwRootMax)
    val walks = s.range(0, RwWalks).select(col("id").as("walk"))
    var frontier = roots.crossJoin(broadcast(walks))   // constant fanout
      .select(col("root"), col("walk"), col("root").as("node"))
    val stepFrames = Seq.newBuilder[DataFrame]
    val parts = Seq.newBuilder[DataFrame]
    parts += frontier.select(col("root"), col("walk"), lit(0).as("step"), col("node"))
    for (t <- 0 until len) {
      frontier = step(ix, frontier, t).repartition(1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      stepFrames += frontier
      parts += frontier.select(col("root"), col("walk"), lit(t + 1).as("step"), col("node"))
    }
    val corpus = DFGraphAlgs.mat(parts.result().reduce(_ union _))
    stepFrames.result().foreach(_.unpersist(false))
    ix.degs.unpersist(false)
    corpus
  }

  /** The deterministic walk corpus shared by graph_rw_corpus and
    * graph_rw_skipgram — (root, walk, step, node); see the corpus query
    * for the full design rationale. Session-memoized: the skip-gram
    * pairs are a second aggregation over the same frame. */
  private[ops] def rwCorpus(s: SparkSession, d: String): DataFrame =
    DFCache.memo(s, s"graph.rwcorpus:$d") {
      walkCorpus(s, d, RwLen) { (ix, frontier, t) =>
        ix.uniform(frontier, t, None)
          .select(col("root"), col("walk"), col("dst").as("node"))
      }
    }

  /** node2vec (Grover & Leskovec 2016) second-order walk corpus —
    * (root, walk, step, node). Step 1 is the uniform first-order pick;
    * later steps bias each neighbor n of v by the previous node p:
    * 1/p_ret if n = p (return), 1 if n ~ p (BFS-like), 1/q if neither
    * (DFS-like). The pick is DETERMINISTIC: candidate weights are exact
    * dyadic doubles (0.25 / 1 / 4) cumulated in dst order, and the draw
    * r = u·total with u an md5-derived dyadic uniform — every product
    * stays below 2^52 so both engines compare identical doubles, no
    * decimal casts needed. Each step is one equi-join against the
    * standing neighbor index + one bounded window per walk instance
    * (state = walks, work = walks × deg — the linear fan-out of any
    * distributed node2vec implementation, e.g. Spark's graph libraries).
    */
  private[ops] def node2vecCorpus(s: SparkSession, d: String): DataFrame =
    DFCache.memo(s, s"graph.n2vcorpus:$d") {
      val adj = edges(s, d)
        .select(col("src").as("psrc"), col("dst").as("pdst"))
        .withColumn("adjflag", lit(1))
      val inst = Window.partitionBy(col("root"), col("walk"))
      val cum = inst.orderBy(col("dst"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      walkCorpus(s, d, N2vSteps) { (ix, frontier, t) =>
        if (t == 0)
          ix.uniform(frontier, 0, Some("n2v"))
            .select(col("root"), col("walk"), col("node").as("prev"),
              col("dst").as("node"))
        else
          frontier
            .join(ix.nbr.select(col("src").as("nsrc"), col("dst")),
              col("node") === col("nsrc"))
            .join(adj, col("prev") === col("psrc") && col("dst") === col("pdst"),
              "left")
            .withColumn("wt",
              when(col("dst") === col("prev"), lit(0.25))
                .when(col("adjflag").isNotNull, lit(1.0))
                .otherwise(lit(4.0)))
            .withColumn("u", h28(concat_ws("_", lit("n2v"),
              col("root"), col("walk"), lit(t), col("node"))).cast("double") /
              lit(268435456.0))
            .withColumn("cw", sum(col("wt")).over(cum))
            .withColumn("tot", sum(col("wt")).over(inst))
            .filter(col("cw") > col("u") * col("tot") &&
              col("cw") - col("wt") <= col("u") * col("tot"))
            .select(col("root"), col("walk"), col("node").as("prev"),
              col("dst").as("node"))
      }
    }

  /** Sparsified co-supply projection — suppliers co-occurring in ≥
    * P90 orders (relative threshold; per-key fan-in capped at 32, see
    * Analytics.cooccurrencePairs) as canonical x<y pairs. Session-
    * cached: the triangle count and the clustering coefficient both
    * walk this graph. */
  private[ops] def triPairs(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"graph.tripairs:$d") {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("okey"), col("l_suppkey").as("sk"))
      // Materialized once (r14, guide §2.4): the threshold aggregate and
      // the filter pass below each re-ran the whole pair build — the
      // fill's cost was 2× the operator. One materialization feeds both.
      val paired = DFGraphAlgs.mat(
        graft.api.Analytics.cooccurrencePairs(li, "okey", "sk",
          maxPerKey = 32))
      val thr = paired.agg(round(expr("percentile(n_cooc, 0.9)"), 6).as("thr"))
      paired.crossJoin(broadcast(thr))
        .filter(col("n_cooc") >= col("thr"))
        .select(col("p1").as("x"), col("p2").as("y"))
    }

  /** Out-degree-decorated (src, dst, deg) contribution frame of the
    * co-purchase graph, hash-partitioned and sorted on src at the
    * size-derived loop count (DFGraphAlgs.contribFrame) — the per-round
    * join input of the UNSALTED PageRank/PPR loops, session-cached so
    * graph_pagerank and graph_ppr share ONE fill (each otherwise paid
    * its own |E| exchange + sort + degree window per run, r14 guide
    * §2.4). NOT size-coalesced (sized = false): the fill's hash
    * partitioning on src is what keeps the loops' per-round joins
    * exchange-free, and a coalesce wrapper would discard it. The loops
    * consume it only when the memoized hub bound proves salting off;
    * the salted path still builds its own (src, __salt)-keyed frame. */
  private[ops] def prContrib(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"graph.contrib:$d", sized = false) {
      DFGraphAlgs.contribFrame(edges(s, d))
    }

  /** Landmark multi-source BFS distances — ONE BSP run shared by the
    * harmonic-centrality and effective-diameter queries. */
  private[ops] def landmarkDists(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"graph.lmdists:$d") {
      DFGraphAlgs.multiSourceShortestPaths(
        edges(s, d).withColumn("w", lit(1.0)),
        (1L to HarmonicLandmarkMax), BfsIters, Some(maxCoDeg(s, d)))
    }

  /** BFS hop distances from the fixed source — shared by the hop
    * histogram and the social-degree metric. DERIVED from the landmark
    * multi-source run instead of its own BSP job: SourceId is one of the
    * landmark sources, the landmark run relaxes the IDENTICAL
    * Bellman-Ford recurrence (same symmetric edges, w = 1.0, same
    * BfsIters, per-source state rows never interact — relaxations and
    * merges are keyed (s0, id)), so its s0 = SourceId slice is
    * bit-identical to the single-source loop this cache used to run.
    * One BSP job now serves graph_harmonic, graph_effective_diameter,
    * graph_betweenness's sibling AND the two BFS consumers (measured
    * 8-10 s of duplicated warmup at sf0.1). The nodes left-join restores
    * shortestPaths' contract of a null-dist row per unreached vertex. */
  private[ops] def bfsDists(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"graph.bfs:$d") {
      require(SourceId >= 1L && SourceId <= HarmonicLandmarkMax,
        s"bfsDists reuses the landmark BSP run: source $SourceId must be a landmark")
      val e = edges(s, d)
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      nodes.join(
        landmarkDists(s, d).filter(col("s0") === SourceId)
          .select(col("id"), col("dist")),
        Seq("id"), "left")
    }

  /** Predecessor-tracking SSSP state from the fixed source — shared by
    * the distance query and the decorated-path walk (one BSP run; its
    * (id, dist) projection is exactly what plain min-plus SSSP returns,
    * since the pred variant relaxes the same min per round). */
  private[ops] def ssspState(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"graph.ssspPred:$d") {
      DFGraphAlgs.shortestPathsWithPred(weightedEdges(s, d), SourceId, SsspIters,
        Some(maxCoDeg(s, d)))
    }

  // SQL mirroring triPairs() — capped co-occurrence, P90 threshold.
  private val triPairsSql =
    s"""li AS (SELECT DISTINCT l_orderkey AS okey, l_suppkey AS sk FROM lineitem),
       |capped AS (SELECT okey, sk FROM (
       |    SELECT okey, sk, row_number() OVER (PARTITION BY okey
       |      ORDER BY ${TextHash.h28Sql("CAST(sk AS VARCHAR)")}, sk) AS rn
       |    FROM li)
       |  WHERE rn <= 32),
       |paired AS MATERIALIZED (SELECT a.sk AS x, b.sk AS y, COUNT(*) AS n
       |  FROM capped a JOIN capped b ON a.okey = b.okey AND a.sk < b.sk
       |  GROUP BY 1, 2),
       |thr AS (SELECT round(quantile_cont(n, 0.9), 6) AS thr FROM paired),
       |pairs AS MATERIALIZED (SELECT x, y FROM paired, thr WHERE n >= thr)""".stripMargin

  // SQL fragments mirroring edges()/weightedEdges() for the DuckDB oracle.
  private val edgesSql =
    s"""pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey + $SuppOffset AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS MATERIALIZED (SELECT c AS src, p AS dst FROM pairs
       |  UNION ALL SELECT p AS src, c AS dst FROM pairs)""".stripMargin
  private val weightedEdgesSql =
    s"""pairs AS MATERIALIZED (SELECT o_custkey AS c, l_suppkey + $SuppOffset AS p,
       |    1.0 + MIN(l_discount) AS w
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
       |edges AS MATERIALIZED (SELECT c AS src, p AS dst, w FROM pairs
       |  UNION ALL SELECT p AS src, c AS dst, w FROM pairs)""".stripMargin

  val queries: Map[String, Q] = Map(
    // G9 — undirected total degree per vertex + log1p feature
    // (ref data_processor.py:83-93).
    "graph_degrees" -> ((s, d) => {
      edges(s, d).groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("degree"))
        .select(col("id"), col("degree"),
          round(log1p(col("degree")), 6).as("log_degree"))
        .orderBy(col("id"))
    }),

    // G2 — edge-weight model: hub penalty log(indeg(dst)+1) plus a
    // price-gap penalty, the testdata analog of the reference's
    // log-degree + age-gap weights (ref bfs.py:59-87).
    "graph_edge_weights" -> ((s, d) => {
      val e = edges(s, d)
      val indeg = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("indeg"))
      val acct = Tables.customer(s, d)
        .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"))
      e.join(indeg, col("dst") === indeg("id")).drop("id")
        .join(acct, col("src") === acct("id"), "left").drop("id")
        .select(col("src"), col("dst"),
          round(log(col("indeg") + 1) +
            when(col("bal") < 0, lit(2.0)).otherwise(lit(0.0)), 6).as("weight"))
        .orderBy(col("src"), col("dst")).limit(5000)
    }),

    // G8 — fixed-iteration PageRank: r0 = 1; r_{k+1} = 0.15 + 0.85 *
    // Σ_in r_k(src)/outdeg(src), 5 synchronous rounds
    // (ref data_processor.py:56-78, damping 0.85). DFGraphAlgs holds the
    // BSP loop; GraphSpec checks it against a GraphX/Pregel twin.
    "graph_pagerank" -> ((s, d) => {
      DFGraphAlgs.pageRank(edges(s, d), PrIters, Some(maxCoDeg(s, d)),
        prebuiltContrib = Some(prContrib(s, d)))
        .select(col("id"), round(col("rank"), 6).as("pagerank"))
        .orderBy(col("id"))
    }),

    // G8 proper — per-relation "multi-view" PageRank (ref
    // data_processor.py:35-107 loops ~44 per-relation igraph runs): ONE
    // composite-key BSP job over (rel, vertex); relations here are the
    // l_returnflag classes of the purchase edge. Per-relation top-10 by
    // rank — the feature-extraction shape the reference stores.
    "graph_pagerank_by_relation" -> ((s, d) => {
      val cs = relPairs(s, d)
      val rels = cs.select(col("rel"), col("c").as("src"), col("p").as("dst"))
        .union(cs.select(col("rel"), col("p").as("src"), col("c").as("dst")))
      DFGraphAlgs.pageRankByRel(rels, PrIters, Some(maxCoDeg(s, d)))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("rel")).orderBy(col("rank").desc, col("id").asc)))
        .filter(col("rn") <= 10)
        .select(col("rel"), col("id"), round(col("rank"), 6).as("pagerank"), col("rn"))
        .orderBy(col("rel"), col("rn"))
    }),

    // G8/V5 — multi-seed personalized PageRank (random-walk-with-restart),
    // the classic link-prediction scorer beside Adamic-Adar (igraph's
    // personalized_pagerank, the reference's feature family in
    // data_processor.py): one SPARSE composite-key (seed, id) BSP job for
    // all seeds at once — state holds only nonzero-mass rows, so a
    // million-seed production run is the same job shape. Output is the
    // link-prediction form: top-10 NEW targets per seed (seed itself and
    // already-linked neighbors anti-joined away).
    "graph_ppr" -> ((s, d) => {
      val e = edges(s, d)
      val seeds = e.select(col("src").as("seed"))
        .filter(col("seed") <= PprSeedMax).distinct()
      // Already-linked anti-join side, PRE-FILTERED to the seed gate
      // (r14, guide §3.2 — reduce the big side before the join): every
      // result row has seed <= PprSeedMax, so edges of other sources can
      // never match the anti-join — without the filter the whole
      // symmetric edge list (3.2M rows at sf0.1) shuffled into it;
      // with it the side is the seeds' own out-edges (a few hundred
      // rows, broadcast by AQE). Result identical by construction.
      val nbrs = e.select(col("src").as("seed"), col("dst").as("id"))
        .filter(col("seed") <= PprSeedMax)
      DFGraphAlgs.personalizedPageRank(e, seeds, PprIters, Some(maxCoDeg(s, d)),
        prebuiltContrib = Some(prContrib(s, d)))
        .filter(col("id") =!= col("seed"))
        .join(nbrs, Seq("seed", "id"), "left_anti")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("seed")).orderBy(col("rank").desc, col("id").asc)))
        .filter(col("rn") <= 10)
        .select(col("seed"), col("id"), round(col("rank"), 6).as("ppr"), col("rn"))
        .orderBy(col("seed"), col("rn"))
    }),

    // G5/G12 — harmonic centrality estimated from a fixed landmark set
    // (Eppstein-Wang sampling: h(v) ≈ Σ_landmarks 1/d(l,v)) — the
    // centrality ranking a social-graph service reports when exact
    // all-pairs BFS is impossible. One composite-key multi-source BFS
    // (shared with graph_six_degrees' machinery), then a single
    // aggregation; landmark count is the scale knob, not graph size.
    // Top-20 vertices by harmonic score, landmark rows excluded.
    "graph_harmonic" -> ((s, d) => {
      landmarkDists(s, d)
        .filter(col("dist").isNotNull && col("id") =!= col("s0"))
        .groupBy(col("id"))
        .agg(OpsUtil.rsum(lit(1.0) / col("dist")).as("hraw"),
          count(lit(1)).as("n_landmarks"))
        .orderBy(col("hraw").desc, col("id").asc)
        .limit(20)
        .select(col("id"), round(col("hraw"), 6).as("harmonic"), col("n_landmarks"))
    }),

    // G12 — sampled-source betweenness centrality (Brandes 2001 with
    // Brandes-Pich 2007 pivots): the classic bridge/broker metric the
    // battery's other centralities (degree, harmonic, PageRank, HITS)
    // don't capture — δ dependencies from the same fixed landmark set
    // the harmonic estimator uses, one composite-key BSP job (forward
    // σ-counting BFS + one backward level per round; see
    // DFGraphAlgs.betweennessDeltas for the scale contract). Top-20
    // vertices by summed dependency, source rows excluded, exact
    // decimal sums so both engines agree bit-for-bit.
    "graph_betweenness" -> ((s, d) => {
      // The forward BFS's discovery is the landmark run's recurrence
      // (same sources 1..HarmonicLandmarkMax, same symmetric edges with
      // unit weights, same BfsIters rounds), so the warmed landmark
      // cache supplies the level structure — see
      // DFGraphAlgs.betweennessDeltas(knownDists).
      graft.graph.DFGraphAlgs
        .betweennessDeltas(edges(s, d), 1L to HarmonicLandmarkMax, BfsIters,
          knownDists = Some(landmarkDists(s, d)))
        .filter(col("id") =!= col("s0"))
        .groupBy(col("id"))
        .agg(OpsUtil.rsum(col("delta")).as("braw"))
        .orderBy(col("braw").desc, col("id").asc)
        .limit(20)
        .select(col("id"), round(col("braw"), 6).as("betweenness"))
    }),

    // G12 — degree assortativity (Newman 2002): Pearson correlation of
    // endpoint degrees across the symmetric edge list — THE mixing
    // metric of social-network analysis (negative here: a bipartite
    // hub-and-spoke graph is disassortative). One degree aggregation,
    // two equi-joins to decorate each edge, one moment aggregation whose
    // map-side combine reduces every partition to a single row. Moment
    // sums go through DECIMAL(38,10) so r is bit-identical across
    // engines (deg² sums overflow 13 integer digits at scale).
    "graph_assortativity" -> ((s, d) => {
      val e = edges(s, d)
      val degs = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val ed = e.join(degs, "src")
        .withColumnRenamed("deg", "dx")
        .join(degs.select(col("src").as("dst"), col("deg").as("dy")), "dst")
      val a = ed.agg(count(lit(1)).as("n"),
        OpsUtil.msum(col("dx")).as("sx"), OpsUtil.msum(col("dy")).as("sy"),
        OpsUtil.msum(col("dx") * col("dx")).as("sxx"),
        OpsUtil.msum(col("dy") * col("dy")).as("syy"),
        OpsUtil.msum(col("dx") * col("dy")).as("sxy"))
      a.select(col("n").as("n_edges"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("assortativity"))
    }),

    // G4/G5 — six-degrees experiment: BFS hop-distance histogram from a
    // fixed source over 6 synchronous rounds (ref notebook cells 143-153;
    // unreachable vertices are excluded as the reference drops inf paths).
    "graph_bfs_hops" -> ((s, d) => {
      bfsDists(s, d)
        .filter(col("dist").isNotNull)
        .groupBy(col("dist").cast("int").as("dist")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("dist"))
    }),

    // Triangle counting over the supplier CO-SUPPLY projection — the
    // standard clustering-structure metric a graph-analytics engine
    // ships: suppliers are linked when they co-supply the same order
    // (capped pairing — the same bounded fan-in as
    // ana_cooccurrence_pairs), the graph is sparsified to the top decile
    // of co-supply counts (a RELATIVE threshold, so the density adapts
    // with scale), and triangles are counted by the canonical two-join
    // chain over x<y edges — each triangle (a<b<c) built exactly once
    // from equi-joins, never an all-pairs product. The repeated pair
    // frame reuses one shuffle via Spark's ReusedExchange.
    "graph_triangles" -> ((s, d) => {
      val pairs = triPairs(s, d)
      val nodes = pairs.select(col("x").as("v"))
        .union(pairs.select(col("y").as("v")))
        .agg(countDistinct(col("v")).as("n_nodes"))
      val nedges = pairs.agg(count(lit(1)).as("n_edges"))
      val tris = DFGraphAlgs.triangleCount(pairs)
      nodes.crossJoin(broadcast(nedges)).crossJoin(broadcast(tris))
    }),

    // Local clustering coefficient per vertex over the same sparsified
    // co-supply graph: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)). Each
    // canonical triangle (a<b<c) from the two-join chain credits all
    // three corners (one explode — no per-corner re-join); degrees come
    // from the symmetric pair union. Equi-joins and hash aggregates
    // only, so the plan is the triangle chain's and scales the same
    // way. Top-20 by coefficient, fully tie-broken.
    "graph_clustering_coeff" -> ((s, d) => {
      DFGraphAlgs.localClusteringCoeff(triPairs(s, d))
        .orderBy(col("lcc").desc, col("deg").desc, col("v").asc)
        .limit(20)
    }),

    // Global clustering coefficient (transitivity): 3·triangles / wedges,
    // the one-number closure summary next to the per-vertex lcc. Wedges
    // are Σ deg·(deg−1)/2 over the symmetric degree frame (exact
    // integers, one aggregation); triangles reuse the same cached
    // sparsified projection and canonical two-join chain as
    // graph_triangles — ReusedExchange makes the extra query nearly
    // free when both run.
    "graph_global_clustering" -> ((s, d) => {
      val pairs = triPairs(s, d)
      val wedges = pairs.select(col("x").as("v"))
        .union(pairs.select(col("y").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .agg(sum(expr("deg * (deg - 1) div 2")).cast("long").as("n_wedges"))
      val tris = DFGraphAlgs.triangleCount(pairs)
      wedges.crossJoin(broadcast(tris))
        .select(col("n_wedges"), col("n_triangles"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("global_cc"))
    }),

    // Fixed-round k-core peel over the sparsified co-supply graph: the
    // dense-subgraph extraction step of cohesion analysis (each round
    // drops degree-< k vertices and their edges; KcoreIters rounds of
    // cascade). Summary: surviving vertex/edge counts. Every round is
    // a degree aggregation + two semi joins — the same per-round
    // shuffle discipline as the BSP family, bounded by the shrinking
    // edge list.
    // Community detection: fixed-round synchronous label propagation
    // with the deterministic smallest-label tie-break (plain LPA's
    // random tie-break is what makes it non-reproducible) over the same
    // sparse repeat-purchase subgraph as graph_components. Communities
    // are finer than components: LPA splits a component along its weak
    // ties. Top-20 community sizes.
    "graph_label_prop" -> ((s, d) => {
      val sparse = weightedEdges(s, d)
        .filter(col("w") < CcMaxW && col("n") >= CcMinOrders)
        .select(col("src"), col("dst"))
      DFGraphAlgs.labelPropagation(sparse, LpIters, Some(maxCoDeg(s, d)))
        .groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("lbl").asc)
        .limit(20)
    }),

    // Rich-club coefficient at the P90 degree cut: do the hubs of the
    // co-supply projection link to EACH OTHER more than random —
    // φ = 2·E_hub / (n_hub·(n_hub−1)) among nodes above the threshold.
    // The complement of assortativity (a correlation) with an absolute
    // density number; reuses the cached canonical pair frame. Only the
    // 1-row threshold/count frames are broadcast — the hub SET is ~10%
    // of the projection's vertices (multi-million rows at the
    // reference's 4.6 M-node graph), so its two gating joins are left
    // to the planner: shuffled hash joins on the endpoint keys, which
    // AQE demotes to broadcasts only when the set measures small.
    // `percentile` is exact but bounded by the distinct-degree domain;
    // approx_percentile is the drop-in if that domain ever widens.
    "graph_rich_club" -> ((s, d) => {
      val pairs = triPairs(s, d)
      val deg = pairs.select(col("x").as("v"))
        .union(pairs.select(col("y").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val thr = deg.agg(round(expr("percentile(deg, 0.9)"), 6).as("thr"))
      val hubs = deg.crossJoin(broadcast(thr))
        .filter(col("deg").cast("double") >= col("thr"))
        .select(col("v"))
      val nh = hubs.agg(count(lit(1)).as("n_hubs"))
      val eh = pairs
        .join(hubs.withColumnRenamed("v", "x"), "x")
        .join(hubs.withColumnRenamed("v", "y"), "y")
        .agg(count(lit(1)).as("e_hubs"))
      nh.crossJoin(broadcast(eh))
        .select(col("n_hubs"), col("e_hubs"),
          // Degenerate club (< 2 hubs, e.g. micro fixtures): φ := 0.
          when(col("n_hubs") < 2, lit(0.0)).otherwise(
            round(lit(2.0) * col("e_hubs") /
              (col("n_hubs").cast("double") * (col("n_hubs") - 1)), 6)).as("phi"))
    }),

    // Newman modularity of the LPA communities — the community-QUALITY
    // score next to the sizes: Q = W/T − Σd_c²/T² over the symmetric
    // sparse subgraph (T = directed edge count, W = within-community
    // directed edges, d_c = community degree sums). Integer/decimal
    // numerators, two double divisions at the end; shares the cached
    // edge frame and the LPA fold's plan shape.
    "graph_modularity" -> ((s, d) => {
      val sparse = weightedEdges(s, d)
        .filter(col("w") < CcMaxW && col("n") >= CcMinOrders)
        .select(col("src"), col("dst"))
      val lbl = DFGraphAlgs.labelPropagation(sparse, LpIters, Some(maxCoDeg(s, d)))
      val e2 = sparse
        .join(lbl.select(col("id").as("src"), col("lbl").as("ls")), "src")
        .join(lbl.select(col("id").as("dst"), col("lbl").as("ld")), "dst")
      val win = e2.agg(count(lit(1)).as("t"),
        sum((col("ls") === col("ld")).cast("long")).as("w_in"))
      val dsq = sparse.join(lbl.select(col("id").as("src"), col("lbl")), "src")
        .groupBy(col("lbl")).agg(count(lit(1)).as("dc"))
        .agg(count(lit(1)).as("n_communities"),
          sum(col("dc").cast("decimal(38,0)") * col("dc")).as("d2"))
      win.crossJoin(broadcast(dsq))
        .select(col("t"), col("w_in"), col("n_communities"),
          round(col("w_in").cast("double") / col("t")
            - col("d2").cast("double") / (col("t").cast("double") * col("t")), 6)
            .as("modularity"))
    }),

    "graph_kcore" -> ((s, d) => {
      val pairs = triPairs(s, d)
      val sym = pairs.select(col("x").as("src"), col("y").as("dst"))
        .union(pairs.select(col("y").as("src"), col("x").as("dst")))
      DFGraphAlgs.kcore(sym, KcoreK, KcoreIters)
        .agg(countDistinct(col("src")).as("n_vertices"),
          (count(lit(1)) / 2).cast("long").as("n_edges"))
        .select(lit(KcoreK).as("k"), col("n_vertices"), col("n_edges"))
    }),

    // G4/G6/G11 — the six-degrees batch experiment: one-to-many hop
    // distances from MULTIPLE sources in one composite-key BSP run (the
    // reference chunks pairs into a process pool, analysis_service.py:
    // 223-263; here all sources share the same synchronous rounds).
    // Per-source reachability summary incl. the "within 6 hops" count.
    "graph_six_degrees" -> ((s, d) => {
      // Sources 1-3 are a subset of the landmark set (1..8): the cached
      // landmark multi-source BFS already holds the identical per-source
      // recurrence rows (state is keyed (s0, id); sources never
      // interact), so this is a filter over that one shared BSP run
      // instead of a second 6-round job — same rows, bit-identical.
      val sources = Seq(1L, 2L, 3L)
      require(sources.forall(s0 => s0 >= 1L && s0 <= HarmonicLandmarkMax),
        "graph_six_degrees reuses the landmark BSP run: sources must be landmarks")
      landmarkDists(s, d)
        .filter(col("s0").isin(sources: _*))
        .filter(col("id") =!= col("s0"))
        .groupBy(col("s0"))
        .agg(count(lit(1)).as("n_reached"),
          round(OpsUtil.davg(col("dist")), 6).as("mean_hops"),
          max(col("dist")).cast("int").as("max_hops"),
          sum((col("dist") <= 6).cast("int")).as("n_within_6"))
        .orderBy(col("s0"))
    }),

    // G3 — weighted shortest-path distances: 6 rounds of Bellman-Ford
    // relaxation from the fixed source (ref bfs.py:91-117; mode='all'
    // undirected semantics via the symmetric edge list). Min-plus over
    // IEEE doubles is engine-exact — no rounding needed.
    "graph_sssp_weighted" -> ((s, d) => {
      ssspState(s, d)
        .filter(col("dist").isNotNull)
        .select(col("id"), col("dist"))
        .orderBy(col("id")).limit(2000)
    }),

    // G5 — social-degree metric ("Bậc trung gian", ref
    // analysis_service.py:69-77, notebook cell 3): number of human
    // intermediaries on the path = humans-on-path − 1. On the bipartite
    // customer↔supplier graph a vertex at hop distance d has exactly
    // floor(d/2) customer intermediaries, so the metric is a pure column
    // expression over the BFS distances — no path materialization, which
    // is the property that lets it run on 100k pairs at 100 TB.
    "graph_social_degree" -> ((s, d) => {
      bfsDists(s, d)
        .filter(col("dist").isNotNull && col("id") =!= SourceId)
        .select(floor(col("dist") / 2).cast("int").as("social_degree"))
        .groupBy(col("social_degree")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("social_degree"))
    }),

    // G10 — 2-hop sampled neighborhood (ref predicter.py:87-94
    // NeighborLoader fanouts): per-vertex top-F neighbors by a
    // deterministic pseudo-random hash order instead of an RNG, so the
    // sample is reproducible and oracle-checkable. Each hop is one
    // partitioned window — per-key state only, no global sort.
    "graph_neighbor_sample" -> ((s, d) => {
      val e = edges(s, d)
      def sampleKey = h28(concat_ws("_", col("src"), col("dst")))
      val hop1 = e.filter(col("src") === SourceId)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src")).orderBy(sampleKey, col("dst"))))
        .filter(col("rn") <= 5)
        .select(col("dst").as("v1"))
      val hop2 = e.join(hop1.hint("broadcast"), col("src") === col("v1"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("v1")).orderBy(sampleKey, col("dst"))))
        .filter(col("rn") <= 3)
      hop2.select(col("v1").as("parent"), col("dst").as("neighbor"))
        .orderBy(col("parent"), col("neighbor"))
    }),

    // G10 proper — BATCH neighbor sampling: the NeighborLoader shape
    // (ref predicter.py:87-94 samples a neighborhood for EVERY inference
    // node), fanouts [5, 3] per seed over a seed SET in one pass. Each
    // hop is one partitioned window keyed by (seed, parent) — per-key
    // state only, no global sort, so a 10⁶-seed inference batch is the
    // same two windows over a bigger key space.
    "graph_neighbor_sample_batch" -> ((s, d) => {
      val seeds = Seq(1L, 2L, 3L)
      val e = edges(s, d)
      def sampleKey = h28(concat_ws("_", col("src"), col("dst")))
      val hop1 = e.filter(col("src").isin(seeds: _*))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src")).orderBy(sampleKey, col("dst"))))
        .filter(col("rn") <= 5)
        .select(col("src").as("s0"), col("dst").as("v1"))
      val hop2 = e.join(hop1.hint("broadcast"), col("src") === col("v1"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("s0"), col("v1")).orderBy(sampleKey, col("dst"))))
        .filter(col("rn") <= 3)
      hop2.select(col("s0"), col("v1").as("parent"), col("dst").as("neighbor"))
        .orderBy(col("s0"), col("parent"), col("neighbor"))
    }),

    // Random-walk corpus generation — the DeepWalk/node2vec training-data
    // op (Perozzi et al. 2014) the reference's embedding ambitions imply:
    // fixed-length walks whose node sequences feed a skip-gram embedding
    // trainer. Walks are DETERMINISTIC: step t of walk w from root r at
    // node v moves to the neighbor whose per-source rank equals
    // h28(r_w_t_v) mod deg(v) — the same hash-in-place-of-RNG discipline
    // as graph_neighbor_sample, so both engines (and any two cluster
    // runs) emit the identical corpus. Execution is RwLen chained
    // composite-key equi-joins against a STANDING neighbor index
    // (src, rank, dst) — per step: one degree join to compute the pick,
    // one (src, rank) join to take it, each shuffling only the
    // |roots|·RwWalks frontier — the BSP shape of the BFS family, never
    // a per-node loop. At production scale roots = every node (the
    // frontier is n·walks — exactly the PageRank message volume); the
    // fixture pins roots ≤ RwRootMax so the unrolled DuckDB twin stays
    // cheap.
    "graph_rw_corpus" -> ((s, d) =>
      rwCorpus(s, d).orderBy(col("root"), col("walk"), col("step"))),

    // node2vec second-order biased walks (p=4, q=0.25 — the DFS-leaning
    // regime that separates structurally distant nodes): same corpus
    // shape as graph_rw_corpus but each step past the first is weighted
    // by the previous node (return / common-neighbor / explore). See
    // node2vecCorpus for the deterministic-draw design.
    "graph_node2vec" -> ((s, d) =>
      node2vecCorpus(s, d).orderBy(col("root"), col("walk"), col("step"))),

    // Skip-gram context pairs over the walk corpus — the actual training
    // examples a word2vec-style embedding trainer consumes (DeepWalk's
    // window-RwWindow co-occurrence counts). One self-equi-join of the
    // corpus on (root, walk) — a walk is RwLen+1 rows, so the join fans
    // out by a CONSTANT ≤ 2·RwWindow per row — then a count aggregation
    // whose map-side combine reduces to the (center, context) vocabulary
    // before the exchange. Top pairs with full tie-breaks.
    "graph_rw_skipgram" -> ((s, d) => {
      val c = rwCorpus(s, d)
      val a = c.select(col("root"), col("walk"), col("step"), col("node"))
      val b = c.select(col("root").as("r2"), col("walk").as("w2"),
        col("step").as("s2"), col("node").as("ctx"))
      a.join(b, col("root") === col("r2") && col("walk") === col("w2") &&
          abs(col("step") - col("s2")).between(1, RwWindow))
        .groupBy(col("node").as("center"), col("ctx").as("context"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("center").asc, col("context").asc)
        .limit(50)
    }),

    // HITS hubs & authorities (Kleinberg 1999) on the DIRECTED bipartite
    // purchase graph — the natural companion of graph_pagerank and the
    // metric that actually fits a two-sided market: customers are hubs
    // (good buyers point at good suppliers), suppliers are authorities.
    // The mutual-reinforcement recurrence runs HitsIters unrolled rounds
    // (same fixed-round BSP discipline as pagerank — one equi-join + one
    // hash aggregation per half-step, exact decimal sums so both engines
    // accumulate identically), each round normalized by the max score
    // (observed by the round's own job; keeps values in [0,1] without a
    // sum-of-squares sqrt that would not replay exactly). Output: top-10
    // of each side with full tie-breaks.
    "graph_hits" -> ((s, d) => {
      // Iteration discipline (see DFGraphAlgs): each round's aggregate is
      // materialized (DFGraphAlgs.mat). The lazy chain here is re-evaluated by BOTH
      // top-k legs AND by every 1-row max broadcast's own job — without
      // materialization the reinforcement DAG re-executes multiplicatively
      // per action (measured 20.2 s → 3.4 s at sf0.1).
      val e = relPairs(s, d).select(col("c"), col("p")).distinct()
        .repartition(col("c")).persist()
      var hub = e.select(col("c")).distinct().withColumn("h", lit(1.0))
      var auth = e.select(col("p")).distinct().withColumn("a", lit(1.0))
      // Each half-step: join the other side's scores, exact-decimal sum
      // per vertex, then divide by the max. The max is collected BY the
      // materialization action itself (named observe on the aggregate,
      // read back from the executed plan — the free-metric pattern of
      // DFGraphAlgs' early-exit loops) and inlined as a LITERAL: the
      // crossJoin-a-broadcast-stats-frame form paid one 1-row aggregate
      // job + one broadcast build per half-step (4 per query) for a
      // scalar the materialization job already saw. Same double, same
      // division, bit-identical scores. DFGraphAlgs.mat size-coalesces
      // the |V|-row aggregate, which its max probe, the next half-step's
      // join AND the top-k legs re-scan — at 32 inherited partitions
      // those scans were mostly task overhead.
      def halfStep(from: DataFrame, fromKey: String, fromScore: String,
          key: String, score: String): DataFrame = {
        val m = s"__graft_${score}max"
        val raw = e.join(from, fromKey)
          .groupBy(col(key)).agg(OpsUtil.rsum(col(fromScore)).as(score))
          .observe(m, max(col(score)).as("m"))
        val cp = DFGraphAlgs.mat(raw)
        val norm = DFGraphAlgs.observedNum(raw, m, "m").map(v => lit(v.doubleValue))
          .getOrElse(lit(null).cast("double"))
        cp.select(col(key), (col(score) / norm).as(score))
      }
      for (_ <- 1 to HitsIters) {
        auth = halfStep(hub, "c", "h", "p", "a")
        hub = halfStep(auth, "p", "a", "c", "h")
      }
      e.unpersist(false)
      val topA = auth.orderBy(col("a").desc, col("p").asc).limit(10)
        .select(lit("auth").as("role"), col("p").as("id"),
          round(col("a"), 6).as("score"))
      val topH = hub.orderBy(col("h").desc, col("c").asc).limit(10)
        .select(lit("hub").as("role"), col("c").as("id"),
          round(col("h"), 6).as("score"))
      topA.union(topH).orderBy(col("role"), col("score").desc, col("id"))
    }),

    // Effective diameter (90th-percentile pairwise hop distance,
    // landmark-estimated) — the shrinking-diameters companion of the
    // densification report (Leskovec et al. 2005 measure exactly this
    // pair). One more fold over the SAME cached landmark-BFS frame as
    // graph_harmonic; exact interpolated percentile so both engines
    // agree bitwise.
    "graph_effective_diameter" -> ((s, d) => {
      landmarkDists(s, d)
        .filter(col("dist").isNotNull && col("id") =!= col("s0"))
        .agg(count(lit(1)).as("n_pairs"),
          max(col("dist")).cast("int").as("max_hops"),
          round(expr("percentile(dist, 0.9)"), 6).as("eff_diameter_90"))
    }),

    // Temporal graph evolution — densification report (Leskovec et al.
    // 2005): per order-year, FIRST-appearance counts of edges and
    // customers, cumulative totals, and the edges-per-node density whose
    // super-linear growth is the densification law. Two first-seen
    // aggregations (min-year per edge/customer) + a cumulative window
    // over the ≤ handful of year rows — never over raw data.
    "graph_densification" -> ((s, d) => {
      val op = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("p"),
          year(col("o_orderdate")).as("yr"))
      val edgesPerYear = op.groupBy(col("c"), col("p")).agg(min(col("yr")).as("fy"))
        .groupBy(col("fy").as("yr")).agg(count(lit(1)).as("n_new_edges"))
      val custPerYear = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(min(year(col("o_orderdate"))).as("fy"))
        .groupBy(col("fy").as("yr")).agg(count(lit(1)).as("n_new_customers"))
      // Unpartitioned window over the YEAR distribution (≤ a handful of
      // rows at any scale), never over raw rows.
      val w = Window.orderBy(col("yr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      edgesPerYear.join(custPerYear, Seq("yr"), "full")
        .na.fill(0L, Seq("n_new_edges", "n_new_customers"))
        .withColumn("cum_edges", sum(col("n_new_edges")).over(w))
        .withColumn("cum_customers", sum(col("n_new_customers")).over(w))
        .select(col("yr"), col("n_new_edges"), col("n_new_customers"),
          col("cum_edges"), col("cum_customers"),
          round(col("cum_edges").cast("double") / col("cum_customers"), 6)
            .as("density"))
        .orderBy(col("yr"))
    }),

    // G13 — small-edge-type pruning (ref data_processor.py:148-180,
    // MIN_EDGE_COUNT=500): drop relation types with too few edges via a
    // broadcast semi-join of the surviving-type set; types here are
    // (p_brand, p_type) pairs on the typed purchase edge list.
    "graph_prune_small_types" -> ((s, d) => {
      val typed = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("p"),
          concat_ws("|", col("p_brand"), col("p_type")).as("rel"))
      val keep = typed.groupBy(col("rel")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= MinEdgeCount).select(col("rel"))
      typed.join(broadcast(keep), Seq("rel"), "left_semi")
        .groupBy(col("rel"))
        .agg(count(lit(1)).as("n_edges"),
          countDistinct(col("c")).as("n_customers"),
          countDistinct(col("p")).as("n_suppliers"))
        .orderBy(col("rel"))
    }),

    // G3+G7 — weighted shortest PATH with decoration (ref bfs.py:91-117
    // path return + analysis_service.py:135-177 per-step edge lookup and
    // direction flag): SSSP with deterministic predecessor tracking, the
    // path rebuilt by ≤6 backward joins (SURVEY §7.4 risk 1 — short
    // paths only, never a per-vertex path materialization), each hop
    // decorated with its edge weight and traversal direction.
    "graph_path_decorated" -> ((s, d) => {
      val Target = SuppOffset + 1
      val st = ssspState(s, d)
      val stP = st.select(col("id").as("p_id"), col("pred").as("p_pred"))
      var frontier = st.filter(col("id") === Target && col("dist").isNotNull)
        .select(col("id").as("node"), col("pred"), lit(0).as("back"))
      var acc = frontier
      for (k <- 1 to SsspIters) {
        frontier = frontier.filter(col("pred").isNotNull)
          .join(stP, col("pred") === col("p_id"))
          .select(col("p_id").as("node"), col("p_pred").as("pred"), lit(k).as("back"))
        acc = acc.union(frontier)
      }
      val hops = acc.filter(col("pred").isNotNull)
        .select(col("back"), col("pred").as("from_id"), col("node").as("to_id"))
      hops.join(weightedEdges(s, d),
          col("from_id") === col("src") && col("to_id") === col("dst"))
        .select(col("back"), col("from_id"), col("to_id"), col("w").as("weight"),
          when(col("from_id") < SuppOffset, "purchases")
            .otherwise("supplied_by").as("direction"))
        .orderBy(col("back").desc)
    }),

    // G12 — connectivity metadata: distinct (src-nation, dst-nation)
    // pairs with edge counts (ref predicter.py:115-124 type-pair map).
    // G12 proper — connected components (min-label propagation, fixed
    // rounds) over the discount-free subgraph; component-size top-20.
    // The reference reports component structure via igraph's clusters();
    // this is the one-BSP-job form of the same audit.
    "graph_components" -> ((s, d) => {
      val sparse = weightedEdges(s, d)
        .filter(col("w") < CcMaxW && col("n") >= CcMinOrders)
        .select(col("src"), col("dst"))
      DFGraphAlgs.connectedComponents(sparse, CcIters, Some(maxCoDeg(s, d)))
        .groupBy(col("comp")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("comp").asc)
        .limit(20)
    }),

    "graph_connectivity_meta" -> ((s, d) => {
      val cs = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey"))
      cs.join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src_nation"), col("s_nationkey").as("dst_nation"))
        .agg(count(lit(1)).as("n_edges"))
        .orderBy(col("src_nation"), col("dst_nation"))
    })
  )

  // ---- oracle SQL: the same recurrences unrolled into chained CTEs ----

  private def pagerankSql: String = {
    val iters = (1 to PrIters).map { k =>
      s"""r$k AS MATERIALIZED (SELECT n.id,
         |  0.15 + 0.85 * COALESCE(m.msum, 0.0) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id,
         |      CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(28,15))) AS DOUBLE) AS msum
         |    FROM edges e
         |    JOIN r${k - 1} r ON r.id = e.src
         |    JOIN outdeg d ON d.id = e.src
         |    GROUP BY e.dst) m ON m.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
       |outdeg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
       |$iters
       |SELECT id, round(rank, 6) AS pagerank FROM r$PrIters ORDER BY id""".stripMargin
  }

  /** graph_ppr: the sparse restart recurrence unrolled — each round is
    * the message aggregation ∪ the 0.15-restart rows, re-summed through
    * the same decimal casts as the Spark loop. */
  private def pprSql: String = {
    val iters = (1 to PprIters).map { k =>
      s"""m$k AS (SELECT r.seed, e.dst AS id,
         |    CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(28,15))) AS DOUBLE) AS msum
         |  FROM edges e
         |  JOIN r${k - 1} r ON r.id = e.src
         |  JOIN outdeg d ON d.id = e.src
         |  GROUP BY r.seed, e.dst),
         |r$k AS MATERIALIZED (SELECT seed, id,
         |    CAST(SUM(CAST(part AS DECIMAL(28,15))) AS DOUBLE) AS rank
         |  FROM (SELECT seed, id, 0.85 * msum AS part FROM m$k
         |        UNION ALL SELECT seed, seed AS id, CAST(0.15 AS DOUBLE) FROM seeds) u
         |  GROUP BY seed, id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |outdeg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src),
       |seeds AS MATERIALIZED (SELECT DISTINCT src AS seed FROM edges WHERE src <= $PprSeedMax),
       |r0 AS (SELECT seed, seed AS id, CAST(1.0 AS DOUBLE) AS rank FROM seeds),
       |$iters,
       |ranked AS (SELECT r.seed, r.id, r.rank, row_number() OVER (
       |    PARTITION BY r.seed ORDER BY r.rank DESC, r.id ASC) AS rn
       |  FROM r$PprIters r
       |  WHERE r.id <> r.seed AND NOT EXISTS (
       |    SELECT 1 FROM edges e WHERE e.src = r.seed AND e.dst = r.id))
       |SELECT seed, id, round(rank, 6) AS ppr, rn FROM ranked
       |WHERE rn <= 10 ORDER BY seed, rn""".stripMargin
  }

  /** graph_harmonic: the six-degrees multi-source BFS chain, folded to
    * Σ 1/dist per vertex over the landmark set. */
  private def harmonicSql: String = {
    val iters = (1 to BfsIters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT COALESCE(d.s0, r.s0) AS s0, COALESCE(d.id, r.id) AS id,
         |    least(d.dist, r.reach) AS dist
         |  FROM d${k - 1} d FULL JOIN (
         |    SELECT p.s0, e.dst AS id, MIN(p.dist + 1) AS reach
         |    FROM edges e JOIN d${k - 1} p ON p.id = e.src
         |    GROUP BY p.s0, e.dst) r
         |  ON d.s0 = r.s0 AND d.id = r.id)""".stripMargin
    }.mkString(",\n")
    val vals = (1L to HarmonicLandmarkMax).map(i => s"($i)").mkString(", ")
    s"""WITH $edgesSql,
       |d0 AS (SELECT s0, s0 AS id, CAST(0.0 AS DOUBLE) AS dist
       |  FROM (VALUES $vals) AS v(s0)),
       |$iters,
       |agg AS (SELECT id,
       |    CAST(SUM(CAST(1.0 / dist AS DECIMAL(28,15))) AS DOUBLE) AS hraw,
       |    COUNT(*) AS n_landmarks
       |  FROM d$BfsIters WHERE dist IS NOT NULL AND id <> s0
       |  GROUP BY id)
       |SELECT id, round(hraw, 6) AS harmonic, n_landmarks
       |FROM agg ORDER BY hraw DESC, id ASC LIMIT 20""".stripMargin
  }

  /** graph_betweenness: Brandes replayed level-by-level — forward BFS
    * accumulating exact DECIMAL(38,0) σ path counts (anti-join keeps
    * first-discovery levels only), then the dependency recurrence
    * unrolled from the deepest level down, per-term DECIMAL(28,15)
    * sums. An independent second implementation of the same recurrence
    * the Spark BSP runs. */
  private def betweennessSql: String = {
    val L = BfsIters
    val fwd = (1 to L).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT * FROM f${k - 1}
         |  UNION ALL
         |  SELECT p.s0, e.dst AS id, $k AS dist,
         |    CAST(SUM(p.sigma) AS DECIMAL(38,0)) AS sigma
         |  FROM edges e JOIN f${k - 1} p ON p.id = e.src AND p.dist = ${k - 1}
         |  WHERE NOT EXISTS (SELECT 1 FROM f${k - 1} x
         |    WHERE x.s0 = p.s0 AND x.id = e.dst)
         |  GROUP BY p.s0, e.dst)""".stripMargin
    }.mkString(",\n")
    val bwd = (0 until L).reverse.map { k =>
      s"""b$k AS MATERIALIZED (
         |  SELECT f.s0, f.id, f.sigma, COALESCE(t.delta, 0.0) AS delta
         |  FROM (SELECT * FROM f$L WHERE dist = $k) f
         |  LEFT JOIN (
         |    SELECT w.s0, v.id,
         |      CAST(SUM(CAST((CAST(v.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE))
         |        * (1.0 + w.delta) AS DECIMAL(28,15))) AS DOUBLE) AS delta
         |    FROM b${k + 1} w
         |    JOIN edges e ON e.dst = w.id
         |    JOIN f$L v ON v.s0 = w.s0 AND v.id = e.src AND v.dist = $k
         |    GROUP BY w.s0, v.id) t
         |  ON t.s0 = f.s0 AND t.id = f.id)""".stripMargin
    }.mkString(",\n")
    val allB = (0 until L).map(k => s"SELECT s0, id, delta FROM b$k").mkString(" UNION ALL ")
    val vals = (1L to HarmonicLandmarkMax).map(i => s"($i)").mkString(", ")
    s"""WITH $edgesSql,
       |f0 AS (SELECT s0, s0 AS id, 0 AS dist, CAST(1 AS DECIMAL(38,0)) AS sigma
       |  FROM (VALUES $vals) AS v(s0)),
       |$fwd,
       |b$L AS (SELECT s0, id, sigma, CAST(0.0 AS DOUBLE) AS delta
       |  FROM f$L WHERE dist = $L),
       |$bwd,
       |alld AS ($allB UNION ALL SELECT s0, id, delta FROM b$L),
       |agg AS (SELECT id,
       |    CAST(SUM(CAST(delta AS DECIMAL(28,15))) AS DOUBLE) AS braw
       |  FROM alld WHERE id <> s0 GROUP BY id)
       |SELECT id, round(braw, 6) AS betweenness
       |FROM agg ORDER BY braw DESC, id ASC LIMIT 20""".stripMargin
  }

  /** graph_effective_diameter: the landmark chain folded to the pooled
    * 90th-percentile hop distance. */
  private def effDiameterSql: String = {
    val iters = (1 to BfsIters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT COALESCE(d.s0, r.s0) AS s0, COALESCE(d.id, r.id) AS id,
         |    least(d.dist, r.reach) AS dist
         |  FROM d${k - 1} d FULL JOIN (
         |    SELECT p.s0, e.dst AS id, MIN(p.dist + 1) AS reach
         |    FROM edges e JOIN d${k - 1} p ON p.id = e.src
         |    GROUP BY p.s0, e.dst) r
         |  ON d.s0 = r.s0 AND d.id = r.id)""".stripMargin
    }.mkString(",\n")
    val vals = (1L to HarmonicLandmarkMax).map(i => s"($i)").mkString(", ")
    s"""WITH $edgesSql,
       |d0 AS (SELECT s0, s0 AS id, CAST(0.0 AS DOUBLE) AS dist
       |  FROM (VALUES $vals) AS v(s0)),
       |$iters
       |SELECT COUNT(*) AS n_pairs, CAST(MAX(dist) AS INT) AS max_hops,
       |  round(quantile_cont(dist, 0.9), 6) AS eff_diameter_90
       |FROM d$BfsIters WHERE dist IS NOT NULL AND id <> s0""".stripMargin
  }

  private def bfsSql: String = {
    val iters = (1 to BfsIters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT d.id, least(d.dist, r.reach) AS dist
         |  FROM d${k - 1} d LEFT JOIN (
         |    SELECT e.dst AS id, MIN(p.dist + 1) AS reach
         |    FROM edges e JOIN d${k - 1} p ON p.id = e.src AND p.dist IS NOT NULL
         |    GROUP BY e.dst) r ON r.id = d.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
       |d0 AS (SELECT id, CAST(CASE WHEN id = $SourceId THEN 0 END AS DOUBLE) AS dist FROM nodes),
       |$iters
       |SELECT CAST(dist AS INT) AS dist, COUNT(*) AS n_nodes FROM d$BfsIters
       |WHERE dist IS NOT NULL GROUP BY 1 ORDER BY dist""".stripMargin
  }

  /** G8 multi-view: the pagerank recurrence unrolled with (rel, id) keys. */
  private def pagerankByRelSql: String = {
    val iters = (1 to PrIters).map { k =>
      s"""r$k AS MATERIALIZED (SELECT n.rel, n.id,
         |  0.15 + 0.85 * COALESCE(m.msum, 0.0) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.rel, e.dst AS id,
         |      CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(28,15))) AS DOUBLE) AS msum
         |    FROM edges e
         |    JOIN r${k - 1} r ON r.rel = e.rel AND r.id = e.src
         |    JOIN outdeg d ON d.rel = e.rel AND d.id = e.src
         |    GROUP BY e.rel, e.dst) m ON m.rel = n.rel AND m.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT l_returnflag AS rel, o_custkey AS c,
       |    l_suppkey + $SuppOffset AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS MATERIALIZED (SELECT rel, c AS src, p AS dst FROM pairs
       |  UNION ALL SELECT rel, p AS src, c AS dst FROM pairs),
       |nodes AS MATERIALIZED (SELECT DISTINCT rel, src AS id FROM edges),
       |outdeg AS MATERIALIZED (SELECT rel, src AS id, COUNT(*) AS deg FROM edges GROUP BY rel, src),
       |r0 AS (SELECT rel, id, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
       |$iters,
       |ranked AS (SELECT rel, id, rank, row_number() OVER (
       |    PARTITION BY rel ORDER BY rank DESC, id ASC) AS rn
       |  FROM r$PrIters)
       |SELECT rel, id, round(rank, 6) AS pagerank, CAST(rn AS INT) AS rn
       |FROM ranked WHERE rn <= 10 ORDER BY rel, rn""".stripMargin
  }

  /** G3+G7: the predecessor-tracking SSSP recurrence unrolled, the path
    * walked backward by chained CTEs, hops decorated. */
  private def pathDecoratedSql: String = {
    val target = SuppOffset + 1
    val iters = (1 to SsspIters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT d.id,
         |    CASE WHEN c.nd IS NOT NULL AND (d.dist IS NULL OR c.nd < d.dist)
         |      THEN c.nd ELSE d.dist END AS dist,
         |    CASE WHEN c.nd IS NOT NULL AND (d.dist IS NULL OR c.nd < d.dist)
         |      THEN c.pred ELSE d.pred END AS pred
         |  FROM d${k - 1} d LEFT JOIN (
         |    SELECT id, nd, pred FROM (
         |      SELECT e.dst AS id, p.dist + e.w AS nd, e.src AS pred,
         |        row_number() OVER (PARTITION BY e.dst
         |          ORDER BY p.dist + e.w, e.src) AS rn
         |      FROM edges e JOIN d${k - 1} p ON p.id = e.src AND p.dist IS NOT NULL)
         |    WHERE rn = 1) c ON c.id = d.id)""".stripMargin
    }.mkString(",\n")
    val walk = (1 to SsspIters).map { k =>
      s"""p$k AS MATERIALIZED (SELECT d.id AS node, d.pred, $k AS back
         |  FROM d$SsspIters d JOIN p${k - 1} ON d.id = p${k - 1}.pred)""".stripMargin
    }.mkString(",\n")
    val unionAll = (0 to SsspIters).map(k => s"SELECT * FROM p$k").mkString(" UNION ALL ")
    s"""WITH $weightedEdgesSql,
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
       |d0 AS (SELECT id, CAST(CASE WHEN id = $SourceId THEN 0.0 END AS DOUBLE) AS dist,
       |  CAST(NULL AS BIGINT) AS pred FROM nodes),
       |$iters,
       |p0 AS (SELECT id AS node, pred, 0 AS back FROM d$SsspIters
       |  WHERE id = $target AND dist IS NOT NULL),
       |$walk,
       |hops AS (SELECT back, pred AS from_id, node AS to_id
       |  FROM ($unionAll) WHERE pred IS NOT NULL)
       |SELECT h.back, h.from_id, h.to_id, e.w AS weight,
       |  CASE WHEN h.from_id < $SuppOffset THEN 'purchases'
       |       ELSE 'supplied_by' END AS direction
       |FROM hops h JOIN edges e ON e.src = h.from_id AND e.dst = h.to_id
       |ORDER BY h.back DESC""".stripMargin
  }

  /** G4/G6: the multi-source reached-set BFS recurrence unrolled. */
  private def sixDegreesSql: String = {
    val iters = (1 to BfsIters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT COALESCE(d.s0, r.s0) AS s0, COALESCE(d.id, r.id) AS id,
         |    least(d.dist, r.reach) AS dist
         |  FROM d${k - 1} d FULL JOIN (
         |    SELECT p.s0, e.dst AS id, MIN(p.dist + 1) AS reach
         |    FROM edges e JOIN d${k - 1} p ON p.id = e.src
         |    GROUP BY p.s0, e.dst) r
         |  ON d.s0 = r.s0 AND d.id = r.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |d0 AS (SELECT s0, s0 AS id, CAST(0.0 AS DOUBLE) AS dist
       |  FROM (VALUES (1), (2), (3)) AS v(s0)),
       |$iters
       |SELECT CAST(s0 AS BIGINT) AS s0, COUNT(*) AS n_reached,
       |  round(${OpsUtil.davgSql("dist")}, 6) AS mean_hops,
       |  CAST(MAX(dist) AS INT) AS max_hops,
       |  CAST(SUM(CASE WHEN dist <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_6
       |FROM d$BfsIters WHERE id <> s0
       |GROUP BY s0 ORDER BY s0""".stripMargin
  }

  /** Min-label-propagation components over the discount-free subgraph,
    * unrolled to CcIters chained CTEs (same recurrence as the Spark BSP). */
  /** Unrolled fixed-round LPA: per round, each vertex takes its
    * neighbors' modal label (count desc, label asc — the deterministic
    * tie-break the Spark struct-max implements). */
  /** The LPA recurrence CTE chain (shared by the community-size query
    * and the modularity score): ends with l$LpIters = (id, lbl). */
  private def lpaCtesSql: String = {
    val rounds = (1 to LpIters).map { k =>
      s"""bb$k AS (SELECT id, nlbl FROM (
         |    SELECT e.dst AS id, p.lbl AS nlbl,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY COUNT(*) DESC, p.lbl ASC) AS rn
         |    FROM sparse e JOIN l${k - 1} p ON p.id = e.src
         |    GROUP BY e.dst, p.lbl)
         |  WHERE rn = 1),
         |l$k AS MATERIALIZED (SELECT n.id, COALESCE(b.nlbl, n.lbl) AS lbl
         |  FROM l${k - 1} n LEFT JOIN bb$k b ON b.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""spairs AS MATERIALIZED (SELECT o_custkey AS c, l_suppkey + $SuppOffset AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2
       |  HAVING 1.0 + MIN(l_discount) < $CcMaxW AND COUNT(*) >= $CcMinOrders),
       |sparse AS MATERIALIZED (SELECT c AS src, p AS dst FROM spairs
       |  UNION ALL SELECT p AS src, c AS dst FROM spairs),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM sparse),
       |l0 AS (SELECT id, id AS lbl FROM nodes),
       |$rounds""".stripMargin
  }

  private def labelPropSql: String =
    s"""WITH $lpaCtesSql
       |SELECT lbl, COUNT(*) AS n_members FROM l$LpIters
       |GROUP BY lbl ORDER BY n_members DESC, lbl ASC LIMIT 20""".stripMargin

  private def modularitySql: String =
    s"""WITH $lpaCtesSql,
       |fin AS MATERIALIZED (SELECT id, lbl FROM l$LpIters),
       |e2 AS (SELECT a.lbl AS ls, b.lbl AS ld FROM sparse e
       |  JOIN fin a ON a.id = e.src JOIN fin b ON b.id = e.dst),
       |win AS (SELECT COUNT(*) AS t,
       |    CAST(SUM(CASE WHEN ls = ld THEN 1 ELSE 0 END) AS BIGINT) AS w_in
       |  FROM e2),
       |dsq AS (SELECT COUNT(*) AS n_communities,
       |    SUM(CAST(dc AS DECIMAL(38,0)) * dc) AS d2
       |  FROM (SELECT a.lbl, COUNT(*) AS dc FROM sparse e
       |    JOIN fin a ON a.id = e.src GROUP BY a.lbl))
       |SELECT t, w_in, n_communities,
       |  round(CAST(w_in AS DOUBLE) / t
       |    - CAST(d2 AS DOUBLE) / (CAST(t AS DOUBLE) * t), 6) AS modularity
       |FROM win, dsq""".stripMargin

  private def componentsSql: String = {
    val iters = (1 to CcIters).map { k =>
      s"""c$k AS MATERIALIZED (SELECT n.id, least(n.comp, r.m) AS comp
         |  FROM c${k - 1} n LEFT JOIN (
         |    SELECT e.dst AS id, MIN(p.comp) AS m
         |    FROM sparse e JOIN c${k - 1} p ON p.id = e.src
         |    GROUP BY e.dst) r ON r.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH spairs AS MATERIALIZED (SELECT o_custkey AS c, l_suppkey + $SuppOffset AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2
       |  HAVING 1.0 + MIN(l_discount) < $CcMaxW AND COUNT(*) >= $CcMinOrders),
       |sparse AS MATERIALIZED (SELECT c AS src, p AS dst FROM spairs
       |  UNION ALL SELECT p AS src, c AS dst FROM spairs),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM sparse),
       |c0 AS (SELECT id, id AS comp FROM nodes),
       |$iters
       |SELECT comp, COUNT(*) AS n_nodes FROM c$CcIters
       |GROUP BY comp ORDER BY n_nodes DESC, comp ASC LIMIT 20""".stripMargin
  }

  /** G5: the bfsSql distance chain, folded to floor(d/2) intermediaries. */
  private def socialDegreeSql: String = {
    val iters = (1 to BfsIters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT d.id, least(d.dist, r.reach) AS dist
         |  FROM d${k - 1} d LEFT JOIN (
         |    SELECT e.dst AS id, MIN(p.dist + 1) AS reach
         |    FROM edges e JOIN d${k - 1} p ON p.id = e.src AND p.dist IS NOT NULL
         |    GROUP BY e.dst) r ON r.id = d.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
       |d0 AS (SELECT id, CAST(CASE WHEN id = $SourceId THEN 0 END AS DOUBLE) AS dist FROM nodes),
       |$iters
       |SELECT CAST(FLOOR(dist / 2) AS INT) AS social_degree, COUNT(*) AS n_pairs
       |FROM d$BfsIters WHERE dist IS NOT NULL AND id <> $SourceId
       |GROUP BY 1 ORDER BY social_degree""".stripMargin
  }

  private def ssspSql: String = {
    val iters = (1 to SsspIters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT d.id, least(d.dist, r.reach) AS dist
         |  FROM d${k - 1} d LEFT JOIN (
         |    SELECT e.dst AS id, MIN(p.dist + e.w) AS reach
         |    FROM edges e JOIN d${k - 1} p ON p.id = e.src AND p.dist IS NOT NULL
         |    GROUP BY e.dst) r ON r.id = d.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $weightedEdgesSql,
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
       |d0 AS (SELECT id, CAST(CASE WHEN id = $SourceId THEN 0.0 END AS DOUBLE) AS dist FROM nodes),
       |$iters
       |SELECT id, dist FROM d$SsspIters
       |WHERE dist IS NOT NULL ORDER BY id LIMIT 2000""".stripMargin
  }

  /** DuckDB twin of graph_rw_corpus: the walk recurrence unrolled into
    * chained CTEs (w0 → w1 → … → wRwLen), each stepping through the same
    * (src, rank) neighbor index with the same hash-mod-degree pick. */
  private def rwChainSql: String = {
    val stepJoins = (0 until RwLen).map { t =>
      s"""w${t + 1} AS (SELECT p.root, p.walk, n.dst AS node FROM w$t p
         |  JOIN nbr n ON n.src = p.node
         |    AND n.rn = ${h28Sql(s"concat(p.root, '_', p.walk, '_', $t, '_', p.node)")} % n.deg + 1)""".stripMargin
    }.mkString(",\n")
    val selects = (0 to RwLen).map { t =>
      s"SELECT root, walk, $t AS step, node FROM w$t"
    }.mkString("\nUNION ALL ")
    s"""$edgesSql,
       |nbr AS MATERIALIZED (SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
       |    COUNT(*) OVER (PARTITION BY src) AS deg
       |  FROM edges),
       |roots AS (SELECT DISTINCT src AS root FROM edges WHERE src <= $RwRootMax),
       |w0 AS (SELECT root, walk, root AS node FROM roots
       |  CROSS JOIN (SELECT unnest(range(0, $RwWalks)) AS walk)),
       |$stepJoins,
       |corpus AS MATERIALIZED ($selects)""".stripMargin
  }

  /** graph_node2vec: the biased-walk recurrence unrolled — per step one
    * candidate join, the CASE weight, a cumulative window in dst order,
    * and the dyadic-exact threshold pick (see node2vecCorpus). */
  private def node2vecSql: String = {
    val stepJoins = (1 until N2vSteps).map { t =>
      s"""c$t AS (SELECT p.root, p.walk, p.node, n.dst,
         |    CASE WHEN n.dst = p.prev THEN 0.25
         |         WHEN a.src IS NOT NULL THEN 1.0
         |         ELSE 4.0 END AS wt,
         |    ${h28Sql(s"concat('n2v_', p.root, '_', p.walk, '_', $t, '_', p.node)")} / 268435456.0 AS u
         |  FROM v$t p JOIN nbr n ON n.src = p.node
         |  LEFT JOIN edges a ON a.src = p.prev AND a.dst = n.dst),
         |s$t AS (SELECT *,
         |    SUM(wt) OVER (PARTITION BY root, walk ORDER BY dst
         |      ROWS UNBOUNDED PRECEDING) AS cw,
         |    SUM(wt) OVER (PARTITION BY root, walk) AS tot FROM c$t),
         |v${t + 1} AS MATERIALIZED (SELECT root, walk, node AS prev, dst AS node
         |  FROM s$t WHERE cw > u * tot AND cw - wt <= u * tot)""".stripMargin
    }.mkString(",\n")
    val selects = (0 to N2vSteps).map { t =>
      s"SELECT root, walk, $t AS step, node FROM v$t"
    }.mkString("\nUNION ALL ")
    s"""WITH $edgesSql,
       |nbr AS MATERIALIZED (SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
       |    COUNT(*) OVER (PARTITION BY src) AS deg
       |  FROM edges),
       |roots AS (SELECT DISTINCT src AS root FROM edges WHERE src <= $RwRootMax),
       |v0 AS (SELECT root, walk, CAST(NULL AS BIGINT) AS prev, root AS node
       |  FROM roots CROSS JOIN (SELECT unnest(range(0, $RwWalks)) AS walk)),
       |v1 AS MATERIALIZED (SELECT p.root, p.walk, p.node AS prev, n.dst AS node
       |  FROM v0 p JOIN nbr n ON n.src = p.node
       |    AND n.rn = ${h28Sql(s"concat('n2v_', p.root, '_', p.walk, '_', 0, '_', p.node)")} % n.deg + 1),
       |$stepJoins
       |SELECT root, walk, step, node FROM ($selects)
       |ORDER BY root, walk, step""".stripMargin
  }

  /** DuckDB twin of graph_hits: the mutual-reinforcement recurrence
    * unrolled (h0 → a1 → h1 → …), exact decimal sums, same max-
    * normalization and tie-breaks. */
  private def hitsSql: String = {
    val rounds = (1 to HitsIters).map { k =>
      s"""a${k}r AS (SELECT p, CAST(SUM(CAST(h AS DECIMAL(28,15))) AS DOUBLE) AS a
         |  FROM hp JOIN h${k - 1} USING (c) GROUP BY p),
         |a$k AS (SELECT p, a / (SELECT MAX(a) FROM a${k}r) AS a FROM a${k}r),
         |h${k}r AS (SELECT c, CAST(SUM(CAST(a AS DECIMAL(28,15))) AS DOUBLE) AS h
         |  FROM hp JOIN a$k USING (p) GROUP BY c),
         |h$k AS (SELECT c, h / (SELECT MAX(h) FROM h${k}r) AS h FROM h${k}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH hp AS MATERIALIZED (SELECT DISTINCT o_custkey AS c,
       |    l_suppkey + $SuppOffset AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |h0 AS (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS h FROM hp),
       |$rounds
       |SELECT role, id, score FROM (
       |  SELECT 'auth' AS role, p AS id, round(a, 6) AS score,
       |    row_number() OVER (ORDER BY a DESC, p ASC) AS rn FROM a$HitsIters
       |  UNION ALL
       |  SELECT 'hub' AS role, c AS id, round(h, 6) AS score,
       |    row_number() OVER (ORDER BY h DESC, c ASC) AS rn FROM h$HitsIters)
       |WHERE rn <= 10
       |ORDER BY role, score DESC, id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "graph_hits" -> hitsSql,

    "graph_rw_corpus" ->
      s"""WITH $rwChainSql
         |SELECT root, walk, step, node FROM corpus
         |ORDER BY root, walk, step""".stripMargin,

    "graph_rw_skipgram" ->
      s"""WITH $rwChainSql,
         |pr AS (SELECT a.node AS center, b.node AS context FROM corpus a
         |  JOIN corpus b ON a.root = b.root AND a.walk = b.walk
         |    AND abs(a.step - b.step) BETWEEN 1 AND $RwWindow)
         |SELECT center, context, COUNT(*) AS n FROM pr
         |GROUP BY center, context
         |ORDER BY n DESC, center ASC, context ASC LIMIT 50""".stripMargin,

    // capped mirrors Analytics.cooccurrencePairs (deterministic per-key
    // top-32 by item hash); thr is the exact interpolated 90th percentile
    // of co-supply counts (quantile_cont == Spark percentile).
    "graph_triangles" ->
      s"""WITH $triPairsSql
         |SELECT
         |  (SELECT COUNT(DISTINCT v) FROM
         |    (SELECT x AS v FROM pairs UNION ALL SELECT y AS v FROM pairs)) AS n_nodes,
         |  (SELECT COUNT(*) FROM pairs) AS n_edges,
         |  (SELECT COUNT(*) FROM pairs e1
         |    JOIN pairs e2 ON e1.y = e2.x
         |    JOIN pairs e3 ON e3.x = e1.x AND e3.y = e2.y) AS n_triangles""".stripMargin,

    "graph_global_clustering" ->
      s"""WITH $triPairsSql,
         |deg AS (SELECT v, COUNT(*) AS deg FROM
         |  (SELECT x AS v FROM pairs UNION ALL SELECT y AS v FROM pairs)
         |  GROUP BY v),
         |w AS (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
         |t AS (SELECT COUNT(*) AS n_triangles FROM pairs e1
         |  JOIN pairs e2 ON e1.y = e2.x
         |  JOIN pairs e3 ON e3.x = e1.x AND e3.y = e2.y)
         |SELECT n_wedges, n_triangles,
         |  round(CAST(3.0 AS DOUBLE) * n_triangles / n_wedges, 6) AS global_cc
         |FROM w, t""".stripMargin,

    "graph_kcore" -> {
      val rounds = (1 to KcoreIters).map { r =>
        s"""kv$r AS (SELECT src AS v FROM ke${r - 1}
           |  GROUP BY src HAVING COUNT(*) >= $KcoreK),
           |ke$r AS MATERIALIZED (SELECT e.src, e.dst FROM ke${r - 1} e
           |  WHERE e.src IN (SELECT v FROM kv$r)
           |    AND e.dst IN (SELECT v FROM kv$r))""".stripMargin
      }.mkString(",\n")
      s"""WITH $triPairsSql,
         |ke0 AS MATERIALIZED (SELECT x AS src, y AS dst FROM pairs
         |  UNION ALL SELECT y AS src, x AS dst FROM pairs),
         |$rounds
         |SELECT $KcoreK AS k,
         |  (SELECT COUNT(DISTINCT src) FROM ke$KcoreIters) AS n_vertices,
         |  (SELECT COUNT(*) // 2 FROM ke$KcoreIters) AS n_edges""".stripMargin
    },

    "graph_clustering_coeff" ->
      s"""WITH $triPairsSql,
         |tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
         |  FROM pairs e1
         |  JOIN pairs e2 ON e1.y = e2.x
         |  JOIN pairs e3 ON e3.x = e1.x AND e3.y = e2.y),
         |pv AS (SELECT v, COUNT(*) AS n_tri FROM (
         |    SELECT a AS v FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri)
         |  GROUP BY v),
         |deg AS (SELECT v, COUNT(*) AS deg FROM (
         |    SELECT x AS v FROM pairs UNION ALL SELECT y AS v FROM pairs)
         |  GROUP BY v)
         |SELECT d.v, d.deg, COALESCE(pv.n_tri, 0) AS n_tri,
         |  round(2.0 * COALESCE(pv.n_tri, 0) / (d.deg * (d.deg - 1)), 6) AS lcc
         |FROM deg d LEFT JOIN pv ON pv.v = d.v
         |WHERE d.deg >= 2
         |ORDER BY lcc DESC, d.deg DESC, d.v ASC LIMIT 20""".stripMargin,

    "graph_degrees" ->
      s"""WITH $edgesSql
         |SELECT src AS id, COUNT(*) AS degree,
         |  round(ln(1 + COUNT(*)), 6) AS log_degree
         |FROM edges GROUP BY src ORDER BY id""".stripMargin,

    "graph_edge_weights" ->
      s"""WITH $edgesSql,
         |indeg AS (SELECT dst AS id, COUNT(*) AS indeg FROM edges GROUP BY dst)
         |SELECT e.src, e.dst,
         |  round(ln(i.indeg + 1) +
         |    CASE WHEN c.c_acctbal < 0 THEN 2.0 ELSE 0.0 END, 6) AS weight
         |FROM edges e
         |JOIN indeg i ON i.id = e.dst
         |LEFT JOIN customer c ON c.c_custkey = e.src
         |ORDER BY e.src, e.dst LIMIT 5000""".stripMargin,

    "graph_pagerank" -> pagerankSql,
    "graph_ppr" -> pprSql,
    "graph_harmonic" -> harmonicSql,
    "graph_betweenness" -> betweennessSql,
    "graph_effective_diameter" -> effDiameterSql,
    "graph_node2vec" -> node2vecSql,

    "graph_densification" ->
      """WITH op AS (SELECT o_custkey AS c, l_suppkey AS p,
        |    year(o_orderdate) AS yr
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |fe AS (SELECT c, p, MIN(yr) AS fy FROM op GROUP BY c, p),
        |epy AS (SELECT fy AS yr, COUNT(*) AS n_new_edges FROM fe GROUP BY fy),
        |fc AS (SELECT o_custkey, MIN(year(o_orderdate)) AS fy
        |  FROM orders GROUP BY 1),
        |cpy AS (SELECT fy AS yr, COUNT(*) AS n_new_customers FROM fc GROUP BY fy),
        |j AS (SELECT COALESCE(e.yr, c.yr) AS yr,
        |    COALESCE(n_new_edges, 0) AS n_new_edges,
        |    COALESCE(n_new_customers, 0) AS n_new_customers
        |  FROM epy e FULL JOIN cpy c ON c.yr = e.yr),
        |w AS (SELECT yr, n_new_edges, n_new_customers,
        |    CAST(SUM(n_new_edges) OVER (ORDER BY yr
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_edges,
        |    CAST(SUM(n_new_customers) OVER (ORDER BY yr
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_customers
        |  FROM j)
        |SELECT yr, n_new_edges, n_new_customers, cum_edges, cum_customers,
        |  round(CAST(cum_edges AS DOUBLE) / cum_customers, 6) AS density
        |FROM w ORDER BY yr""".stripMargin,

    "graph_assortativity" ->
      s"""WITH $edgesSql,
         |degs AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg
         |  FROM edges GROUP BY src),
         |ed AS (SELECT a.deg AS dx, b.deg AS dy FROM edges e
         |  JOIN degs a ON a.id = e.src JOIN degs b ON b.id = e.dst),
         |s AS (SELECT COUNT(*) AS n,
         |    CAST(SUM(CAST(dx AS DECIMAL(38,10))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(dy AS DECIMAL(38,10))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(dx * dx AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
         |    CAST(SUM(CAST(dy * dy AS DECIMAL(38,10))) AS DOUBLE) AS syy,
         |    CAST(SUM(CAST(dx * dy AS DECIMAL(38,10))) AS DOUBLE) AS sxy
         |  FROM ed)
         |SELECT n AS n_edges,
         |  round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6)
         |    AS assortativity
         |FROM s""".stripMargin,
    "graph_pagerank_by_relation" -> pagerankByRelSql,
    "graph_bfs_hops" -> bfsSql,
    "graph_components" -> componentsSql,
    "graph_label_prop" -> labelPropSql,
    "graph_modularity" -> modularitySql,

    "graph_rich_club" ->
      s"""WITH $triPairsSql,
         |deg AS (SELECT v, COUNT(*) AS deg FROM
         |  (SELECT x AS v FROM pairs UNION ALL SELECT y AS v FROM pairs)
         |  GROUP BY v),
         |t AS (SELECT round(quantile_cont(deg, 0.9), 6) AS thr FROM deg),
         |hubs AS (SELECT v FROM deg, t WHERE CAST(deg AS DOUBLE) >= thr),
         |nh AS (SELECT COUNT(*) AS n_hubs FROM hubs),
         |eh AS (SELECT COUNT(*) AS e_hubs FROM pairs p
         |  JOIN hubs a ON a.v = p.x JOIN hubs b ON b.v = p.y)
         |SELECT n_hubs, e_hubs,
         |  CASE WHEN n_hubs < 2 THEN CAST(0.0 AS DOUBLE)
         |    ELSE round(CAST(2.0 AS DOUBLE) * e_hubs /
         |      (CAST(n_hubs AS DOUBLE) * (n_hubs - 1)), 6) END AS phi
         |FROM nh, eh""".stripMargin,
    "graph_sssp_weighted" -> ssspSql,
    "graph_path_decorated" -> pathDecoratedSql,
    "graph_social_degree" -> socialDegreeSql,
    "graph_six_degrees" -> sixDegreesSql,

    "graph_neighbor_sample" ->
      s"""WITH $edgesSql,
         |h1 AS (SELECT dst AS v1, row_number() OVER (
         |    ORDER BY ${h28Sql("concat(src, '_', dst)")}, dst) AS rn
         |  FROM edges WHERE src = $SourceId),
         |h2 AS (SELECT e.src AS parent, e.dst AS neighbor, row_number() OVER (
         |    PARTITION BY e.src
         |    ORDER BY ${h28Sql("concat(e.src, '_', e.dst)")}, e.dst) AS rn
         |  FROM edges e JOIN h1 ON h1.v1 = e.src AND h1.rn <= 5)
         |SELECT parent, neighbor FROM h2 WHERE rn <= 3
         |ORDER BY parent, neighbor""".stripMargin,

    "graph_neighbor_sample_batch" ->
      s"""WITH $edgesSql,
         |h1 AS (SELECT src AS s0, dst AS v1, row_number() OVER (
         |    PARTITION BY src
         |    ORDER BY ${h28Sql("concat(src, '_', dst)")}, dst) AS rn
         |  FROM edges WHERE src IN (1, 2, 3)),
         |h2 AS (SELECT h1.s0, e.src AS parent, e.dst AS neighbor,
         |    row_number() OVER (PARTITION BY h1.s0, e.src
         |      ORDER BY ${h28Sql("concat(e.src, '_', e.dst)")}, e.dst) AS rn
         |  FROM edges e JOIN h1 ON h1.v1 = e.src AND h1.rn <= 5)
         |SELECT s0, parent, neighbor FROM h2 WHERE rn <= 3
         |ORDER BY s0, parent, neighbor""".stripMargin,

    "graph_prune_small_types" ->
      s"""WITH typed AS (SELECT o_custkey AS c, l_suppkey AS p,
         |    concat(p_brand, '|', p_type) AS rel
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  JOIN part ON l_partkey = p_partkey),
         |keep AS (SELECT rel FROM typed GROUP BY rel
         |  HAVING COUNT(*) >= $MinEdgeCount)
         |SELECT rel, COUNT(*) AS n_edges,
         |  COUNT(DISTINCT c) AS n_customers,
         |  COUNT(DISTINCT p) AS n_suppliers
         |FROM typed WHERE rel IN (SELECT rel FROM keep)
         |GROUP BY rel ORDER BY rel""".stripMargin,

    "graph_connectivity_meta" ->
      """SELECT c_nationkey AS src_nation, s_nationkey AS dst_nation,
        |  COUNT(*) AS n_edges
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2 ORDER BY src_nation, dst_nation""".stripMargin
  )
}
