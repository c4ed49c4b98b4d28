package graft.ops

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import TextHash.{h28, h28Sql}

/** ML pipeline pack — SURVEY.md §2.10 re-designed per the BASELINE north
  * star: GraphX/DataFrame structural features + MLlib classifier instead
  * of the reference's GNN (ref gnn_architecture.py, train_model.py).
  *
  * The reference's random machinery (RandomLinkSplit, negative sampling,
  * random pair sampling — train_model.py:203-212,344-402) is re-based on
  * the deterministic MD5 hash so splits and samples are reproducible AND
  * DuckDB-oracle-checkable; only the actual MLlib fit (ml_train_eval) is
  * a rows-only check, since LBFGS float accumulation is not
  * bit-reproducible across engines by design.
  *
  * Link universe: the bipartite customer–supplier co-purchase graph;
  * "link prediction" = predict co-purchasing from structural features
  * (common neighbors, Adamic-Adar, preferential attachment — the
  * standard feature set, Liben-Nowell & Kleinberg 2003).
  */
object MLPack {
  type Q = (SparkSession, String) => DataFrame

  /** Negative-sampling fanout: candidate supplier picks per customer. */
  private val NegPerCust = 20

  /** Equal-width score bins of ml_calibration_bins. */
  private val CalibBins = 10

  /** Query customer of the recommend queries. */
  private val QueryCust = 1L

  /** Ranking depth of the ranking evals (precision@K, NDCG@K). */
  private val EvalK = 5

  /** Time split of ml_temporal_link_eval (orders span 1995..2001). */
  private val TemporalSplit = "1999-01-01"

  /** Histogram width of ml_feature_drift's PSI. */
  private val DriftBuckets = 10

  /** Distinct customer→supplier edges (session-cached: every ML query
    * starts from this same link universe). Projected from GraphPack's
    * cached (rel, c, p) pass — one orders⋈lineitem scan serves both
    * packs (the supplier-id offset is undone here). */
  private[ops] def edges(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"ml.edges:$d") {
      GraphPack.relPairs(s, d)
        .select(col("c"), (col("p") - GraphPack.SuppOffset).as("p"))
        .distinct()
    }

  private val edgesSql =
    """edges AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS p
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""".stripMargin

  /** Leak-free hash-half split of the edge universe, shared by all three
    * eval queries (ml_precision_at_k, ml_auc_exact, ml_train_eval):
    * features come from half A, labels from half B. Session-cached and
    * listed in Warm.scala so the bench charges the build to the shared
    * warm pass once instead of to whichever eval runs first. */
  private[ops] def edgesHalfA(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"ml.edgesA:$d") {
      edges(s, d).filter(h28(concat_ws("_", col("c"), col("p"))) % 2 === 0)
    }

  /** Label half of the split — see [[edgesHalfA]]. */
  private[ops] def edgesHalfB(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"ml.edgesB:$d") {
      edges(s, d).filter(h28(concat_ws("_", col("c"), col("p"))) % 2 === 1)
    }

  /** Supplier degree within feature-half A (the Adamic-Adar weight),
    * shared by the eval queries. */
  private[ops] def pdegA(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"ml.pdegA:$d") {
      edgesHalfA(s, d).groupBy(col("p")).agg(count(lit(1)).as("pdeg"))
    }

  /** The Adamic-Adar sum of a pair's shared suppliers, Σ 1/ln(pdeg+1)
    * over rows carrying the supplier degree `pdeg`: an exact decimal sum
    * (OpsUtil.rsum), unrounded — each caller rounds where its oracle
    * does. Every AA score of the pack is this one expression. */
  private def aaSum: Column = OpsUtil.rsum(lit(1.0) / log(col("pdeg") + 1))

  /** The shared-supplier join of the pack: one row per pair (c1, c2) of
    * `pairs` and supplier p that both endpoints have in the edge set `e`
    * (c, p, …). The other columns of `e` (the supplier degree `pdeg`)
    * ride the c1 side. The join starts from the pair table, so it is
    * |pairs|·avg-degree rows — never all co-purchase pairs first (that
    * intermediate is Σ_p deg(p)² ≈ 180M rows at sf0.1 and quadratic in
    * hub degree at scale). */
  private def sharedSuppliers(pairs: DataFrame, e: DataFrame): DataFrame =
    pairs
      .join(e.select(col("c").as("c1") +: e.columns.filter(_ != "c").map(col): _*), "c1")
      .join(e.select(col("c").as("c2"), col("p").as("p2")), "c2")
      .filter(col("p") === col("p2"))

  /** The pairs of `pairs` that share a supplier in the label edge set
    * `e`, once each, labelled 1: (c1, c2, label). */
  private def sharedLabels(pairs: DataFrame, e: DataFrame): DataFrame =
    sharedSuppliers(pairs, e).select(col("c1"), col("c2")).distinct()
      .withColumn("label", lit(1L))

  /** Shared-supplier scores of the pairs of `pairs` that share one in
    * `e`: `cn`, the common-neighbour count, and — when `e` carries
    * `pdeg` — `aa`, the unrounded [[aaSum]]. A caller's projection over
    * them (a rename, a `round`) collapses into this aggregate. */
  private def pairScores(pairs: DataFrame, e: DataFrame): DataFrame = {
    val aa = if (e.columns.contains("pdeg")) Seq(aaSum.as("aa")) else Nil
    sharedSuppliers(pairs, e).groupBy(col("c1"), col("c2"))
      .agg(count(lit(1)).as("cn"), aa: _*)
  }

  /** Shared-supplier candidates of query customers: `q` is (qc, p), the
    * query customers' suppliers; one row per other customer `cand` of
    * `e` (c, p) and supplier p it shares with qc, carrying p's degree
    * from `deg` (p, pdeg). The caller sums [[aaSum]] over its own keys:
    * (qc, cand) for a query batch, cand alone for one query customer. */
  private def candidates(q: DataFrame, e: DataFrame, deg: DataFrame): DataFrame =
    q.join(e.select(col("c").as("cand"), col("p")), Seq("p"))
      .filter(col("cand") =!= col("qc"))
      .join(deg, "p")

  /** The deterministic scored eval frame shared by ml_auc_exact and
    * ml_calibration_bins: every sampled pair with its Adamic-Adar score
    * from feature-half A and its co-purchase label from half B —
    * (score, label), leak-free by the hash-half split. Session-cached:
    * both metrics aggregate the same frame. Built from the same helpers
    * as [[trainFeatures]], not projected from it: the feature matrix's
    * degree left-joins would stay in this plan. */
  private[graft] def aaScored(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"ml.aaScored:$d") {
      val pairs = pairSample(s, d)
      val pos = sharedLabels(pairs, edgesHalfB(s, d))
      val aa = pairScores(pairs, edgesHalfA(s, d).join(pdegA(s, d), "p"))
        .select(col("c1"), col("c2"), round(col("aa"), 6).as("score"))
      pairs
        .join(aa, Seq("c1", "c2"), "left")
        .join(pos, Seq("c1", "c2"), "left")
        .select(coalesce(col("score"), lit(0.0)).as("score"),
          coalesce(col("label"), lit(0L)).as("label"))
    }

  /** DuckDB twin of [[aaScored]] — CTE chain ending in `scored`.
    * Assumes `edges` and `pairs` CTEs are already in scope. */
  private def aaScoredSql: String = {
    import TextHash.h28Sql
    s"""ea AS (SELECT c, p FROM edges WHERE ${h28Sql("concat(c, '_', p)")} % 2 = 0),
       |eb AS (SELECT c, p FROM edges WHERE ${h28Sql("concat(c, '_', p)")} % 2 = 1),
       |pos AS (SELECT DISTINCT pr.c1, pr.c2 FROM pairs pr
       |  JOIN eb e1 ON e1.c = pr.c1
       |  JOIN eb e2 ON e2.c = pr.c2 AND e2.p = e1.p),
       |pdeg AS (SELECT p, COUNT(*) AS pdeg FROM ea GROUP BY p),
       |aa AS (SELECT pr.c1, pr.c2,
       |    round(CAST(SUM(CAST(1.0 / ln(d.pdeg + 1) AS DECIMAL(28,15))) AS DOUBLE), 6) AS score
       |  FROM pairs pr
       |  JOIN ea e1 ON e1.c = pr.c1
       |  JOIN ea e2 ON e2.c = pr.c2 AND e2.p = e1.p
       |  JOIN pdeg d ON d.p = e1.p
       |  GROUP BY pr.c1, pr.c2),
       |scored AS (SELECT COALESCE(aa.score, 0.0) AS score,
       |    CASE WHEN pos.c1 IS NOT NULL THEN 1 ELSE 0 END AS label
       |  FROM pairs pr
       |  LEFT JOIN aa ON aa.c1 = pr.c1 AND aa.c2 = pr.c2
       |  LEFT JOIN pos ON pos.c1 = pr.c1 AND pos.c2 = pr.c2)""".stripMargin
  }

  /** Deterministic customer pair sample: (c, c+delta) for delta 1..5 —
    * the reference's random-pair experiment (notebook cell 147) with a
    * reproducible grid instead of np.random (SURVEY.md §2.7 G11). */
  private def pairSample(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey").as("id"))
    val deltas = s.range(1, 6).select(col("id").as("delta"))
    c.crossJoin(broadcast(deltas))   // constant 5-row fanout side
      .select(col("id").as("c1"), (col("id") + col("delta")).as("c2"))
      .join(c.select(col("id").as("c2")), "c2")
      .select(col("c1"), col("c2"))
  }

  private val pairSampleSql =
    """pairs AS (SELECT a.c_custkey AS c1, a.c_custkey + delta AS c2
      |  FROM customer a
      |  CROSS JOIN (SELECT unnest(range(1, 6)) AS delta)
      |  WHERE EXISTS (SELECT 1 FROM customer b WHERE b.c_custkey = a.c_custkey + delta))""".stripMargin

  /** The link-prediction feature matrix of ml_train_eval and
    * ml_train_matrix: the pair sample (c1, c2), labeled 1 when the pair
    * shares a supplier in half B, with features from half A only (no
    * leakage) — common neighbours `cn`, Adamic-Adar `aa`, log1p endpoint
    * degrees `d1`/`d2` and log1p preferential attachment `pref` — and the
    * 80/20 hash `split` ("train"/"test"). Deterministic: `aa` is an exact
    * decimal sum (OpsUtil.rsum) and every double feature is rounded to 6
    * places, so the matrix the fit reads is the one the oracle pins. */
  private def trainFeatures(s: SparkSession, d: String): DataFrame = {
    val eA = edgesHalfA(s, d)                          // feature graph
    val pairs = pairSample(s, d)
    val labeled = pairs.join(sharedLabels(pairs, edgesHalfB(s, d)), Seq("c1", "c2"), "left")
      .na.fill(0L, Seq("label"))
    // Degrees carry the predictive mass here — a customer active in half
    // A is active in half B, so endpoint degrees and preferential
    // attachment predict co-purchase where bare common-neighbor counts
    // are flat on a uniform co-purchase graph (V1 assembly; Liben-Nowell
    // feature family incl. preferential attachment).
    val cn = pairScores(labeled.select(col("c1"), col("c2")), eA.join(pdegA(s, d), "p"))
      .withColumn("aa", round(col("aa"), 6))
    val cdegA = eA.groupBy(col("c")).agg(count(lit(1)).cast("double").as("cdeg"))
    labeled.join(cn, Seq("c1", "c2"), "left")
      .join(cdegA.select(col("c").as("c1"), col("cdeg").as("deg1")), Seq("c1"), "left")
      .join(cdegA.select(col("c").as("c2"), col("cdeg").as("deg2")), Seq("c2"), "left")
      .na.fill(0L, Seq("cn")).na.fill(0.0, Seq("aa", "deg1", "deg2"))
      // log1p-compress the heavy-tailed degree features (the reference
      // applies the same normalization to its degree/pagerank features,
      // data_processor.py:92-93) so LBFGS sees comparable scales.
      .withColumn("pref", round(log1p(col("deg1") * col("deg2")), 6))
      .withColumn("d1", round(log1p(col("deg1")), 6))
      .withColumn("d2", round(log1p(col("deg2")), 6))
      .withColumn("split",
        when(h28(concat_ws("_", col("c1"), col("c2"))) % 10 < 8, "train").otherwise("test"))
  }

  /** Pair features over a (c1, c2) pair table: common neighbors,
    * Adamic-Adar, preferential attachment, same-nation flag. */
  private def pairFeatures(s: SparkSession, d: String, pairs: DataFrame): DataFrame = {
    val e = edges(s, d)
    val deg = e.groupBy(col("p")).agg(count(lit(1)).as("pdeg"))
    val cn = pairScores(pairs, e.join(deg, "p"))
      .withColumnsRenamed(Map("cn" -> "common_neighbors", "aa" -> "adamic_adar"))
    val cdeg = e.groupBy(col("c")).agg(count(lit(1)).as("cdeg"))
    val nat = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    pairs
      .join(cn, Seq("c1", "c2"), "left")
      .join(cdeg.select(col("c").as("c1"), col("cdeg").as("deg1")), Seq("c1"), "left")
      .join(cdeg.select(col("c").as("c2"), col("cdeg").as("deg2")), Seq("c2"), "left")
      .join(nat.select(col("c_custkey").as("c1"), col("c_nationkey").as("n1")), "c1")
      .join(nat.select(col("c_custkey").as("c2"), col("c_nationkey").as("n2")), "c2")
      .select(col("c1"), col("c2"),
        coalesce(col("common_neighbors"), lit(0L)).as("common_neighbors"),
        round(coalesce(col("adamic_adar"), lit(0.0)), 6).as("adamic_adar"),
        (coalesce(col("deg1"), lit(0L)) * coalesce(col("deg2"), lit(0L))).as("pref_attachment"),
        (col("n1") === col("n2")).cast("int").as("same_nation"))
  }

  private val pairFeaturesSql =
    s"""pdeg AS (SELECT p, COUNT(*) AS pdeg FROM edges GROUP BY p),
       |cn AS (SELECT pr.c1, pr.c2, COUNT(*) AS common_neighbors,
       |    CAST(SUM(CAST(1.0 / ln(d.pdeg + 1) AS DECIMAL(28,15))) AS DOUBLE) AS adamic_adar
       |  FROM pairs pr
       |  JOIN edges e1 ON e1.c = pr.c1
       |  JOIN edges e2 ON e2.c = pr.c2 AND e2.p = e1.p
       |  JOIN pdeg d ON d.p = e1.p
       |  GROUP BY pr.c1, pr.c2),
       |cdeg AS (SELECT c, COUNT(*) AS cdeg FROM edges GROUP BY c),
       |feat AS (SELECT pr.c1, pr.c2,
       |    COALESCE(cn.common_neighbors, 0) AS common_neighbors,
       |    round(COALESCE(cn.adamic_adar, 0.0), 6) AS adamic_adar,
       |    COALESCE(d1.cdeg, 0) * COALESCE(d2.cdeg, 0) AS pref_attachment,
       |    CAST(x.c_nationkey = y.c_nationkey AS INT) AS same_nation
       |  FROM pairs pr
       |  LEFT JOIN cn ON cn.c1 = pr.c1 AND cn.c2 = pr.c2
       |  LEFT JOIN cdeg d1 ON d1.c = pr.c1
       |  LEFT JOIN cdeg d2 ON d2.c = pr.c2
       |  JOIN customer x ON x.c_custkey = pr.c1
       |  JOIN customer y ON y.c_custkey = pr.c2)""".stripMargin

  /** Hub-damped per-type top-k (ref predicter.py:264-272): every pooled
    * candidate score is divided by log(degree+1)+1 before ranking, so a
    * high-degree hub cannot dominate the recommendation purely by
    * connectivity. `pooled` is (cand_type, cand, best_rel, score); `degs`
    * is (cand_type, cand, deg). Factored out so the damping semantics are
    * spec-testable on synthetic frames (MLSpec: a hub with the higher raw
    * score is out-ranked by a low-degree candidate exactly as the
    * reference's penalty dictates). */
  private[graft] def hubPenalizedTopK(pooled: DataFrame, degs: DataFrame,
      k: Int): DataFrame =
    pooled.join(degs, Seq("cand_type", "cand"))
      .withColumn("score_adj", hubPenalty(col("score"), col("deg")))
      .withColumn("type_rank", row_number().over(
        Window.partitionBy(col("cand_type"))
          .orderBy(col("score_adj").desc, col("cand").asc)))
      .filter(col("type_rank") <= k)
      .select(col("cand_type"), col("cand"), col("best_rel"), col("score"),
        col("score_adj"), col("type_rank"))
      .orderBy(col("score_adj").desc, col("cand_type").asc, col("cand").asc)

  /** The reference's hub penalty (predicter.py:264-272): a score divided
    * by ln(deg+1)+1, rounded to 6 places. */
  private def hubPenalty(score: Column, deg: Column): Column =
    round(score / (log(deg + 1) + 1), 6)

  /** Recommendation scores of customer `qc`: its [[candidates]] over all
    * edges, the Adamic-Adar sum damped by the [[hubPenalty]] of the
    * candidate's degree — (cand, score). The query side (one customer's
    * suppliers) is hinted broadcast: the planner sizes a filter of the
    * cached edge list as the whole list. */
  private def hubScored(s: SparkSession, d: String, qc: Long): DataFrame = {
    val e = edges(s, d)
    val deg = e.groupBy(col("p")).agg(count(lit(1)).as("pdeg"))
    val cdeg = e.groupBy(col("c").as("cand")).agg(count(lit(1)).as("cdeg"))
    // qc as a literal: the optimizer folds it, so the self-exclusion
    // filter reaches the edge scan instead of the join condition.
    val q = e.filter(col("c") === qc).select(lit(qc).as("qc"), col("p"))
    candidates(broadcast(q), e, deg)
      .groupBy(col("cand")).agg(aaSum.as("aa"))
      .join(cdeg, "cand")
      .select(col("cand"), hubPenalty(col("aa"), col("cdeg")).as("score"))
  }

  /** The ranking evals' query customers: customers 1..50 with their
    * suppliers in the edge set `e` (qc, p). */
  private def evalQueries(e: DataFrame): DataFrame =
    e.filter(col("c") <= 50).select(col("c").as("qc"), col("p"))

  /** The ranking evals' scored candidates: the [[candidates]] of
    * [[evalQueries]] over `e`, AA rounded to 6 places (qc, cand, score).
    * The pool per query is bounded by co-purchase fan-out. */
  private def evalScores(e: DataFrame, deg: DataFrame): DataFrame =
    candidates(evalQueries(e), e, deg)
      .groupBy(col("qc"), col("cand"))
      .agg(round(aaSum, 6).as("score"))

  /** Micro-averaged precision@[[EvalK]] of the Adamic-Adar recommender
    * over the query batch: [[evalScores]] from the feature edges `e`
    * (supplier degrees `deg`), hits = candidates that share a supplier
    * with their query in the label edges `labels`. Per-query ranking is
    * a bounded PARTITIONED window (≤ queries × candidates rows);
    * hit-labelling joins the RANKED top-K — queries × K rows — against
    * the label edges, never the full pair space. It probes ONLY the label
    * edges of the ranking's query/candidate customers. Both key sets come
    * from CHEAP subtrees — queries are the ≤50 filter, candidates are the
    * customers sharing a feature supplier with a query (a superset of the
    * ranked candidates) — so the ranked window is built once, not
    * recomputed per key set. The broadcast semi-filters shrink `labels`
    * before any shuffle, and the second join is an explicit
    * composite-key (cand, p) equi-join rather than a post-join filter.
    * One row (k, n_queries, n_recommended, n_hits, precision), integer
    * counts until the final division. */
  private def precisionAtK(e: DataFrame, deg: DataFrame, labels: DataFrame): DataFrame = {
    val ranked = evalScores(e, deg)
      .withColumn("rk", row_number().over(Window.partitionBy(col("qc"))
        .orderBy(col("score").desc, col("cand").asc)))
      .filter(col("rk") <= EvalK)
    val q = evalQueries(e)
    val qKeys = q.select(col("qc").as("c")).distinct()
    val candKeys = e.join(broadcast(q.select(col("p")).distinct()), "p")
      .select(col("c")).distinct()
    val lq = labels.join(broadcast(qKeys), "c")
      .select(col("c").as("qc"), col("p"))
    val lc = labels.join(broadcast(candKeys), "c")
      .select(col("c").as("cand"), col("p"))
    val hits = ranked.select(col("qc"), col("cand"))
      .join(lq, "qc")
      .join(lc, Seq("cand", "p"))
      .select(col("qc"), col("cand")).distinct()
      .withColumn("hit", lit(1L))
    ranked.join(hits, Seq("qc", "cand"), "left")
      .agg(countDistinct(col("qc")).as("n_queries"),
        count(lit(1)).as("n_recommended"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(lit(EvalK).as("k"), col("n_queries"), col("n_recommended"),
        col("n_hits"),
        round(col("n_hits").cast("double") / col("n_recommended"), 6)
          .as("precision"))
  }

  /** Per-relation supplier counts of the relation scans' customer pair
    * (1, 2), relation = p_type: (n1, n2, common), each (rel, count) over
    * the relations where the count is non-zero — `n1` and `n2` the sizes
    * of the two customers' supplier sets, `n_common` of their
    * intersection. */
  private def relationCounts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (c1, c2) = (1L, 2L)
    val t = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .filter(col("o_custkey").isin(c1, c2))
      .select(col("o_custkey").as("c"), col("p_type").as("rel"),
        col("l_suppkey").as("p"))
      .distinct()
    val s1 = t.filter(col("c") === c1).select(col("rel"), col("p"))
    val s2 = t.filter(col("c") === c2).select(col("rel"), col("p"))
    (s1.groupBy(col("rel")).agg(count(lit(1)).as("n1")),
      s2.groupBy(col("rel")).agg(count(lit(1)).as("n2")),
      s1.join(s2, Seq("rel", "p")).groupBy(col("rel")).agg(count(lit(1)).as("n_common")))
  }

  val queries: Map[String, Q] = Map(
    // M1 — deterministic link split with canonical-key rev-edge exclusion
    // (ref train_model.py:344-402): hash-bucket 80/10/10 on the canonical
    // pair so an edge and its reverse always land in the same split.
    "ml_link_split" -> ((s, d) => {
      graft.api.Sampling.pairSplit(edges(s, d), col("c"), col("p"))
        .groupBy(col("split")).agg(count(lit(1)).as("n_edges"))
        .orderBy(col("split"))
    }),

    // M2 — negative sampling, scale-safe form (ref train_model.py:203-212:
    // per-positive sampling, never enumeration): each customer draws
    // NegPerCust deterministic pseudo-random supplier picks (Knuth mix on
    // (c, j), dedup, anti-join real edges) — O(|C|·k) generated rows.
    // The round-2 form enumerated the |C|×|S| cross product and filtered
    // it to 5%; at 10⁷ customers × 10⁶ suppliers that is 10¹³ rows
    // through the filter. PlanSpec asserts no cartesian/BNL join remains.
    "ml_neg_sampling" -> ((s, d) => {
      val e = edges(s, d)
      val cust = Tables.customer(s, d).select(col("c_custkey").as("c"))
      val supp = Tables.supplier(s, d).select(col("s_suppkey").as("p"))
      graft.api.Sampling.negativePairs(cust, supp, e, "c", "p", NegPerCust)
        .agg(count(lit(1)).as("n_negatives"),
          countDistinct(col("c")).as("n_customers"),
          countDistinct(col("p")).as("n_suppliers"))
    }),

    // Pair features for the deterministic pair sample — the GraphX-side
    // feature table the classifier consumes (V1 assembly; Liben-Nowell
    // common-neighbor family).
    "ml_pair_features" -> ((s, d) => {
      pairFeatures(s, d, pairSample(s, d))
        .orderBy(col("c1"), col("c2")).limit(5000)
    }),

    // Popularity baseline recommender — the cold-start fallback every
    // serving stack keeps next to the personalized path (V5 family):
    // global supplier reach (distinct customers) minus the target
    // customer's own suppliers (broadcast anti-join on the tiny
    // already-connected set). One aggregation over the cached edge
    // universe; top-10 fully tie-broken.
    "ml_cold_start_popularity" -> ((s, d) => {
      val e = edges(s, d)
      val mine = e.filter(col("c") === 1).select(col("p"))
      e.groupBy(col("p")).agg(countDistinct(col("c")).as("reach"))
        .join(broadcast(mine), Seq("p"), "left_anti")
        .orderBy(col("reach").desc, col("p").asc)
        .limit(10)
    }),

    // Jaccard-coefficient link predictor over the sampled pairs — the
    // normalized cousin of ml_pair_features' common-neighbor count
    // (|N∩| / |N∪|, Liben-Nowell & Kleinberg 2003): same candidate-pair
    // equi-join on the shared neighbor, degrees from one cached groupBy;
    // the ratio is exact-integer until one rounded double division.
    // Top-20 with full (score, c1, c2) tie-break so the rank is total.
    "ml_jaccard_topk" -> ((s, d) => {
      val e = edges(s, d)
      val cn = pairScores(pairSample(s, d), e)
        .withColumnRenamed("cn", "common_neighbors")
      val cdeg = e.groupBy(col("c")).agg(count(lit(1)).as("cdeg"))
      cn.join(cdeg.select(col("c").as("c1"), col("cdeg").as("deg1")), "c1")
        .join(cdeg.select(col("c").as("c2"), col("cdeg").as("deg2")), "c2")
        .select(col("c1"), col("c2"), col("common_neighbors"),
          (col("deg1") + col("deg2") - col("common_neighbors")).as("union_size"),
          round(col("common_neighbors").cast("double") /
            (col("deg1") + col("deg2") - col("common_neighbors")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("c1").asc, col("c2").asc)
        .limit(20)
    }),

    // χ² feature-relevance screen — which categorical customer features
    // carry signal about the "has at least one order" label (the
    // feature-selection gate before training; V1 family). Contingency
    // cells are integer counts over tiny (feature × label) domains
    // (≤ 2·|values| cells, full map-side combine); each cell's
    // (O−E)²/E lands in an exact decimal so the cell-sum is
    // order-independent, and the only float step is one rounded division
    // per cell. One row per screened feature.
    "ml_chi2_features" -> ((s, d) => {
      val hasOrd = Tables.orders(s, d).select(col("o_custkey")).distinct()
      val lab = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
        .join(hasOrd, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment"), col("c_nationkey"),
          when(col("o_custkey").isNotNull, 1).otherwise(0).as("label"))
      def chi2Of(feat: String): DataFrame = {
        val obs = lab.groupBy(col(feat).cast("string").as("v"), col("label"))
          .agg(count(lit(1)).as("o"))
        val rt = obs.groupBy(col("v")).agg(sum(col("o")).as("rt"))
        val ct = obs.groupBy(col("label")).agg(sum(col("o")).as("ct"))
        val n = obs.agg(sum(col("o")).as("n"))
        obs.join(broadcast(rt), "v").join(broadcast(ct), "label")
          .crossJoin(broadcast(n))
          .withColumn("e", (col("rt") * col("ct")).cast("double") / col("n"))
          .withColumn("cell",
            (pow(col("o").cast("double") - col("e"), 2) / col("e"))
              .cast("decimal(28,12)"))
          .agg(countDistinct(col("v")).as("nv"),
            countDistinct(col("label")).as("nl"),
            round(sum(col("cell")).cast("double"), 6).as("chi2"))
          .select(lit(feat).as("feature"),
            ((col("nv") - 1) * (col("nl") - 1)).as("dof"), col("chi2"))
      }
      chi2Of("c_mktsegment").unionAll(chi2Of("c_nationkey"))
        .orderBy(col("feature"))
    }),

    // V5+V7 — constrained top-k recommendation: candidates = 2-hop
    // neighbors, minus existing partners (taboo anti-join), scored by
    // Adamic-Adar with the reference's hub penalty score/(log(deg)+1)
    // (predicter.py:194-291; ai_service.py:87-147), bucketed (V8).
    "ml_recommend_topk" -> ((s, d) => {
      hubScored(s, d, QueryCust)
        .withColumn("confidence",
          when(col("score") > 0.8, "high").when(col("score") > 0.5, "medium").otherwise("low"))
        .orderBy(col("score").desc, col("cand").asc)
        .limit(10)
    }),

    // V5 proper — MULTI-TYPE top-k recommendation (ref predicter.py:
    // 233-291): candidates of BOTH node types scored per relation, score
    // max-pooled across relations per candidate (argmax relation kept,
    // deterministic tie-break), the reference's hub penalty
    // score/(log(deg+1)+1) applied per candidate (predicter.py:264-272 —
    // without it high-degree candidates dominate purely by connectivity),
    // per-type top-k on the damped score, then one global merge — the
    // reference's heterogeneous recommend shape. Candidate scoring:
    // customer candidates share a supplier with the query customer
    // within a relation (per-relation common-neighbor count); supplier
    // candidates are what those rel-neighbors use, minus the query's own
    // suppliers (taboo anti-join). Every join is an equi-join on
    // (rel, key); the per-type top-k is a partitioned window.
    "ml_recommend_multitype" -> ((s, d) => {
      val Q = 1L
      val rp = GraphPack.relPairs(s, d)
        .select(col("rel"), col("c"), (col("p") - GraphPack.SuppOffset).as("p"))
      val mine = rp.filter(col("c") === Q).select(col("rel"), col("p"))
      val myAll = rp.filter(col("c") === Q).select(col("p")).distinct()
      val custScore = rp.join(mine.hint("broadcast"), Seq("rel", "p"))
        .filter(col("c") =!= Q)
        .groupBy(col("rel"), col("c").as("cand"))
        .agg(count(lit(1)).as("score"))
      val nbrs = custScore.select(col("rel").as("n_rel"), col("cand").as("nc"))
      val suppScore = rp
        .join(nbrs.hint("broadcast"),
          col("rel") === col("n_rel") && col("c") === col("nc"))
        .groupBy(col("rel"), col("p").as("cand"))
        .agg(countDistinct(col("c")).as("score"))
        .join(myAll.withColumnRenamed("p", "cand"), Seq("cand"), "left_anti")
      val typed = custScore.withColumn("cand_type", lit("customer"))
        .unionByName(suppScore.withColumn("cand_type", lit("supplier")))
      val pooled = typed
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cand_type"), col("cand"))
            .orderBy(col("score").desc, col("rel").asc)))
        .filter(col("rn") === 1)
        .select(col("cand_type"), col("cand"), col("rel").as("best_rel"), col("score"))
      // Per-node total degree across ALL relations (edge rows per node) —
      // the denominator of the reference's hub penalty.
      val degs = rp.groupBy(col("c")).agg(count(lit(1)).as("deg"))
        .select(lit("customer").as("cand_type"), col("c").as("cand"), col("deg"))
        .unionByName(rp.groupBy(col("p")).agg(count(lit(1)).as("deg"))
          .select(lit("supplier").as("cand_type"), col("p").as("cand"), col("deg")))
      hubPenalizedTopK(pooled, degs, k = 5)
    }),

    // V6 — relation scan (ref predicter.py:126-175 scan_relationship):
    // score a fixed node pair across every candidate relation type,
    // "strict" = only relations both endpoints participate in (the
    // schema-allowed set), argmax tracked like the reference's best_rel.
    // Relations ≈ p_type; score = Jaccard overlap of the pair's
    // per-relation supplier sets. All joins after the per-relation
    // grouping are on the tiny relation dimension — broadcast territory.
    "ml_relation_scan" -> ((s, d) => {
      val (n1, n2, common) = relationCounts(s, d)
      val scored = n1.join(n2, "rel")                    // strict: both sides active
        .join(common, Seq("rel"), "left")
        .select(col("rel"), col("n1"), col("n2"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
        .withColumn("score", round(col("n_common") /
          (col("n1") + col("n2") - col("n_common")).cast("double"), 6))
      val best = scored.agg(max(col("score")).as("best"))
      scored.crossJoin(broadcast(best))
        .select(col("rel"), col("n1"), col("n2"), col("n_common"), col("score"),
          (col("score") === col("best")).cast("int").as("is_best"))
        .orderBy(col("rel"))
    }),

    // V6 loose — zero-shot relation scan (ref predicter.py:137-143: loose
    // mode tries EVERY decoder, not just schema-allowed relations): score
    // the pair across the full relation dimension, absent sides count 0,
    // and the reference's score > 0.001 keep-gate becomes a flag.
    "ml_relation_scan_loose" -> ((s, d) => {
      val (n1, n2, common) = relationCounts(s, d)
      Tables.part(s, d).select(col("p_type").as("rel")).distinct()
        .join(n1, Seq("rel"), "left")
        .join(n2, Seq("rel"), "left")
        .join(common, Seq("rel"), "left")
        .select(col("rel"),
          coalesce(col("n1"), lit(0L)).as("n1"),
          coalesce(col("n2"), lit(0L)).as("n2"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
        .withColumn("score",
          when(col("n1") + col("n2") - col("n_common") === 0, lit(0.0))
            .otherwise(round(col("n_common") /
              (col("n1") + col("n2") - col("n_common")).cast("double"), 6)))
        .withColumn("kept", (col("score") > 0.001).cast("int"))
        .orderBy(col("rel"))
    }),

    // V7 — constrained recommendation (ref ai_service.py:87-147): overfetch
    // top-100 candidates, halve the score of pairs whose account-balance
    // gap exceeds 5000 (the age-gap analog), anti-join the taboo set
    // (candidates sharing ≥3 returned-goods suppliers with the query
    // customer ≈ existing-family-edge exclusion), re-rank, top-10.
    "ml_constrained_recommend" -> ((s, d) => {
      val base = hubScored(s, d, QueryCust)
        .orderBy(col("score").desc, col("cand").asc)
        .limit(100)                                      // overfetch
      val balQ = Tables.customer(s, d).filter(col("c_custkey") === QueryCust)
        .select(col("c_acctbal").as("bal_q"))
      val balC = Tables.customer(s, d)
        .select(col("c_custkey").as("cand"), col("c_acctbal").as("bal_c"))
      val rEdges = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_returnflag") === "R")
        .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
        .distinct()
      val tabooCand = rEdges
        .join(rEdges.filter(col("c") === QueryCust).select(col("p")).hint("broadcast"), "p")
        .filter(col("c") =!= QueryCust)
        .groupBy(col("c").as("cand")).agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3).select(col("cand"))
      base.crossJoin(broadcast(balQ))
        .join(balC, "cand")
        .withColumn("score_adj",
          round(when(abs(col("bal_c") - col("bal_q")) > 5000, col("score") * 0.5)
            .otherwise(col("score")), 6))
        .join(tabooCand, Seq("cand"), "left_anti")
        .select(col("cand"), col("score"), col("score_adj"))
        .orderBy(col("score_adj").desc, col("cand").asc)
        .limit(10)
    }),

    // M4 ranking eval with an ORACLE: micro-averaged precision@K of the
    // Adamic-Adar recommender over a 50-customer query batch, under the
    // same leak-free half-split (scores from half A, hits = co-purchase
    // in half B) — see precisionAtK.
    "ml_precision_at_k" -> ((s, d) =>
      precisionAtK(edgesHalfA(s, d), pdegA(s, d), edgesHalfB(s, d))),

    // M4 with an ORACLE: exact ROC-AUC of the deterministic Adamic-Adar
    // scorer under the same leak-free half-split as ml_train_eval
    // (features from hash-half A, labels = co-purchase in half B). AUC
    // is the tie-aware Mann-Whitney rank statistic computed from the
    // SCORE DISTRIBUTION: group by score (map-side combined), cumulative
    // count over the distinct-score frame (distribution-sized — same
    // bounded-window pattern as ana_degree_ccdf), and the rank sum is
    // kept in INTEGER arithmetic (doubled ranks) until the final
    // division, so both engines agree bitwise — the eval metric the
    // LBFGS query can't oracle-check, made checkable.
    // BOUNDED-WINDOW CONTRACT (shared with ml_lift_curve): the global
    // window's frame is the distinct-score domain, which is NOT the
    // pair count — an AA score is a 6-decimal-rounded sum of
    // 1/ln(pdeg+1) terms, so distinct scores track the distinct
    // common-neighbor-degree MULTISETS and saturate as degrees repeat.
    // Measured on the fixtures: 3 846 / 2 547 / 9 769 distinct scores
    // for 7 485 / 74 985 / 749 850 pairs (sf0.01/0.1/1) — two decades
    // of pair growth, ~2.5x domain growth (AaScoreDomainSpec pins the
    // falling density). If a corpus ever defeated the saturation, the
    // swap-in is the ml_calibration_bins shape: equal-width score bins
    // as cutoffs, one broadcast max, no distinct-score window at all.
    "ml_auc_exact" -> ((s, d) => {
      val scored = aaScored(s, d)
      val grp = scored.groupBy(col("score"))
        .agg(count(lit(1)).as("n"), sum(col("label")).as("np"))
      val w = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      grp.withColumn("cum", coalesce(sum(col("n")).over(w), lit(0L)))
        // doubled tie-average rank: 2·rank_avg = 2·cum + n + 1 (integer)
        .agg(sum(col("np")).as("npos"), sum(col("n")).as("ntot"),
          sum(col("np") * (lit(2) * col("cum") + col("n") + 1)).as("rs2"))
        .select(col("npos").as("n_pos"), (col("ntot") - col("npos")).as("n_neg"),
          round((col("rs2") - col("npos") * (col("npos") + 1)).cast("double") /
            (lit(2.0) * col("npos") * (col("ntot") - col("npos"))), 6).as("auc"))
    }),

    // M4 companion — score CALIBRATION (the reliability-diagram table):
    // the same deterministic scored eval frame as ml_auc_exact, cut into
    // CalibBins equal-width score bins against the max score (a 1-row
    // broadcast stat, same shape as ana_minmax_normalize), reporting per
    // bin the empirical positive rate next to the mean score. AUC says
    // the ranking is right; this says whether the score MAGNITUDE means
    // anything — the eval table a recommender threshold is tuned from.
    // One aggregation over the shared cached frame; bin count, not pair
    // count, bounds the reduce side.
    "ml_calibration_bins" -> ((s, d) => {
      val scored = aaScored(s, d)
      val mx = scored.agg(max(col("score")).as("smax"))
      scored.crossJoin(broadcast(mx))   // 1-row stats frame
        .select(col("score"), col("label"),
          when(col("smax") <= 0, lit(0L))
            .otherwise(least(floor(col("score") / col("smax") * CalibBins),
              lit((CalibBins - 1).toLong))).as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("label")).as("n_pos"),
          round(OpsUtil.rsum(col("score")) / count(lit(1)), 6).as("mean_score"),
          round(sum(col("label")).cast("double") / count(lit(1)), 6).as("frac_pos"))
        .orderBy(col("bin"))
    }),

    // Confusion matrix + operating-point metrics at the deployment
    // threshold (score > 0 — "any Adamic-Adar evidence"): TP/FP/FN/TN
    // and precision/recall/F1 in ONE pass over the session-cached scored
    // frame. The classifier-ops summary the threshold-free metrics
    // (AUC, lift, calibration) don't give.
    "ml_confusion_threshold" -> ((s, d) => {
      aaScored(s, d)
        .agg(
          sum(when(col("score") > 0 && col("label") === 1, 1).otherwise(0))
            .cast("long").as("tp"),
          sum(when(col("score") > 0 && col("label") === 0, 1).otherwise(0))
            .cast("long").as("fp"),
          sum(when(col("score") <= 0 && col("label") === 1, 1).otherwise(0))
            .cast("long").as("fn"),
          sum(when(col("score") <= 0 && col("label") === 0, 1).otherwise(0))
            .cast("long").as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("tp").cast("double") / (col("tp") + col("fp")), 6).as("precision"),
          round(col("tp").cast("double") / (col("tp") + col("fn")), 6).as("recall"),
          round(lit(2.0) * col("tp") / (lit(2.0) * col("tp") + col("fp") + col("fn")), 6)
            .as("f1"))
    }),

    // Cumulative gains / lift curve at score cutoffs — the campaign-
    // targeting eval next to AUC/calibration/NDCG: at each distinct
    // model score (descending), the positive rate among everything at
    // or above it vs the base rate. Computed over the SCORE-GROUPED
    // frame (ties never straddle a cutoff — the row-decile form is
    // ambiguous under ties), so the unpartitioned cumulative window
    // runs over the bounded distinct-score domain, not the pairs —
    // see ml_auc_exact's measured saturation contract (the domain grew
    // ~2.5x while pairs grew 100x; AaScoreDomainSpec pins it).
    // Reuses the session-cached scored eval frame.
    "ml_lift_curve" -> ((s, d) => {
      val per = aaScored(s, d).groupBy(col("score"))
        .agg(count(lit(1)).as("n"), sum(col("label")).as("pos"))
      val w = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = per.agg(sum(col("n")).as("tn"), sum(col("pos")).as("tp"))
      per.crossJoin(broadcast(tot))
        .withColumn("cum_n", sum(col("n")).over(w))
        .withColumn("cum_pos", sum(col("pos")).over(w))
        .select(col("score"), col("cum_n"), col("cum_pos"),
          round((col("cum_pos").cast("double") / col("cum_n")) /
            (col("tp").cast("double") / col("tn")), 6).as("lift"))
        .orderBy(col("score").desc)
        .limit(50)
    }),

    // NDCG@5 of the Adamic-Adar ranking under the leak-free half-split —
    // the GRADED ranking metric completing the eval family (precision@k
    // counts binary hits; NDCG credits rank position and gain = number
    // of shared half-B suppliers). Gains are integers, discounts are
    // ln(rk+1)/ln 2 computed identically in both engines, per-query DCG
    // and ideal-DCG go through exact decimal sums, and the mean is a
    // decimal sum over per-query ratios — fully oracle-checked, unlike
    // most ML stacks' eval metrics. Candidate pool per query is bounded
    // by co-purchase fan-out (same scale contract as ml_precision_at_k).
    "ml_ndcg_eval" -> ((s, d) => {
      val eA = edgesHalfA(s, d)
      val eB = edgesHalfB(s, d)
      val cand = evalScores(eA, pdegA(s, d))
      val gains = cand.select(col("qc"), col("cand"))
        .join(eB.select(col("c").as("qc"), col("p")), "qc")
        .join(eB.select(col("c").as("cand"), col("p")), Seq("cand", "p"))
        .groupBy(col("qc"), col("cand")).agg(count(lit(1)).as("g"))
      val scored = cand.join(gains, Seq("qc", "cand"), "left")
        .na.fill(0L, Seq("g"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("qc"))
          .orderBy(col("score").desc, col("cand").asc)))
        .withColumn("irk", row_number().over(Window.partitionBy(col("qc"))
          .orderBy(col("g").desc, col("cand").asc)))
      def dcgOf(rank: Column) =
        OpsUtil.rsum(col("g").cast("double") / (log(rank + 1) / log(lit(2.0))))
      val dcg = scored.filter(col("rk") <= EvalK)
        .groupBy(col("qc")).agg(dcgOf(col("rk")).as("dcg"))
      val idcg = scored.filter(col("irk") <= EvalK)
        .groupBy(col("qc")).agg(dcgOf(col("irk")).as("idcg"))
      dcg.join(idcg, "qc").filter(col("idcg") > 0)
        .select((col("dcg") / col("idcg")).as("ndcg"))
        .agg(count(lit(1)).as("n_queries"),
          round(OpsUtil.rsum(col("ndcg")) / count(lit(1)), 6).as("mean_ndcg"))
    }),

    // Feature-drift monitoring via the Population Stability Index — the
    // production-ML data-quality gate (PSI = Σ (p−q)·ln(p/q) over fixed
    // histogram buckets; >0.2 conventionally triggers retraining).
    // Order totalprice distribution before vs after the temporal split:
    // one scan builds both periods' bucket counts (conditional sums in a
    // single aggregation), the PSI projection is per-bucket arithmetic
    // on integer counts — exact across engines; laplace-style +1 floors
    // keep empty buckets finite. Per-bucket rows plus the index itself.
    "ml_feature_drift" -> ((s, d) => {
      graft.api.Analytics.psi(Tables.orders(s, d), col("o_totalprice"),
          col("o_orderdate") < to_timestamp(lit(TemporalSplit)),
          DriftBuckets, 60000.0)
        .orderBy(col("bucket"))
    }),

    // Temporal link-prediction evaluation — the REALISTIC protocol next
    // to ml_precision_at_k's hash half-split: train on edges before the
    // split date, recommend, and count hits among edges that appear
    // AFTER it (Liben-Nowell & Kleinberg 2003 evaluate exactly this
    // time-sliced way). The same precisionAtK as ml_precision_at_k
    // (shared-supplier Adamic-Adar, top-5, hit = future co-purchase);
    // the split predicate is a pushed-down scan filter, so train/test
    // never materialize as separate tables.
    "ml_temporal_link_eval" -> ((s, d) => {
      val op = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("p"),
          (col("o_orderdate") < to_timestamp(lit(TemporalSplit))).as("is_train"))
      val eT = op.filter(col("is_train")).select(col("c"), col("p")).distinct()
      val eV = op.filter(!col("is_train")).select(col("c"), col("p")).distinct()
      precisionAtK(eT, eT.groupBy(col("p")).agg(count(lit(1)).as("pdeg")), eV)
    }),

    // Latent-factor collaborative filtering (MLlib ALS, implicit
    // feedback — Hu/Koren/Volinsky 2008): the embedding-based
    // recommender next to the structural Adamic-Adar family. Ratings =
    // per-(customer, supplier) lineitem counts; implicitPrefs treats
    // them as confidence, the block-partitioned normal-equation solves
    // ARE the 1000-executor factorization path (MLlib parallelizes by
    // user/item blocks). Like ml_train_eval this is a rows-only check —
    // float normal-equation solves are not bit-reproducible across
    // engines — with the quality pin in MLSpec (recovers planted block
    // structure on a synthetic matrix); everything DETERMINISTIC feeding
    // the solves is hash-checked by the ml_als_matrix companion below.
    "ml_als_recommend" -> ((s, d) => {
      // PERSISTED: the cell matrix feeds the bounds probe, the dense
      // index builds, the ratings join, AND the user-subset filter —
      // without the cache each of those replays the orders⋈lineitem
      // aggregation.
      val cells = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .agg(count(lit(1)).cast("float").as("rating"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // MLlib ALS block-partitions on INT ids — entity keys at fixture
      // scale-ups (replica stride 10^8) overflow Int (caught LIVE by
      // the sf10 checkpoint: CAST_OVERFLOW at key 2.2e9). PER-SIDE
      // adaptive remap: one bounds probe over the rating cells; a side
      // whose keys fit Int keeps the zero-cost direct cast (the
      // dictionary joins measured +8.8 s at sf1 when applied
      // unconditionally — and with SuppOffset at 2^40 the supplier side
      // ALWAYS overflows at sf≥1 while customer keys still fit, so
      // whole-matrix adaptivity taxed the side that didn't need it),
      // wider keys route through the two-phase dense index
      // (Sampling.denseIndex — per-bucket row_number + broadcast
      // offsets, no global sort task at any key scale; the J5
      // dictionary shape) and the recommendations map back.
      val mx = cells.agg(max(col("cust").cast("long")),
        max(col("supp").cast("long"))).head()
      val directCust = mx.isNullAt(0) || mx.getLong(0) <= Int.MaxValue
      val directSupp = mx.isNullAt(1) || mx.getLong(1) <= Int.MaxValue
      // SCALE CONTRACT (pinned by measurement, round 13): implicit-ALS
      // solve work is Θ(nnz·rank²) per iteration, so wall time tracks the
      // cell count — measured 11.0× (92.3 s vs 8.38 s) for an exactly
      // 10.0× cell growth (5,868,710 → 58,687,100; scale-up replicas
      // occupy disjoint key spaces, so nnz is linear in sf). The ~10%
      // super-linear residual is constant-factor (JIT/page-cache), not
      // algorithmic. MLlib's 10-block default is deliberately KEPT at
      // every scale: an A/B at sf10 with numBlocks=32 (one per local
      // core) measured 189 s vs 92 s — 2× WORSE, because in/out-link
      // shuffle edges grow as blocks² while each solve is already
      // multi-threaded under the hood. On a real cluster the knob should
      // follow EXECUTOR count (set via spark.default.parallelism /
      // ALS.setNumBlocks at session level), never the matrix size.
      val ud =
        if (directCust)
          cells.select(col("cust"), col("cust").cast("int").as("user")).distinct()
        else graft.api.Sampling.denseIndex(cells.select(col("cust").as("k")), "k")
          .select(col("k").as("cust"), col("__bidx").cast("int").as("user"))
      val id =
        if (directSupp)
          cells.select(col("supp"), col("supp").cast("int").as("item")).distinct()
        else graft.api.Sampling.denseIndex(cells.select(col("supp").as("k")), "k")
          .select(col("k").as("supp"), col("__bidx").cast("int").as("item"))
      // Only a remapped side pays its dictionary join.
      val withUser =
        if (directCust) cells.withColumn("user", col("cust").cast("int"))
        else cells.join(ud, "cust")
      val ratings =
        (if (directSupp) withUser.withColumn("item", col("supp").cast("int"))
         else withUser.join(id, "supp"))
          .select(col("user"), col("item"), col("rating"))
      val model = new ALS()
        .setUserCol("user").setItemCol("item").setRatingCol("rating")
        .setRank(8).setMaxIter(5).setRegParam(0.1)
        .setImplicitPrefs(true).setSeed(42L)
        .setColdStartStrategy("drop")
        .fit(ratings)
      val users = ud.filter(col("cust") <= 20).select(col("user")).distinct()
      val recs = model.recommendForUserSubset(users, 5)
        .select(col("user"), explode(col("recommendations")).as("rec"))
        .select(col("user"), col("rec.item").as("item"),
          round(col("rec.rating"), 4).as("score"))
      // Direct ids ARE the keys — no back-map join on that side.
      val userMapped =
        if (directCust) recs.withColumn("ukey", col("user").cast("long"))
        else recs.join(ud, "user").withColumn("ukey", col("cust").cast("long"))
      val mapped =
        (if (directSupp) userMapped.withColumn("ikey", col("item").cast("long"))
         else userMapped.join(id, "item").withColumn("ikey", col("supp").cast("long")))
          .select(col("ukey").as("user"), col("ikey").as("item"), col("score"))
      // ≤ 20 users × 5 recs: materialize the tiny result eagerly so the
      // cell cache can be released before the query frame is consumed.
      val out = mapped
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user")).orderBy(col("score").desc, col("item").asc)))
        .orderBy(col("user"), col("rn"))
        .localCheckpoint()
      cells.unpersist(false)
      out
    }),

    // The DETERMINISTIC PREFIX of ml_als_recommend, oracle-checked: the
    // block-partitioned normal-equation solves can never hash-match
    // across engines, but the ratings matrix they factorize can — this
    // companion replays the identical implicit-feedback cell build
    // (per-(customer, supplier) lineitem counts) and summarizes it in 16
    // user-hash buckets: cell/user/item counts, the user-subset size
    // feeding recommendForUserSubset, exact rating sums (counts cast
    // through float exactly below 2^24), and a modular (31·user + item)
    // cell checksum that pins the cell multiset without overflowing
    // int64 at any key stride. A green row here pins every input the
    // solver sees; ml_als_recommend itself stays rows-checked with its
    // planted-block quality pin in MLSpec.
    "ml_als_matrix" -> ((s, d) => {
      // LONG keys: the matrix summary never feeds MLlib, so it keeps
      // the raw key space (the solver-facing query dense-indexes; int
      // casts here overflowed at the sf10 checkpoint's key stride).
      val ratings = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").cast("long").as("user"),
          col("l_suppkey").cast("long").as("item"))
        .agg(count(lit(1)).cast("float").as("rating"))
      ratings
        .groupBy((col("user") % 16).as("bucket"))
        .agg(count(lit(1)).as("n_cells"),
          countDistinct(col("user")).as("n_users"),
          countDistinct(col("item")).as("n_items"),
          countDistinct(when(col("user") <= 20, col("user"))).as("n_subset_users"),
          sum(col("rating").cast("long")).as("rating_sum"),
          max(col("rating").cast("long")).as("rating_max"),
          sum((col("user").cast("long") * 31 + col("item")) % 1000003)
            .as("cell_checksum"))
        .orderBy(col("bucket"))
    }),

    // The DETERMINISTIC PREFIX of ml_train_eval, oracle-checked: the
    // LBFGS fit can never hash-match across engines, but everything
    // feeding it can — this companion summarizes the feature matrix the
    // fit reads ([[trainFeatures]]) per split: row count, label balance,
    // and each feature column's 6-dp decimal sum. A green row here pins
    // every input the solver sees; ml_train_eval itself stays
    // rows-checked with its AUC spec-pinned in MLSpec.
    "ml_train_matrix" -> ((s, d) =>
      trainFeatures(s, d)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("label")).as("n_pos"),
          sum(col("cn")).as("cn_sum"),
          round(OpsUtil.rsum(col("aa")), 6).as("aa_sum"),
          round(OpsUtil.rsum(col("d1")), 6).as("deg1_sum"),
          round(OpsUtil.rsum(col("d2")), 6).as("deg2_sum"),
          round(OpsUtil.rsum(col("pref")), 6).as("pref_sum"))
        .orderBy(col("split"))),

    // M4/M7 — the actual MLlib pipeline: features from one hash-half of
    // the graph predict co-purchase links observed in the other half;
    // logistic regression + ROC-AUC (ref README 0.76 AUC bar). Not
    // SQL-expressible (LBFGS) — a rows-only check. Note on the
    // quality bar: the reference reports AUC 0.76 / AP 0.84 on real
    // Wikidata (README.md:46-50), where graph structure carries strong
    // signal. The fixtures are a UNIFORM synthetic co-purchase
    // graph, so degree heterogeneity is the only learnable structure —
    // this pipeline reaches ~0.62 AUC / ~0.40 AP at sf0.1, well above the
    // 0.5 chance bar the spec enforces, and the feature/split/eval
    // plumbing is exactly what the real-data run would use.
    "ml_train_eval" -> ((s, d) => {
      // The feature pipeline is a wide join DAG that fit/transform/count
      // would otherwise each recompute — materialize it once.
      // DFGraphAlgs.mat (localCheckpoint + size-derived coalesce): the
      // LBFGS fit re-scans this frame once per iteration plus the two
      // evaluator passes (~30 jobs); at the join DAG's inherited 32
      // partitions each of those paid 32 task launches for a few MB of
      // features. Partition-count changes reorder float partial sums in
      // the solver's treeAggregate — within the query's declared
      // non-bit-reproducible contract (rows-checked; MLSpec quality bar).
      val assembled = graft.graph.DFGraphAlgs.mat(
        new VectorAssembler()
          .setInputCols(Array("cn", "aa", "d1", "d2", "pref")).setOutputCol("features")
          .transform(trainFeatures(s, d))
          .select(col("label"), col("features"), col("split")))
      val train = assembled.filter(col("split") === "train")
      val test = assembled.filter(col("split") === "test")
      val model = new LogisticRegression()
        .setMaxIter(10).setRegParam(0.01)
        .setLabelCol("label").setFeaturesCol("features")
        .fit(train)
      val scored = model.transform(test)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def metric(name: String) = new BinaryClassificationEvaluator()
        .setLabelCol("label").setMetricName(name).evaluate(scored)
      val (auc, ap) = (metric("areaUnderROC"), metric("areaUnderPR"))
      import s.implicits._
      val out = Seq(
        ("areaUnderROC", auc),                 // ref bar: 0.76 (README.md:46-50)
        ("areaUnderPR", ap),                   // ref bar: 0.84 (Average Precision)
        ("train_rows", train.count().toDouble),
        ("test_rows", test.count().toDouble)).toDF("metric", "value")
      scored.unpersist(false)
      assembled.unpersist(false)
      out
    })
  )

  val oracle: Map[String, String] = Map(
    "ml_als_matrix" ->
      """WITH r AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS u,
        |         CAST(l_suppkey AS BIGINT) AS i,
        |         COUNT(*) AS c
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT u % 16 AS bucket,
        |  COUNT(*) AS n_cells,
        |  CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
        |  CAST(COUNT(DISTINCT i) AS BIGINT) AS n_items,
        |  CAST(COUNT(DISTINCT CASE WHEN u <= 20 THEN u END) AS BIGINT)
        |    AS n_subset_users,
        |  CAST(SUM(c) AS BIGINT) AS rating_sum,
        |  CAST(MAX(c) AS BIGINT) AS rating_max,
        |  CAST(SUM((CAST(u AS BIGINT) * 31 + i) % 1000003) AS BIGINT)
        |    AS cell_checksum
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,

    "ml_train_matrix" ->
      s"""WITH $edgesSql, $pairSampleSql,
         |ea AS (SELECT c, p FROM edges WHERE ${h28Sql("concat(c, '_', p)")} % 2 = 0),
         |eb AS (SELECT c, p FROM edges WHERE ${h28Sql("concat(c, '_', p)")} % 2 = 1),
         |pos AS (SELECT DISTINCT pr.c1, pr.c2 FROM pairs pr
         |  JOIN eb e1 ON e1.c = pr.c1
         |  JOIN eb e2 ON e2.c = pr.c2 AND e2.p = e1.p),
         |pdeg AS (SELECT p, COUNT(*) AS pdeg FROM ea GROUP BY p),
         |cnaa AS (SELECT pr.c1, pr.c2, COUNT(*) AS cn,
         |    round(CAST(SUM(CAST(1.0 / ln(d.pdeg + 1) AS DECIMAL(28,15))) AS DOUBLE), 6) AS aa
         |  FROM pairs pr
         |  JOIN ea e1 ON e1.c = pr.c1
         |  JOIN ea e2 ON e2.c = pr.c2 AND e2.p = e1.p
         |  JOIN pdeg d ON d.p = e1.p
         |  GROUP BY pr.c1, pr.c2),
         |cdeg AS (SELECT c, CAST(COUNT(*) AS DOUBLE) AS cdeg FROM ea GROUP BY c),
         |mat AS (SELECT
         |    CASE WHEN ${h28Sql("concat(pr.c1, '_', pr.c2)")} % 10 < 8
         |         THEN 'train' ELSE 'test' END AS split,
         |    CASE WHEN pos.c1 IS NOT NULL THEN 1 ELSE 0 END AS label,
         |    COALESCE(cnaa.cn, 0) AS cn,
         |    COALESCE(cnaa.aa, 0.0) AS aa,
         |    round(ln(1 + COALESCE(d1.cdeg, 0.0)), 6) AS deg1,
         |    round(ln(1 + COALESCE(d2.cdeg, 0.0)), 6) AS deg2,
         |    round(ln(1 + COALESCE(d1.cdeg, 0.0) * COALESCE(d2.cdeg, 0.0)), 6) AS pref
         |  FROM pairs pr
         |  LEFT JOIN cnaa ON cnaa.c1 = pr.c1 AND cnaa.c2 = pr.c2
         |  LEFT JOIN pos ON pos.c1 = pr.c1 AND pos.c2 = pr.c2
         |  LEFT JOIN cdeg d1 ON d1.c = pr.c1
         |  LEFT JOIN cdeg d2 ON d2.c = pr.c2)
         |SELECT split, COUNT(*) AS n_rows,
         |  CAST(SUM(label) AS BIGINT) AS n_pos,
         |  CAST(SUM(cn) AS BIGINT) AS cn_sum,
         |  round(CAST(SUM(CAST(aa AS DECIMAL(28,15))) AS DOUBLE), 6) AS aa_sum,
         |  round(CAST(SUM(CAST(deg1 AS DECIMAL(28,15))) AS DOUBLE), 6) AS deg1_sum,
         |  round(CAST(SUM(CAST(deg2 AS DECIMAL(28,15))) AS DOUBLE), 6) AS deg2_sum,
         |  round(CAST(SUM(CAST(pref AS DECIMAL(28,15))) AS DOUBLE), 6) AS pref_sum
         |FROM mat GROUP BY split ORDER BY split""".stripMargin,

    "ml_precision_at_k" ->
      s"""WITH $edgesSql,
         |ea AS (SELECT c, p FROM edges WHERE ${h28Sql("concat(c, '_', p)")} % 2 = 0),
         |eb AS (SELECT c, p FROM edges WHERE ${h28Sql("concat(c, '_', p)")} % 2 = 1),
         |pdeg AS (SELECT p, COUNT(*) AS pdeg FROM ea GROUP BY p),
         |cand AS (SELECT q.c AS qc, o.c AS cand,
         |    round(CAST(SUM(CAST(1.0 / ln(d.pdeg + 1) AS DECIMAL(28,15))) AS DOUBLE), 6) AS score
         |  FROM ea q
         |  JOIN ea o ON o.p = q.p AND o.c <> q.c
         |  JOIN pdeg d ON d.p = q.p
         |  WHERE q.c <= 50
         |  GROUP BY q.c, o.c),
         |ranked AS (SELECT qc, cand FROM (
         |    SELECT qc, cand, row_number() OVER (PARTITION BY qc
         |      ORDER BY score DESC, cand ASC) AS rk
         |    FROM cand)
         |  WHERE rk <= 5),
         |hits AS (SELECT DISTINCT r.qc, r.cand
         |  FROM ranked r
         |  JOIN eb e1 ON e1.c = r.qc
         |  JOIN eb e2 ON e2.c = r.cand AND e2.p = e1.p)
         |SELECT 5 AS k,
         |  COUNT(DISTINCT r.qc) AS n_queries,
         |  COUNT(*) AS n_recommended,
         |  CAST(SUM(CASE WHEN h.qc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(SUM(CASE WHEN h.qc IS NOT NULL THEN 1 ELSE 0 END)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS precision
         |FROM ranked r
         |LEFT JOIN hits h ON h.qc = r.qc AND h.cand = r.cand""".stripMargin,

    "ml_ndcg_eval" ->
      s"""WITH $edgesSql,
         |ea AS (SELECT c, p FROM edges WHERE ${h28Sql("concat(c, '_', p)")} % 2 = 0),
         |eb AS (SELECT c, p FROM edges WHERE ${h28Sql("concat(c, '_', p)")} % 2 = 1),
         |pdeg AS (SELECT p, COUNT(*) AS pdeg FROM ea GROUP BY p),
         |cand AS (SELECT q.c AS qc, o.c AS cand,
         |    round(CAST(SUM(CAST(1.0 / ln(d.pdeg + 1) AS DECIMAL(28,15))) AS DOUBLE), 6) AS score
         |  FROM ea q
         |  JOIN ea o ON o.p = q.p AND o.c <> q.c
         |  JOIN pdeg d ON d.p = q.p
         |  WHERE q.c <= 50
         |  GROUP BY q.c, o.c),
         |gains AS (SELECT c.qc, c.cand, COUNT(*) AS g
         |  FROM (SELECT qc, cand FROM cand) c
         |  JOIN eb e1 ON e1.c = c.qc
         |  JOIN eb e2 ON e2.c = c.cand AND e2.p = e1.p
         |  GROUP BY c.qc, c.cand),
         |scored AS (SELECT cand.qc, cand.cand, score, COALESCE(g, 0) AS g
         |  FROM cand LEFT JOIN gains USING (qc, cand)),
         |rkd AS (SELECT *,
         |    row_number() OVER (PARTITION BY qc ORDER BY score DESC, cand ASC) AS rk,
         |    row_number() OVER (PARTITION BY qc ORDER BY g DESC, cand ASC) AS irk
         |  FROM scored),
         |dd AS (SELECT qc, CAST(SUM(CAST(CAST(g AS DOUBLE) / (ln(rk + 1) / ln(2.0))
         |      AS DECIMAL(28,15))) AS DOUBLE) AS dcg
         |  FROM rkd WHERE rk <= 5 GROUP BY qc),
         |ii AS (SELECT qc, CAST(SUM(CAST(CAST(g AS DOUBLE) / (ln(irk + 1) / ln(2.0))
         |      AS DECIMAL(28,15))) AS DOUBLE) AS idcg
         |  FROM rkd WHERE irk <= 5 GROUP BY qc),
         |nn AS (SELECT dd.qc, dcg / idcg AS ndcg FROM dd JOIN ii USING (qc)
         |  WHERE idcg > 0)
         |SELECT COUNT(*) AS n_queries,
         |  round(CAST(SUM(CAST(ndcg AS DECIMAL(28,15))) AS DOUBLE) / COUNT(*), 6)
         |    AS mean_ndcg
         |FROM nn""".stripMargin,

    "ml_feature_drift" ->
      s"""WITH b AS (SELECT
         |    CAST(LEAST(CAST(FLOOR(o_totalprice / 60000.0) AS BIGINT),
         |      ${DriftBuckets - 1}) AS INT) AS bucket,
         |    CASE WHEN o_orderdate < TIMESTAMP '$TemporalSplit'
         |      THEN 1 ELSE 0 END AS is_pre
         |  FROM orders),
         |g AS (SELECT bucket, CAST(SUM(is_pre) AS BIGINT) AS n_pre,
         |    CAST(SUM(1 - is_pre) AS BIGINT) AS n_post
         |  FROM b GROUP BY bucket),
         |t AS (SELECT SUM(n_pre) AS tp, SUM(n_post) AS tq FROM g)
         |SELECT bucket, n_pre, n_post,
         |  round((CAST(n_pre + 1 AS DOUBLE) / (tp + $DriftBuckets) -
         |      CAST(n_post + 1 AS DOUBLE) / (tq + $DriftBuckets)) *
         |    ln(CAST(n_pre + 1 AS DOUBLE) / (tp + $DriftBuckets) /
         |      (CAST(n_post + 1 AS DOUBLE) / (tq + $DriftBuckets))), 9) AS psi_term
         |FROM g CROSS JOIN t ORDER BY bucket""".stripMargin,

    "ml_temporal_link_eval" ->
      s"""WITH et AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS p
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_orderdate < TIMESTAMP '$TemporalSplit'),
         |ev AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS p
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE NOT (o_orderdate < TIMESTAMP '$TemporalSplit')),
         |pdeg AS (SELECT p, COUNT(*) AS pdeg FROM et GROUP BY p),
         |cand AS (SELECT q.c AS qc, o.c AS cand,
         |    round(CAST(SUM(CAST(1.0 / ln(d.pdeg + 1) AS DECIMAL(28,15))) AS DOUBLE), 6) AS score
         |  FROM et q
         |  JOIN et o ON o.p = q.p AND o.c <> q.c
         |  JOIN pdeg d ON d.p = q.p
         |  WHERE q.c <= 50
         |  GROUP BY q.c, o.c),
         |ranked AS (SELECT qc, cand FROM (
         |    SELECT qc, cand, row_number() OVER (PARTITION BY qc
         |      ORDER BY score DESC, cand ASC) AS rk
         |    FROM cand)
         |  WHERE rk <= 5),
         |hits AS (SELECT DISTINCT r.qc, r.cand
         |  FROM ranked r
         |  JOIN ev e1 ON e1.c = r.qc
         |  JOIN ev e2 ON e2.c = r.cand AND e2.p = e1.p)
         |SELECT 5 AS k,
         |  COUNT(DISTINCT r.qc) AS n_queries,
         |  COUNT(*) AS n_recommended,
         |  CAST(SUM(CASE WHEN h.qc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(SUM(CASE WHEN h.qc IS NOT NULL THEN 1 ELSE 0 END)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS precision
         |FROM ranked r
         |LEFT JOIN hits h ON h.qc = r.qc AND h.cand = r.cand""".stripMargin,

    // Tie-aware Mann-Whitney AUC in integer rank arithmetic (doubled
    // average ranks) — fp touches only the final division.
    "ml_auc_exact" ->
      s"""WITH $edgesSql, $pairSampleSql,
         |$aaScoredSql,
         |grp AS (SELECT score, COUNT(*) AS n, SUM(label) AS np
         |  FROM scored GROUP BY score),
         |rk AS (SELECT score, n, np,
         |    COALESCE(SUM(n) OVER (ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM grp),
         |s AS (SELECT SUM(np) AS npos, SUM(n) AS ntot,
         |    SUM(np * (2 * cum + n + 1)) AS rs2 FROM rk)
         |SELECT CAST(npos AS BIGINT) AS n_pos,
         |  CAST(ntot - npos AS BIGINT) AS n_neg,
         |  round(CAST(rs2 - npos * (npos + 1) AS DOUBLE)
         |    / (2.0 * npos * (ntot - npos)), 6) AS auc
         |FROM s""".stripMargin,

    // Same scored frame as the AUC oracle; equal-width bins against the
    // max score, identical floor/clamp arithmetic.
    "ml_confusion_threshold" ->
      s"""WITH $edgesSql, $pairSampleSql,
         |$aaScoredSql,
         |m AS (SELECT
         |    CAST(SUM(CASE WHEN score > 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN score > 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN score <= 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN score <= 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM scored)
         |SELECT tp, fp, fn, tn,
         |  round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
         |  round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
         |  round(CAST(2.0 AS DOUBLE) * tp / (CAST(2.0 AS DOUBLE) * tp + fp + fn), 6) AS f1
         |FROM m""".stripMargin,

    "ml_lift_curve" ->
      s"""WITH $edgesSql, $pairSampleSql,
         |$aaScoredSql,
         |per AS (SELECT score, COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS pos
         |  FROM scored GROUP BY score),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
         |    CAST(SUM(pos) AS BIGINT) AS tp FROM per),
         |cum AS (SELECT score,
         |    CAST(SUM(n) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_n,
         |    CAST(SUM(pos) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_pos
         |  FROM per)
         |SELECT score, cum_n, cum_pos,
         |  round((CAST(cum_pos AS DOUBLE) / cum_n) /
         |    (CAST(tp AS DOUBLE) / tn), 6) AS lift
         |FROM cum, tot ORDER BY score DESC LIMIT 50""".stripMargin,

    "ml_calibration_bins" ->
      s"""WITH $edgesSql, $pairSampleSql,
         |$aaScoredSql,
         |mx AS (SELECT MAX(score) AS smax FROM scored),
         |b AS (SELECT CASE WHEN mx.smax <= 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(least(floor(score / mx.smax * $CalibBins),
         |      ${CalibBins - 1}) AS BIGINT) END AS bin, score, label
         |  FROM scored, mx)
         |SELECT bin, COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS n_pos,
         |  round(CAST(SUM(CAST(score AS DECIMAL(28,15))) AS DOUBLE)
         |    / COUNT(*), 6) AS mean_score,
         |  round(SUM(label) / CAST(COUNT(*) AS DOUBLE), 6) AS frac_pos
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "ml_link_split" ->
      s"""WITH $edgesSql,
         |b AS (SELECT CASE
         |    WHEN ${h28Sql("concat(least(c, p), '_', greatest(c, p))")} % 100 < 80 THEN 'train'
         |    WHEN ${h28Sql("concat(least(c, p), '_', greatest(c, p))")} % 100 < 90 THEN 'val'
         |    ELSE 'test' END AS split
         |  FROM edges)
         |SELECT split, COUNT(*) AS n_edges FROM b GROUP BY split ORDER BY split""".stripMargin,

    // sidx mirrors Sampling.denseIndex's two-phase rank (per-bucket
    // row_number + cumulative bucket offsets); bidx picks mirror
    // Sampling.mixPairWide (two coprime-moduli mixes, base-999983
    // positional encoding) pmod'ed by the candidate count.
    "ml_neg_sampling" ->
      s"""WITH $edgesSql,
         |dk AS (SELECT DISTINCT s_suppkey AS p FROM supplier),
         |bk AS (SELECT p, ${h28Sql("CAST(p AS VARCHAR)")} % ${graft.api.Sampling.IdxBuckets} AS bkt FROM dk),
         |rnk AS (SELECT p, bkt, row_number() OVER (PARTITION BY bkt ORDER BY p) AS rn FROM bk),
         |offs AS (SELECT bkt, COALESCE(SUM(n) OVER (ORDER BY bkt
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |  FROM (SELECT bkt, COUNT(*) AS n FROM bk GROUP BY bkt)),
         |sidx AS MATERIALIZED (SELECT rnk.p, offs.off + rnk.rn - 1 AS bidx
         |  FROM rnk JOIN offs ON offs.bkt = rnk.bkt),
         |cand AS (SELECT DISTINCT t.c, sidx.p FROM (
         |    SELECT c_custkey AS c,
         |      ((((c_custkey % 1000003) * 427799 + j * 40503) % 1000003) * 999983
         |        + (((c_custkey % 999983) * 48271 + j * 69621) % 999983))
         |        % (SELECT COUNT(*) FROM sidx) AS bidx
         |    FROM customer
         |    CROSS JOIN (SELECT unnest(range(0, $NegPerCust)) AS j)) t
         |  JOIN sidx ON sidx.bidx = t.bidx),
         |neg AS (SELECT * FROM cand WHERE NOT EXISTS (
         |  SELECT 1 FROM edges e WHERE e.c = cand.c AND e.p = cand.p))
         |SELECT COUNT(*) AS n_negatives,
         |  COUNT(DISTINCT c) AS n_customers,
         |  COUNT(DISTINCT p) AS n_suppliers
         |FROM neg""".stripMargin,

    "ml_pair_features" ->
      s"""WITH $edgesSql, $pairSampleSql, $pairFeaturesSql
         |SELECT c1, c2, common_neighbors, adamic_adar, pref_attachment, same_nation
         |FROM feat ORDER BY c1, c2 LIMIT 5000""".stripMargin,

    "ml_cold_start_popularity" ->
      s"""WITH $edgesSql
         |SELECT p, COUNT(DISTINCT c) AS reach FROM edges
         |WHERE p NOT IN (SELECT p FROM edges WHERE c = 1)
         |GROUP BY p ORDER BY reach DESC, p ASC LIMIT 10""".stripMargin,

    "ml_jaccard_topk" ->
      s"""WITH $edgesSql, $pairSampleSql,
         |cn AS (SELECT pr.c1, pr.c2, COUNT(*) AS common_neighbors
         |  FROM pairs pr
         |  JOIN edges e1 ON e1.c = pr.c1
         |  JOIN edges e2 ON e2.c = pr.c2 AND e2.p = e1.p
         |  GROUP BY pr.c1, pr.c2),
         |cdeg AS (SELECT c, COUNT(*) AS cdeg FROM edges GROUP BY c)
         |SELECT cn.c1, cn.c2, cn.common_neighbors,
         |  d1.cdeg + d2.cdeg - cn.common_neighbors AS union_size,
         |  round(CAST(cn.common_neighbors AS DOUBLE) /
         |    (d1.cdeg + d2.cdeg - cn.common_neighbors), 6) AS jaccard
         |FROM cn JOIN cdeg d1 ON d1.c = cn.c1 JOIN cdeg d2 ON d2.c = cn.c2
         |ORDER BY jaccard DESC, c1 ASC, c2 ASC LIMIT 20""".stripMargin,

    "ml_chi2_features" ->
      """WITH lab AS (SELECT c_mktsegment, c_nationkey,
        |    CASE WHEN EXISTS (SELECT 1 FROM orders o
        |      WHERE o.o_custkey = c.c_custkey) THEN 1 ELSE 0 END AS label
        |  FROM customer c),
        |o1 AS (SELECT CAST(c_mktsegment AS VARCHAR) AS v, label, COUNT(*) AS o
        |  FROM lab GROUP BY 1, 2),
        |s1 AS (SELECT o1.v, o1.label, o1.o,
        |    SUM(o1.o) OVER (PARTITION BY o1.v) AS rt,
        |    SUM(o1.o) OVER (PARTITION BY o1.label) AS ct,
        |    SUM(o1.o) OVER () AS n
        |  FROM o1),
        |c1 AS (SELECT 'c_mktsegment' AS feature,
        |    (COUNT(DISTINCT v) - 1) * (COUNT(DISTINCT label) - 1) AS dof,
        |    round(CAST(SUM(CAST(
        |      pow(CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / n, 2)
        |        / (CAST(rt * ct AS DOUBLE) / n) AS DECIMAL(28,12)))
        |      AS DOUBLE), 6) AS chi2
        |  FROM s1),
        |o2 AS (SELECT CAST(c_nationkey AS VARCHAR) AS v, label, COUNT(*) AS o
        |  FROM lab GROUP BY 1, 2),
        |s2 AS (SELECT o2.v, o2.label, o2.o,
        |    SUM(o2.o) OVER (PARTITION BY o2.v) AS rt,
        |    SUM(o2.o) OVER (PARTITION BY o2.label) AS ct,
        |    SUM(o2.o) OVER () AS n
        |  FROM o2),
        |c2 AS (SELECT 'c_nationkey' AS feature,
        |    (COUNT(DISTINCT v) - 1) * (COUNT(DISTINCT label) - 1) AS dof,
        |    round(CAST(SUM(CAST(
        |      pow(CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / n, 2)
        |        / (CAST(rt * ct AS DOUBLE) / n) AS DECIMAL(28,12)))
        |      AS DOUBLE), 6) AS chi2
        |  FROM s2)
        |SELECT * FROM c1 UNION ALL SELECT * FROM c2 ORDER BY feature""".stripMargin,

    "ml_recommend_multitype" ->
      """WITH rp AS MATERIALIZED (SELECT DISTINCT l_returnflag AS rel,
        |    o_custkey AS c, l_suppkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |mine AS (SELECT rel, p FROM rp WHERE c = 1),
        |myall AS (SELECT DISTINCT p FROM rp WHERE c = 1),
        |cust AS (SELECT r.rel, r.c AS cand, COUNT(*) AS score
        |  FROM rp r JOIN mine m ON m.rel = r.rel AND m.p = r.p
        |  WHERE r.c <> 1 GROUP BY r.rel, r.c),
        |nbrs AS (SELECT rel, cand AS nc FROM cust),
        |supp AS (SELECT r.rel, r.p AS cand, COUNT(DISTINCT r.c) AS score
        |  FROM rp r JOIN nbrs n ON n.rel = r.rel AND n.nc = r.c
        |  WHERE r.p NOT IN (SELECT p FROM myall)
        |  GROUP BY r.rel, r.p),
        |typed AS (SELECT 'customer' AS cand_type, cand, rel, score FROM cust
        |  UNION ALL SELECT 'supplier' AS cand_type, cand, rel, score FROM supp),
        |pooled AS (SELECT cand_type, cand, rel AS best_rel, score FROM (
        |    SELECT *, row_number() OVER (PARTITION BY cand_type, cand
        |      ORDER BY score DESC, rel ASC) AS rn FROM typed) WHERE rn = 1),
        |degs AS (SELECT 'customer' AS cand_type, c AS cand, COUNT(*) AS deg
        |    FROM rp GROUP BY c
        |  UNION ALL SELECT 'supplier' AS cand_type, p AS cand, COUNT(*) AS deg
        |    FROM rp GROUP BY p),
        |adj AS (SELECT po.cand_type, po.cand, po.best_rel, po.score,
        |    round(po.score / (ln(dg.deg + 1) + 1), 6) AS score_adj
        |  FROM pooled po JOIN degs dg
        |    ON dg.cand_type = po.cand_type AND dg.cand = po.cand),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY cand_type
        |    ORDER BY score_adj DESC, cand ASC) AS type_rank FROM adj)
        |SELECT cand_type, cand, best_rel, score, score_adj,
        |  CAST(type_rank AS INT) AS type_rank
        |FROM ranked WHERE type_rank <= 5
        |ORDER BY score_adj DESC, cand_type ASC, cand ASC""".stripMargin,

    "ml_relation_scan" ->
      """WITH t AS (SELECT DISTINCT o_custkey AS c, p_type AS rel, l_suppkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE o_custkey IN (1, 2)),
        |s1 AS (SELECT rel, p FROM t WHERE c = 1),
        |s2 AS (SELECT rel, p FROM t WHERE c = 2),
        |n1 AS (SELECT rel, COUNT(*) AS n1 FROM s1 GROUP BY rel),
        |n2 AS (SELECT rel, COUNT(*) AS n2 FROM s2 GROUP BY rel),
        |cm AS (SELECT s1.rel, COUNT(*) AS n_common
        |  FROM s1 JOIN s2 ON s1.rel = s2.rel AND s1.p = s2.p GROUP BY s1.rel),
        |sc AS (SELECT n1.rel, n1.n1, n2.n2, COALESCE(cm.n_common, 0) AS n_common,
        |    round(COALESCE(cm.n_common, 0) /
        |      CAST(n1.n1 + n2.n2 - COALESCE(cm.n_common, 0) AS DOUBLE), 6) AS score
        |  FROM n1 JOIN n2 ON n1.rel = n2.rel
        |  LEFT JOIN cm ON cm.rel = n1.rel)
        |SELECT rel, n1, n2, n_common, score,
        |  CAST(score = (SELECT MAX(score) FROM sc) AS INT) AS is_best
        |FROM sc ORDER BY rel""".stripMargin,

    "ml_relation_scan_loose" ->
      """WITH t AS (SELECT DISTINCT o_custkey AS c, p_type AS rel, l_suppkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE o_custkey IN (1, 2)),
        |rels AS (SELECT DISTINCT p_type AS rel FROM part),
        |s1 AS (SELECT rel, p FROM t WHERE c = 1),
        |s2 AS (SELECT rel, p FROM t WHERE c = 2),
        |n1 AS (SELECT rel, COUNT(*) AS n1 FROM s1 GROUP BY rel),
        |n2 AS (SELECT rel, COUNT(*) AS n2 FROM s2 GROUP BY rel),
        |cm AS (SELECT s1.rel, COUNT(*) AS n_common
        |  FROM s1 JOIN s2 ON s1.rel = s2.rel AND s1.p = s2.p GROUP BY s1.rel),
        |sc AS (SELECT r.rel,
        |    COALESCE(n1.n1, 0) AS n1, COALESCE(n2.n2, 0) AS n2,
        |    COALESCE(cm.n_common, 0) AS n_common
        |  FROM rels r
        |  LEFT JOIN n1 ON n1.rel = r.rel
        |  LEFT JOIN n2 ON n2.rel = r.rel
        |  LEFT JOIN cm ON cm.rel = r.rel)
        |SELECT rel, n1, n2, n_common,
        |  CASE WHEN n1 + n2 - n_common = 0 THEN 0.0
        |       ELSE round(n_common / CAST(n1 + n2 - n_common AS DOUBLE), 6) END AS score,
        |  CAST((CASE WHEN n1 + n2 - n_common = 0 THEN 0.0
        |       ELSE round(n_common / CAST(n1 + n2 - n_common AS DOUBLE), 6) END) > 0.001 AS INT) AS kept
        |FROM sc ORDER BY rel""".stripMargin,

    "ml_constrained_recommend" ->
      s"""WITH $edgesSql,
         |pdeg AS (SELECT p, COUNT(*) AS pdeg FROM edges GROUP BY p),
         |my AS (SELECT p FROM edges WHERE c = 1),
         |cdeg AS (SELECT c AS cand, COUNT(*) AS cdeg FROM edges GROUP BY c),
         |base AS (SELECT e.c AS cand,
         |    round(CAST(SUM(CAST(1.0 / ln(d.pdeg + 1) AS DECIMAL(28,15))) AS DOUBLE)
         |      / (ln(g.cdeg + 1) + 1), 6) AS score
         |  FROM edges e JOIN my ON my.p = e.p
         |  JOIN pdeg d ON d.p = e.p
         |  JOIN cdeg g ON g.cand = e.c
         |  WHERE e.c <> 1 GROUP BY e.c, g.cdeg
         |  ORDER BY score DESC, e.c ASC LIMIT 100),
         |redges AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS p
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE l_returnflag = 'R'),
         |taboo AS (SELECT r.c AS cand FROM redges r
         |  JOIN (SELECT p FROM redges WHERE c = 1) q ON q.p = r.p
         |  WHERE r.c <> 1 GROUP BY r.c HAVING COUNT(*) >= 3)
         |SELECT b.cand, b.score,
         |  round(CASE WHEN abs(cc.c_acctbal - qq.c_acctbal) > 5000
         |    THEN b.score * 0.5 ELSE b.score END, 6) AS score_adj
         |FROM base b
         |JOIN customer cc ON cc.c_custkey = b.cand
         |JOIN customer qq ON qq.c_custkey = 1
         |WHERE b.cand NOT IN (SELECT cand FROM taboo)
         |ORDER BY score_adj DESC, b.cand ASC LIMIT 10""".stripMargin,

    "ml_recommend_topk" ->
      s"""WITH $edgesSql,
         |pdeg AS (SELECT p, COUNT(*) AS pdeg FROM edges GROUP BY p),
         |my AS (SELECT p FROM edges WHERE c = 1),
         |cand AS (SELECT e.c AS cand,
         |    CAST(SUM(CAST(1.0 / ln(d.pdeg + 1) AS DECIMAL(28,15))) AS DOUBLE) AS aa
         |  FROM edges e JOIN my ON my.p = e.p
         |  JOIN pdeg d ON d.p = e.p
         |  WHERE e.c <> 1 GROUP BY e.c),
         |cdeg AS (SELECT c AS cand, COUNT(*) AS cdeg FROM edges GROUP BY c)
         |SELECT c.cand, round(c.aa / (ln(g.cdeg + 1) + 1), 6) AS score,
         |  CASE WHEN round(c.aa / (ln(g.cdeg + 1) + 1), 6) > 0.8 THEN 'high'
         |       WHEN round(c.aa / (ln(g.cdeg + 1) + 1), 6) > 0.5 THEN 'medium'
         |       ELSE 'low' END AS confidence
         |FROM cand c JOIN cdeg g ON g.cand = c.cand
         |ORDER BY score DESC, c.cand ASC LIMIT 10""".stripMargin
  )
}
