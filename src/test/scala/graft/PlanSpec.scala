package graft

import org.apache.spark.sql.DataFrame
import graft.ops.{AnalyticsPack, RelationalPack, SearchPack}

/** Physical-plan shape regressions: the scan must prune and push down,
  * dimension joins must broadcast, and nothing may fall back to a
  * cartesian product. These are the properties that decide whether a
  * query survives a 100× scale-up — checked on the plan, not the wall
  * clock, so they hold at any SF.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("Tables.spread skips the round-robin exchange when the scan already fans out") {
    // r13 verdict #3: unconditional spread is a §6 anti-pattern at scale —
    // a many-file source (the 100 TB shape) must NOT pay a full-table
    // round-robin shuffle for parallelism its scan already has; the
    // single-file fixture shape (scan starved at row-group granularity)
    // must keep the spread.
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    val base = spark.range(0, 1000).selectExpr("id", "id % 7 AS k")
    base.repartition(8).write.mode("overwrite").parquet(s"$dir/many")
    base.coalesce(1).write.mode("overwrite").parquet(s"$dir/one")
    val many = spark.read.parquet(s"$dir/many")
    val one = spark.read.parquet(s"$dir/one")
    assert(many.inputFiles.length >= spark.sparkContext.defaultParallelism)
    // ≥ one file per core: spread is the identity (no exchange added).
    assert(graft.tables.Tables.spread(many) eq many)
    // Starved single-file scan: the round-robin exchange stays.
    val planOne = graft.tables.Tables.spread(one)
      .queryExecution.optimizedPlan.toString
    assert(planOne.contains("Repartition"), planOne)
  }

  test("hub_top10_customers broadcasts the customer dimension") {
    val p = planOf(RelationalPack.queries("hub_top10_customers")(spark, sf()))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("agg_orders_by_year pushes the date filter into the parquet scan") {
    val p = planOf(RelationalPack.queries("agg_orders_by_year")(spark, sf()))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || p.contains("GreaterThanOrEqual(o_orderdate"))
  }

  test("q1_pricing_summary scan reads only the needed columns") {
    val p = planOf(RelationalPack.queries("q1_pricing_summary")(spark, sf()))
    // lineitem has 11 columns; the scan schema must not include the keys
    // the query never touches.
    assert(!p.contains("l_partkey"), "column pruning lost: l_partkey read")
    assert(!p.contains("l_suppkey"), "column pruning lost: l_suppkey read")
  }

  test("search_fuzzy_topk plans a TakeOrderedAndProject, not a global sort") {
    val p = planOf(SearchPack.queries("search_fuzzy_topk")(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("bucketed co-located join has no exchange on the join keys") {
    // Disable auto-broadcast so the join can't dodge the question at
    // micro scale — the property under test is that BUCKETING removes
    // the shuffle, which is what holds when both sides are 50 TB.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val p = planOf(graft.ops.SourcesPack.queries("etl_bucketed_join")(spark, sf()))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
      assert(p.contains("Bucketed: true"), "scan did not use the bucket layout")
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"),
        "orders side re-shuffled despite bucketing")
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
        "lineitem side re-shuffled despite bucketing")
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("mm_frame_sample pushes the doc_id bound into the parquet scan") {
    val p = planOf(graft.ops.MultimodalPack.queries("mm_frame_sample")(spark, sf()))
    assert(p.contains("LessThan(doc_id,100)"), "doc_id < 100 not pushed to scan")
  }

  test("tfidf doc filter pushes through the aggregation to the scan") {
    val p = planOf(graft.ops.TextPack.queries("text_tfidf_topterms")(spark, sf()))
    assert(p.contains("LessThan(doc_id,100)"), "doc_id < 100 not pushed to scan")
  }

  test("stratified sample plans no shuffle before the final aggregation") {
    val p = planOf(graft.ops.AnalyticsPack.queries("ana_stratified_sample")(spark, sf()))
    // one exchange for the groupBy, nothing else
    assert(p.split("Exchange").length - 1 <= 2, s"unexpected extra shuffles:\n$p")
  }

  test("co-occurrence self-join is an equi-join, not a cartesian product") {
    val p = planOf(AnalyticsPack.queries("ana_cooccurrence_pairs")(spark, sf()))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("banded simhash candidates come from equality joins, not all-pairs") {
    val p = planOf(graft.ops.DedupPack.queries("dedup_simhash_banded")(spark, sf()))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "band join must be an equi-join on the band value")
  }

  test("ml_neg_sampling generates candidates per customer, never |C|x|S|") {
    val p = planOf(graft.ops.MLPack.queries("ml_neg_sampling")(spark, sf()))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "negative sampling must come from per-row candidate generation + equi-joins")
  }

  test("LSH ANN re-rank never plans an all-pairs product") {
    val p = planOf(graft.ops.SimilarityPack.queries("sim_lsh_topk")(spark, sf()))
    assert(!p.contains("CartesianProduct"))
  }

  test("banded range join is an equi-join on (user, bucket), not a nested loop") {
    val p = planOf(graft.ops.EventsPack.queries("events_range_join")(spark, sf()))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "temporal range join must come from time-bucket equality, not ts inequalities")
    assert(!p.contains("CartesianProduct"))
  }

  test("partitioned fact scan is pruned DYNAMICALLY by the dimension filter") {
    val p = planOf(graft.ops.SourcesPack.queries("src_partitioned_dpp")(spark, sf()))
    assert(p.toLowerCase.contains("dynamicpruning"),
      "region filter must reach the fact scan as a runtime partition filter")
  }

  test("cosine near-dup sweep is block-pair equi-joins, never a nested loop") {
    // The exact Θ(n²) sweep must be load-balanced equi-join work: an
    // id<id nested-loop join puts all pairs through one unsplittable
    // physical node; the block-pair form shards them over uniform keys.
    val p = planOf(graft.ops.SimilarityPack.queries("sim_cosine_neardup")(spark, sf()))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "near-dup phase 1 must join on the block-pair key, not ia<ib")
    assert(!p.contains("CartesianProduct"))
  }

  test("exploded-components cache is spread across cores, not one scan task") {
    // The comps cache repartitions round-robin at build: a single-row-
    // group embeddings file cannot be byte-range split, so without the
    // spread the whole cache lands in ONE task and every aggregate over
    // it runs on one core. Round-robin (not key-clustered) on purpose:
    // a persisted key partitioning would let the planner elide
    // consumer-side exchanges into per-query full-cache sorts and blind
    // AQE's broadcast conversion — see the comps scaladoc.
    val c = graft.ops.SimilarityPack.comps(spark, sf())
    assert(c.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "cache must spread across all cores regardless of file geometry")
    val counts = c.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(counts.count(_ > 0) == counts.length,
      s"every cached partition must carry rows: ${counts.mkString(",")}")
    assert(counts.max <= 2 * (counts.sum / counts.length).max(1),
      s"cache must be balanced, got ${counts.mkString(",")}")
  }

  test("sim_centroid_by_group aggregates with a map-side partial combine") {
    // The shuffle must carry |labels|·dim partial sums, not the exploded
    // component rows: a partial_ aggregate before the exchange is what
    // bounds the reduce side by class count at corpus scale.
    val p = planOf(graft.ops.SimilarityPack.queries("sim_centroid_by_group")(spark, sf()))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "centroid aggregation lost its map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("CMS sketch builds with a map-side partial; estimates probe a broadcast grid") {
    // The sketch, not the stream, must cross the exchange: a partial_
    // aggregate over the depth-exploded rows caps every partition's
    // shuffle contribution at depth×width counters, and the candidate
    // probe joins the ~2k-row grid as a broadcast.
    val p = planOf(graft.ops.AnalyticsPack.queries("ana_cms_heavy")(spark, sf()))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "sketch build lost its map-side combine")
    assert(p.contains("BroadcastHashJoin"), "estimate probe must broadcast the grid")
    assert(!p.contains("CartesianProduct"))
  }

  test("new pipeline ops: broadcast probe, no cartesian in semantic dedup / sim join") {
    // Contamination: the benchmark probe set must broadcast (eval sets
    // are KB, corpora are TB — a shuffled probe join would be wrong).
    val p1 = planOf(graft.ops.TextPack.queries("text_contamination")(spark, sf()))
    assert(p1.contains("BroadcastHashJoin"), "probe set must broadcast")
    assert(!p1.contains("CartesianProduct"))
    // Semantic dedup: within-cell pairs come from the cid equi-join and
    // the prefilter probes packed arrays — never a vector×vector
    // product. The ONE nested loop allowed is the sized quantizer's
    // n×k broadcast probe (k = n/512 centroid rows — the l2_dist2
    // prefilter), which is the assignment's designed cost, not a
    // candidate blowup; the pair stage itself must stay equi-join.
    val p2 = planOf(graft.ops.SimilarityPack.queries("dedup_semantic")(spark, sf()))
    assert(!p2.contains("CartesianProduct"),
      "semantic dedup must never plan an unbroadcast all-pairs product")
    // At most ONE nested loop may survive OUTSIDE the cached quantizer:
    // the sized n×k centroid probe. A second live BNLJ means the
    // pair-candidate stage regressed to an all-pairs broadcast product —
    // the blowup this test exists to catch (the pair stage must stay an
    // equi-join). Counted on the plan TREE, not the string: the string
    // prints the cached Lloyd chain inside every InMemoryRelation, so a
    // string count sees hundreds of spurious copies; tree traversal
    // stops at the cache boundary (InMemoryTableScan is a leaf).
    val q2 = graft.ops.SimilarityPack.queries("dedup_semantic")(spark, sf())
    def countBnlj(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => 1
        case _ => 0
      }
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case other => other.children
      }
      self + kids.map(countBnlj).sum
    }
    val bnlj2 = countBnlj(q2.queryExecution.executedPlan)
    assert(bnlj2 <= 1,
      s"semantic dedup planned $bnlj2 live BroadcastNestedLoopJoins; only the " +
        "n×k centroid probe may nested-loop — the pair stage must equi-join")
    assert(p2.contains("l2_dist2"),
      "cell assignment must ride the native packed-array prefilter")
    assert(p2.contains("cosine_sim"), "prefilter must use the native packed-array scan")
    // Blocked sim join: distinct-string pairwise stage + id fan-out are
    // all equi-joins.
    val p3 = planOf(graft.ops.SearchPack.queries("search_blocked_simjoin")(spark, sf()))
    assert(!p3.contains("CartesianProduct") && !p3.contains("BroadcastNestedLoopJoin"),
      "blocked sim join must never plan an all-pairs product")
    // The auto-derived sim-join: the query is a natural theta-join, so
    // only FuzzyJoinRule's deletion-signature rewrite keeps a
    // nested-loop out of the plan.
    val p4 = planOf(graft.ops.SearchPack.queries("search_lev_autojoin")(spark, sf()))
    assert(!p4.contains("CartesianProduct") && !p4.contains("BroadcastNestedLoopJoin"),
      "the edit-distance theta-join must be rewritten to an equi-join")
    // The capped WRatio theta-join at t ≤ 90: FuzzyJoinRule's capped
    // family, a two-branch union (bucket key + tagged segment key), no nested
    // loop anywhere in the plan.
    val q5 = graft.ops.SearchPack.queries("search_wratio_autojoin")(spark, sf())
    val o5 = q5.queryExecution.optimizedPlan.toString
    assert(o5.contains("__graft_wrbk") && o5.contains("__graft_wrseg"),
      s"capped wratio theta-join must take the two-branch rewrite:\n$o5")
    val p5 = planOf(q5)
    assert(!p5.contains("CartesianProduct") && !p5.contains("BroadcastNestedLoopJoin"),
      "the capped wratio theta-join must be rewritten to equi-joins")
  }

  test("clustering coefficient and merge-upsert plan equi-joins only") {
    import spark.implicits._
    // The operator proper (the query's input adds only the documented
    // broadcast-scalar threshold join shared with graph_triangles).
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("x", "y")
    val p1 = planOf(graft.graph.DFGraphAlgs.localClusteringCoeff(pairs))
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"),
      "triangle corner-credit must stay equi-join work")
    val p2 = planOf(RelationalPack.queries("etl_merge_upsert")(spark, sf()))
    assert(!p2.contains("CartesianProduct"),
      "MERGE must be one full-outer equi-join on the key")
    // The insert-key offset is a broadcast SCALAR (1-row max aggregate,
    // the meanImpute/gini idiom) — that single constant-fanout nested-
    // loop broadcast is sanctioned; any second one (i.e. a real
    // unbounded nested loop) still fails.
    assert(p2.sliding("BroadcastNestedLoopJoin".length).count(
        _ == "BroadcastNestedLoopJoin") <= 1,
      "MERGE may contain only the single broadcast-scalar offset join")
    assert(p2.contains("FullOuter"), "merge-upsert must plan a full-outer join")
  }

  test("data-selection ops: broadcast stats tables, no global sort in vocab rank") {
    // Mixture sampling: the <=|domains|-row rate table joins back by
    // broadcast; the corpus side never shuffles for the gate.
    val p1 = planOf(graft.ops.TextPack.queries("text_mix_sample")(spark, sf()))
    assert(p1.contains("BroadcastHashJoin"), "rate table must broadcast")
    assert(!p1.contains("CartesianProduct"))
    // DSIR: the <=buckets-row log-ratio table (and the scalar totals)
    // broadcast; per-doc scoring is a broadcast join + one aggregation.
    val p2 = planOf(graft.ops.TextPack.queries("text_dsir_weights")(spark, sf()))
    assert(p2.contains("BroadcastHashJoin"), "log-ratio table must broadcast")
    assert(!p2.contains("CartesianProduct"))
    // Vocab coverage: the global frequency rank is the two-phase digit-
    // bucket form — the only Sort nodes may be inside per-bucket window
    // partitions (SortExec with a partial/global=false sort), never a
    // single-partition global Sort over the vocabulary.
    val p3 = planOf(graft.ops.TextPack.queries("text_vocab_coverage")(spark, sf()))
    // SortExec prints `Sort [keys], global, limit`: window-partition sorts
    // are global=false; only the 5-row target orderBy may be global=true.
    val globalFreqSort = """Sort \[[^\]]*cnt[^\]]*\], true""".r
    assert(globalFreqSort.findFirstIn(p3).isEmpty,
      "vocabulary must never globally sort by term frequency")
    assert(!p3.contains("CartesianProduct"))
  }

  test("bloom gate: bitset builds with a map-side partial, 1-row filter broadcasts") {
    // The bitset BUILD plan is checked on the uncached builder (the
    // query consumes it through a lineage-truncated shared cache, so
    // the build shape is no longer visible in the consumer plan).
    import org.apache.spark.sql.functions.{col, conv, md5, substring}
    val corpus = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(conv(substring(md5(col("text").cast("binary")), 1, 7), 16, 10)
        .cast("long").as("h"))
    val build = planOf(graft.api.Dedup.bloomBitset(corpus, col("h"), 5, 262144))
    // Two-phase aggregate: partial bitset buffers OR-merge before the
    // exchange (ObjectHashAggregate for a TypedImperativeAggregate).
    assert("(?s)ObjectHashAggregate.*partial_bitset_agg".r.findFirstIn(build).isDefined
      || build.contains("partial_bitset_agg"),
      "bitset_agg must partial-aggregate map-side")
    // The 1-row bitset reaches the batch by broadcast (constant-key
    // equi-join → BroadcastHashJoin; the key keeps the same probe valid
    // on a streaming frame, where crossJoin is unsupported).
    val p = planOf(graft.ops.DedupPack.queries("dedup_bloom_gate")(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), "bloom bitset must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("hll_sketch partial-aggregates map-side; z-order audit is one scan + broadcasts") {
    // The HLL register file must reduce BEFORE the exchange — one
    // 256-byte buffer per task crosses the shuffle, never raw hashes
    // (ObjectHashAggregate partial/final pair for a
    // TypedImperativeAggregate, same discipline as bitset/kmv).
    val p = planOf(AnalyticsPack.queries("ana_hll_distinct")(spark, sf()))
    assert(p.contains("partial_hll_sketch"),
      s"hll_sketch must partial-aggregate map-side:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      "typed-imperative sketch must run as an object hash aggregate")
    // Z-order zone-map audit: the stats frame joins back by broadcast
    // (1-row), the bucket/interleave work is pure projection — no
    // all-pairs product anywhere, exactly one orders scan per side.
    val pz = planOf(graft.ops.SourcesPack.queries("etl_zorder_layout")(spark, sf()))
    assert(!pz.contains("CartesianProduct"),
      s"zone-map audit must not build a product:\n$pz")
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r.findFirstIn(pz).isDefined,
      "the min/max stats row must broadcast")
    assert("FileScan parquet".r.findAllIn(pz).size == 2,
      "layout audit reads orders once per side (stats + buckets)")
  }

  test("ana_correlation computes all nine moments in one scan") {
    val p = planOf(AnalyticsPack.queries("ana_correlation")(spark, sf()))
    assert(!p.contains("Join"), s"the moment sums must not join:\n$p")
    // One lineitem scan feeds one two-phase aggregate.
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "correlation must read lineitem exactly once")
    assert(!p.contains("l_orderkey"), "column pruning lost: key columns read")
  }

  test("ana_weighted_sample plans a TakeOrderedAndProject, not a global sort") {
    val p = planOf(AnalyticsPack.queries("ana_weighted_sample")(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("graph_assortativity plans equi-joins only, no cartesian") {
    val p = planOf(graft.ops.GraphPack.queries("graph_assortativity")(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"assortativity must stay equi-join:\n$p")
  }

  test("ml_temporal_link_eval pushes the split date into both scans") {
    val p = planOf(graft.ops.MLPack.queries("ml_temporal_link_eval")(spark, sf()))
    assert(p.contains("LessThan(o_orderdate") || p.contains("lessthan(o_orderdate"),
      s"train-side date filter not pushed to the orders scan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("events_markov_transitions broadcasts the per-from totals, windows by user") {
    val p = planOf(graft.ops.EventsPack.queries("events_markov_transitions")(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), s"normalization join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // The lead() window must partition by user_id — a global window over
    // the raw log would single-partition the corpus.
    assert("""Window \[lead[^\]]*\], \[user_id""".r.findFirstIn(p).isDefined,
      s"lead window must partition by user_id:\n$p")
  }

  test("events_session_paths and win_moving_avg plan top-k / bounded windows") {
    val p1 = planOf(graft.ops.EventsPack.queries("events_session_paths")(spark, sf()))
    assert(p1.contains("TakeOrderedAndProject"), s"path top-20 must be TakeOrdered:\n$p1")
    val p2 = planOf(RelationalPack.queries("win_moving_avg")(spark, sf()))
    // The RANGE-frame window runs AFTER the date aggregation (bounded
    // domain); the raw orders scan must carry only the two needed columns.
    assert(!p2.contains("o_custkey"), s"column pruning lost on orders scan:\n$p2")
  }

  test("ana_rfm_segments never globally sorts the per-customer frame") {
    val p = planOf(AnalyticsPack.queries("ana_rfm_segments")(spark, sf()))
    // Every row_number window partitions by the range bucket; the only
    // allowed global Sort is the final ≤125-cell presentation orderBy.
    assert("""Window \[row_number[^\]]*\], \[bkt""".r.findFirstIn(p).isDefined,
      s"rank windows must partition by bkt:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("win_streaks and events_funnel_steps keep every window key-partitioned") {
    val p1 = planOf(RelationalPack.queries("win_streaks")(spark, sf()))
    assert("""Window \[row_number[^\]]*\], \[o_custkey""".r.findFirstIn(p1).isDefined,
      s"streak island window must partition by customer:\n$p1")
    assert(p1.contains("TakeOrderedAndProject"))
    val p2 = planOf(graft.ops.EventsPack.queries("events_funnel_steps")(spark, sf()))
    // Both chain stages window by user_id; nothing global, no self-join.
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"),
      s"funnel chain must not join the log to itself:\n$p2")
    assert("""Window \[last[^\]]*\], \[__u""".r.findFirstIn(p2).isDefined,
      s"chain windows must partition by user:\n$p2")
  }

  test("the ETL slice chain stays equi-join work end to end") {
    // SPARQL flatten → clean → dedup → split → weights: per-person
    // collapse join, keep-first windows, node-attribute joins — all
    // key-partitioned; nothing may fall back to an all-pairs product,
    // and every window carries a partition key (person / triple /
    // canonical pair / id / type).
    for (q <- Seq("etl_sparql_edges", "etl_sparql_nodes", "etl_sparql_weights")) {
      val p = planOf(graft.ops.EtlPack.queries(q)(spark, sf()))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi-join work:\n$p")
      assert(!p.contains("Window [") ||
        """Window \[[^\]]*\], \[\]""".r.findFirstIn(p).isEmpty,
        s"$q has an unpartitioned window:\n$p")
    }
  }

  test("BSP shuffle rounds carry the hub-salt equi-key when salting is active") {
    // The salted relaxation join must still be pure equi-join work —
    // (src, __salt) = (id, __sl) — with the fanout as a Generate, never
    // a cartesian. Asserted on the six-degrees query's un-truncated
    // plan (plan-only mode; salt target 1 activates salting without a
    // degree probe, broadcast limit 0 forces the shuffle path).
    import graft.graph.DFGraphAlgs
    spark.conf.set(DFGraphAlgs.PlanOnlyConf, "true")
    spark.conf.set(DFGraphAlgs.StateBroadcastLimitConf, "0")
    spark.conf.set(DFGraphAlgs.SaltTargetDegConf, "1")
    try {
      val p = planOf(graft.ops.EtlPack.queries("etl_sparql_six_degrees")(spark, sf()))
      assert(p.contains("__salt"), s"salted rounds missing the salt key:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"salted relaxation must stay an equi-join:\n$p")
      assert(p.contains("Generate"), "state fanout must be a generator, not a join")
    } finally {
      spark.conf.unset(DFGraphAlgs.PlanOnlyConf)
      spark.conf.unset(DFGraphAlgs.StateBroadcastLimitConf)
      spark.conf.unset(DFGraphAlgs.SaltTargetDegConf)
    }
  }

  test("graph_rich_club never force-broadcasts the hub set") {
    // The P90 hub set is ~10% of the projection's vertices — millions of
    // rows at the reference's 4.6 M-node graph. Only the two 1-row
    // scalar frames (threshold, e_hubs) may carry broadcast hints; the
    // hub-gating joins must be planner-decided equi-joins. With
    // auto-broadcast off, a hinted hub broadcast would still surface as
    // a BroadcastHashJoin — so none may appear.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val p = planOf(graft.ops.GraphPack.queries("graph_rich_club")(spark, sf()))
      assert(!p.contains("BroadcastHashJoin"),
        s"hub set must not carry a broadcast hint:\n$p")
      // The hub-gating equi-joins surface as planner-chosen shuffled
      // joins. (The broadcast-SCALAR crossJoins remain nested-loop
      // broadcasts; their count is not pinned here because the printed
      // plan replicates the cached pair frame's lineage under every
      // InMemoryTableScan.)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"hub gating must be a shuffled equi-join with broadcasts off:\n$p")
      assert(!p.contains("CartesianProduct"))
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("agg_cube_orders expands grouping sets in one aggregation pass") {
    val p = planOf(RelationalPack.queries("agg_cube_orders")(spark, sf()))
    assert(p.contains("Expand"), s"cube must compile to Expand + one agg:\n$p")
    // One shuffle for the aggregation — the cube must not scan four times.
    assert(p.split("FileScan").length - 1 == 1, s"cube re-scanned the source:\n$p")
  }

  test("every unpartitioned window in every query plan sits over a bounded frame") {
    // Executable form of the per-site justification comments: a
    // WindowExec with an EMPTY partitionSpec moves its whole input to
    // one task, so it is only sanctioned over a frame some upstream
    // node has already bounded — an aggregation (distinct scores, day
    // histograms, bucket counts, centroids), a limit/top-k, or a
    // literal/range source. A global window directly over raw scan
    // rows is the 100 TB scale-killer this guard exists to catch.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec, RangeExec, LocalTableScanExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

    def bounded(p: SparkPlan): Boolean = p match {
      case _: HashAggregateExec | _: ObjectHashAggregateExec |
           _: SortAggregateExec => true
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec => true
      // Literal frames and ranges are compile-time constants.
      case _: LocalTableScanExec | _: RangeExec => true
      // A cached artifact: the scan itself carries no size evidence —
      // walk its BUILD plan for the bounding node.
      case s: InMemoryTableScanExec => bounded(s.relation.cachedPlan)
      // Any multi-child node (joins, unions): EVERY input must be
      // bounded — a raw scan crossJoined with a 1-row stats frame is
      // still scan-sized, so an exists-check on either side would wave
      // through exactly the shape this guard exists to catch.
      case other =>
        other.children.nonEmpty && other.children.forall(bounded)
    }

    // Negative control — the guard must actually fire: a global
    // row_number over the raw lineitem scan is exactly the offending
    // shape.
    {
      import org.apache.spark.sql.expressions.Window
      val bad = spark.read.parquet(s"${sf()}/lineitem.parquet")
        .withColumn("rn", org.apache.spark.sql.functions.row_number()
          .over(Window.orderBy("l_orderkey")))
      val badWindows = bad.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(badWindows.nonEmpty && badWindows.forall(w => !bounded(w.child)),
        "the guard failed to flag a raw-scan global window")
    }

    // Constructing these queries RUNS work (stream sinks, MLlib fits) —
    // their windows are covered by dedicated specs instead. The BSP
    // queries (six-degrees included, since r9) are swept under
    // DFGraphAlgs.PlanOnlyConf, which suppresses the localCheckpoint
    // rounds that would otherwise truncate the inspectable plan to a
    // LogicalRDD scan.
    val excluded = graft.ops.StreamingPack.queries.keySet ++
      Set("ml_train_eval", "ml_als_recommend")
    val planOnlyQueries = Set("etl_sparql_six_degrees")
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      if (!excluded(name)) {
        val plan =
          if (planOnlyQueries(name)) {
            spark.conf.set(graft.graph.DFGraphAlgs.PlanOnlyConf, "true")
            try q(spark, sf()).queryExecution.sparkPlan
            finally spark.conf.unset(graft.graph.DFGraphAlgs.PlanOnlyConf)
          } else q(spark, sf()).queryExecution.sparkPlan
        plan.foreach {
          case w: WindowExec if w.partitionSpec.isEmpty =>
            if (!bounded(w.child)) offenders += s"$name: $w"
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
            if (!bounded(w.child)) offenders += s"$name: $w"
          case _ =>
        }
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows over unbounded frames:\n${offenders.mkString("\n")}")
  }

  test("chunking is an exchange-free flat map; shuffle manifest shuffles on shard only") {
    // Sliding-window chunking: per-row generate/project only — one scan,
    // no Exchange anywhere before the final presentation orderBy.
    val chunks = graft.api.Text.chunkSliding(
      spark.read.parquet(s"${sf()}/documents.parquet"), "doc_id", "text", 32, 24)
    val p1 = planOf(chunks)
    assert(!p1.contains("Exchange"), s"chunking must not shuffle:\n$p1")
    assert(p1.contains("Generate"), "chunk starts come from a generator, not a join")
    // Global shuffle: the in-shard rank window and the manifest aggregate
    // both partition by shard — exactly one shuffle key, no global sort.
    val p2 = planOf(graft.ops.TextPack.queries("text_global_shuffle")(spark, sf()))
    // The in-shard hash order must come from a window-partition sort
    // (global=false); a global=true Sort keyed on the hash would be a
    // whole-corpus sort. The 16-row manifest orderBy(shard) stays global.
    assert("""Sort \[[^\]]*\bh#[^\]]*\], true""".r.findFirstIn(p2).isEmpty,
      s"hash order must never sort globally:\n$p2")
    assert(!p2.contains("CartesianProduct"))
  }
}
