package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.MapPartitions
import org.apache.spark.sql.functions._
import graft.graph.{DFGraphAlgs, GraphAlgs}

/** Micro-graph goldens for the graph algorithms (SURVEY.md §5: the
  * reference has no tests; Pregel-style ops are not DuckDB-expressible
  * beyond the unrolled oracles, so hand-computed goldens pin semantics)
  * plus DataFrame-vs-GraphX agreement.
  *
  * Micro graph (undirected, as symmetric directed edges):
  *   1 -- 2 (w 1.0)   2 -- 3 (w 2.0)   1 -- 3 (w 4.0)   3 -- 4 (w 1.0)
  *   5 isolated-ish: 5 -- 6 (w 1.0)  (disconnected from 1-4)
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val undirected = Seq(
    (1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 4.0), (3L, 4L, 1.0), (5L, 6L, 1.0))
  private def edgeDF = {
    val fwd = undirected.toDF("src", "dst", "w")
    fwd.union(fwd.select($"dst".as("src"), $"src".as("dst"), $"w"))
  }

  /** Spark's ship-it-whole limit; -1 turns the one-task path of
    * shortestPaths / personalizedPageRank off (see DFGraphAlgs). */
  private val BroadcastThreshold = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` with the one-task path off: the BSP loop runs. */
  private def onBsp[T](body: => T): T = {
    val before = spark.conf.getOption(BroadcastThreshold)
    spark.conf.set(BroadcastThreshold, "-1")
    try body
    finally before.fold(spark.conf.unset(BroadcastThreshold))(spark.conf.set(BroadcastThreshold, _))
  }

  private def oneTaskPlan(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case m: MapPartitions => m }.isDefined

  /** The rows of `df` as a multiset, doubles by their bits. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
      case x => x
    }).groupBy(identity).map { case (k, v) => k -> v.size }

  /** `run` on the default path, which takes the one-task path on these
    * micro graphs, and on the BSP loop: the same schema and the same rows,
    * double for double. Returns the default path's frame. */
  private def bothPaths(run: => DataFrame): DataFrame = {
    val one = run
    onBsp {
      val bsp = run
      assert(oneTaskPlan(one) && !oneTaskPlan(bsp), "expected one one-task and one BSP plan")
      assert(one.schema == bsp.schema, s"schema ${one.schema} != BSP ${bsp.schema}")
      assert(bag(one) == bag(bsp), "the one-task rows differ from the BSP rows")
    }
    one
  }

  test("fixed-point early exit: converged loops stop early and return the full-iters result") {
    // Path 1-2-3-4 (diameter 3): every monotone loop reaches its fixed
    // point within ≤ 4 rounds, so a 40-round request must (a) return the
    // frame the full 40-round unrolling would — the recurrences are
    // deterministic, a fixed point is absorbing — and (b) actually stop:
    // lastRoundsRun counts executed rounds (convergence round + the one
    // confirming no-change round).
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val sym = path.union(path.select($"dst".as("src"), $"src".as("dst")))
      .withColumn("w", lit(1.0))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.toList).toSet

    val cc4 = m(DFGraphAlgs.connectedComponents(sym, 4))
    val cc40 = m(DFGraphAlgs.connectedComponents(sym, 40))
    assert(cc40 === cc4)
    assert(DFGraphAlgs.lastRoundsRun.get() <= 5,
      s"CC ran ${DFGraphAlgs.lastRoundsRun.get()} of 40 rounds")

    onBsp {
      val sp6 = m(DFGraphAlgs.shortestPaths(sym, 1L, 6))
      val sp40 = m(DFGraphAlgs.shortestPaths(sym, 1L, 40))
      assert(sp40 === sp6)
      assert(DFGraphAlgs.lastRoundsRun.get() <= 5)
    }

    val ms = m(DFGraphAlgs.multiSourceShortestPaths(sym, Seq(1L, 4L), 40))
    assert(ms === m(DFGraphAlgs.multiSourceShortestPaths(sym, Seq(1L, 4L), 6)))
    assert(DFGraphAlgs.lastRoundsRun.get() <= 5)

    val pp = m(DFGraphAlgs.shortestPathsWithPred(sym, 1L, 40))
    assert(pp === m(DFGraphAlgs.shortestPathsWithPred(sym, 1L, 6)))
    assert(DFGraphAlgs.lastRoundsRun.get() <= 5)

    val lp = m(DFGraphAlgs.labelPropagation(sym, 40))
    assert(lp === m(DFGraphAlgs.labelPropagation(sym, 6)))
    assert(DFGraphAlgs.lastRoundsRun.get() <= 7)

    // kcore: k=2 peels the whole path (cascade 1,4 → then 2,3 → empty);
    // the empty fixed point must stop the loop.
    val core = DFGraphAlgs.kcore(sym, 2, 40)
    assert(core.count() === 0L)
    assert(DFGraphAlgs.lastRoundsRun.get() <= 4)
  }

  test("early-exit probes leave the SparkSession task-serializable") {
    // Regression pin: the first cut of the convergence probe used the
    // Observation() helper, which lazily instantiates the session's
    // ObservationManager — a non-Serializable field of
    // classic.SparkSession. Any LATER task closure that transitively
    // captures the session (ml_train_eval's logistic model carries its
    // training summary, which holds the session; the predict UDF
    // captures the model) then fails with "Task not serializable" — the
    // full r14 bench lost ml_train_eval to exactly this after a BSP
    // query had run first. The named-observe form reads the metric from
    // the executed plan and must create no session state: serializing
    // the session after an early-exit loop has run must still succeed.
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val sym = path.union(path.select($"dst".as("src"), $"src".as("dst")))
      .withColumn("w", lit(1.0))
    DFGraphAlgs.connectedComponents(sym, 8).collect()
    DFGraphAlgs.kcore(sym, 2, 8).count()
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(spark)
    assert(bos.size() > 0)
  }

  test("triangleCount: hand-golden + agreement with GraphX TriangleCount") {
    // Canonical x<y edges: triangle 1-2-3, pendant 3-4, island 5-6, plus
    // a second triangle 2-3-4 sharing edge (2,3).
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 4L), (5L, 6L))
      .toDF("x", "y")
    val n = DFGraphAlgs.triangleCount(pairs).head().getLong(0)
    assert(n == 2L, s"expected triangles {1,2,3} and {2,3,4}, got $n")
    // GraphX twin: triangleCount() counts per vertex; each triangle is
    // seen by its 3 vertices.
    val sym = pairs.select($"x".as("src"), $"y".as("dst"), lit(1.0).as("w"))
    val g = GraphAlgs.fromEdgeDF(
      sym.union(sym.select($"dst".as("src"), $"src".as("dst"), $"w")))
    val gx = g.partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
      .triangleCount().vertices.map(_._2.toLong).sum() / 3
    assert(gx.toLong == n, s"GraphX twin disagrees: $gx vs $n")
  }

  test("localClusteringCoeff: hand-golden on the two-triangle micro graph") {
    // Same canonical pairs as the triangle golden: triangles {1,2,3} and
    // {2,3,4} share edge (2,3); 5-6 is an isolated edge (deg 1 — excluded).
    // deg: 1→2, 2→3, 3→3, 4→2; tri: 1→1, 2→2, 3→2, 4→1.
    // lcc: 1→1.0, 2→2·2/(3·2)=0.666667, 3→0.666667, 4→1.0.
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 4L), (5L, 6L))
      .toDF("x", "y")
    val got = DFGraphAlgs.localClusteringCoeff(pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == Map(
      1L -> ((2L, 1L, 1.0)), 2L -> ((3L, 2L, 0.666667)),
      3L -> ((3L, 2L, 0.666667)), 4L -> ((2L, 1L, 1.0))), s"got $got")
  }

  test("localClusteringCoeff per-vertex triangles agree with GraphX") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 4L), (5L, 6L))
      .toDF("x", "y")
    val ours = DFGraphAlgs.localClusteringCoeff(pairs)
      .select($"v", $"n_tri").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sym = pairs.select($"x".as("src"), $"y".as("dst"), lit(1.0).as("w"))
    val g = GraphAlgs.fromEdgeDF(
      sym.union(sym.select($"dst".as("src"), $"src".as("dst"), $"w")))
    val gx = g.partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
      .triangleCount().vertices.collect().toMap
    ours.foreach { case (v, n) =>
      assert(gx(v).toLong == n, s"vertex $v: GraphX ${gx(v)} vs ours $n")
    }
  }

  test("labelPropagation: two cliques joined by a bridge form two communities") {
    // Cliques {1,2,3} and {10,11,12} with bridge 3-10. With the
    // deterministic smallest-label tie-break, three rounds settle on
    // label 1 for the first clique and label 3 for the second (hand-
    // traced: the bridge pulls 10's label down via 3, then the clique
    // majority overrides the bridge).
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val fwd = pairs.toDF("src", "dst")
    val sym = fwd.union(fwd.select($"dst".as("src"), $"src".as("dst")))
    val got = DFGraphAlgs.labelPropagation(sym, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L), s"got $got")
  }

  test("kcore: peel drops the pendant, keeps the triangle, cascades") {
    // Triangle 1-2-3 with chain 3-4-5: round 1 drops 5 (deg 1), round 2
    // drops 4 (deg fell to 1) — the cascade fixed-round peeling models.
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("x", "y")
    val sym = pairs.select($"x".as("src"), $"y".as("dst"))
      .union(pairs.select($"y".as("src"), $"x".as("dst")))
    val after1 = DFGraphAlgs.kcore(sym, 2, 1)
      .select($"src").distinct().as[Long].collect().toSet
    assert(after1 == Set(1L, 2L, 3L, 4L), s"round 1 must drop only 5: $after1")
    val core = DFGraphAlgs.kcore(sym, 2, 2)
      .select($"src").distinct().as[Long].collect().toSet
    assert(core == Set(1L, 2L, 3L), s"round 2 must cascade 4 out: $core")
  }

  test("BSP rounds run through RELIABLE checkpoint when opted in") {
    // Cluster-lifetime knob: with spark.graft.reliableCheckpoint=true and
    // a checkpoint dir set, mat() writes through checkpoint() (survives
    // executor loss) instead of localCheckpoint — results identical.
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(DFGraphAlgs.ReliableCheckpointConf, "true")
    spark.conf.set(BroadcastThreshold, "-1")
    try {
      val got = DFGraphAlgs.shortestPaths(edgeDF, 1L, 3)
        .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
        .toMap
      assert(got(2L).contains(1.0) && got(3L).contains(3.0))
      assert(new java.io.File(dir).listFiles != null &&
        new java.io.File(dir).listFiles.nonEmpty,
        "reliable checkpoint must write to the checkpoint dir")
    } finally {
      spark.conf.unset(DFGraphAlgs.ReliableCheckpointConf)
      spark.conf.unset(BroadcastThreshold)
    }
  }

  test("shortestPaths: hand-computed weighted distances from vertex 1") {
    val got = bothPaths(DFGraphAlgs.shortestPaths(edgeDF, 1L, 6))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap
    // 1->2 = 1; 1->3 = min(4, 1+2) = 3; 1->4 = 3+1 = 4; 5,6 unreachable
    assert(got(1L).contains(0.0))
    assert(got(2L).contains(1.0))
    assert(got(3L).contains(3.0))
    assert(got(4L).contains(4.0))
    assert(got(5L).isEmpty && got(6L).isEmpty)
  }

  private def distMap(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Double]] = {
    val rows = df.collect()
    val out = rows.map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(out.size == rows.length, "one row per vertex")
    out
  }

  test("shortestPaths: a source outside the graph gives every vertex a null row") {
    val got = distMap(bothPaths(DFGraphAlgs.shortestPaths(edgeDF, 99L, 6)))
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(got.values.forall(_.isEmpty))
  }

  test("shortestPaths: a source with in-edges only keeps its own 0.0 row") {
    val directed = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 2L, 1.0), (3L, 4L, 1.0))
      .toDF("src", "dst", "w")
    val got = distMap(bothPaths(DFGraphAlgs.shortestPaths(directed, 4L, 6)))
    assert(got == Map(1L -> None, 2L -> None, 3L -> None, 4L -> Some(0.0)))
  }

  test("shortestPaths: a dist IS NOT NULL filter prunes the unreached branch at plan time") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Union}
    def branches(p: LogicalPlan) = (
      p.collect { case u: Union => u }.size,
      p.collect { case j: Join if j.joinType == LeftAnti => j }.size)
    onBsp {
      val sp = DFGraphAlgs.shortestPaths(edgeDF, 1L, 6)
      val (unions, antis) = branches(sp.queryExecution.optimizedPlan)
      assert(unions > 0 && antis > 0,
        "the unfiltered result carries the null rows as an anti-join union branch")
      val reached = sp.filter($"dist".isNotNull)
      assert(branches(reached.queryExecution.optimizedPlan) == (0, 0),
        s"the filter must prune the branch:\n${reached.queryExecution.optimizedPlan}")
      assert(distMap(reached) == Map(1L -> Some(0.0), 2L -> Some(1.0), 3L -> Some(3.0),
        4L -> Some(4.0)))
    }
  }

  test("contribFrame over a persisted edge list copies nothing") {
    // A persisted (or DFCache) edge list is already materialized: the
    // fill must read it in place, not checkpoint a second copy of it.
    val p = edgeDF.select($"src", $"dst").persist()
    try {
      assert(p.count() == 10L)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val contrib = DFGraphAlgs.contribFrame(p)
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        "contribFrame persisted a copy of an in-memory edge list")
      assert(contrib.count() == 10L)
    } finally p.unpersist(false)
  }

  test("pageRankByRel on int ids gives the long-id ranks") {
    val ints = Seq(("a", 1, 2), ("a", 2, 1), ("b", 2, 3), ("b", 3, 2)).toDF("rel", "src", "dst")
    val longs = ints.select($"rel", $"src".cast("long").as("src"), $"dst".cast("long").as("dst"))
    def ranks(df: org.apache.spark.sql.DataFrame) = DFGraphAlgs.pageRankByRel(df, 3)
      .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue) -> r.getDouble(2)).toMap
    val got = ranks(ints)
    assert(got.size == 4)
    assert(got == ranks(longs))
    assert(DFGraphAlgs.pageRankByRel(ints, 3).schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType, "ids come back in the input's type")
  }

  /** PPR as the two-aggregation round: Σ of messages per (seed, id),
    * then Σ over {0.85·msum} ∪ the restart rows, both exact
    * DECIMAL(28,15) sums cast to double — the independent replay the
    * one-aggregation round must match bit for bit. */
  private def pprTwoAggregations(edges: org.apache.spark.sql.DataFrame,
      seeds: org.apache.spark.sql.DataFrame, iters: Int): Map[(Long, Long), Double] = {
    def rsum(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(28,15)")).cast("double")
    val e = edges.select($"src", $"dst")
    val contrib = e.join(e.groupBy($"src").agg(count(lit(1)).as("deg")), "src")
    val restart = seeds.select($"seed", $"seed".as("id"), lit(0.15).as("part"))
    var rank = seeds.select($"seed", $"seed".as("id"), lit(1.0).as("rank"))
    for (_ <- 1 to iters) {
      rank = contrib.join(rank, contrib("src") === rank("id"))
        .select($"seed", $"dst".as("id"), ($"rank" / $"deg").as("m"))
        .groupBy($"seed", $"id").agg(rsum($"m").as("msum"))
        .select($"seed", $"id", (lit(0.85) * $"msum").as("part"))
        .union(restart)
        .groupBy($"seed", $"id").agg(rsum($"part").as("rank"))
        .localCheckpoint()
    }
    rank.collect().map(r =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue) -> r.getDouble(2)).toMap
  }

  test("personalizedPageRank equals the two-aggregation round bit for bit") {
    val seeds = Seq(1L, 3L, 4L, 5L).toDF("seed")
    val want = pprTwoAggregations(edgeDF, seeds, 4)
    def ranks(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def got() = ranks(DFGraphAlgs.personalizedPageRank(edgeDF, seeds, 4))
    assert(want.size > seeds.count())
    assert(ranks(bothPaths(DFGraphAlgs.personalizedPageRank(edgeDF, seeds, 4))) === want)
    spark.conf.set(DFGraphAlgs.StateBroadcastLimitConf, "0")
    spark.conf.set(DFGraphAlgs.SaltTargetDegConf, "1")
    spark.conf.set(BroadcastThreshold, "-1")
    try assert(got() === want, "salted shuffle rounds diverged")
    finally {
      spark.conf.unset(DFGraphAlgs.StateBroadcastLimitConf)
      spark.conf.unset(DFGraphAlgs.SaltTargetDegConf)
      spark.conf.unset(BroadcastThreshold)
    }
  }

  test("personalizedPageRank: duplicated, outside and in-edge-only seeds on int ids") {
    // Directed int-id graph: 4 has in-edges only, 99 is not a vertex, and
    // seed 1 is listed twice (once through a frame derived from the edge
    // list itself) — two initial and two restart rows, as in the oracle.
    val e = Seq((1, 2), (2, 3), (3, 1), (1, 3), (3, 4), (2, 4)).toDF("src", "dst")
    val seeds = e.filter($"src" === 1).select($"src".as("seed")).limit(1)
      .union(Seq(1, 3, 4, 99).toDF("seed"))
    val want = pprTwoAggregations(e, seeds, 4)
    val got = bothPaths(DFGraphAlgs.personalizedPageRank(e, seeds, 4))
    assert(got.schema.map(_.dataType) == Seq(org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.DoubleType))
    assert(got.collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong) -> r.getDouble(2))
      .toMap == want)
    assert(want((99L, 99L)) == 0.15 && want.keySet.count(_._1 == 99L) == 1)
  }

  test("shortestPaths: null, infinite and NaN weights and int ids agree on both paths") {
    // Round 1 reaches 2 at 1.0 (a null weight is 1) and 3 at NaN. Spark
    // orders NaN above every number, so round 2's 3.0 via 2 replaces it;
    // 4 gets ∞ via 2 in round 2, then 4.0 via 3 in round 3. 5 is only
    // reached through a NaN weight; 6 at ∞ and 7 at ∞ + −∞ = NaN; 5→1 at
    // −∞ offers 1 a NaN, which never beats its 0.0; 8, 9 are unreachable.
    val w = Seq[(Int, Int, java.lang.Double)]((1, 2, null), (1, 3, Double.NaN),
      (2, 3, 2.0), (2, 4, Double.PositiveInfinity), (3, 4, 1.0), (4, 5, Double.NaN),
      (5, 1, Double.NegativeInfinity), (4, 6, Double.PositiveInfinity),
      (6, 7, Double.NegativeInfinity), (8, 9, 1.0))
      .toDF("src", "dst", "w")
    val got = bothPaths(DFGraphAlgs.shortestPaths(w, 1L, 6))
    assert(got.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    val d = got.collect().map(r => r.getInt(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap
    assert(d(1).contains(0.0) && d(2).contains(1.0) && d(3).contains(3.0) && d(4).contains(4.0))
    assert(d(5).exists(_.isNaN) && d(6).contains(Double.PositiveInfinity) && d(7).exists(_.isNaN))
    assert(d(8).isEmpty && d(9).isEmpty)
    // Zero rounds: the source's own row and null rows, on both paths.
    assert(bothPaths(DFGraphAlgs.shortestPaths(w, 1L, 0)).filter($"dist".isNotNull)
      .count() == 1L)
  }

  test("null ids and zero rounds agree on both paths") {
    // A null endpoint is a vertex no join key matches: reached through
    // 2→null it gets a distance row AND a null row (the anti-join never
    // matches a null); a null seed keeps only its restart mass.
    val e = Seq[(java.lang.Long, java.lang.Long, Double)]((1L, 2L, 1.0), (2L, null, 1.0),
      (null, 3L, 1.0), (2L, 3L, 2.0)).toDF("src", "dst", "w")
    val sp = bothPaths(DFGraphAlgs.shortestPaths(e, 1L, 6)).collect().toSeq
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(sp.count(_ == ((None, Some(2.0)))) == 1 && sp.count(_ == ((None, None))) == 1)
    val seeds = Seq[java.lang.Long](1L, null, 1L).toDF("seed")
    val ppr = bothPaths(DFGraphAlgs.personalizedPageRank(e, seeds, 3)).collect()
    assert(ppr.exists(r => r.isNullAt(0) && r.isNullAt(1) && r.getDouble(2) == 0.15))
    assert(ppr.exists(r => !r.isNullAt(0) && r.isNullAt(1)), "a message reaches the null id")
    assert(bothPaths(DFGraphAlgs.personalizedPageRank(e, seeds, 0)).count() == 3L)
  }

  /** Spark jobs `body` starts, counted by a listener under a job group of
    * its own. A marker job in a second group follows: listener events
    * arrive in order, so once its start is seen every job of `body` is. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-job-count-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) jobs.incrementAndGet()
          else if (g == s"$group-marker") marked.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a serving-sized path or PPR call over a persisted edge list is one Spark job") {
    val p = edgeDF.persist()
    try {
      assert(p.count() == 10L)
      val seed = spark.range(1).select(lit(1L).as("seed"))
      def path(): Unit = DFGraphAlgs.shortestPaths(p, 1L, 6).filter($"dist".isNotNull)
        .orderBy($"dist", $"id").limit(20).collect()
      def ppr(): Unit = DFGraphAlgs.personalizedPageRank(p, seed, 4).collect()
      assert(jobsOf(path()) == 1)
      assert(jobsOf(ppr()) == 1)
      onBsp {
        assert(jobsOf(path()) > 1)
        assert(jobsOf(ppr()) > 1)
      }
    } finally p.unpersist(false)
  }

  test("composite-key pageRankByRel equals per-relation pageRank runs") {
    val relEdges = Seq(
      ("x", 1L, 2L), ("x", 2L, 1L), ("x", 2L, 3L), ("x", 3L, 2L),
      ("y", 1L, 2L), ("y", 2L, 3L), ("y", 3L, 1L))
      .toDF("rel", "src", "dst")
    val multi = DFGraphAlgs.pageRankByRel(relEdges, 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Seq("x", "y").foreach { rel =>
      val single = DFGraphAlgs.pageRank(relEdges.filter($"rel" === rel), 4)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val mine = multi.collect { case ((rr, id), v) if rr == rel => id -> v }.toMap
      assert(mine == single, s"relation $rel diverged")
    }
  }

  test("composite pageRankByRel loop (struct rel) equals per-relation pageRank, salted too") {
    // A struct-typed rel cannot be bit-packed into one long id, so this
    // reaches the composite (rel, id) loop the packed path otherwise
    // hides — on the default path and under forced full salting.
    val relEdges = Seq(
      ("x", 1L, 2L), ("x", 2L, 1L), ("x", 2L, 3L), ("x", 3L, 2L),
      ("y", 1L, 2L), ("y", 2L, 3L), ("y", 3L, 1L))
      .toDF("r", "src", "dst").select(struct($"r").as("rel"), $"src", $"dst")
    def multi(): Map[(String, Long), Double] =
      DFGraphAlgs.pageRankByRel(relEdges, 4).collect()
        .map(r => (r.getStruct(0).getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val single = Seq("x", "y").flatMap { rel =>
      DFGraphAlgs.pageRank(relEdges.filter($"rel.r" === rel).select($"src", $"dst"), 4)
        .collect().map(r => (rel, r.getLong(0)) -> r.getDouble(1))
    }.toMap
    assert(multi() == single, "composite loop diverged from per-relation runs")
    spark.conf.set(DFGraphAlgs.StateBroadcastLimitConf, "0")
    spark.conf.set(DFGraphAlgs.SaltTargetDegConf, "1")
    try assert(multi() == single, "salted composite loop diverged")
    finally {
      spark.conf.unset(DFGraphAlgs.StateBroadcastLimitConf)
      spark.conf.unset(DFGraphAlgs.SaltTargetDegConf)
    }
  }

  test("a prebuilt contribution frame gives bit-identical pageRank and PPR") {
    // The query layer session-caches contribFrame and hands it back with
    // its memoized max out-degree; within the salt budget both loops
    // must then skip their own fill and still return the self-building
    // loops' exact doubles. Max out-degree of the micro graph is 3.
    val contrib = DFGraphAlgs.contribFrame(edgeDF).persist()
    val seeds = Seq(1L, 4L).toDF("seed")
    spark.conf.set(BroadcastThreshold, "-1")
    try {
      def pr(pc: Option[org.apache.spark.sql.DataFrame]) =
        DFGraphAlgs.pageRank(edgeDF, 5, knownMaxDeg = Some(3L), prebuiltContrib = pc)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      def ppr(pc: Option[org.apache.spark.sql.DataFrame]) =
        DFGraphAlgs.personalizedPageRank(edgeDF, seeds, 4, knownMaxDeg = Some(3L),
            prebuiltContrib = pc)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(pr(Some(contrib)) == pr(None), "prebuilt pageRank diverged")
      assert(ppr(Some(contrib)) == ppr(None), "prebuilt PPR diverged")
    } finally {
      contrib.unpersist(false)
      spark.conf.unset(BroadcastThreshold)
    }
  }

  test("hub-salted shuffle rounds give identical distances (single and multi source)") {
    // VERDICT r8 stretch: force the shuffle path (broadcast limit 0) with
    // every key salted (target degree 1, fanout = min(deg, 32)) — the
    // skew-spreading shape a power-law hub needs at the reference's
    // scale — and require bit-identical distances to the default path.
    val baselineSingle = DFGraphAlgs.shortestPaths(edgeDF, 1L, 6)
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap
    val baselineMulti = DFGraphAlgs.multiSourceShortestPaths(edgeDF, Seq(1L, 3L, 5L), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    spark.conf.set(DFGraphAlgs.StateBroadcastLimitConf, "0")
    spark.conf.set(DFGraphAlgs.SaltTargetDegConf, "1")
    spark.conf.set(BroadcastThreshold, "-1")
    try {
      val salted = DFGraphAlgs.shortestPaths(edgeDF, 1L, 6)
        .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
        .toMap
      assert(salted == baselineSingle, "salted single-source diverged")
      val saltedMulti = DFGraphAlgs.multiSourceShortestPaths(edgeDF, Seq(1L, 3L, 5L), 6)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(saltedMulti == baselineMulti, "salted multi-source diverged")
    } finally {
      spark.conf.unset(DFGraphAlgs.StateBroadcastLimitConf)
      spark.conf.unset(DFGraphAlgs.SaltTargetDegConf)
      spark.conf.unset(BroadcastThreshold)
    }
  }

  test("salting preserves components, predecessors, and LPA labels too") {
    // The same relaxation-join shape lives in connectedComponents,
    // shortestPathsWithPred, and labelPropagation — forced full salting
    // must leave all three bit-identical (incl. the pred forest's
    // deterministic tie-break and LPA's smallest-label tie-break).
    val sym = edgeDF.select($"src", $"dst")
      .union(edgeDF.select($"dst".as("src"), $"src".as("dst")))
    def all(): (Map[Long, Long], Map[Long, (Option[Double], Option[Long])], Map[Long, Long]) = {
      val cc = DFGraphAlgs.connectedComponents(sym, 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val pred = DFGraphAlgs.shortestPathsWithPred(edgeDF, 1L, 6)
        .collect().map(r => r.getLong(0) ->
          ((Option(r.get(1)).map(_.asInstanceOf[Double]),
            Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
      val lpa = DFGraphAlgs.labelPropagation(sym, 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (cc, pred, lpa)
    }
    val base = all()
    spark.conf.set(DFGraphAlgs.StateBroadcastLimitConf, "0")
    spark.conf.set(DFGraphAlgs.SaltTargetDegConf, "1")
    try assert(all() === base)
    finally {
      spark.conf.unset(DFGraphAlgs.StateBroadcastLimitConf)
      spark.conf.unset(DFGraphAlgs.SaltTargetDegConf)
    }
  }

  test("salting preserves the PageRank family bit-for-bit") {
    // The contribution join in pageRank / pageRankByRel /
    // personalizedPageRank carries the same hub exposure as the
    // relaxation joins; forced full salting must leave all three
    // identical — the message sum is a decimal aggregate, so even the
    // double ranks are bit-exact, not merely close.
    val relEdges = Seq(
      ("x", 1L, 2L), ("x", 2L, 1L), ("x", 2L, 3L), ("x", 3L, 2L),
      ("y", 1L, 2L), ("y", 2L, 3L), ("y", 3L, 1L))
      .toDF("rel", "src", "dst")
    val seeds = Seq(1L, 4L).toDF("seed")
    def all(): (Map[Long, Double], Map[(String, Long), Double], Map[(Long, Long), Double]) = {
      val pr = DFGraphAlgs.pageRank(edgeDF, 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val byRel = DFGraphAlgs.pageRankByRel(relEdges, 4)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val ppr = DFGraphAlgs.personalizedPageRank(edgeDF, seeds, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      (pr, byRel, ppr)
    }
    val base = all()
    spark.conf.set(DFGraphAlgs.StateBroadcastLimitConf, "0")
    spark.conf.set(DFGraphAlgs.SaltTargetDegConf, "1")
    spark.conf.set(BroadcastThreshold, "-1")
    try assert(all() === base)
    finally {
      spark.conf.unset(DFGraphAlgs.StateBroadcastLimitConf)
      spark.conf.unset(DFGraphAlgs.SaltTargetDegConf)
      spark.conf.unset(BroadcastThreshold)
    }
  }

  test("multiSourceShortestPaths agrees with per-source shortestPaths") {
    val sources = Seq(1L, 3L, 5L)
    val multi = DFGraphAlgs.multiSourceShortestPaths(edgeDF, sources, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    sources.foreach { s0 =>
      val single = bothPaths(DFGraphAlgs.shortestPaths(edgeDF, s0, 6))
        .filter($"dist".isNotNull)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val mine = multi.collect { case ((s, id), dd) if s == s0 => id -> dd }.toMap
      assert(mine == single, s"source $s0: $mine != $single")
    }
  }

  test("BFS hops: w=1 shortestPaths gives hop counts") {
    val got = bothPaths(DFGraphAlgs.shortestPaths(edgeDF.withColumn("w", lit(1.0)), 1L, 6))
      .filter($"dist".isNotNull)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 1.0, 3L -> 1.0, 4L -> 2.0))
  }

  test("pageRank: symmetric 2-cycle converges to rank 1 per vertex") {
    // On 5--6 (symmetric pair), outdeg=1 each: rank stays exactly 1.0.
    val pair = Seq((5L, 6L), (6L, 5L)).toDF("src", "dst")
    val got = DFGraphAlgs.pageRank(pair, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(5L) === 1.0 && got(6L) === 1.0)
  }

  test("pageRank: ranks sum to n when graph has no dangling mass loss") {
    val got = DFGraphAlgs.pageRank(edgeDF, 5)
    val total = got.agg(sum($"rank")).collect()(0).getDouble(0)
    // Symmetric graph: every vertex has outdeg >= 1, total mass preserved.
    assert(math.abs(total - 6.0) < 1e-9)
  }

  test("GraphX Pregel SSSP agrees with DataFrame shortestPaths") {
    val g = GraphAlgs.fromEdgeDF(edgeDF)
    val gx = GraphAlgs.sssp(g, 1L, 6).filter(_._2 < Double.PositiveInfinity)
      .collect().toMap
    val df = bothPaths(DFGraphAlgs.shortestPaths(edgeDF, 1L, 6)).filter($"dist".isNotNull)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gx == df)
  }

  test("GraphX pageRank agrees with DataFrame pageRank") {
    val g = GraphAlgs.fromEdgeDF(edgeDF)
    val gx = GraphAlgs.pageRank(g, 5).collect().toMap
    val df = DFGraphAlgs.pageRank(edgeDF, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gx.keySet == df.keySet)
    gx.foreach { case (id, r) => assert(math.abs(r - df(id)) < 1e-9, s"vertex $id") }
  }

  test("GraphX BFS agrees with DataFrame hop counts") {
    val g = GraphAlgs.fromEdgeDF(edgeDF)
    val gx = GraphAlgs.bfs(g, 1L, 6).collect().toMap
    val df = bothPaths(DFGraphAlgs.shortestPaths(edgeDF.withColumn("w", lit(1.0)), 1L, 6))
      .filter($"dist".isNotNull)
      .collect().map(r => r.getLong(0) -> r.getDouble(1).toInt).toMap
    assert(gx == df)
  }

  test("betweennessDeltas: hand-computed Brandes on a path and a diamond") {
    import spark.implicits._
    def bc(edges: Seq[(Long, Long)], sources: Seq[Long]): Map[Long, Double] = {
      val sym = (edges ++ edges.map(_.swap)).toDF("src", "dst")
      DFGraphAlgs.betweennessDeltas(sym, sources, 6)
        .filter($"id" =!= $"s0")
        .groupBy($"id").agg(org.apache.spark.sql.functions.sum($"delta").as("b"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    // Path 1-2-3-4-5, all sources: delta sums count ordered (s, t) pairs
    // whose shortest path passes v as an intermediate.
    val path = bc(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L), 1L to 5L)
    assert(path(2L) == 6.0 && path(3L) == 8.0 && path(4L) == 6.0)
    assert(path(1L) == 0.0 && path(5L) == 0.0)
    // Diamond 1-2-4, 1-3-4: every vertex sits on exactly half of the
    // two shortest paths of its opposite pair (sigma splits 0.5/0.5 for
    // 1~4 through {2,3} AND for 2~3 through {1,4}), so all-sources
    // betweenness is 1.0 everywhere — the sigma-ratio discipline, not
    // just path counting.
    val dia = bc(Seq(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L), Seq(1L, 2L, 3L, 4L))
    assert(dia(1L) == 1.0 && dia(2L) == 1.0 && dia(3L) == 1.0 && dia(4L) == 1.0)
  }

  test("betweennessDeltas(knownDists) is row-identical to self-discovery") {
    import spark.implicits._
    // The r13 optimization: level membership supplied by a precomputed
    // multi-source BFS instead of the growing seen/anti-join state. The
    // returned (s0, id, dist, delta) rows must be IDENTICAL — same σ
    // ratios, same exact-decimal δ sums — on a graph with multiple
    // shortest paths (the diamond) and a deep path.
    def rows(edges: Seq[(Long, Long)], sources: Seq[Long]) = {
      val sym = (edges ++ edges.map(_.swap)).toDF("src", "dst")
      val self = DFGraphAlgs.betweennessDeltas(sym, sources, 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSet
      val dists = DFGraphAlgs.multiSourceShortestPaths(
        sym.withColumn("w", lit(1.0)), sources, 6)
      val given = DFGraphAlgs.betweennessDeltas(sym, sources, 6,
        knownDists = Some(dists))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSet
      (self, given)
    }
    val (pSelf, pGiven) = rows(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L), 1L to 5L)
    assert(pSelf == pGiven)
    val (dSelf, dGiven) = rows(Seq(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L),
      Seq(1L, 2L, 3L, 4L))
    assert(dSelf == dGiven)
  }

  test("connectedComponents labels the two micro components by min id") {
    val comps = DFGraphAlgs.connectedComponents(edgeDF, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L))
    val viaGraphX = GraphAlgs.connectedComponents(GraphAlgs.fromEdgeDF(edgeDF), 4)
      .collect().toMap
    assert(viaGraphX == comps)
  }

  test("degrees: undirected degree on micro graph") {
    val got = DFGraphAlgs.degrees(edgeDF)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 4L, 2L -> 4L, 3L -> 6L, 4L -> 2L, 5L -> 2L, 6L -> 2L))
  }

  test("random-walk corpus: walks start at their root and follow edges") {
    val corpus = graft.ops.GraphPack.queries("graph_rw_corpus")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(corpus.nonEmpty)
    val byWalk = corpus.groupBy(t => (t._1, t._2))
    // Every walk is complete (5 nodes) and anchored at its root.
    byWalk.foreach { case ((root, _), steps) =>
      assert(steps.length == 5, s"walk from $root truncated")
      assert(steps.minBy(_._3)._4 == root, s"walk from $root not anchored")
    }
    // Every consecutive (node, next) pair is a real edge (edge_weights
    // lists the symmetric edge set).
    val edgeSet = {
      import spark.implicits._
      graft.ops.GraphPack.queries("graph_edge_weights")(spark, sf())
        .select($"src", $"dst").as[(Long, Long)].collect().toSet
    }
    byWalk.foreach { case (_, steps) =>
      steps.sortBy(_._3).sliding(2).foreach {
        case Array(a, b) => assert(edgeSet.contains((a._4, b._4)),
          s"step ${a._4} -> ${b._4} is not an edge")
        case _ =>
      }
    }
  }

  test("personalizedPageRank: symmetric seeds get mirror-image ranks") {
    // Path 1-2-3-4: seeds 1 and 4 are mirror images, so their rank
    // vectors must be reflections of each other; each seed holds its
    // own maximum (restart mass dominates at damping 0.85/4 rounds).
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val e = path.toDF("src", "dst")
    val sym = e.union(e.select($"dst".as("src"), $"src".as("dst")))
    val seeds = Seq(1L, 4L).toDF("seed")
    val r = bothPaths(DFGraphAlgs.personalizedPageRank(sym, seeds, 4))
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
    assert(math.abs(r((1L, 2L)) - r((4L, 3L))) < 1e-12, "mirror symmetry broken")
    assert(math.abs(r((1L, 1L)) - r((4L, 4L))) < 1e-12)
    assert(r((1L, 1L)) > r((1L, 2L)) && r((1L, 1L)) > r.getOrElse((1L, 3L), 0.0),
      "seed must dominate its own PPR vector")
    // Sparse-state contract: no rank row for a (seed, node) pair the
    // walk mass never reached beyond the 4 rounds... all reached here,
    // but every emitted rank must be strictly positive.
    assert(r.values.forall(_ > 0.0), "sparse state must hold nonzero mass only")
  }

  test("node2vec corpus: walks anchored, on-edge, and return-discouraged") {
    val corpus = graft.ops.GraphPack.queries("graph_node2vec")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(corpus.nonEmpty)
    val edgeSet = {
      graft.ops.GraphPack.queries("graph_edge_weights")(spark, sf())
        .select($"src", $"dst").as[(Long, Long)].collect().toSet
    }
    val byWalk = corpus.groupBy(t => (t._1, t._2))
    var backtracks = 0; var steps2plus = 0
    byWalk.foreach { case ((root, _), steps) =>
      val path = steps.sortBy(_._3).map(_._4)
      assert(path.head == root, s"walk from $root not anchored")
      path.sliding(2).foreach {
        case Array(a, b) => assert(edgeSet.contains((a, b)),
          s"step $a -> $b is not an edge")
        case _ =>
      }
      path.sliding(3).foreach {
        case Array(a, _, c) => steps2plus += 1; if (a == c) backtracks += 1
        case _ =>
      }
    }
    // p=4 (return weight 0.25) must suppress immediate backtracking well
    // below the uniform-walk rate on this hub-dominated graph.
    assert(steps2plus > 0)
    assert(backtracks.toDouble / steps2plus < 0.5,
      s"return bias ineffective: $backtracks/$steps2plus backtracks")
  }
}
