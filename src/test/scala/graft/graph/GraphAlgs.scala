package graft.graph

import org.apache.spark.graphx.{Edge, EdgeDirection, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GraphX implementations of the reference's graph queries (SURVEY.md §2.7)
  * — the RDD/Pregel oracle for the DataFrame programs in
  * [[graft.ops.GraphPack]]. Semantics are identical by construction
  * (synchronous rounds, same recurrences); GraphSpec asserts agreement.
  *
  * Ref: weighted Dijkstra (bfs.py:91-117), one-to-many batch distances
  * (bfs.py:119-147), per-relation PageRank (data_processor.py:56-78).
  */
object GraphAlgs {

  /** Build a GraphX graph from an edge DataFrame with (src, dst, w). */
  def fromEdgeDF(edges: DataFrame): Graph[Unit, Double] = {
    val rdd: RDD[Edge[Double]] = edges
      .select(col("src").cast("long"), col("dst").cast("long"),
        coalesce(col("w"), lit(1.0)).cast("double"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    Graph.fromEdges(rdd, ())
  }

  /** Fixed-iteration PageRank matching GraphPack.graph_pagerank:
    * r0 = 1, r_{k+1} = 0.15 + 0.85 * Σ_in r_k(src)/outdeg(src).
    * (GraphX's staticPageRank has the same recurrence; re-derived here via
    * aggregateMessages so the contract is explicit and testable.) */
  def pageRank(g: Graph[Unit, Double], iters: Int): RDD[(VertexId, Double)] = {
    val outdeg = g.outDegrees
    var ranks: RDD[(VertexId, Double)] = g.vertices.mapValues(_ => 1.0)
    val withDeg = g.outerJoinVertices(outdeg) { (_, _, d) => d.getOrElse(0) }
    for (_ <- 1 to iters) {
      val rg = withDeg.outerJoinVertices(ranks) { (_, deg, r) => (deg, r.getOrElse(0.0)) }
      val msgs = rg.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr._2 / ctx.srcAttr._1),
        _ + _)
      ranks = g.vertices.leftOuterJoin(msgs)
        .mapValues { case (_, m) => 0.15 + 0.85 * m.getOrElse(0.0) }
    }
    ranks
  }

  /** Pregel single-source shortest paths (weighted, fixed max rounds).
    * Returns (vertex, distance); unreached vertices carry infinity. */
  def sssp(g: Graph[Unit, Double], source: VertexId, maxIters: Int): RDD[(VertexId, Double)] = {
    val init = g.mapVertices((id, _) => if (id == source) 0.0 else Double.PositiveInfinity)
    val res = init.pregel(Double.PositiveInfinity, maxIters, EdgeDirection.Out)(
      (_, dist, msg) => math.min(dist, msg),
      triplet =>
        if (triplet.srcAttr + triplet.attr < triplet.dstAttr)
          Iterator((triplet.dstId, triplet.srcAttr + triplet.attr))
        else Iterator.empty,
      (a, b) => math.min(a, b))
    res.vertices
  }

  /** Connected components via GraphX's built-in label propagation —
    * the RDD twin of DFGraphAlgs.connectedComponents (min vertex id
    * per component). */
  def connectedComponents(g: Graph[Unit, Double], maxIters: Int): RDD[(VertexId, VertexId)] =
    g.connectedComponents(maxIters).vertices

  /** Unweighted BFS hop counts from one source (Pregel, fixed rounds). */
  def bfs(g: Graph[Unit, Double], source: VertexId, maxIters: Int): RDD[(VertexId, Int)] = {
    val MaxD = Int.MaxValue / 2
    val init = g.mapVertices((id, _) => if (id == source) 0 else MaxD)
    val res = init.pregel(MaxD, maxIters, EdgeDirection.Out)(
      (_, d, msg) => math.min(d, msg),
      t => if (t.srcAttr + 1 < t.dstAttr) Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
      (a, b) => math.min(a, b))
    res.vertices.filter(_._2 < MaxD)
  }
}
