package linkbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.Graft
import graft.ops.DFCache
import graft.tables.Tables

/** The reference app's interactive traffic against a warm session: a
  * closed loop of two clients sharing one SparkSession, each sending its
  * next request only when the last one returned. The seed alone fixes
  * every request's parameters and their order; the stream is generated
  * in set-up, before the timed window. */
final class LinkServing(a: Main.Args) extends Workload(a) {
  import LinkServing._

  private var in: Inputs = _
  private var stream: IndexedSeq[Request] = IndexedSeq.empty
  private val next = new AtomicInteger(0)
  private val answers = new ConcurrentLinkedQueue[(OpRecord, Request, Array[Row])]()

  protected def prepare(s: SparkSession): Seq[(String, Double)] = {
    val d = a.data
    def fill(name: String)(build: => DataFrame): (DataFrame, (String, Double)) = {
      val t0 = System.nanoTime()
      val df = DFCache.cached(s, s"linkbench.$name:$d")(build)
      df.count()
      (df, name -> (System.nanoTime() - t0) / 1e9)
    }
    val (names, f1) = fill("serve.names")(Tables.customer(s, d).select(col("c_custkey"), col("c_name")))
    val (emb, f2) = fill("serve.emb")(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
    // The co-purchase graph GraphPack's queries walk (its own edge lists
    // are package-private): customer <-> supplier, symmetric, supplier ids
    // offset past every customer id, w = 1 + the pair's least discount.
    val pairs = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("c"), (col("l_suppkey") + SuppOffset).as("p"))
      .agg((lit(1.0) + min(col("l_discount"))).as("w"))
    val (wedges, f3) = fill("serve.wedges")(
      pairs.select(col("c").as("src"), col("p").as("dst"), col("w"))
        .union(pairs.select(col("p").as("src"), col("c").as("dst"), col("w"))))
    val (edges, f4) = fill("serve.edges")(wedges.select(col("src"), col("dst")))
    val maxDeg = edges.groupBy(col("src")).count().agg(max(col("count"))).head().getLong(0)
    val maxW = wedges.agg(max(col("w"))).head().getDouble(0)
    val nameRows = names.orderBy(col("c_custkey")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val embRows = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val customers = edges.filter(col("src") < SuppOffset).select(col("src")).distinct()
      .orderBy(col("src")).collect().map(_.getLong(0))
    stream = LinkServing.stream(a.seed, nameRows.map(_._2), embRows.keys.toArray.sorted, customers)
    val seeds = stream.collect { case Ppr(x) => x }.distinct
    val nbrs = edges.filter(col("src").isin(seeds: _*)).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    in = Inputs(names, emb, edges, wedges, maxDeg, maxW, embRows, nbrs)
    Main.log(s"inputs ready: ${stream.size} requests generated")
    // JIT and codegen warm-up: the same closed loop over a stream of its
    // own for a fixed time; latencies keep falling for about that long.
    val warm = LinkServing.stream(~a.seed, nameRows.map(_._2), embRows.keys.toArray.sorted,
      customers, blocks = 64)
    val warmed = new AtomicInteger(0)
    closedLoop(warm, warmed, System.nanoTime() + WarmupSeconds * 1000000000L) { r =>
      try execute(s, r) catch { case _: Throwable => () }
    }
    Main.log(s"warm-up done: ${warmed.get} requests")
    Seq(f1, f2, f3, f4)
  }

  private def execute(s: SparkSession, r: Request): Array[Row] = r match {
    case Fuzzy(q) =>
      Graft.search.fuzzyTopK(in.names, "c_custkey", "c_name", q, MinScore, K).collect()
    case Vec(id) =>
      Graft.similarity.bruteForceTopK(in.emb, "vec_id", "embedding", id, K).collect()
    case Path(src) =>
      Graft.graph.shortestPaths(in.wedges, src, PathRounds, Some(in.maxDeg))
        .filter(col("dist").isNotNull && col("id") =!= src)
        .orderBy(col("dist"), col("id")).limit(PathK).collect()
    case Ppr(seed) =>
      val seeds = s.range(1).select(lit(seed).as("seed"))
      val linked = in.edges.filter(col("src") === seed).select(col("dst").as("id"))
      Graft.graph.personalizedPageRank(in.edges, seeds, PprRounds, Some(in.maxDeg))
        .filter(col("id") =!= seed)
        .join(linked, Seq("id"), "left_anti")
        .orderBy(col("rank").desc, col("id")).limit(K)
        .select(col("id"), col("rank")).collect()
  }

  /** `Clients` threads, each taking the next request of `reqs` only when
    * its last one returned, until `deadline` (System.nanoTime). */
  private def closedLoop(reqs: IndexedSeq[Request], next: AtomicInteger, deadline: Long)
      (serve: Request => Unit): Unit = {
    val clients = (1 to Clients).map { c =>
      new Thread(() => {
        while (System.nanoTime() < deadline) serve(reqs(next.getAndIncrement() % reqs.size))
      }, s"linkbench-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
  }

  protected def timedPhase(s0: SparkSession, ops: Ops, deadline: Long): Seq[Double] = {
    val s = traced(s0)
    val t0 = System.nanoTime()
    closedLoop(stream, next, deadline) { req =>
      val (rec, rows) = ops.timed(req.op, req.kind)(execute(s, req))
      rows.foreach(rs => answers.add((rec, req, rs)))
    }
    // Check every answer, after the window.
    answers.asScala.foreach { case (rec, req, rows) =>
      check(req, rows).foreach(ops.fail(rec, _)) }
    answers.clear()
    Seq((System.nanoTime() - t0) / 1e9)
  }

  /** None when the answer is right, else why it is not. */
  private def check(req: Request, rows: Array[Row]): Option[String] = req match {
    case Fuzzy(_) =>
      val (ids, scores) = Checks.rowsOf(rows, "c_custkey", "score")
      if (rows.length > K) Some(s"${rows.length} rows > $K")
      else if (scores.exists(_ < MinScore)) Some("score below threshold")
      else if (!Checks.scoreOrdered(scores, ids)) Some("not in (score desc, id asc) order")
      else None
    case Vec(id) =>
      val got = rows.map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      val want = Checks.vectorTopK(in.embeddings, id, K)
      if (got != want) Some(s"top-k $got, expected $want") else None
    case Path(src) =>
      val (ids, dists) = Checks.rowsOf(rows, "id", "dist")
      if (rows.length > PathK) Some(s"${rows.length} rows > $PathK")
      else if (ids.contains(src)) Some("source in its own result")
      else if (dists.exists(d => d < 1.0 || d > PathRounds * in.maxW)) Some("distance out of range")
      else if (!Checks.distOrdered(dists, ids)) Some("not in (dist asc, id asc) order")
      else None
    case Ppr(seed) =>
      val (ids, ranks) = Checks.rowsOf(rows, "id", "rank")
      val linked = in.neighbours.getOrElse(seed, Set.empty)
      if (rows.length > K) Some(s"${rows.length} rows > $K")
      else if (ids.contains(seed)) Some("seed in its own result")
      else if (ids.exists(linked)) Some("existing neighbour recommended")
      else if (ranks.exists(_ <= 0.0)) Some("non-positive rank")
      else if (!Checks.scoreOrdered(ranks, ids)) Some("not in (rank desc, id asc) order")
      else None
  }

  override protected def units(passes: Seq[Double], recs: Seq[OpRecord]): Double =
    recs.size / Block.toDouble

  /** Seconds per block of four requests at the window's throughput. A
    * request straddling the end of the window counts for the share of it
    * that falls inside, so the last request does not swing the rate. */
  override protected def passSeconds(passes: Seq[Double], recs: Seq[OpRecord],
      window: (Long, Long)): Double = {
    val (w0, w1) = window
    val done = recs.map { r =>
      val inside = math.min(r.endMs, w1) - math.max(r.startMs, w0)
      if (r.endMs <= r.startMs) 1.0 else math.max(0.0, inside.toDouble / (r.endMs - r.startMs))
    }.sum
    (w1 - w0) / 1e3 * Block / math.max(done, 1e-9)
  }

  override protected def extraJson(recs: Seq[OpRecord], passS: Double): Seq[(String, Json)] = {
    def ms(names: Set[String], q: Double) =
      Stats.quantile(recs.filter(r => r.ok && names(r.name)).map(_.seconds * 1000), q)
    val lookups = Set("serve.fuzzy", "serve.vec_topk")
    val paths = Set("serve.path", "serve.ppr")
    Seq("serving" -> Json.obj(
      "requests" -> Json.num(recs.size),
      "req_per_s" -> Json.num(Block / passS),
      "lookup_n" -> Json.num(recs.count(r => r.ok && lookups(r.name))),
      "path_n" -> Json.num(recs.count(r => r.ok && paths(r.name))),
      "lookup_p50_ms" -> Json.num(ms(lookups, 0.5)), "lookup_p90_ms" -> Json.num(ms(lookups, 0.9)),
      "path_p50_ms" -> Json.num(ms(paths, 0.5)), "path_p90_ms" -> Json.num(ms(paths, 0.9))))
  }
}

object LinkServing {
  val Clients = 2
  val K = 10
  val PathK = 20
  val PathRounds = 6
  val PprRounds = 4
  val MinScore = 60.0
  val WarmupSeconds = 16
  /** Requests per unit of work: one of each type. */
  val Block = 4
  /** Supplier vertex ids sit above every customer id. */
  val SuppOffset: Long = 1L << 40

  sealed trait Request { def op: String; def kind: String }
  final case class Fuzzy(query: String) extends Request { def op = "serve.fuzzy"; def kind = "search" }
  final case class Vec(id: Long) extends Request { def op = "serve.vec_topk"; def kind = "similarity" }
  final case class Path(src: Long) extends Request { def op = "serve.path"; def kind = "graph" }
  final case class Ppr(seed: Long) extends Request { def op = "serve.ppr"; def kind = "graph" }

  final case class Inputs(names: DataFrame, emb: DataFrame, edges: DataFrame, wedges: DataFrame,
      maxDeg: Long, maxW: Double, embeddings: Map[Long, Array[Float]],
      neighbours: Map[Long, Set[Long]])

  /** The seeded request stream: blocks of one request of each type in a
    * seeded order, so every stretch of it carries the same mix. A fuzzy query is a seeded customer name, lower-cased,
    * with one seeded character edit. */
  def stream(seed: Long, names: Array[String], vecIds: Array[Long], customers: Array[Long],
      blocks: Int = 1024): IndexedSeq[Request] = {
    val rnd = new scala.util.Random(seed)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789#"
    def edit(s0: String): String = {
      val s = s0.toLowerCase
      val i = rnd.nextInt(s.length)
      val c = alphabet(rnd.nextInt(alphabet.length))
      rnd.nextInt(3) match {
        case 0 => s.substring(0, i) + c + s.substring(i + 1)
        case 1 => s.substring(0, i) + s.substring(i + 1)
        case _ => s.substring(0, i) + c + s.substring(i)
      }
    }
    (0 until blocks).flatMap { _ =>
      val kinds = rnd.shuffle(Seq(0, 1, 2, 3))
      kinds.map {
        case 0 => Fuzzy(edit(names(rnd.nextInt(names.length))))
        case 1 => Vec(vecIds(rnd.nextInt(vecIds.length)))
        case 2 => Path(customers(rnd.nextInt(customers.length)))
        case _ => Ppr(customers(rnd.nextInt(customers.length)))
      }
    }
  }
}
