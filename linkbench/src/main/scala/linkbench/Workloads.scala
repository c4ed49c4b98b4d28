package linkbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.api.Etl
import graft.ops.{EtlPack, Warm}

/** A workload: set-up, then a timed phase of operations for the run's
  * time. `setup_s` runs from the JVM's launch to the first timed
  * operation. A traced run adds two half-length phases after the
  * untraced one: one with the ledger attached, then one without, so the
  * tracing overhead compares two phases in the same JIT state.
  * End-to-end numbers come from the first, untraced phase only. */
abstract class Workload(val a: Main.Args) {
  /** Build the workload's inputs in `s` and warm what it must; returns
    * fill seconds per named cache. */
  protected def prepare(s: SparkSession): Seq[(String, Double)]

  /** Run operations until `deadline` (System.nanoTime), at least one unit
    * of work. Returns the seconds of each unit of work. */
  protected def timedPhase(s: SparkSession, ops: Ops, deadline: Long): Seq[Double]

  /** Fill seconds per cache entry for a traced run of a workload whose
    * timed phase fills its caches itself; empty when set-up fills them. */
  protected def fillProbe(base: SparkSession): Seq[(String, Double)] = Nil

  /** Result fields only this workload has (request samples). */
  protected def extraJson(recs: Seq[OpRecord], passS: Double): Seq[(String, Json)] = Nil

  /** Units of work in a phase, for per-unit layer metrics. */
  protected def units(passes: Seq[Double], recs: Seq[OpRecord]): Double = passes.size.toDouble

  /** Seconds per unit of work: the median pass. */
  protected def passSeconds(passes: Seq[Double], recs: Seq[OpRecord], window: (Long, Long)): Double =
    Stats.median(passes)

  /** The ledger while the traced phase runs. Planner listeners belong to
    * a session, so every session a phase uses must register it. */
  @volatile private var tracer: Option[Ledger] = None
  private val tracedSessions = mutable.Set.empty[SparkSession]

  protected def traced(s: SparkSession): SparkSession = synchronized {
    tracer.filter(_ => tracedSessions.add(s)).foreach { l =>
      s.listenerManager.register(l)
      // Keep the ledger after this session's listener bus on the shared queue.
      s.sparkContext.removeSparkListener(l)
      s.sparkContext.addSparkListener(l)
    }
    s
  }

  final def run(spark: SparkSession, ledger: Option[Ledger]): Json.Obj = {
    val fills = prepare(spark)
    Main.log("set-up done")
    val ops = new Ops(spark)
    val persistsBefore = spark.sparkContext.getPersistentRDDs.size
    val firstTimedMs = System.currentTimeMillis()
    val setupS = (firstTimedMs - a.launchedMs) / 1e3
    def phase(n: Int): (Seq[Double], (Long, Long)) = {
      ops.phase = n
      val ms = if (n == 0) a.seconds * 1000L else a.seconds * 500L
      val t0 = System.currentTimeMillis()
      val p = timedPhase(spark, ops, System.nanoTime() + ms * 1000000L)
      (p, (t0, t0 + ms))
    }
    val (plain, plainWin) = phase(0)
    val traced = ledger.map { l =>
      spark.sparkContext.addSparkListener(l)
      tracer = Some(l)
      val t = phase(1)
      tracer = None
      tracedSessions.foreach(_.listenerManager.unregister(l))
      spark.sparkContext.removeSparkListener(l)
      l.drain()
      (t, phase(2))
    }
    val newPersists = spark.sparkContext.getPersistentRDDs.size - persistsBefore
    val cacheMb = Main.cacheMb(spark)
    val recs = ops.records
    def inPhase(n: Int) = recs.filter(_.phase == n)
    val plainRecs = inPhase(0)
    val passS = passSeconds(plain, plainRecs, plainWin)
    val e2e = Seq(
      ("setup_s", setupS, "s", 1.0),
      ("pass_s", passS, "s", units(plain, plainRecs)),
      ("op_gmean_ms", Stats.gmeanMs(plainRecs.filter(_.ok)), "ms", plainRecs.size.toDouble),
      ("cache_mb", cacheMb, "MB", 1.0))
    val layers = ledger.zip(traced).map { case (l, ((tp, tw), (ap, aw))) =>
      val tr = inPhase(1)
      val overhead = passSeconds(tp, tr, tw) / passSeconds(ap, inPhase(2), aw) - 1.0
      val f = fillProbe(spark) match { case Nil => fills; case probed => probed }
      Layers(l.snapshot(), tr, units(tp, tr), f, newPersists, overhead)
    }
    Json.obj(
      "setup" -> Json.obj("setup_s" -> Json.num(setupS),
        "fills" -> Json.obj(fills.map { case (k, v) => k -> Json.num(v) }: _*)),
      "passes" -> Json.arr(plain.map(Json.num)),
      "attempted" -> Json.num(recs.size),
      "failed" -> Json.num(recs.count(!_.ok)),
      "failures" -> Json.arr(recs.filterNot(_.ok).map(r => Json.str(s"${r.name}: ${r.error.get}"))),
      "end_to_end" -> metricsJson(e2e),
      "spans" -> Json.arr(recs.sortBy(_.startMs).map(r => Json.obj(
        "op" -> Json.str(r.name), "kind" -> Json.str(r.kind), "group" -> Json.str(r.group),
        "start_ms" -> Json.num(r.startMs.toDouble), "end_ms" -> Json.num(r.endMs.toDouble),
        "s" -> Json.num(r.seconds), "phase" -> Json.num(r.phase),
        "error" -> r.error.map(Json.str).getOrElse(Json.Raw("null")))))) ++
      Json.Obj(extraJson(plainRecs, passS)) ++
      layers.map(ls => Json.obj("per_layer" -> metricsJson(ls))).getOrElse(Json.obj())
  }

  protected def metricsJson(ms: Seq[(String, Double, String, Double)]): Json.Obj =
    Json.Obj(ms.map { case (n, v, u, k) =>
      n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u), "n" -> Json.num(k)) })
}

/** Batch workloads: a pass runs every operation once, in order, and
  * consumes each result through the digest sink; the digest is checked
  * against the committed one after the operation's span ends. */
abstract class BatchWorkload(a: Main.Args) extends Workload(a) {
  protected val expected = new Expected(a.digests, a.data, a.recordDigests)
  protected lazy val queries = SparkEntry.queries

  /** The session a pass runs in (untimed). */
  protected def sessionForPass(prev: SparkSession): SparkSession = prev

  protected def pass(s: SparkSession, ops: Ops): Unit

  protected def checked(ops: Ops, name: String, kind: String)(df: => DataFrame): Unit = {
    val (rec, d) = ops.timed(name, kind)(Sinks.digest(df))
    d.foreach { dg => expected.check(name, dg).foreach(ops.fail(rec, _)) }
  }

  protected def query(ops: Ops, s: SparkSession, name: String): Unit =
    checked(ops, name, if (name.startsWith("graph_")) "graph" else "op")(queries(name)(s, a.data))

  protected def timedPhase(s0: SparkSession, ops: Ops, deadline: Long): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    var s = s0
    while (out.isEmpty || System.nanoTime() < deadline) {
      s = traced(sessionForPass(s))
      val t0 = System.nanoTime()
      pass(s, ops)
      out += (System.nanoTime() - t0) / 1e9
    }
    out.toSeq
  }

  override protected def extraJson(recs: Seq[OpRecord], passS: Double): Seq[(String, Json)] =
    Seq("observed_digests" -> expected.observedJson)
}

/** Cold batch pipeline: every pass starts in a fresh session with every
  * cache dropped, so each DFCache entry the operations share is filled
  * inside the timed pass, as a batch job pays on every run. */
final class KgPipelineCold(a: Main.Args) extends BatchWorkload(a) {
  private val names = KgPipelineCold.Queries
  private val scale = EtlPack.scaleFor(a.data)
  private var landing = ""

  protected def prepare(s: SparkSession): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    landing = EtlPack.ensureFixture(scale)
    Seq("etl.landing" -> (System.nanoTime() - t0) / 1e9)
  }

  override protected def sessionForPass(prev: SparkSession): SparkSession = {
    Main.dropCaches(prev)
    prev.newSession()
  }

  protected def pass(s: SparkSession, ops: Ops): Unit = {
    // The SPARQL landing chain through the public graft.api.Etl, each
    // stage persisted for the next, as the pipeline runs it.
    val flat = Etl.flattenSparql(s, landing).persist()
    checked(ops, "etl.flatten", "etl")(flat)
    val clean = Etl.cleanSparql(flat).persist()
    checked(ops, "etl.clean", "etl")(clean)
    val edges = Etl.edges(clean).persist()
    checked(ops, "etl.edges", "etl")(edges)
    val nodes = Etl.nodes(clean, EtlPack.occupations(s, scale)).persist()
    checked(ops, "etl.nodes", "etl")(nodes)
    checked(ops, "etl.weights", "etl")(Etl.edgeWeights(edges, nodes))
    Seq(flat, clean, edges, nodes).foreach(_.unpersist(false))
    names.foreach(query(ops, s, _))
  }

  override protected def fillProbe(base: SparkSession): Seq[(String, Double)] = {
    Main.dropCaches(base)
    Warm.sharedIntermediates(base.newSession(), a.data, Some(names.toSet))
  }
}

object KgPipelineCold {
  /** The library queries of a pass, after the ETL chain, in order. */
  val Queries = Seq(
    "etl_sparql_reconcile", "search_wratio_autojoin", "graph_degrees",
    "ml_link_split", "ml_neg_sampling", "ml_train_eval", "etl_bucketed_join")
}
