package linkbench

/** Per-layer metrics of a traced phase: each timed operation's job group
  * joined with what the ledger recorded for it. Totals are per unit of
  * work (a pass, or 16 requests), so runs of any length compare. */
object Layers {
  type Metric = (String, Double, String, Double)

  def apply(groups: Map[String, GroupStats], recs: Seq[OpRecord], units: Double,
      fills: Seq[(String, Double)], newPersists: Int, overheadFrac: Double): Seq[Metric] = {
    val empty = new GroupStats
    def st(r: OpRecord): GroupStats = groups.getOrElse(r.group, empty)
    val n = recs.size.toDouble
    def perUnit(f: GroupStats => Double): Double = recs.map(r => f(st(r))).sum / math.max(units, 1e-9)
    def medianS(rs: Seq[OpRecord]): Double = Stats.median(rs.map(_.seconds))

    val queries = recs.filterNot(_.name.contains('.')).groupBy(_.name).toSeq.sortBy(_._1)
    val opMetrics = queries.flatMap { case (q, rs) => Seq(
      (s"op.${q}_s", medianS(rs), "s", rs.size.toDouble),
      (s"op.$q.jobs", rs.map(st(_).jobs.toDouble).sum / rs.size, "count", rs.size.toDouble)) }
    val etl = recs.filter(_.kind == "etl").groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (e, rs) => (s"${e}_s", medianS(rs), "s", rs.size.toDouble) }
    val serve = recs.filter(_.name.startsWith("serve.")).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (e, rs) => (s"${e}_ms", medianS(rs) * 1000, "ms", rs.size.toDouble) }
    val graph = recs.filter(_.kind == "graph")
    val graphMetrics = Seq(
      ("graph.calls", graph.size / math.max(units, 1e-9), "count", graph.size.toDouble),
      ("graph.call_s", if (graph.isEmpty) 0.0 else graph.map(_.seconds).sum / graph.size, "s", graph.size.toDouble),
      ("graph.jobs_per_call", if (graph.isEmpty) 0.0 else graph.map(st(_).jobs).sum.toDouble / graph.size,
        "count", graph.size.toDouble))
    val cache = ("cache.fill_s", fills.map(_._2).sum, "s", fills.size.toDouble) +:
      fills.map { case (e, s) => (s"cache.fill.${e}_s", s, "s", 1.0) } :+
      (("cache.new_persists", newPersists.toDouble, "count", 1.0))
    val mb = 1048576.0
    val exec = Seq(
      ("plan.analysis_ms", perUnit(_.analysisMs), "ms", n),
      ("plan.optimization_ms", perUnit(_.optimizationMs), "ms", n),
      ("plan.planning_ms", perUnit(_.planningMs), "ms", n),
      ("exec.jobs", perUnit(_.jobs.toDouble), "count", n),
      ("exec.stages", perUnit(_.stages.toDouble), "count", n),
      ("exec.tasks", perUnit(_.tasks.toDouble), "count", n),
      ("exec.driver_s", recs.map(r => driverSeconds(r, st(r))).sum / math.max(units, 1e-9), "s", n),
      ("exec.task_s", perUnit(_.taskMs / 1e3), "s", n),
      ("exec.cpu_s", perUnit(_.cpuNs / 1e9), "s", n),
      ("exec.gc_s", perUnit(_.gcMs / 1e3), "s", n),
      ("shuffle.write_mb", perUnit(_.shuffleWrite / mb), "MB", n),
      ("shuffle.read_mb", perUnit(_.shuffleRead / mb), "MB", n),
      ("shuffle.fetch_wait_s", perUnit(_.fetchWaitMs / 1e3), "s", n),
      ("spill.mb", perUnit(_.spill / mb), "MB", n),
      ("scan.input_mb", perUnit(_.inputBytes / mb), "MB", n),
      ("scan.records", perUnit(_.inputRecords.toDouble), "count", n),
      ("trace.overhead_frac", overheadFrac, "ratio", n))
    opMetrics ++ etl ++ serve ++ graphMetrics ++ cache ++ exec
  }

  /** An operation's wall time not covered by any of its jobs: planning
    * plus driver-side blocking. */
  def driverSeconds(r: OpRecord, s: GroupStats): Double = {
    val spans = s.jobSpans.map { case (a, b) => (math.max(a, r.startMs), math.min(b, r.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    spans.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, r.seconds - covered / 1e3)
  }
}
