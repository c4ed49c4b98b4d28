package graft.tools

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the plan-evidence artifacts for optimization rounds (plans/rNN/).
  * Builds each query's DataFrame under [[graft.Session]], the config
  * Bench runs, so Exchange counts / join choices / PushedFilters match
  * what the bench actually runs. The final frame is not executed, but
  * building it may run actions (BSP rounds checkpoint, sizing probes
  * count): after the final plan, the file holds the executed plan of
  * every action that ran while the query was built, in order, each
  * under a `== action k: <name> ==` header (`localCheckpoint`,
  * `count`, …), as recorded by [[QueryRecorder]].
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [nameRegex] [sfDir]
  *   e.g. runMain graft.tools.PlanDump plans/r13 before "graph_pagerank|ml_train" /root/testdata/sf0.1
  * Writes <outDir>/<query>_<suffix>.txt per matching query.
  *
  * Plan identity: two runs of the SAME commit are not byte-identical
  * even after normalizing expression, plan, RDD and codegen ids — the
  * Expand column order of multi-`countDistinct` aggregates (e.g.
  * src_table_stats, ml_auc_exact, ml_chi2_features) and AQE stage
  * statistics (e.g. dedup_containment) vary between runs. A
  * before/after check therefore needs a same-commit rerun as its
  * baseline: a difference counts only where the rerun does not show it.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error(
      "usage: PlanDump <outDir> <suffix> [nameRegex] [sfDir]"))
    val suffix = if (args.length > 1) args(1) else "before"
    val rx = (if (args.length > 2) args(2) else ".*").r
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.Session(sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val sel = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => rx.findFirstIn(n).isDefined }
    sel.foreach { case (name, fn) =>
      val plan =
        try {
          val (df, actions) = QueryRecorder(spark)(fn(spark, sfDir))
          (("", df.queryExecution) +: actions).zipWithIndex.map { case ((action, qe), k) =>
            (if (k == 0) "" else s"\n== action $k: $action ==\n") +
              qe.explainString(org.apache.spark.sql.execution.FormattedMode)
          }.mkString
        } catch {
          case e: Throwable =>
            s"PLAN BUILD FAILED: ${e.getClass.getName}: ${e.getMessage}\n"
        }
      val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $p (${plan.length} chars)")
    }
    spark.stop()
  }
}
