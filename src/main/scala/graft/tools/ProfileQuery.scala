package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable

/** Stage-level profiler for one named SparkEntry query — the measurement
  * tool behind the per-round BSP cost work (perf claims in this repo are
  * measured, not guessed). Runs the query twice (pass 1 fills the shared
  * caches exactly like Bench's min-of-2 discipline) and prints, for the
  * SECOND pass only, every completed stage sorted by executor task time:
  * stage name/callsite, wall duration, summed task time, shuffle bytes
  * read/written, and records/tasks — enough to attribute a query's wall
  * clock to specific exchanges, sorts, and cache fills.
  *
  * Usage: runMain graft.tools.ProfileQuery <query> [sfDir]
  * A/B a conf variant without a recompile through a JVM property, which
  * [[graft.Session]] lets win over its defaults:
  *   set run / javaOptions += "-Dspark.sql.autoBroadcastJoinThreshold=-1"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: ProfileQuery <query> [sfDir]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Session(sfDir)
    spark.sparkContext.setLogLevel("WARN")

    final case class Row(id: Int, nameLine: String, wallMs: Long, taskMs: Long,
        shRead: Long, shWrite: Long, outRows: Long, tasks: Int)
    val rows = mutable.Buffer.empty[Row]
    var record = false
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = ev.stageInfo
          val m = si.taskMetrics
          val wall = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(0L)
          rows.synchronized {
            rows += Row(si.stageId,
              si.name.linesIterator.next().take(110),
              wall, m.executorRunTime,
              m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten,
              m.outputMetrics.recordsWritten.max(m.shuffleWriteMetrics.recordsWritten),
              si.numTasks)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    graft.ops.Warm.sharedIntermediates(spark, sfDir, Some(Set(name)))
    val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"no query $name"))
    val t1 = System.nanoTime(); fn(spark, sfDir).count()
    System.err.println(f"[profile] pass1 ${(System.nanoTime() - t1) / 1e9}%.2f s")
    record = true
    val t2 = System.nanoTime(); fn(spark, sfDir).count()
    val wall2 = (System.nanoTime() - t2) / 1e9
    record = false
    System.err.println(f"[profile] pass2 $wall2%.2f s — stages by task time:")
    val sorted = rows.sortBy(-_.taskMs)
    System.err.println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%9s " +
      f"${"shR_MB"}%8s ${"shW_MB"}%8s ${"rows"}%12s ${"tasks"}%6s  name")
    sorted.foreach { r =>
      System.err.println(f"${r.id}%6d ${r.wallMs}%8d ${r.taskMs}%9d " +
        f"${r.shRead / 1e6}%8.1f ${r.shWrite / 1e6}%8.1f ${r.outRows}%12d " +
        f"${r.tasks}%6d  ${r.nameLine}")
    }
    System.err.println(f"[profile] total task_ms pass2: ${sorted.map(_.taskMs).sum}")
    spark.stop()
  }
}
