package linkbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Work one job group caused, as the scheduler and the SQL planner saw it. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
  /** (start, end) wall-clock millis of every job of the group. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Per-job-group ledger built only from public listener APIs: a
  * SparkListener for jobs, stages, tasks, shuffle, spill, GC and input,
  * and a QueryExecutionListener for the planner's phase times. Every
  * operation the benchmark times runs under its own job group, so each
  * number lands on the operation that caused it. Both listeners run on
  * Spark's listener-bus threads; all state is guarded by `this`. */
final class Ledger extends SparkListener with QueryExecutionListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private val phases = mutable.HashMap.empty[Long, (Double, Double, Double)]
  private var events = 0L

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val g = groupOf(e.properties)
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    stats(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    for (g <- jobGroup.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      stats(g).jobSpans += ((t0, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    stageGroup.get(e.stageInfo.stageId).foreach(stats(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(stageGroup.getOrElse(e.stageId, ""))
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      events += 1
      execGroup(s.executionId) = s.jobGroupId.getOrElse("")
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      events += 1
      pending.foreach(phases(end.executionId) = _)
      pending = None
    }
    case _ =>
  }

  /** Planner phases of the execution whose end event is being delivered.
    * The session's listener bus calls onSuccess/onFailure while
    * delivering SparkListenerSQLExecutionEnd, on the shared listener
    * queue and before this listener's own onOtherEvent for the same event
    * (callers keep this listener registered last), which pairs the
    * phases with the execution id, and through it with the job group. */
  private var pending: Option[(Double, Double, Double)] = None

  private def record(qe: QueryExecution): Unit = synchronized {
    events += 1
    val p = qe.tracker.phases
    def ms(k: String): Double = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    pending = Some((ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Block until no listener event has arrived for `quietMs` (bounded by
    * `maxMs`), so every event of the measured section is in. */
  def drain(quietMs: Long = 400, maxMs: Long = 15000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = synchronized(events)
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        System.currentTimeMillis() - quietSince < quietMs) {
      Thread.sleep(50)
      val now = synchronized(events)
      if (now != last) { last = now; quietSince = System.currentTimeMillis() }
    }
  }

  /** Every group's stats, with the planner phases of its SQL executions
    * folded in. */
  def snapshot(): Map[String, GroupStats] = synchronized {
    phases.foreach { case (id, (a, o, p)) =>
      execGroup.get(id).foreach { g =>
        val s = stats(g)
        s.analysisMs += a; s.optimizationMs += o; s.planningMs += p
      }
    }
    phases.clear()
    groups.toMap
  }
}
