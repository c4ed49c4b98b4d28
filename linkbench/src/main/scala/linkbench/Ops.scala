package linkbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** One timed call into the library: the operation, its kind, its job
  * group, its wall-clock span, the phase of the run it belongs to, and
  * the error if it threw or failed its check. */
final case class OpRecord(name: String, kind: String, group: String,
    startMs: Long, endMs: Long, seconds: Double, phase: Int, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Runs each operation under its own job group and records its span.
  * Spans stay in memory; they are written out when the run ends. */
final class Ops(spark: SparkSession) {
  private val seq = new AtomicLong(0)
  private val recs = new ConcurrentLinkedQueue[OpRecord]()
  /** Phase of the run new records belong to. */
  @volatile var phase = 0

  def records: Seq[OpRecord] = recs.asScala.toSeq

  /** Time `body` as operation `name` under a job group of its own on the
    * calling thread; a throw is recorded as a failure, never rethrown. */
  def timed[T](name: String, kind: String)(body: => T): (OpRecord, Option[T]) = {
    val sc = spark.sparkContext
    val group = s"$name#${seq.incrementAndGet()}"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Right(body)
      catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    val sec = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    sc.clearJobGroup()
    val rec = OpRecord(name, kind, group, startMs, endMs, sec, phase, out.left.toOption)
    recs.add(rec)
    (rec, out.toOption)
  }

  /** Mark an already-timed operation failed: its check found a wrong answer. */
  def fail(rec: OpRecord, why: String): Unit =
    if (recs.remove(rec)) recs.add(rec.copy(error = Some(why)))
}

object Sinks {
  /** Consume the whole result, every column, and return its digest: the
    * row count and the wrapping sum of each row's 64-bit hash, which does
    * not depend on row order. Like the noop writer it evaluates the full
    * physical plan without keeping rows, where count() would let the
    * optimizer prune columns. It runs as a named SQL execution, so the
    * planner listener and the job group see it like any Dataset action. */
  def digest(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("linkbench.digest")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = r match { case u: UnsafeRow => u; case o => proj(o) }
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator(Digest(n, h))
      }.collect().foldLeft(Digest(0L, 0L)) { (x, y) => Digest(x.rows + y.rows, x.hash + y.hash) }
    }
  }
}

final case class Digest(rows: Long, hash: Long)
