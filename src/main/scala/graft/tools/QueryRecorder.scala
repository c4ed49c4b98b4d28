package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** The actions a block ran in a session — every checkpoint, count,
  * collect… — read through Spark's public QueryExecutionListener: each
  * as (action name, its QueryExecution), in completion order. The
  * QueryExecution carries the executed plans and the observed metrics
  * (a BSP round's checkpoint posts `__graft_bsp`, so a loop's rounds
  * are its observations − 1).
  *
  * Listener events arrive asynchronously on Spark's listener bus, which
  * delivers in posting order: the block is followed by a marker action
  * (a named observe over spark.range(1)), and the events are taken up
  * to the marker, by which point every action of the block has arrived.
  * A bus that drops events (its queue full) fails the wait after five
  * minutes instead of hanging. */
object QueryRecorder {
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[(String, QueryExecution)]) = {
    val marker = s"__graft_recorder_${java.util.UUID.randomUUID()}"
    val arrived = new LinkedBlockingQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        arrived.put(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).observe(marker, count(lit(1)).as("n")).collect()
      def next() = Option(arrived.poll(5, TimeUnit.MINUTES)).getOrElse(
        throw new IllegalStateException(s"no listener event for $marker in 5 minutes"))
      (out, Iterator.continually(next()).takeWhile(!_._2.observedMetrics.contains(marker)).toVector)
    } finally spark.listenerManager.unregister(listener)
  }
}
