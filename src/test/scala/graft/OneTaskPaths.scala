package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Runs a serving call on both of its paths — the one-task path
  * (graft.ops.OpsUtil.oneTask) and the DataFrame plan it replaces — and
  * counts the Spark jobs a call starts. Shared by GraphSpec (the BSP
  * loop is the DataFrame plan) and LookupSpec. */
trait OneTaskPaths { self: SparkSpec =>

  /** Spark's ship-it-whole limit; -1 turns the one-task path off. */
  protected val BroadcastThreshold = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` with the session conf `key` set to `value`, restored after. */
  protected def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body` with the one-task path off: the DataFrame plan runs. */
  protected def offOneTask[T](body: => T): T = withConf(BroadcastThreshold, "-1")(body)

  /** Whether `df` reads a one-task kernel's rows: its analyzed plan holds
    * the `LogicalRDD` over the RDD named `OpsUtil.OneTaskRdd`. */
  protected def oneTaskPlan(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case r: LogicalRDD if r.rdd.name == graft.ops.OpsUtil.OneTaskRdd => r
    }.isDefined

  /** The rows of `df` as a multiset, doubles by their bits. */
  protected def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
      case x => x
    }).groupBy(identity).map { case (k, v) => k -> v.size }

  /** `run` on the default path, which must take the one-task path, and
    * with that path off: the same schema and the same rows, double for
    * double. Returns the default path's frame. */
  protected def bothPaths(run: => DataFrame): DataFrame = {
    val one = run
    offOneTask {
      val other = run
      assert(oneTaskPlan(one) && !oneTaskPlan(other),
        "expected a one-task plan by default and none with the path off")
      assert(one.schema == other.schema, s"schema ${one.schema} != ${other.schema}")
      assert(bag(one) == bag(other), "the one-task rows differ from the DataFrame plan's")
    }
    one
  }

  /** Spark jobs `body` starts, counted by a listener under a job group of
    * its own. A marker job in a second group follows: listener events
    * arrive in order, so once its start is seen every job of `body` is. */
  protected def jobsOf(body: => Unit): Int = {
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
}
