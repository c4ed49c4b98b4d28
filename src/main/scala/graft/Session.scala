package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session: Bench, Verify, the tools and the
  * test suite all build through here, so the configuration the tests run
  * is the configuration the bench measures.
  *
  * Per-caller differences are explicit `overrides`. A key set as a
  * `spark.*` JVM system property (`-Dspark.k=v`, e.g. sbt's
  * `set run / javaOptions += "-Dspark.k=v"`) keeps that value over both
  * the factory default and the caller's override — the A/B path for a
  * conf variant without a recompile. Log levels stay with the callers. */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The factory's settings for a session over fixture dir `sfDir` on
    * `cpus` local cores, `overrides` applied, then `spark.*` entries of
    * `props` (the JVM system properties by default) winning over both. */
  def settings(sfDir: String, cpus: Int, overrides: Seq[(String, String)] = Nil,
      props: collection.Map[String, String] = sys.props): Seq[(String, String)] = {
    val base = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false",
      // UTC pin: events.ts is naive TIMESTAMP(MICROS) (timestamp_ntz) —
      // OpsUtil.tsMicros' epoch conversion and DuckDB's epoch_ns agree
      // only when the session clock is UTC.
      "spark.sql.session.timeZone" -> "UTC",
      // Legacy-fixture compat: an events.parquet storing TIMESTAMP(NANOS)
      // (no native Spark type) reads as an epoch-nanos long.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // fixture-sized scan splits — see Tables.scanSplitBytes. The open
      // cost must drop with the split size: its default (4 MB) models an
      // HDFS open, and any file whose padded cost reaches the split size
      // gets a partition of its own — which turned the 2000-file ETL
      // landing scan into 2000 tasks (etl_sparql_* 3× slower) the moment
      // splits shrank below 4 MB. 64 KB keeps small files packing ~40 to
      // a split on a local FS where open is cheap.
      "spark.sql.files.maxPartitionBytes" ->
        graft.tables.Tables.scanSplitBytes(sfDir, cpus).toString,
      "spark.sql.files.openCostInBytes" -> (64L * 1024).toString,
      // Local-mode heartbeats are in-process, so the 120 s default
      // timeout protects nothing — it's only a kill switch. The r13 sf30
      // spot died from it: a ~3-minute whole-JVM stall (host CPU steal)
      // starved the heartbeat thread, HeartbeatReceiver "removed" the
      // only executor, BlockManager re-registration then spun on the
      // CoarseGrainedScheduler endpoint (which doesn't exist under
      // LocalSchedulerBackend), and 60 failed heartbeats later the
      // executor killed the JVM (exit 56) mid-capture, shredding the
      // live shuffle dirs. Generous values make a stall cost only its
      // own wall time.
      "spark.network.timeout" -> "900s",
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.sql.extensions" -> "graft.ext.GraftExtensions")
    val value = (base ++ overrides).toMap
    (base ++ overrides).map(_._1).distinct.map(k => k -> props.getOrElse(k, value(k)))
  }

  /** `SparkSession.builder()` with [[settings]], then `getOrCreate()`. */
  def apply(sfDir: String, cpus: Int = cpus,
      overrides: Seq[(String, String)] = Nil): SparkSession =
    settings(sfDir, cpus, overrides).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v) }.getOrCreate()
}
