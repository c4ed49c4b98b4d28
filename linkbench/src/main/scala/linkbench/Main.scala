package linkbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.tables.Tables

/** The benchmark's JVM side: builds a session with graft.Bench's
  * settings, runs one workload for a fixed time, checks every result and
  * writes raw samples plus metrics as one JSON file. `run.py` builds
  * this, starts it and prints the result. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, out: String, cpus: Int, launchedMs: Long, localDir: String,
      digests: String, recordDigests: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("data"), req("out"), req("cpus").toInt, req("launched-ms").toLong, req("local-dir"),
      req("digests"), m.get("record-digests").contains("1"))
  }

  /** graft.Bench's session settings, plus a local dir inside the checkout. */
  def settings(a: Args): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${a.cpus}]",
    "spark.sql.shuffle.partitions" -> a.cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.files.maxPartitionBytes" -> Tables.scanSplitBytes(a.data, a.cpus).toString,
    "spark.sql.files.openCostInBytes" -> (64L * 1024).toString,
    "spark.network.timeout" -> "900s",
    "spark.executor.heartbeatInterval" -> "60s",
    "spark.sql.extensions" -> "graft.ext.GraftExtensions",
    "spark.local.dir" -> a.localDir,
    "spark.sql.warehouse.dir" -> s"${sys.props("java.io.tmpdir")}/warehouse")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    launchedMs = a.launchedMs
    val loadStart = loadavg()
    val b = settings(a).foldLeft(SparkSession.builder().appName("linkbench")) {
      case (b, (k, v)) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log(s"session up; workload ${a.workload}, seed ${a.seed}, trace ${a.trace}")
    val ledger = if (a.trace) Some(new Ledger) else None
    val w: Workload = a.workload match {
      case "kg_pipeline_cold" => new KgPipelineCold(a)
      case "link_serving" => new LinkServing(a)
      case other => sys.error(s"unknown workload $other")
    }
    val res = w.run(spark, ledger)
    log("timed phases done")
    // One host-speed reading, in traced runs only: it costs seconds, and
    // end-to-end runs are kept short. It gates nothing.
    val calibration =
      if (a.trace) graft.Bench.calibrationProbe(spark, reps = 1) else Double.NaN
    val host = Json.obj(
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors()),
      "cpus" -> Json.num(a.cpus),
      "loadavg_start" -> Json.str(loadStart),
      "loadavg_end" -> Json.str(loadavg()),
      "calibration_probe_s" -> Json.num(calibration),
      "calibration_ref_s" -> Json.num(graft.Bench.CalRefSec),
      "session" -> Json.obj(settings(a).map { case (k, v) => k -> Json.str(v) }: _*))
    val out = Json.obj(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed.toDouble),
      "trace" -> Json.bool(a.trace), "host" -> host) ++ res
    Files.write(Paths.get(a.out), out.render.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** A progress line on stderr, stamped with seconds since launch. */
  def log(msg: String): Unit =
    System.err.println(f"[linkbench +${(System.currentTimeMillis() - launchedMs) / 1e3}%.1fs] $msg")
  @volatile private var launchedMs = System.currentTimeMillis()

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case _: Throwable => "" }

  /** MB held by persisted RDDs and checkpoints (memory plus disk), read
    * once a GC has let the context cleaner drop unreferenced BSP
    * checkpoints: after GCs until two readings agree. */
  def cacheMb(spark: SparkSession): Double = {
    def read(): Double = {
      System.gc()
      Thread.sleep(300)
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    }
    var last = read()
    var now = read()
    var tries = 0
    while (now != last && tries < 8) { last = now; now = read(); tries += 1 }
    now
  }

  /** Drop every cached frame of every session, so the next session starts cold. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
