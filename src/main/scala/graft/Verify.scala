package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Legacy-fixture compat: if events.parquet stores TIMESTAMP(NANOS)
      // (no native Spark type), read it as epoch-nanos long; the current
      // fixtures store naive TIMESTAMP(MICROS) (timestamp_ntz), which
      // OpsUtil.tsMicros converts under the UTC session pin above.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fixture-sized scan splits — see Tables.scanSplitBytes; open cost
      // lowered with it so many-small-file scans (the ETL landing) still
      // pack files into shared splits (rationale in Bench)
      .config("spark.sql.files.maxPartitionBytes",
        graft.tables.Tables.scanSplitBytes(sfDir, cpus.toInt))
      .config("spark.sql.files.openCostInBytes", 64L * 1024)
      // Stall-proofing (rationale in Bench): local-mode heartbeats are
      // in-process; the default 120 s timeout only adds a kill switch
      // that a host-steal stall can trip mid-sweep.
      .config("spark.network.timeout", "900s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (the driver never sets it): run only queries
    // whose name matches the regex.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    // A failed query is logged and the sweep goes on (every other result
    // and the oracle dump are still written); the exit status reports it.
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Oracle dump keyed explicitly on THIS run's data dir (the sf-scaled
    // EtlPack entries otherwise read a last-query-ran global).
    val json = SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
