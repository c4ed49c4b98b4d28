package linkbench

import org.apache.spark.sql.SparkSession

/** Digest of saved query results, for cross-checking the committed
  * digests against results the DuckDB oracle has verified:
  * `DigestParquet <dir> <op>...` reads `<dir>/<op>` (parquet, as written
  * by graft.Verify) and prints `<op> <rows> <hash>` per operation;
  * `DigestParquet --queries` prints the library queries the benchmark runs. */
object DigestParquet {
  def main(args: Array[String]): Unit = {
    if (args.sameElements(Seq("--queries"))) {
      println(KgPipelineCold.Queries.mkString(" "))
      return
    }
    val spark = SparkSession.builder().master("local[2]").appName("linkbench-digest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.tail.foreach { op =>
      val d = Sinks.digest(spark.read.parquet(s"${args.head}/$op"))
      println(s"$op ${d.rows} ${d.hash}")
    }
    spark.stop()
  }
}
