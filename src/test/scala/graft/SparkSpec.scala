package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, reused session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = SparkSpec.sf(dir)
}

object SparkSpec {
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Bench's configuration at a fixed 4 cores, so the suite does not
    * change with the host's core count. */
  val Cpus = 4

  lazy val session: SparkSession = {
    val s = Session(sf(), Cpus)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
