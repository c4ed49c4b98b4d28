package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** Shared helpers for oracle-comparable aggregates.
  *
  * The driver hash-compares our parquet output against DuckDB. Double
  * summation is order-dependent (shuffle order differs run to run and
  * engine to engine), so any SUM/AVG over a double column that lands in a
  * compared result goes through an exact decimal accumulation and is cast
  * back to double at the end — bit-identical in both engines. Scores that
  * are inherently float math (logs, cosines) are rounded to 6 places on
  * both sides instead.
  */
object OpsUtil {
  private val Dec = DecimalType(28, 4)

  /** Exact, order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast("double")

  /** Exact sum at unit scale (15 fractional digits) — for ratios, ranks,
    * and similarity scores where DECIMAL(28,4) would truncate. */
  def rsum(c: Column): Column = sum(c.cast("decimal(28,15)")).cast("double")

  /** Exact sum of moment terms (squares and cross products of measures),
    * whose integer part overflows DECIMAL(28,15)'s 13 digits at scale. */
  def msum(c: Column): Column = sum(c.cast("decimal(38,10)")).cast("double")

  /** Exact average: decimal sum divided (in double space) by count. */
  def davg(c: Column): Column = sum(c.cast(Dec)).cast("double") / count(lit(1))

  /** DuckDB-side SQL fragment matching [[dsum]]. */
  def dsumSql(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(28,4))) AS DOUBLE)"

  /** DuckDB-side SQL fragment matching [[davg]]. */
  def davgSql(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*)"

  /** Event-time column as exact epoch MICROS (long), adaptive to how the
    * fixture stores it — the event-log surface must survive a fixture
    * schema migration without every consumer caring:
    *  - `timestamp` (instant): `unix_micros` directly.
    *  - `timestamp_ntz` (naive, the parquet `isAdjustedToUTC=false` read):
    *    the wall clock IS the epoch clock — every session pins
    *    `spark.sql.session.timeZone=UTC`, so the cast to instant is the
    *    identity and matches DuckDB's `epoch_ns(ts)` on the same file.
    *  - `long`: legacy epoch-nanos (TIMESTAMP(NANOS) via nanosAsLong).
    */
  def tsMicros(df: DataFrame, c: String = "ts"): Column =
    df.schema(c).dataType match {
      case TimestampType    => unix_micros(col(c))
      case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
      case LongType         => expr(s"$c div 1000")
      case t => throw new IllegalArgumentException(
        s"unsupported event-time type for column '$c': $t")
    }

  /** Event-time as a proper TimestampType column (for watermarks and
    * window()/session_window()), same adaptivity as [[tsMicros]]. */
  def tsEventTime(df: DataFrame, c: String = "ts"): Column =
    df.schema(c).dataType match {
      case TimestampType    => col(c)
      case TimestampNTZType => col(c).cast(TimestampType)
      case LongType         => timestamp_micros(expr(s"$c div 1000"))
      case t => throw new IllegalArgumentException(
        s"unsupported event-time type for column '$c': $t")
    }
}
