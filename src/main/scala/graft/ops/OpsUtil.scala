package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType,
  ShortType, StructType, TimestampNTZType, TimestampType}

/** Shared helpers for oracle-comparable aggregates, and the one-task
  * rule every serving-sized call goes through (see [[oneTask]]).
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

  // ---- The one-task path ----
  //
  // A serving-sized call — DFGraphAlgs.shortestPaths and
  // personalizedPageRank, api.Similarity.bruteForceTopK — runs as ONE
  // Spark task over its input in one partition when the input fits the
  // rule Spark itself uses to ship a relation whole: one job per request,
  // no per-request planning of the full query. Every such call has one
  // shape: it asks [[oneTask]] first; on the path it runs a hand-written
  // kernel over [[onePartition]] of its input and builds its result
  // schema from the input's types; it builds its DataFrame plan only when
  // it falls back to it — above the threshold, with
  // spark.sql.autoBroadcastJoinThreshold=-1 or with non-integral ids.
  // This object holds the selection rule only; each kernel lives next to
  // its call. The threshold is a shipping size, not a cost bound: it fits
  // calls whose per-row work is light. Fuzzy scoring
  // (api.Search.fuzzyTopK) is not: its partial-ratio windows cost
  // O(Δlen·min²) per row, and no workload measures where one interpreted
  // task stops beating the parallel generated-code plan.

  /** Byte, short, int and long: the id types of the one-task path. */
  private[graft] def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Whether a call runs on the one-task path: with integral `ids`, when
    * `copies` copies of `df`'s optimized-plan size estimate fit
    * spark.sql.autoBroadcastJoinThreshold (−1 turns the path off). The
    * one place the threshold is read (BenchContractSpec guards it);
    * `copies` is only evaluated when the ids pass. */
  private[graft] def oneTask(df: DataFrame, ids: Seq[DataType])(copies: => BigInt): Boolean =
    ids.forall(integral) &&
      copies * df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold

  /** A frame's plan-stats row estimate: its row count, else bytes / 8. */
  private[graft] def rowEstimate(df: DataFrame): BigInt = {
    val st = df.queryExecution.optimizedPlan.stats
    st.rowCount.getOrElse(st.sizeInBytes / 8)
  }

  /** Whether `df` already reads materialized data: its plan, with cached
    * data substituted, is only deterministic Project / Filter /
    * non-shuffle Repartition nodes over InMemoryRelation (a persisted or
    * DFCache frame) or checkpointed LogicalRDD leaves (a LogicalRDD over
    * an RDD that is neither checkpointed nor persisted is a lineage, not
    * data). Re-scanning such a frame costs a narrow pass over blocks
    * already held: `DFGraphAlgs.mat` uses it in place instead of
    * checkpointing a copy, [[onePartition]] coalesces it. */
  private[graft] def inMemory(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def narrow(p: LogicalPlan): Boolean = p match {
      case _: InMemoryRelation => true
      case r: LogicalRDD =>
        r.rdd.isCheckpointed || r.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case Project(list, child) => list.forall(_.deterministic) && narrow(child)
      case Filter(cond, child) => cond.deterministic && narrow(child)
      case Repartition(_, false, child) => narrow(child)
      case _ => false
    }
    narrow(df.queryExecution.withCachedData)
  }

  /** The name of the RDD a one-task kernel's rows come from; the
    * `LogicalRDD` of the kernel's result frame carries it. */
  private[graft] val OneTaskRdd = "graft.oneTask"

  /** A one-task kernel's result: `kernel` over the rows of `df` in one
    * partition — a narrow coalesce over data already in memory
    * ([[inMemory]]), a one-partition shuffle over a lineage — read as
    * Spark's own `InternalRow`s (no conversion to `Row`; a kept row must be
    * copied, Spark reuses it), and its small result as a frame of
    * `schema`. */
  private[graft] def onePartition(df: DataFrame, narrow: Boolean, schema: StructType)(
      kernel: Iterator[InternalRow] => Iterator[Row]): DataFrame = {
    val one = if (narrow) df.coalesce(1) else df.repartition(1)
    df.sparkSession.createDataFrame(
      one.queryExecution.toRdd.mapPartitions(kernel).setName(OneTaskRdd), schema)
  }
}
