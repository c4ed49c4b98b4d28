package graft

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, BinaryComparison, Literal}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.ParamLiteral
import graft.graph.DFGraphAlgs

/** graft.ext.ParamLiteralRule: generated filters and projections read
  * their primitive constants from the generated class's references. The
  * rows equal the interpreted plan's for every rewritten type and its
  * edge values, and a second call that differs only in a constant
  * compiles no new class. */
class ParamLiteralSpec extends SparkSpec with OneTaskPaths {
  import spark.implicits._

  /** `body` with whole-stage codegen off and expressions interpreted. */
  private def interpreted[T](body: => T): T =
    withConf("spark.sql.codegen.wholeStage", "false")(
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(body))

  /** A value, a float or double by its bits. */
  private def bit(x: Any): Any = x match {
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case f: Float => ("float", java.lang.Float.floatToIntBits(f))
    case _ => x
  }

  /** The rows of `df` as a multiset, floats and doubles by their bits. */
  private def bits(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map(bit)).groupBy(identity).map { case (k, v) => k -> v.size }

  /** The operators of the plan `df` last executed. */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    def all(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case _ => p +: p.children.flatMap(all)
    }
    all(df.queryExecution.executedPlan)
  }

  /** The [[ParamLiteral]]s of the plan `df` last executed. */
  private def params(df: DataFrame): Seq[ParamLiteral] =
    nodes(df).flatMap(_.expressions.flatMap(_.collect { case l: ParamLiteral => l }))

  /** The non-null literals left where the rule rewrites: comparison
    * operands and projected constants of the filters and projections of
    * the plan `df` last executed. */
  private def literalsLeft(df: DataFrame): Seq[Literal] = {
    val exprs = nodes(df).flatMap {
      case f: FilterExec => Seq(f.condition)
      case p: ProjectExec => p.projectList
      case _ => Nil
    }
    exprs.flatMap(_.collect {
      case c: BinaryComparison => c.children.collect { case l: Literal if l.value != null => l }
      case Alias(l: Literal, _) if l.value != null => Seq(l)
    }.flatten)
  }

  /** `q` over `df` with code generated and interpreted: the same rows. */
  private def sameRows(q: => DataFrame): DataFrame = {
    val got = q
    val want = bits(interpreted(q))
    assert(bits(got) == want, s"generated rows differ from interpreted:\n${got.queryExecution.executedPlan}")
    got
  }

  /** Compiles `body` adds, counted by Spark's codegen metrics. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private val Pruning = "spark.sql.inMemoryColumnarStorage.partitionPruning"

  /** Every rewritten type with its edge values. */
  private val values: Seq[(DataType, Seq[Any])] = Seq(
    BooleanType -> Seq(true, false),
    ByteType -> Seq(Byte.MinValue, 0.toByte, 7.toByte, Byte.MaxValue),
    ShortType -> Seq(Short.MinValue, 0.toShort, 7.toShort, Short.MaxValue),
    IntegerType -> Seq(Int.MinValue, 0, 7, Int.MaxValue),
    LongType -> Seq(Long.MinValue, -1L, 0L, 7L, Long.MaxValue),
    FloatType -> Seq(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity, Float.NegativeInfinity,
      1.5f, Float.MinValue),
    DoubleType -> Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      2.5, Double.MinValue, Double.MinPositiveValue),
    DateType -> Seq(Date.valueOf("1969-12-31"), Date.valueOf("1970-01-01"),
      Date.valueOf("2024-02-29")),
    TimestampType -> Seq(Timestamp.valueOf("1969-12-31 23:59:59.999999"),
      Timestamp.valueOf("2024-02-29 12:00:00.000001")),
    TimestampNTZType -> Seq(LocalDateTime.parse("1969-12-31T23:59:59.999999"),
      LocalDateTime.parse("2024-02-29T12:00:00.000001")))

  /** A column `x` of type `t` holding each of `vs` twice and a null. */
  private def frame(t: DataType, vs: Seq[Any]): DataFrame = {
    val rows = (vs ++ vs :+ null).zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("i", LongType), StructField("x", t))))
  }

  test("filters and projected constants equal the interpreted plan, cached and over parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft-param").toString
    try for ((t, vs) <- values) {
      val base = frame(t, vs)
      val path = s"$dir/${t.typeName}"
      base.write.parquet(path)
      val cached = base.persist()
      assert(cached.count() == 2 * vs.size + 1)
      try for ((df, where) <- Seq(cached -> "cached", spark.read.parquet(path) -> "parquet");
               v <- vs) {
        val x = col("x")
        // The optimizer folds some of these (x = true is x), so each plan
        // must keep no literal where the rule rewrites, and the four
        // together must hold a parameter.
        val paramCounts = Seq(x === lit(v), x < lit(v), lit(v) <= x, !(x <=> lit(v))).map { f =>
          val got = sameRows(df.filter(f).select(col("i"), x))
          assert(literalsLeft(got).isEmpty, s"$where $t $v: $f kept ${literalsLeft(got)}")
          params(got).size
        }
        assert(paramCounts.sum > 0, s"$where $t $v: no filter holds a parameter")
        val projected = sameRows(df.select(col("i"), lit(v).as("p"), (x > lit(v)).as("gt"),
          (x >= lit(v)).as("ge"), (x === lit(v)).as("eq"), (x <=> lit(v)).as("ens")))
        assert(literalsLeft(projected).isEmpty && params(projected).nonEmpty,
          s"$where $t $v: kept ${literalsLeft(projected)}")
        assert(projected.collect().forall(r => bit(r.get(1)) == bit(v)),
          s"$where $t $v: the projected constant changed")
      } finally cached.unpersist(true)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("null literals, rand seeds and round scales stay literals and still work") {
    val df = frame(LongType, Seq(1L, 2L, 3L))
    for (t <- Seq(IntegerType, LongType, DoubleType)) {
      val nul = lit(null).cast(t)
      assert(sameRows(df.filter(col("x").cast(t) === nul)).collect().isEmpty)
      assert(sameRows(df.filter(col("x").cast(t) <=> nul)).count() == 1)
      val p = sameRows(df.select(col("i"), nul.as("p")))
      assert(p.collect().forall(_.isNullAt(1)) && params(p).isEmpty)
    }
    val r = sameRows(df.select(col("i"), rand(42).as("r"), round(col("x") / 3.0, 2).as("q")))
    assert(params(r).isEmpty, "a rand seed or a round scale became a parameter")
  }

  test("a date-range filter over a cached sorted frame keeps cached-batch pruning") {
    val start = Date.valueOf("2020-01-01").toLocalDate
    val days = withConf("spark.sql.inMemoryColumnarStorage.batchSize", "100") {
      val d = spark.range(0, 5000, 1, 1).select(col("id"),
        date_add(lit(Date.valueOf(start)), col("id").cast("int")).as("d"))
        .sortWithinPartitions(col("d")).persist()
      assert(d.count() == 5000L)
      d
    }
    try {
      val (lo, hi) = (Date.valueOf(start.plusDays(1234)), Date.valueOf(start.plusDays(1300)))
      def q = days.filter(col("d") >= lit(lo) && col("d") < lit(hi))
      val got = sameRows(q)
      assert(got.count() == 66L)
      assert(got.collect().map(_.getLong(0)).sorted.toSeq == (1234L until 1300L))
      val scans = withConf("spark.sql.inMemoryTableScanStatistics.enable", "true") {
        val df = q
        df.collect()
        df.queryExecution.executedPlan.collect { case s: InMemoryTableScanExec => s }
      }
      assert(scans.size == 1 && scans.head.readBatches.value == 1L,
        s"${scans.map(_.readBatches.value)} of 50 batches read: pruning lost")
    } finally days.unpersist(true)
  }

  test("a second call with a new constant compiles no new class") {
    val cached = spark.range(0, 4000, 1, 2).select(col("id").as("x"), (col("id") % 7).as("y"))
      .persist()
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 5L), (5L, 6L), (6L, 2L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.map { case (a, b) => (a + 1000, b + 1000) }
      .toDF("src", "dst").persist()
    val wedges = edges.select(col("src"), col("dst"), lit(1.0).as("w")).persist()
    try {
      assert(cached.count() == 4000L && edges.count() == 14L && wedges.count() == 14L)
      def filter(v: Long): Unit = cached.filter(col("x") === v).collect()
      def path(src: Long): Unit = DFGraphAlgs.shortestPaths(wedges, src, 6)
        .filter(col("dist").isNotNull && col("id") =!= src)
        .orderBy(col("dist"), col("id")).limit(20).collect()
      def ppr(seed: Long): Unit = {
        val seeds = spark.range(1).select(lit(seed).as("seed"))
        val linked = edges.filter(col("src") === seed).select(col("dst").as("id"))
        DFGraphAlgs.personalizedPageRank(edges, seeds, 4)
          .filter(col("id") =!= seed).join(linked, Seq("id"), "left_anti")
          .orderBy(col("rank").desc, col("id")).limit(10).collect()
      }
      // Each pair: a warm call, then a call that differs only in its constant.
      val calls = Seq[(String, Long => Unit, Seq[Long])](("filter", filter, Seq(1234L, 2345L, 3456L)),
        ("path", path, Seq(1001L, 1003L, 1006L)), ("ppr", ppr, Seq(1002L, 1004L, 1005L)))
      for ((name, call, Seq(a, b, c)) <- calls) {
        withConf(Pruning, "false") {
          call(a)
          assert(compiles(call(b)) == 0, s"$name compiled a class for a new constant")
        }
        // With cached-batch pruning on, the one class a new constant
        // compiles is the pruning predicate over the batch statistics,
        // built from the scan's own predicates (which keep their
        // literals); a call without a scan predicate compiles none.
        assert(compiles(call(c)) == (if (name == "path") 0 else 1), s"$name with pruning")
      }
    } finally {
      cached.unpersist(true)
      edges.unpersist(true)
      wedges.unpersist(true)
    }
  }

  test("explain output prints a parameter exactly as its literal") {
    val df = spark.range(10).select(col("id"), lit(7L).as("k"), lit(Date.valueOf("2024-02-29")).as("d"))
      .filter(col("id") > 3L && col("id") =!= lit(5L))
    df.collect()
    assert(params(df).size == 4)
    val plan = df.queryExecution.executedPlan
    val literals = plan.transformAllExpressions { case p: ParamLiteral => p.lit }
    assert(plan.toString == literals.toString)
    assert(plan.toString.contains("7 AS k#") && plan.toString.contains("2024-02-29 AS d#"), plan)
    assert(params(df).map(_.sql).toSet == Set("3L", "5L", "7L", "DATE '2024-02-29'"))
  }
}
