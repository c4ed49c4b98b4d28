package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.api.{Search, Similarity}

/** The serving lookups. The vector lookup, `Similarity.bruteForceTopK`,
  * on both of its paths: every value case runs as one task by default
  * (the lookup's own kernel, which builds no DataFrame plan of the
  * lookup) and as the DataFrame plan with the one-task path off, and must
  * give the same schema and the same rows, double for double. The name
  * lookup, `Search.fuzzyTopK`, keeps its DataFrame plan; its rows must
  * equal a top-k over the composed Column WRatio ([[FuzzyOracle]]), id,
  * score and order, double for double. */
class LookupSpec extends SparkSpec with OneTaskPaths {
  import spark.implicits._

  /** Query 0 is [1, 0, 0]; a tie at cosine 1 (ids 1 and 4); a null
    * vector, a length mismatch and a zero vector (null cosines, ranked
    * last); a NaN component (NaN ranks first, Spark's double order); a
    * null id, which matches neither side of the query filter. */
  private def vectors: DataFrame = Seq[(java.lang.Long, Array[Float])](
    (0L, Array(1f, 0f, 0f)), (1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)),
    (3L, Array(0.7f, 0.7f, 0f)), (4L, Array(2f, 0f, 0f)), (5L, null),
    (6L, Array(1f, 0f)), (7L, Array(0f, 0f, 0f)), (8L, Array(Float.NaN, 0f, 0f)),
    (9L, Array(-1f, 0f, 0f)), (null, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")

  private def topK(df: DataFrame, queryId: Long, k: Int): DataFrame =
    Similarity.bruteForceTopK(df, "vec_id", "embedding", queryId, k)

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  test("bruteForceTopK: null, mismatched, zero and NaN vectors agree on both paths") {
    val top3 = rows(bothPaths(topK(vectors, 0L, 3)))
    assert(top3.head.head == 8L && top3.head(1).asInstanceOf[Double].isNaN)
    assert(top3.tail == Seq(Seq(1L, 1.0), Seq(4L, 1.0)))
    // k beyond the row count: every other non-null id, null cosines last.
    val all = rows(bothPaths(topK(vectors, 0L, 100)))
    assert(all.map(_.head) == Seq(8L, 1L, 4L, 3L, 2L, 9L, 5L, 6L, 7L))
    assert(all.takeRight(3).forall(_(1) == null))
  }

  test("bruteForceTopK: duplicated and absent query ids agree on both paths") {
    // Two rows under id 0: each is a query vector, every candidate scores
    // against both.
    val dup = vectors.union(Seq[(java.lang.Long, Array[Float])]((0L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding"))
    val both = rows(bothPaths(topK(dup, 0L, 100)))
    assert(both.size == 2 * 9)
    assert(both.count(_ == Seq(2L, 1.0)) == 1 && both.count(_ == Seq(2L, 0.0)) == 1)
    assert(rows(bothPaths(topK(vectors, 42L, 5))).isEmpty)
  }

  test("bruteForceTopK: IntegerType ids take the one-task path") {
    val ints = vectors.select($"vec_id".cast("int").as("vec_id"), $"embedding")
    assert(rows(bothPaths(topK(ints, 0L, 3))).map(_.head) == Seq(8, 1, 4))
  }

  test("bruteForceTopK: array<double> vectors and ShortType and ByteType ids agree on both paths") {
    val doubles = vectors.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val all = rows(bothPaths(topK(doubles, 0L, 100)))
    assert(all.map(_.head) == Seq(8L, 1L, 4L, 3L, 2L, 9L, 5L, 6L, 7L))
    for ((t, v) <- Seq("short" -> ((x: Int) => x.toShort), "byte" -> ((x: Int) => x.toByte))) {
      val narrow = vectors.select($"vec_id".cast(t).as("vec_id"), $"embedding")
      val top = bothPaths(topK(narrow, 0L, 3))
      assert(top.schema("vec_id").dataType.typeName == t)
      assert(rows(top).map(_.head) == Seq(8, 1, 4).map(v))
    }
  }

  test("bruteForceTopK: k = 0 and an all-tie candidate set agree on both paths") {
    assert(rows(bothPaths(topK(vectors, 0L, 0))).isEmpty)
    // Every candidate scores 1.0 against the query: the id order alone
    // decides, whatever order the rows arrive in.
    val ties = Seq(7L, 3L, 11L, 0L, 5L, 2L, 13L, 1L).map(i => (i, Array(3f, 4f, 0f)))
      .toDF("vec_id", "embedding")
    assert(rows(bothPaths(topK(ties, 0L, 4))) == Seq(1L, 2L, 3L, 5L).map(Seq(_, 1.0)))
  }

  test("bruteForceTopK: a negative k raises on both paths") {
    intercept[org.apache.spark.sql.AnalysisException](topK(vectors, 0L, -1))
    offOneTask(intercept[org.apache.spark.sql.AnalysisException](topK(vectors, 0L, -1)))
  }

  test("a StringType id or an input over the threshold keeps the DataFrame plan") {
    val sv = vectors.select($"vec_id".cast("string").as("vec_id"), $"embedding")
    val s = topK(sv, 0L, 3)
    assert(!oneTaskPlan(s))
    assert(rows(s).map(_.head) == Seq("8", "1", "4"))
    // The rule reads the input the task would take, (id, vector): at its
    // size estimate the call is one task, one byte below it is not.
    val size = vectors.select($"vec_id", $"embedding").queryExecution.optimizedPlan.stats.sizeInBytes
    withConf(BroadcastThreshold, size.toString)(assert(oneTaskPlan(topK(vectors, 0L, 3))))
    withConf(BroadcastThreshold, (size - 1).toString)(assert(!oneTaskPlan(topK(vectors, 0L, 3))))
  }

  test("the session's optimizer rules leave bruteForceTopK's plan alone") {
    // The one task's kernel scores with the plan's own expressions, so its
    // rows equal the DataFrame plan's only while no injected rule
    // rewrites that plan.
    // Each rule GraftExtensions injects is excluded by its own ruleName;
    // the count ties the list to the extension's source.
    val rules = Seq(graft.ext.BoundedLevenshteinRule, graft.ext.FuzzyJoinRule).map(_.ruleName)
    val ext = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/ext/GraftExtensions.scala")), "UTF-8")
    assert(rules.size == "injectOptimizerRule\\(".r.findAllIn(ext).size,
      "GraftExtensions injects a rule this test does not exclude")
    val embs = vectors.persist()
    try {
      def optimized = offOneTask(topK(embs, 0L, 3).queryExecution.optimizedPlan)
      val without = withConf("spark.sql.optimizer.excludedRules", rules.mkString(","))(optimized)
      assert(optimized.sameResult(without), s"a graft rule rewrote:\n$optimized")
    } finally embs.unpersist(false)
  }

  /** Names for the fuzzy cases, normalized by fuzzyTopK: one key under
    * three ids (1, 2, 17: a tie), common prefixes and suffixes with the
    * query at a length ratio in [1.5, 8), a long name (≥ 8× a short
    * query), accented and non-Latin names, multi-space names, an empty
    * and an all-space name (both empty once trimmed), a null. */
  private def people: DataFrame = Seq[(Long, String)](
    (1L, "Renée Fox"), (2L, "renee fox"), (3L, "Renee Foxx"), (4L, "Ada Lovelace"),
    (5L, "renee j. k. fox"), (6L, "dr renee fox of london"),
    (7L, "the quick brown renee fox jumps over the lazy dog"),
    (8L, "RENÉE  FÖX"), (9L, "  renee   fox  "), (10L, "Zoë Ångström"),
    (11L, "Рене Фокс"), (12L, "李 小龙"), (13L, "renee 🦊 fox"), (14L, ""),
    (15L, "   "), (16L, null), (17L, "renee fox"), (18L, "foxes, renee")
  ).toDF("pid", "pname")

  /** (id, name, score bits) in result order. */
  private def scored(rows: Seq[Row]): Seq[(Long, String, Long)] =
    rows.map(r => (r.getLong(0), r.getString(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))

  /** Every row's oracle score, then the top k in Scala: score at least
    * `minScore`, score descending, id ascending. */
  private def oracleTopK(df: DataFrame, query: String, minScore: Double, k: Int): Seq[Row] = {
    val key = Search.normalizeKey(col("pname"))
    df.select(col("pid"), col("pname"),
        FuzzyOracle.fuzzyScoreWith(key, FuzzyOracle.tokenSort(key), query).as("score"))
      .collect().toSeq
      .filter(r => !r.isNullAt(2) && r.getDouble(2) >= minScore)
      .sortWith { (a, b) =>
        if (a.getDouble(2) != b.getDouble(2)) a.getDouble(2) > b.getDouble(2)
        else a.getLong(0) < b.getLong(0)
      }
      .take(k)
  }

  /** fuzzyTopK's rows, checked equal to the oracle's over the non-null
    * names (the oracle scores a null name, see the null-name test). */
  private def fuzzyMatches(df: DataFrame, query: String, minScore: Double, k: Int): Seq[(Long, String, Long)] = {
    val got = scored(Search.fuzzyTopK(df, "pid", "pname", query, minScore, k).collect().toSeq)
    assert(got == scored(oracleTopK(df.filter(col("pname").isNotNull), query, minScore, k)),
      s"fuzzyTopK('$query', $minScore, $k) differs from the oracle")
    got
  }

  private def ids(rows: Seq[(Long, String, Long)]): Seq[Long] = rows.map(_._1)
  private def score(row: (Long, String, Long)): Double = java.lang.Double.longBitsToDouble(row._3)

  test("fuzzyTopK equals the composed oracle across WRatio's length-ratio branches") {
    // "renee fox" against 5, 6, 7 and 18: ratio in [1.5, 8), common
    // affixes; "fox" against 7: ratio ≥ 8, the 0.6 branch.
    for (q <- Seq("renee fox", "fox", "renee", "foxx renee", "lovelace ada"); (minScore, k) <-
        Seq((0.0, 100), (40.0, 5), (60.0, 3)))
      fuzzyMatches(people, q, minScore, k)
    val long = fuzzyMatches(people, "fox", 0.0, 100).find(_._1 == 7L).get
    assert(score(long) == 60.0, "an exact window hit scores 100 · 0.6 in the ≥ 8× branch")
  }

  test("fuzzyTopK equals the composed oracle on accented, unicode, multi-space and null names") {
    for (q <- Seq("renee  fox", "zoe angstrom", "рене фокс", "李小龙", "renee 🦊", " fox ");
        minScore <- Seq(0.0, 50.0))
      fuzzyMatches(people, q, minScore, 100)
    val all = ids(fuzzyMatches(people, "renee fox", 0.0, 100))
    assert(all.take(3) == Seq(1L, 2L, 17L), "accent folding makes 1 an exact match")
    // A null name: the native score is null, so fuzzyTopK never returns
    // it; the oracle scores it 0.0 (greatest and concat_ws skip nulls).
    assert(!all.contains(16L), "a null name has no score")
    val nul = oracleTopK(people.filter(col("pid") === 16L), "renee fox", 0.0, 1)
    assert(nul.map(_.getDouble(2)) == Seq(0.0))
  }

  test("fuzzyTopK: a score exactly at minScore is kept, ties break by id, k beyond the matches") {
    val all = fuzzyMatches(people, "renee fox", 0.0, 100)
    val at = score(all.find(_._1 == 5L).get)
    val kept = fuzzyMatches(people, "renee fox", at, 100)
    assert(ids(kept).contains(5L) && kept.map(score).min == at, "the row at minScore is kept")
    assert(!ids(fuzzyMatches(people, "renee fox", Math.nextUp(at), 100)).contains(5L))
    // Ids 1, 2 and 17 all score 100: the tie breaks by id.
    assert(ids(fuzzyMatches(people, "renee fox", 60.0, 2)) == Seq(1L, 2L))
    val sixty = fuzzyMatches(people, "renee fox", 60.0, 100)
    assert(sixty.size < 100 && sixty.size == all.count(r => score(r) >= 60.0))
  }

  test("fuzzyTopK: both-empty name and query score 0.0, kept at minScore 0, dropped at 60") {
    // Every other non-null name scores 0.0 against the empty query too.
    val zero = fuzzyMatches(people.filter(col("pid") =!= 14L && col("pid") =!= 15L), "", 0.0, 100)
    assert(zero.forall(score(_) == 0.0))
    val got = scored(Search.fuzzyTopK(people, "pid", "pname", "", 0.0, 100).collect().toSeq)
    assert(ids(got) == (1L to 18L).filter(_ != 16L))
    assert(got.forall(score(_) == 0.0), "the both-empty rows 14 and 15 score 0.0")
    assert(Search.fuzzyTopK(people, "pid", "pname", "", 60.0, 100).collect().isEmpty)
    // The oracle's 0/0 raises under ANSI on exactly those rows.
    val e = intercept[ArithmeticException](oracleTopK(people.filter(col("pid") === 14L), "", 0.0, 100))
    assert(e.asInstanceOf[org.apache.spark.SparkThrowable].getCondition == "DIVIDE_BY_ZERO")
  }

  test("a serving-sized lookup over a persisted frame is one Spark job") {
    val names = Seq((1L, "Renée Fox"), (2L, "renee fox"), (3L, "Ada Lovelace"))
      .toDF("pid", "pname").persist()
    val embs = vectors.persist()
    try {
      assert(names.count() == 3L && embs.count() == 11L)
      def byName(): DataFrame = Search.fuzzyTopK(names, "pid", "pname", "renee fox", 60.0, 3)
      def byVector(): Unit = topK(embs, 0L, 3).collect()
      assert(!oneTaskPlan(byName()), "fuzzyTopK runs its DataFrame plan")
      assert(jobsOf(byName().collect()) == 1)
      assert(jobsOf(byVector()) == 1)
      offOneTask(assert(jobsOf(byVector()) > 1))
    } finally {
      names.unpersist(false)
      embs.unpersist(false)
    }
  }
}
