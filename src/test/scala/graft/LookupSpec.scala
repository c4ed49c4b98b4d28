package graft

import org.apache.spark.sql.DataFrame
import graft.api.{Search, Similarity}

/** The serving vector lookup, `Similarity.bruteForceTopK`, on both of its
  * paths: every value case runs as one task by default and as the
  * DataFrame plan with the one-task path off, and must give the same
  * schema and the same rows, double for double (see
  * graft.ops.OpsUtil.oneTaskTopK). `Search.fuzzyTopK` keeps its
  * DataFrame plan. */
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
    // The one task runs the analyzed expressions, so its rows equal the
    // DataFrame plan's only while no injected rule rewrites that plan.
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
