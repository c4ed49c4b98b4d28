package graft.ext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{AccentFold, BitsetAgg, CosineSim, EditDistanceWithin, HllSketch, JaroWinkler, KmvSketch, L2Dist2, MinHashSketch, QuantileSketch, WRatio}

/** Session extensions registering graft's native Catalyst functions.
  * Activate with .config("spark.sql.extensions", "graft.ext.GraftExtensions")
  * — then `call_function("accent_fold", col)` / SQL `accent_fold(x)` work
  * everywhere, fully codegen'd.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("accent_fold"),
      new ExpressionInfo(classOf[AccentFold].getName, "accent_fold"),
      (children: Seq[Expression]) => AccentFold(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("l2_dist2"),
      new ExpressionInfo(classOf[L2Dist2].getName, "l2_dist2"),
      (children: Seq[Expression]) => L2Dist2(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) => JaroWinkler(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("lev_within"),
      new ExpressionInfo(classOf[EditDistanceWithin].getName, "lev_within"),
      (children: Seq[Expression]) =>
        EditDistanceWithin(children(0), children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("wratio"),
      new ExpressionInfo(classOf[WRatio].getName, "wratio"),
      (children: Seq[Expression]) => WRatio(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sketch"),
      new ExpressionInfo(classOf[MinHashSketch].getName, "minhash_sketch"),
      (children: Seq[Expression]) =>
        MinHashSketch(children.head).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("bitset_agg"),
      new ExpressionInfo(classOf[BitsetAgg].getName, "bitset_agg"),
      (children: Seq[Expression]) =>
        BitsetAgg(children(0), children(1)).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[KmvSketch].getName, "kmv_sketch"),
      (children: Seq[Expression]) =>
        KmvSketch(children(0), children(1)).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("hll_sketch"),
      new ExpressionInfo(classOf[HllSketch].getName, "hll_sketch"),
      (children: Seq[Expression]) =>
        HllSketch(children(0), children(1)).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("qsketch"),
      new ExpressionInfo(classOf[QuantileSketch].getName, "qsketch"),
      (children: Seq[Expression]) =>
        QuantileSketch(children.head).toAggregateExpression()))
    // Optimizer rule: thresholded levenshtein comparisons run the
    // bounded O(k·n) form instead of the full O(n²) DP (see
    // BoundedLevenshteinRule).
    ext.injectOptimizerRule(_ => BoundedLevenshteinRule)
    // Optimizer rule: a thresholded fuzzy θ-join (edit distance,
    // Jaro-Winkler, WRatio) with no equi-key becomes a sound
    // candidate-key equi-join with the predicate as exact verify (see
    // FuzzyJoinRule). Runs after the bound rewrite in the same
    // fixed-point batch, so it only needs to match the bounded form.
    ext.injectOptimizerRule(_ => FuzzyJoinRule)
  }
}
