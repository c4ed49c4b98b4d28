package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RapidFuzz-style WRatio (fuzz.WRatio, ref fuzzy_search.py:57) as a
  * native Catalyst expression — the one WRatio scorer: the `search_*`
  * queries, `graft.api.Search.fuzzyScore` / `fuzzyTopK` and
  * [[graft.ext.FuzzyJoinRule]] all score through THIS node, one
  * codegen'd JVM call per row. Its stages are value-identical to the
  * same WRatio composed from Spark built-ins (levenshtein, substr,
  * split/array_sort, round), which the test suite keeps as its parity
  * oracle (InvariantSpec pins parity on random strings):
  *
  *  - full  = round(100·(1 − lev(a,b)/max(|a|,|b|)), 6)
  *  - tsr   = round(full-ratio of the token-sorted strings · 0.95, 6)
  *  - length-ratio dispatch: < 1.5 → max(full, tsr); otherwise the
  *    0.9-damped (0.6 beyond 8×) partial legs join in: best
  *    same-length-window levenshtein ratio of the raw strings and of
  *    the token-sorted strings (·0.95), each round(·, 6).
  *
  * Being ONE Catalyst node is what makes the θ-join rewrite possible:
  * `A join B on wratio(a,b) >= t` is a matchable predicate for
  * [[graft.ext.FuzzyJoinRule]], where the composed Column spelling is
  * an anonymous expression tree no rule can recognize. All string
  * operations run on UTF8String (Spark's own levenshtein / substring /
  * regex-split routines), so scores agree with the built-in spelling on
  * any input, not just ASCII.
  *
  * Cost: O(Δlen · min²) worst case per pair (the partial legs'
  * window sweep).
  */
case class WRatio(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = DoubleType
  // Registered SQL surface: clean analysis error on non-string args
  // instead of an executor-side ClassCastException.
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override protected def nullSafeEval(l: Any, r: Any): Any =
    WRatioImpl.score(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.WRatioImpl.score($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WRatio =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "wratio"
}

/** Shared JVM routine for interpreted eval and codegen. Every stage
  * mirrors a Spark built-in: UTF8String
  * levenshtein, numChars lengths, substringSQL windows, regex-split
  * token sort (empty tokens preserved — split/rejoin on a single space
  * is length-preserving), scala BigDecimal HALF_UP rounding (Spark's
  * `round`), and NaN-greatest max (Spark's `greatest`/`array_max`). */
object WRatioImpl {
  private val Space = UTF8String.fromString(" ")

  /** Spark `round(x, 6)`: HALF_UP via scala BigDecimal, NaN/∞ pass
    * through (MathExpressions.Round does the same). */
  private def r6(x: Double): Double =
    if (x.isNaN || x.isInfinity) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** NaN-greatest max — Spark's ordering treats NaN as the largest
    * double (math.max propagates NaN the same way). */
  private def gmax(a: Double, b: Double): Double = math.max(a, b)

  /** round(100·(1 − lev/maxlen), 6). Callers guard the both-empty case
    * ([[score]] returns 0.0 there — the built-in spelling's 0/0 raises
    * under ANSI, so the native node is strictly more total; the two
    * agree on every input the built-in spelling accepts). */
  private def ratio(a: UTF8String, b: UTF8String): Double = {
    val maxLen = math.max(a.numChars(), b.numChars()).toDouble
    r6(100.0 * (1.0 - a.levenshteinDistance(b) / maxLen))
  }

  /** `concat_ws(" ", array_sort(split(c, " ")))` — regex split keeps
    * empty tokens (limit −1), binary UTF8String sort order. */
  private def tokenSort(c: UTF8String): UTF8String = {
    val parts = c.split(Space, -1)
    java.util.Arrays.sort(parts, null)
    UTF8String.concatWs(Space, parts: _*)
  }

  /** Best same-length-window levenshtein ratio (RapidFuzz
    * partial_ratio): shorter string against every window of the longer,
    * each window round(·, 6), best wins; empty shorter side → 0.0. */
  private def partial(a: UTF8String, b: UTF8String): Double = {
    val (sh, lo) = if (a.numChars() <= b.numChars()) (a, b) else (b, a)
    val ls = sh.numChars()
    if (ls == 0) return 0.0
    val nWin = lo.numChars() - ls + 1
    var best = Double.NegativeInfinity
    var i = 0
    while (i < nWin) {
      val v = r6(100.0 * (1.0 -
        sh.levenshteinDistance(lo.substringSQL(i + 1, ls)) / ls.toDouble))
      if (java.lang.Double.isNaN(v) || v > best) best = v
      i += 1
    }
    best
  }

  def score(a: UTF8String, b: UTF8String): Double = {
    val la = a.numChars(); val lb = b.numChars()
    if (la == 0 && lb == 0) return 0.0
    val full = ratio(a, b)
    val tsa = tokenSort(a); val tsb = tokenSort(b)
    val tsr = r6(ratio(tsa, tsb) * 0.95)
    val lenRatio = math.max(la, lb).toDouble / math.max(math.min(la, lb), 1)
    if (lenRatio < 1.5) gmax(full, tsr)
    else {
      val scale = if (lenRatio < 8.0) 0.9 else 0.6
      gmax(full, gmax(
        r6(partial(a, b) * scale),
        r6(partial(tsa, tsb) * 0.95 * scale)))
    }
  }
}
