package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed Column WRatio: RapidFuzz fuzz.WRatio (ref
  * fuzzy_search.py:57) spelled in Spark built-ins. The library scores
  * through the native `wratio` node (graft.functions.WRatio); this form
  * is the parity oracle the specs compare it against. Its 0/0 raises
  * under ANSI when the name and the query are both empty (the native
  * node returns 0.0 there). */
object FuzzyOracle {

  /** 0-100 levenshtein similarity ratio of two (normalized) strings. */
  def ratio(a: Column, b: Column): Column =
    round(lit(100.0) * (lit(1.0) -
      levenshtein(a, b) / greatest(length(a), length(b)).cast("double")), 6)

  /** Token-sort form: split on whitespace, sort, rejoin (word-order-
    * insensitive matching, WRatio's token_sort component). */
  def tokenSort(c: Column): Column =
    concat_ws(" ", array_sort(split(c, " ")))

  /** Partial ratio (RapidFuzz `partial_ratio`, the best-window form): the
    * shorter string scored against every same-length window of the longer
    * one, best window wins. Window count is |longer|−|shorter|+1, each
    * window one bounded levenshtein — O(Δlen · |shorter|²) worst case,
    * fine for name-length strings; empty input scores 0. */
  def partialRatio(a: Column, b: Column): Column = {
    val (la, lb) = (length(a), length(b))
    val sh = when(la <= lb, a).otherwise(b)
    val lo = when(la <= lb, b).otherwise(a)
    val ls = least(la, lb)
    val nWin = greatest(la, lb) - ls + 1
    when(ls === 0, 0.0).otherwise(
      array_max(transform(sequence(lit(0), nWin - 1), i =>
        round(lit(100.0) * (lit(1.0) -
          levenshtein(sh, lo.substr(i + 1, ls)) / ls.cast("double")), 6))))
  }

  /** WRatio of a name column against a query string, with RapidFuzz's
    * length-ratio dispatch: similar lengths → max(full ratio, 0.95·token-
    * sort ratio); length ratio ≥ 1.5 → the partial legs join in, damped
    * by 0.9 (or 0.6 when the lengths differ ≥ 8×) — the PARTIAL ratio of
    * the raw strings and the PARTIAL token-sort ratio (best window of the
    * token-sorted strings, 0.95-damped). `nameTs` is the token-sorted
    * name: pass `tokenSort(name)`, or a pre-projected column when
    * scoring a large frame (expressions inside `transform` lambdas get
    * no common-subexpression elimination). */
  def fuzzyScoreWith(name: Column, nameTs: Column, query: String): Column = {
    val q = lit(query)
    val qTs = tokenSort(q)
    val full = ratio(name, q)
    val tsr = round(ratio(nameTs, qTs) * 0.95, 6)
    val lenRatio = greatest(length(name), length(q)).cast("double") /
      greatest(least(length(name), length(q)), lit(1)).cast("double")
    val scale = when(lenRatio < 8.0, 0.9).otherwise(0.6)
    when(lenRatio < 1.5, greatest(full, tsr)).otherwise(
      greatest(full, round(partialRatio(name, q) * scale, 6),
        round(partialRatio(nameTs, qTs) * 0.95 * scale, 6)))
  }
}
