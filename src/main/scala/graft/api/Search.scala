package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic fuzzy-search operators over ANY name-carrying frame — the
  * user-facing surface behind `graft.ops.SearchPack`'s driver queries.
  *
  * Normalization runs through the native `accent_fold` Catalyst
  * expression (registered by graft.ext.GraftExtensions); the fuzzy score
  * is a WRatio-style max of levenshtein ratio and 0.95-damped token-sort
  * ratio. Thresholded levenshtein predicates are rewritten to the
  * bounded O(k·n) form by graft.ext.BoundedLevenshteinRule — write them
  * the natural way.
  */
object Search {

  /** normalize = accent-fold → lower → trim. */
  def normalizeKey(c: Column): Column =
    lower(trim(call_function("accent_fold", c)))

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

  /** WRatio fuzzy score of a name column against a query string, with
    * RapidFuzz's length-ratio dispatch (fuzz.WRatio semantics, ref
    * fuzzy_search.py:57): similar lengths → max(full ratio, 0.95·token-
    * sort ratio); length ratio ≥ 1.5 → the partial legs join in, damped
    * by 0.9 (or 0.6 when the lengths differ ≥ 8×) — the PARTIAL ratio of
    * the raw strings and, matching RapidFuzz's dispatch, the PARTIAL
    * token-sort ratio (best window of the token-sorted strings, 0.95-
    * damped) rather than the full token-sort ratio, so a short query can
    * hit a long multi-token name through its best-matching window. */
  def fuzzyScore(name: Column, query: String): Column =
    fuzzyScoreWith(name, tokenSort(name), query)

  /** [[fuzzyScore]] with the token-sorted name supplied as its own
    * column. Use this form when scoring a large frame: pass a
    * PRE-PROJECTED token-sort column (`df.withColumn("key_ts",
    * tokenSort(col("key")))`) so the window lambda of the partial
    * token-sort leg references a bound attribute — expressions inside
    * `transform` lambdas get no common-subexpression elimination, so an
    * inline token-sort subtree is re-split/re-sorted once PER WINDOW of
    * every row (the same O(len²) trap as inline shingling; measured 6.0 s
    * → ~1 s at sf0.1 for the short-query dispatch). */
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

  /** Inverted index over the normalized key: key → (n_ids, first_id).
    * The group-by IS the index; broadcast it or write it to a KV sink. */
  def indexBuild(df: DataFrame, id: String, name: String): DataFrame =
    df.groupBy(normalizeKey(col(name)).as("key"))
      .agg(count(lit(1)).as("n_ids"), min(col(id)).as("first_id"))

  /** Fuzzy top-k against one query: score everything, threshold, rank
    * deterministically. Runs as one scan + TakeOrdered (no global sort);
    * the normalized key and its token-sort are projected once so the
    * score's window lambdas read attributes (see [[fuzzyScoreWith]]).
    * Not on the serving calls' one-task path (graft.ops.OpsUtil.oneTask):
    * that path is selected by shipping size, and the per-row WRatio work
    * here is heavy enough that one interpreted task may lose to this
    * parallel plan well inside that size. */
  def fuzzyTopK(df: DataFrame, id: String, name: String,
      query: String, minScore: Double, k: Int): DataFrame =
    df.select(col(id), col(name), normalizeKey(col(name)).as("__key"))
      .withColumn("__key_ts", tokenSort(col("__key")))
      .select(col(id), col(name),
        fuzzyScoreWith(col("__key"), col("__key_ts"), query).as("score"))
      .filter(col("score") >= minScore)
      .orderBy(col("score").desc, col(id).asc)
      .limit(k)

  /** Blocked similarity self-join: equality blocking on `blockKey` of the
    * normalized name, exact bounded edit distance within blocks only —
    * the join shape that survives corpus scale (never all-pairs).
    * Returns (i, j, dist) with i < j and dist <= maxDist.
    *
    * The pairwise stage runs over DISTINCT strings, not rows: repeated
    * strings are the norm in a real corpus (one brand name, millions of
    * rows), and comparing rows directly multiplies every block's pair
    * count by copies² — the sf1 scale checkpoint measured exactly that
    * blowup (1200× time for 10× rows) before this collapse. Each
    * distinct pair is edit-distanced ONCE, then qualifying pairs fan
    * back out to id pairs through two equi-joins; identical-string
    * groups are dist-0 by definition and never touch the DP at all. */
  def blockedSimJoin(df: DataFrame, id: String, name: String,
      blockKey: Column => Column, maxDist: Int): DataFrame = {
    blockedSimJoinImpl(df, id, name, blockKey, maxDist)
  }

  /** [[blockedSimJoin]] with the block granularity DERIVED from the
    * corpus size instead of hand-picked. Blocks on the last `l` chars of
    * the normalized name where l is the smallest length giving at least
    * n/targetBlock distinct suffixes (sigma^l >= ceil(n/targetBlock),
    * i.e. the base-sigma digit count of ceil(n/targetBlock)-1) — so the
    * expected block size stays ~targetBlock and candidate pairs stay
    * ~n·targetBlock, LINEAR in n, as the corpus grows. A fixed suffix
    * length is quadratic-per-block: the sf1 scale checkpoint measured
    * the hand-picked l=3 at 34× wall-clock for 10× rows (this derivation
    * picks l=4 there). `sigma` is the alphabet size of the name suffix
    * (10 for id-like digit-suffixed corpora, ~27 for free text). The
    * digit-count formula is integer-exact so an external SQL twin
    * derives the identical l with no float-log boundary risk; the sizing
    * `count()` is the same class of bounded driver-side action as
    * [[graft.api.Similarity.sizedCells]]'s. */
  def sizedBlockedSimJoin(df: DataFrame, id: String, name: String,
      targetBlock: Int, sigma: Int, maxDist: Int): DataFrame = {
    require(targetBlock > 0, s"targetBlock must be positive: $targetBlock")
    require(sigma >= 2, s"sigma must be >= 2: $sigma")
    val n = df.select(normalizeKey(col(name)).as("nm")).distinct().count()
    val l = suffixBlockLen(n, targetBlock, sigma)
    blockedSimJoinImpl(df, id, name, nm => substring(nm, -l, l), maxDist)
  }

  /** Smallest l >= 1 with sigma^l >= ceil(n/targetBlock): the base-sigma
    * digit count of ceil(n/targetBlock)-1. Exposed for specs. */
  private[graft] def suffixBlockLen(n: Long, targetBlock: Int, sigma: Int): Int = {
    var x = math.max(1L, (n + targetBlock - 1) / targetBlock) - 1
    var l = 1
    while (x >= sigma) { x /= sigma; l += 1 }
    l
  }

  private def blockedSimJoinImpl(df: DataFrame, id: String, name: String,
      blockKey: Column => Column, maxDist: Int): DataFrame = {
    val names = df.select(col(id).as("id"), normalizeKey(col(name)).as("nm"))
    val dn = names.select(col("nm")).distinct()
      .withColumn("blk", blockKey(col("nm")))
    val sp = dn.as("a").join(dn.as("b"),
        col("a.blk") === col("b.blk") && col("a.nm") < col("b.nm"))
      .select(col("a.nm").as("nma"), col("b.nm").as("nmb"),
        // native lev_within: value-identical to levenshtein(a, b, k) but
        // ~20× cheaper per pair on ASCII keys (EditDistanceWithin)
        call_function("lev_within", col("a.nm"), col("b.nm"), lit(maxDist))
          .cast("long").as("dist"))
      .filter(col("dist") >= 0)
    val ids = names.select(col("nm"), col("id"))
    val cross = sp
      .join(ids.select(col("nm").as("nma"), col("id").as("ia")), "nma")
      .join(ids.select(col("nm").as("nmb"), col("id").as("ib")), "nmb")
      .select(least(col("ia"), col("ib")).as("i"),
        greatest(col("ia"), col("ib")).as("j"), col("dist"))
    val same = ids.as("a").join(ids.as("b"),
        col("a.nm") === col("b.nm") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"), lit(0L).as("dist"))
    cross.unionByName(same)
  }
}
