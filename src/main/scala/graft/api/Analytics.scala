package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.OpsUtil

/** Generic analytics operators — the skew-safe and imputation primitives
  * behind `graft.ops.AnalyticsPack`'s driver queries, over arbitrary
  * frames and columns.
  */
object Analytics {

  /** Skew-safe two-phase aggregation: phase 1 groups by (key, salt) so a
    * hot key spreads over `salts` reducers, phase 2 merges partials per
    * key. Returns (key, n, total) where total keeps exact decimal
    * accumulation between phases (bit-equal to the direct groupBy).
    * Power-law keys — degree hubs, hot users — are the norm at corpus
    * scale, so this IS the default shape for count/sum over them. */
  def saltedAgg(df: DataFrame, key: Column, saltBy: Column, value: Column,
      salts: Int = 16): DataFrame = {
    val partial = df
      .groupBy(key.as("key"), pmod(saltBy, lit(salts)).as("salt"))
      .agg(count(lit(1)).as("pn"), sum(value.cast("decimal(28,4)")).as("ps"))
    partial.groupBy(col("key"))
      .agg(sum(col("pn")).as("n"), sum(col("ps")).cast("double").as("total"))
  }

  /** Guard an arbitrary user frame against helper/output column capture:
    * injected names must not already exist, or the broadcast-join would
    * raise an ambiguous reference — or worse, silently overwrite user
    * data. Failing loudly here is the generic-API contract. */
  private def requireFresh(df: DataFrame, names: String*): Unit = {
    val clash = names.filter(n => df.columns.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty,
      s"input frame already has column(s) ${clash.mkString(", ")}; " +
        "rename them before calling this operator")
  }

  /** Mean imputation: fill nulls in `value` with the mean of observed
    * values (exact decimal mean, scalar-subquery broadcast). Adds
    * `was_missing` and `<value>_imputed`. */
  def meanImpute(df: DataFrame, value: String, scale: Int = 2): DataFrame = {
    val meanCol = s"__graft_mean_$value"
    requireFresh(df, meanCol, "was_missing", s"${value}_imputed")
    val mean = df.agg(
      round((sum(col(value).cast("decimal(28,4)")) / count(col(value))).cast("double"), scale)
        .as(meanCol))
    df.crossJoin(broadcast(mean))
      .withColumn("was_missing", col(value).isNull.cast("int"))
      .withColumn(s"${value}_imputed", coalesce(col(value), col(meanCol)))
      .drop(meanCol)
  }

  /** Min-max normalization of `value` to [0, 1] (single stats pass,
    * broadcast). Adds `<value>_norm`. */
  def minmaxNormalize(df: DataFrame, value: String): DataFrame = {
    val (mnCol, mxCol) = (s"__graft_mn_$value", s"__graft_mx_$value")
    requireFresh(df, mnCol, mxCol, s"${value}_norm")
    val stats = df.agg(min(col(value)).as(mnCol), max(col(value)).as(mxCol))
    df.crossJoin(broadcast(stats))
      .withColumn(s"${value}_norm",
        (col(value) - col(mnCol)) / (col(mxCol) - col(mnCol)))
      .drop(mnCol, mxCol)
  }

  /** Co-occurrence pair counting with BOUNDED per-key fan-in: distinct
    * (key, item) rows, each key capped to a deterministic `maxPerKey`
    * items (ordered by the cross-engine item hash with the item id as
    * total-order tiebreak), then the within-key self-join and pair
    * count. Returns (p1, p2, n_cooc) with p1 < p2.
    *
    * Why the cap: a key with k items emits k²/2 pairs out of ONE shuffle
    * partition — on power-law data a 10⁵-item hub is 5·10⁹ pairs from a
    * single task, and AQE skew-join cannot split pair GENERATION within
    * one group-by key. The cap bounds every task at maxPerKey²/2 pairs;
    * the hash order makes the kept subset a deterministic pseudo-random
    * sample of a hub's items (not a popularity-biased prefix), so
    * high-support pairs stay stable. Keys at or under the cap are exact
    * and unaffected. */
  def cooccurrencePairs(df: DataFrame, key: String, item: String,
      maxPerKey: Int): DataFrame = {
    import graft.ops.TextHash.h28
    // SET-BASED single-pass form (r14, guide §2.4): the previous shape —
    // distinct() → cap window → self-join — planned the dedup aggregation
    // and the rank window into BOTH self-join legs over a reused
    // exchange, so the whole pipeline ran twice per pass (measured: one
    // stage carrying 8.5 s of task time for 1.9 s wall at sf0.1, shuffle
    // read exactly 2× the exchange's write), plus a full window sort and
    // the join merge. Now one hash aggregation per key builds the
    // DISTINCT item set (collect_set — dedup and grouping in the same
    // operator), sort_array orders it by the same (item-hash, item)
    // rank as the old window, slice keeps the same first maxPerKey, and
    // two explodes generate the same p1 < p2 pairs — no second pipeline
    // run, no window sort, no join. Per-key memory is the distinct item
    // set, exactly what the window's partition buffer already held.
    // Pairs and counts are identical by construction.
    val items = df.select(col(key).as("__k"), col(item).as("__i"))
      .groupBy(col("__k"))
      .agg(slice(sort_array(collect_set(
          struct(h28(col("__i").cast("string")).as("h"), col("__i").as("i")))),
        1, maxPerKey).as("__set"))
      .select(transform(col("__set"), x => x.getField("i")).as("__items"))
    items
      .select(explode(col("__items")).as("p1"), col("__items"))
      .select(col("p1"), explode(col("__items")).as("p2"))
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n_cooc"))
  }

  /** Exact GLOBAL ascending rank of every row by (value, key) — the
    * two-phase bucketed form shared by gini and the RFM scorer: values
    * hash into range buckets, row_number runs PER BUCKET (bounded
    * partitions — never one global sort task), and bucket offsets come
    * from a cumulative window over the ≤ `buckets`-row histogram.
    * (value, key) is a total order, so the rank is deterministic in any
    * engine; the small-data oracle of record is a plain global
    * row_number. Returns (__k, v, i) with i in 1..n. */
  def globalRank(df: DataFrame, key: Column, value: Column,
      buckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = df.select(key.as("__k"), value.cast("decimal(28,4)").as("v"))
    val stats = vals.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val bucketed = vals.crossJoin(broadcast(stats))
      // Degenerate range guard: with mx == mn the ratio is null, the bkt
      // join would drop all rows and the query would return an empty
      // frame instead of ranking the all-ties case; one bucket handles it.
      .withColumn("bkt", when(col("mx") === col("mn"), lit(0L)).otherwise(
        least(
          floor((col("v") - col("mn")) / (col("mx") - col("mn")) * buckets),
          lit(buckets - 1))).cast("long"))
    val ranked = bucketed.withColumn("rn", row_number().over(
      Window.partitionBy(col("bkt")).orderBy(col("v"), col("__k"))).cast("long"))
    // Unpartitioned window on purpose: the frame is the bucket
    // HISTOGRAM — at most `buckets` rows regardless of data scale — so
    // the single-partition WindowExec is a constant-size prefix sum,
    // not a scale hazard.
    val offs = bucketed.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    ranked.join(broadcast(offs), "bkt")
      .select(col("__k"), col("v"), (col("off") + col("rn")).as("i"))
  }

  /** Exact Gini coefficient of `value` over one row per `key` — the
    * inequality summary behind `ana_gini_spend`, over an arbitrary
    * frame. Built on [[globalRank]] (two-phase bucketed rank — no
    * single-partition global sort at any scale). Rank sums stay in
    * exact decimals; (value, key) is a total order so Σ i·x_i is
    * deterministic. Returns ONE row (n, total, gini) with
    * gini = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx), rounded to 6 places.
    * A degenerate range (all values equal) is exactly gini = 0. */
  def gini(df: DataFrame, key: Column, value: Column,
      buckets: Int = 1024): DataFrame = {
    globalRank(df, key, value, buckets)
      .select(col("v"), col("i"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("sx"),
        sum(col("i").cast("decimal(28,4)") * col("v")).as("six"))
      .select(col("n"),
        col("sx").cast("double").as("total"),
        // numerator/denominator each exact decimal, ONE double division
        round((lit(2) * col("six") - (col("n") + 1) * col("sx")).cast("double") /
          (col("n") * col("sx")).cast("double"), 6).as("gini"))
  }

  /** Degree CCDF over a pre-aggregated (k, cnt) degree distribution:
    * P(K >= k) per k, cumulative window over the sorted degrees.
    * The unpartitioned window runs over the DISTRIBUTION (one row per
    * distinct degree — thousands at any corpus scale, never the raw
    * rows), so the single-partition WindowExec is bounded by design. */
  def ccdf(dist: DataFrame, k: String = "k", cnt: String = "cnt"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col(k)).rowsBetween(Window.unboundedPreceding, -1)
    dist
      .withColumn("__cum_prev", coalesce(sum(col(cnt)).over(w), lit(0L)))
      .withColumn("__total", sum(col(cnt)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("ccdf", lit(1.0) - col("__cum_prev").cast("double") / col("__total"))
      .drop("__cum_prev", "__total")
  }

  /** KMV (k-minimum-values) distinct-count ESTIMATE of `key` — the
    * mergeable cardinality sketch (Bar-Yossef et al. 2002) as one
    * aggregate pass over `graft.functions.KmvSketch`: every task carries
    * a ≤k-long buffer of the smallest distinct h28 hashes through the
    * exchange, so the scan never shuffles the key universe the way
    * `countDistinct` (or `distinct().orderBy().limit(k)`) must.
    * Estimate = (k_used − 1)·M / h_k with M = 2^28 (the h28 space) —
    * exact integer hashes and fixed-order double arithmetic, so the
    * result is bit-reproducible across runs AND engines (the DuckDB
    * oracle replays the same k-smallest-distinct-hashes selection),
    * unlike HLL sketches whose estimates are implementation-defined.
    * The exact side (`n_exact`, `rel_err`) is included for the fixture
    * audit; a production profiler drops it — exact is what the sketch
    * avoids. Requires GraftExtensions (registers `kmv_sketch`). */
  /** Pearson correlation matrix over `cols` in ONE scan: all first and
    * second moments come from a single aggregation (map-side combine
    * reduces each partition to one row), correlations are per-pair
    * arithmetic on the 1-row result, exploded into (x, y, r) matrix
    * form. Moment sums go through DECIMAL(38,10) — squared measures
    * overflow 13 integer digits at scale — so r is bit-identical across
    * engines. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs at least two columns")
    val aggs = count(lit(1)).as("n") +:
      cols.map(c => OpsUtil.msum(col(c)).as(s"s_$c")) ++:
      (for (i <- cols.indices; j <- i until cols.size) yield
        OpsUtil.msum(col(cols(i)) * col(cols(j))).as(s"s_${cols(i)}_${cols(j)}"))
    val a = df.agg(aggs.head, aggs.tail: _*)
    def r(x: String, y: String) = {
      val (sx, sy) = (col(s"s_$x"), col(s"s_$y"))
      val (sxx, syy, sxy) = (col(s"s_${x}_$x"), col(s"s_${y}_$y"),
        col(s"s_${x}_$y"))
      round((col("n") * sxy - sx * sy) /
        sqrt((col("n") * sxx - sx * sx) * (col("n") * syy - sy * sy)), 6)
    }
    val entries = for (i <- cols.indices; j <- (i + 1) until cols.size) yield
      struct(lit(cols(i)).as("x"), lit(cols(j)).as("y"),
        r(cols(i), cols(j)).as("r"))
    a.select(explode(array(entries: _*)).as("m"))
      .select(col("m.x").as("x"), col("m.y").as("y"), col("m.r").as("r"))
  }

  /** Population Stability Index per fixed-width bucket — the standard
    * feature-drift gate (PSI > 0.2 conventionally triggers retraining).
    * `isBaseline` marks the reference period; both periods' bucket
    * counts come from ONE scan (conditional sums), the PSI terms are
    * arithmetic on integer counts with +1 laplace floors so empty
    * buckets stay finite. Sum `psi_term` for the index. */
  def psi(df: DataFrame, value: Column, isBaseline: Column,
      buckets: Int, width: Double): DataFrame = {
    val b = df.select(
        least(floor(value / width), lit(buckets - 1)).cast("int").as("bucket"),
        isBaseline.as("is_pre"))
      .groupBy(col("bucket"))
      .agg(sum(col("is_pre").cast("long")).as("n_pre"),
        sum((!col("is_pre")).cast("long")).as("n_post"))
    val tot = b.agg(sum(col("n_pre")).as("tp"), sum(col("n_post")).as("tq"))
    b.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_pre"), col("n_post"),
        round(((col("n_pre") + 1).cast("double") / (col("tp") + buckets) -
          (col("n_post") + 1).cast("double") / (col("tq") + buckets)) *
          log((col("n_pre") + 1).cast("double") / (col("tp") + buckets) /
            ((col("n_post") + 1).cast("double") / (col("tq") + buckets))), 9)
          .as("psi_term"))
  }

  def kmvDistinct(df: DataFrame, key: Column, k: Int): DataFrame = {
    val M = 268435456.0 // 2^28: h28 hashes are uniform on [0, M)
    df.agg(
        call_function("kmv_sketch",
          graft.ops.TextHash.h28(key.cast("string")), lit(k)).as("mins"),
        countDistinct(key).as("n_exact"))
      .select(size(col("mins")).cast("long").as("k_used"),
        element_at(col("mins"), -1).as("kth_hash"), col("n_exact"))
      .select(col("k_used"), col("kth_hash"),
        round((col("k_used") - 1) * lit(M) / col("kth_hash"), 6)
          .as("est_distinct"),
        col("n_exact"),
        round(abs((col("k_used") - 1) * lit(M) / col("kth_hash")
          - col("n_exact")) / col("n_exact"), 6).as("rel_err"))
  }

  /** Number of zero (never-touched) registers of an HLL register array. */
  def hllZeros(regs: Column): Column =
    size(filter(regs, r => r === 0)).cast("long")

  /** Deterministic HLL estimate from a register array (p=8, m=256):
    * Z = Σ 2^−reg over all registers (zero registers contribute 2^0 = 1),
    * raw = α·m²/Z with α = 0.7213/(1 + 1.079/m), and the standard
    * small-range correction raw ≤ 2.5m ∧ zeros > 0 → m·ln(m/zeros)
    * (Flajolet et al. 2007 §4). Every term 2^−reg is computed as
    * 1.0 / (1 << reg) — an exact dyadic double (never libm pow, whose
    * rounding is not contractual) — and the total is < 2^8, so the sum
    * is EXACT regardless of order; the one estimate division and the
    * rounded output are then bit-identical across engines. Not rounded
    * here; callers round. */
  def hllEstimate(regs: Column): Column = {
    val m = 256.0
    val z = aggregate(regs, lit(0.0), (acc, r) =>
      acc + lit(1.0) / call_function("shiftleft", lit(1L), r).cast("double"))
    val zeros = hllZeros(regs)
    val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m)) * lit(m * m) / z
    when(raw <= lit(2.5 * m) && zeros > 0,
      lit(m) * log(lit(m) / zeros.cast("double"))).otherwise(raw)
  }
}
