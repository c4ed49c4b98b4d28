package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import OpsUtil._

/** Network-analytics pack — SURVEY.md §2.5-2.6: degree distribution + CCDF
  * (A9/W6), power-law γ MLE (A10), co-occurrence pair counting (A11),
  * min-max normalization with missing indicator (A6), frequency tables (A7).
  *
  * CCDF is computed from integer cumulative counts (window over an ordered
  * integer sum) and divided once at the end — double cumulative sums would
  * not hash-match across engines.
  */
object AnalyticsPack {
  type Q = (SparkSession, String) => DataFrame

  /** Per-key item cap of the co-occurrence pairing — bounds any task at
    * CoocCap²/2 generated pairs (hot-key protection on power-law data). */
  private val CoocCap = 32
  /** Range-bucket count of the two-phase Gini rank — constant, never
    * data-scale (same role as Sampling.IdxBuckets). */
  private val GiniBuckets = 1024
  /** KMV sketch width of ana_kmv_distinct — 64 gives ~1/√62 ≈ 13% worst
    * expected error; a production profiler uses 1024+ (still an 8 KB
    * buffer). */
  private val KmvK = 64
  /** HLL precision of ana_hll_* — p=8 → 256 registers, ~1.04/√256 ≈ 6.5%
    * expected error in a 256-BYTE mergeable buffer; production profilers
    * run p=12-14 (4-16 KB). */
  private val HllP = 8
  /** Target sample size of ana_sampled_quantiles — ~2000 kept rows at
    * any corpus size gives ~1/√2000 ≈ 2.2% quantile-rank error. */
  private val SqCap = 2000

  /** DuckDB fragment: log-linear quantile-sketch bucket of a
    * non-negative BIGINT `x` — identical integer to
    * graft.functions.QuantileSketch.bucketOf (bin() drops leading
    * zeros in both engines, so length(bin(x)) = bit length). */
  private def qbSql(x: String): String =
    s"CASE WHEN $x < 64 THEN $x " +
      s"ELSE (length(bin($x))-6)*32 + ($x >> (length(bin($x))-6)) END"

  /** DuckDB fragment: lower bound of quantile-sketch bucket `b` —
    * matches graft.functions.QuantileSketch.loOf. */
  private def qloSql(b: String): String =
    s"CASE WHEN $b < 64 THEN CAST($b AS BIGINT) " +
      s"ELSE CAST($b - ($b//32 - 1)*32 AS BIGINT) << ($b//32 - 1) END"

  /** DuckDB fragment: HLL rank of a 28-bit hash `h` at p=8 — 21 minus
    * the bitlength of the low 20 bits (bin() drops leading zeros in both
    * engines; rem = 0 means all 20 bits are zero → rank 21). Matches
    * graft.functions.HllSketch's numberOfLeadingZeros form. */
  private def hllRegSql(h: String): String =
    s"CASE WHEN $h % 1048576 = 0 THEN 21 " +
      s"ELSE 21 - length(bin($h % 1048576)) END"

  /** DuckDB fragment: Z = Σ 2^−reg over all 256 registers — exact dyadic
    * 1/(1<<reg) terms (never libm pow) + 1.0 per absent register. */
  private val hllZSql: String =
    "SUM(CAST(1.0 AS DOUBLE)/(CAST(1 AS BIGINT) << reg)) + (256 - COUNT(*))"

  /** DuckDB fragment: the HLL estimate from (z, nz) — α·m²/Z with the
    * small-range correction, the same operation order as
    * graft.api.Analytics.hllEstimate (CASTs because bare DuckDB numeric
    * literals are DECIMAL, not DOUBLE). */
  private def hllEstSql(z: String, nz: String): String = {
    val raw = "(CAST(0.7213 AS DOUBLE)/(CAST(1.0 AS DOUBLE)" +
      s"+CAST(1.079 AS DOUBLE)/CAST(256.0 AS DOUBLE))*CAST(65536.0 AS DOUBLE))/($z)"
    s"CASE WHEN $raw <= CAST(640.0 AS DOUBLE) AND ($nz) > 0 " +
      s"THEN CAST(256.0 AS DOUBLE)*ln(CAST(256.0 AS DOUBLE)/($nz)) " +
      s"ELSE $raw END"
  }
  /** Count-min-sketch geometry of ana_cms_heavy: depth (independent hash
    * rows) × width (counters per row). ε ≈ e/width of the stream length
    * overcount at 1 − (1/e)^depth confidence; production widths are
    * 2^14+ — still a KB-scale grid. */
  private val CmsDepth = 4
  private val CmsWidth = 512
  /** Sample size of ana_weighted_sample (A-Res k). */
  private val WsK = 25

  /** Degree of each customer in the order graph. */
  private def degrees(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).groupBy(col("o_custkey")).agg(count(lit(1)).as("k"))

  val queries: Map[String, Q] = Map(
    // A9/W6 — degree distribution + CCDF via cumulative window
    // (ref notebook cell 87: value_counts → pdf → 1 - cumsum.shift(1)).
    "ana_degree_ccdf" -> ((s, d) => {
      // The CCDF window runs over the DISTRIBUTION (one row per distinct
      // degree — thousands at any corpus scale), never over the raw rows.
      graft.api.Analytics.ccdf(
          degrees(s, d).groupBy(col("k")).agg(count(lit(1)).as("cnt")))
        .orderBy(col("k"))
    }),

    // A10 — power-law exponent MLE (Clauset et al.; ref notebook cell 89):
    // γ = 1 + n / Σ ln(k_i / (k_min − 0.5)), degrees ≥ k_min. Pure built-in
    // aggregate composition — no UDAF. Rounded: log sums are order-dependent
    // in the last bits.
    "ana_powerlaw_gamma" -> ((s, d) => {
      val kmin = 3
      degrees(s, d).filter(col("k") >= kmin)
        .agg(
          count(lit(1)).as("n_tail"),
          round(lit(1.0) + count(lit(1)) / sum(log(col("k") / lit(kmin - 0.5))), 6).as("gamma"))
    }),

    // A11 — co-occurrence pair counting (ref notebook cells 109, 112):
    // parts co-ordered in the same order; self-join with a<b → count →
    // top-20. The self-join shuffles on the order key once and each key's
    // fan-in is CAPPED at CoocCap items (deterministic hash-ordered
    // top-N, mirrored in the oracle SQL) so a power-law hub key cannot
    // detonate one task with k²/2 generated pairs — see
    // graft.api.Analytics.cooccurrencePairs. TPC-H orders carry ≤ 7
    // parts, so at fixture scale the cap is inert and the result equals
    // the uncapped form.
    "ana_cooccurrence_pairs" -> ((s, d) => {
      graft.api.Analytics.cooccurrencePairs(
          Tables.lineitem(s, d)
            .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk")),
          "okey", "pk", maxPerKey = CoocCap)
        .orderBy(col("n_cooc").desc, col("p1").asc, col("p2").asc)
        .limit(20)
    }),

    // A6 — min-max normalization + missing indicator (ref data_processor.py:122-139);
    // exact percentile for the median so both engines interpolate identically.
    // Not api.Analytics.minmaxNormalize: the median rides the same stats
    // aggregate, where the operator would cost a second scan.
    "ana_minmax_normalize" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val stats = o.agg(
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"),
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("med"))
      o.crossJoin(broadcast(stats))
        .select(col("o_orderkey"),
          round((col("o_totalprice") - col("mn")) / (col("mx") - col("mn")), 6).as("price_norm"),
          col("o_totalprice").isNull.cast("double").as("is_missing"),
          col("med"))
        .orderBy(col("o_orderkey")).limit(1000)
    }),

    // A7 — frequency table / top-k categories (ref notebook cells 78, 100).
    "ana_freq_event_types" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type").asc)
        .limit(10)
    }),

    // A3 — cardinality audit: exact count-distinct per column
    // (ref notebook cells 66, 68 nunique). At 100 TB the exact form
    // is one shuffle per column via expand; approx_count_distinct (HLL)
    // is the scale path and is asserted within 5% in the spec suite.
    "ana_count_distinct" -> ((s, d) => {
      Tables.orders(s, d).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("n_custkeys"),
        countDistinct(col("o_orderstatus")).as("n_statuses"),
        countDistinct(col("o_orderpriority")).as("n_priorities"))
    }),

    // A3 scale path, made deterministic: KMV distinct-count sketch
    // (KmvSketch aggregate — one ≤k-long partial buffer per task, never
    // a distinct-shuffle of the key universe). Exact hashes + fixed
    // arithmetic, so unlike HLL the estimate hash-matches the DuckDB
    // replay bit-for-bit; the exact side rides along as the audit.
    "ana_kmv_distinct" -> ((s, d) => {
      graft.api.Analytics.kmvDistinct(Tables.orders(s, d), col("o_custkey"),
        k = KmvK)
    }),

    // KMV sketch SET ALGEBRA — the cross-period audience overlap
    // estimate: one sketch per period plus one over the union (the union
    // sketch is what merging the two period sketches yields — KMV union
    // = re-min over both buffers), intersection by inclusion-exclusion.
    // Every estimate is the deterministic kth-hash formula, replayed by
    // the oracle from ordered top-k; the exact overlap sits beside the
    // estimate. At 100 TB the periods never co-shuffle — each sketch is
    // a bounded-buffer aggregation over its own partition-pruned scan.
    "ana_kmv_union" -> ((s, d) => {
      val M = 268435456.0
      val o = Tables.orders(s, d)
        .select(col("o_custkey"),
          (year(col("o_orderdate")) < 1998).as("pre"),
          TextHash.h28(col("o_custkey").cast("string")).as("h"))
      def est(df: DataFrame, name: String): DataFrame =
        df.agg(call_function("kmv_sketch", col("h"), lit(KmvK)).as("mins"))
          .select(round((size(col("mins")).cast("long") - 1) * lit(M) /
            element_at(col("mins"), -1), 6).as(name))
      val ea = est(o.filter(col("pre")), "est_a")
      val eb = est(o.filter(!col("pre")), "est_b")
      val eu = est(o, "est_union")
      val exact = o.filter(col("pre")).select(col("o_custkey")).distinct()
        .join(o.filter(!col("pre")).select(col("o_custkey")).distinct(), "o_custkey")
        .agg(count(lit(1)).as("n_exact_inter"))
      ea.crossJoin(broadcast(eb)).crossJoin(broadcast(eu))
        .crossJoin(broadcast(exact))
        .select(col("est_a"), col("est_b"), col("est_union"),
          round(col("est_a") + col("est_b") - col("est_union"), 6)
            .as("est_inter"),
          col("n_exact_inter"))
    }),

    // GROUPED KMV distinct-count sketches — the per-segment cardinality
    // profile: one ≤k-long partial buffer PER (task, group) merges
    // map-side through the exchange (never a distinct-shuffle of the key
    // universe per group), and the deterministic kth-hash estimate
    // replays exactly in the oracle via per-group ordered top-k. The
    // shape a 100 TB profiler runs per column × segment.
    "ana_kmv_by_group" -> ((s, d) => {
      val M = 268435456.0
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(call_function("kmv_sketch",
            TextHash.h28(col("o_custkey").cast("string")), lit(KmvK)).as("mins"),
          countDistinct(col("o_custkey")).as("n_exact"))
        .select(col("o_orderpriority"),
          size(col("mins")).cast("long").as("k_used"),
          element_at(col("mins"), -1).as("kth_hash"), col("n_exact"))
        .select(col("o_orderpriority"), col("k_used"), col("kth_hash"),
          round((col("k_used") - 1) * lit(M) / col("kth_hash"), 6)
            .as("est_distinct"),
          col("n_exact"))
        .orderBy(col("o_orderpriority"))
    }),

    // A6 SCALE PATH — quantiles from a deterministic hash-gate sample,
    // completing the bounded-memory profile family (distincts →
    // KMV/HLL, heavy hitters → CMS, quantiles → gated sample): exact
    // percentile pushes every value through one ranked pass; the
    // congruential gate on the ROW KEY keeps ~SqCap rows at ANY corpus
    // size (divisor D = greatest(1, n div SqCap), the same self-sizing
    // integer rule as the six-degrees pair sample), and because the
    // gate is a pure hash predicate the sample of a union IS the union
    // of samples — mergeable across days/partitions with no resample.
    // Both engines replay the identical sample, so the approximate
    // quantiles hash-match; the exact median rides along as the audit
    // with its absolute error. Key contract: products stay in int64 for
    // keys ≲ 3.4e9 (shared with every other congruential gate here).
    "ana_sampled_quantiles" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      val audit = o.agg(count(lit(1)).as("n_total"),
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("q50_exact"))
      o.crossJoin(broadcast(audit))
        // pre-reduced multiplier (2654435761 ≡ 427799 mod 1000003):
        // value-identical to key·2654435761 mod 1000003 for every key,
        // but in-int64 at the 10¹⁰-scale replica ids where the raw
        // product threw ANSI overflow (sf10 checkpoint catch).
        .filter(pmod(pmod(pmod(col("o_orderkey"), lit(1000003L)) * 427799L,
            lit(1000003L)),
          greatest(lit(1L), expr("n_total div " + SqCap))) === 0)
        .groupBy(col("n_total"), col("q50_exact"))
        .agg(count(lit(1)).as("n_sampled"),
          round(expr("percentile(o_totalprice, 0.25)"), 6).as("q25_sample"),
          round(expr("percentile(o_totalprice, 0.5)"), 6).as("q50_sample"),
          round(expr("percentile(o_totalprice, 0.75)"), 6).as("q75_sample"))
        .select(col("n_total"), col("n_sampled"),
          col("q25_sample"), col("q50_sample"), col("q75_sample"),
          col("q50_exact"),
          round(abs(col("q50_sample") - col("q50_exact")), 6)
            .as("q50_abs_err"))
    }),

    // A3 scale path #2: HyperLogLog register sketch (hll_sketch
    // aggregate — a FIXED 2^p-byte register file per task, merged by
    // elementwise max; Flajolet et al. 2007, the structure behind
    // Spark's own approx_count_distinct). Where KMV carries exact hash
    // VALUES, HLL's footprint is constant and its union is free — the
    // per-column profile a 100 TB warehouse keeps per day. Exact h28
    // hashes + dyadic 1/(1<<reg) arithmetic make the estimate
    // bit-reproducible in the DuckDB replay — see
    // graft.api.Analytics.hllEstimate for the exactness argument.
    "ana_hll_distinct" -> ((s, d) => {
      import graft.api.{Analytics => A}
      Tables.orders(s, d)
        .agg(call_function("hll_sketch",
            TextHash.h28(col("o_custkey").cast("string")), lit(HllP)).as("regs"),
          countDistinct(col("o_custkey")).as("n_exact"))
        .select(
          (lit(256L) - A.hllZeros(col("regs"))).as("regs_used"),
          round(A.hllEstimate(col("regs")), 6).as("est_distinct"),
          col("n_exact"),
          round(abs(A.hllEstimate(col("regs")) - col("n_exact")) /
            col("n_exact"), 6).as("rel_err"))
    }),

    // GROUPED HLL cardinality profile — one 2^p-BYTE register file per
    // (task, segment) merging map-side through the exchange (the
    // grouped twin of ana_hll_distinct, same shape as ana_kmv_by_group
    // but with a constant-size buffer per group regardless of segment
    // cardinality): the per-column × per-segment distinct profile a
    // 100 TB warehouse refreshes per day, mergeable day-over-day.
    "ana_hll_by_group" -> ((s, d) => {
      import graft.api.{Analytics => A}
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(call_function("hll_sketch",
            TextHash.h28(col("o_custkey").cast("string")), lit(HllP)).as("regs"),
          countDistinct(col("o_custkey")).as("n_exact"))
        .select(col("o_orderpriority"),
          (lit(256L) - A.hllZeros(col("regs"))).as("regs_used"),
          round(A.hllEstimate(col("regs")), 6).as("est_distinct"),
          col("n_exact"))
        .orderBy(col("o_orderpriority"))
    }),

    // HLL MERGE LAW — sketch(A ∪ B) = elementwise-max(sketch A, sketch B):
    // per-period sketches built independently (the per-day profile
    // shape), merged with zip_with/greatest, and CHECKED against the
    // sketch of the union built from scratch — a genuine runtime probe
    // of the aggregate's merge path, replayed relationally by the
    // oracle. At 100 TB the merge side never rescans history:
    // yesterday's 256-byte register file plus today's IS the union's.
    "ana_hll_merge" -> ((s, d) => {
      import graft.api.{Analytics => A}
      val o = Tables.orders(s, d).select(col("o_custkey"),
        (year(col("o_orderdate")) < 1998).as("pre"),
        TextHash.h28(col("o_custkey").cast("string")).as("h"))
      val parts = o.groupBy(col("pre"))
        .agg(call_function("hll_sketch", col("h"), lit(HllP)).as("regs"))
      val ab = parts.agg(
        first(when(col("pre"), col("regs")), ignoreNulls = true).as("ra"),
        first(when(!col("pre"), col("regs")), ignoreNulls = true).as("rb"))
      val full = o.agg(
        call_function("hll_sketch", col("h"), lit(HllP)).as("rf"),
        countDistinct(col("o_custkey")).as("n_exact_union"))
      def merged: Column = zip_with(col("ra"), col("rb"), (x, y) => greatest(x, y))
      ab.crossJoin(broadcast(full))
        .select(
          round(A.hllEstimate(col("ra")), 6).as("est_a"),
          round(A.hllEstimate(col("rb")), 6).as("est_b"),
          round(A.hllEstimate(merged), 6).as("est_merged"),
          (merged === col("rf")).cast("int").as("merge_is_lossless"),
          col("n_exact_union"))
    }),

    // MERGEABLE QUANTILE SKETCH (qsketch aggregate — log-linear
    // bucket histogram, the HdrHistogram/DDSketch family): the sketch
    // battery's quantile member, and the swap-in ana_quantiles promises
    // at 100 TB. ONE bounded buffer per task (≤ 1920 buckets ≈ 15 KB
    // worst case, constant in row count) merges bucketwise-add through
    // the exchange — never a full sort or an all-values shuffle. Rank
    // is exact; the value is quantized to its bucket lower bound
    // (relative error ≤ 2^-5 ≈ 3.1%), and the exact median rides along
    // as the audit. Prices pre-scale to integer cents (round half-up on
    // positives agrees across engines; the double product 100·x is IEEE
    // identical). The cumulative walk is a window over ≤ 1920 bucket
    // rows — constant-size regardless of data scale, same class as
    // denseIndex's offsets window. Every number is integer arithmetic
    // until the final /100 division, so the DuckDB replay (GROUP BY the
    // identical bucket function) hash-matches bit-for-bit.
    "ana_qsketch_quantiles" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_totalprice"),
        round(col("o_totalprice") * 100, 0).cast("long").as("x"))
      val sk = o.agg(call_function("qsketch", col("x")).as("bk"),
        count(lit(1)).as("n"),
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("q50_exact"))
      val cum = sk
        .select(col("n"), col("q50_exact"), explode(col("bk")).as("e"))
        .select(col("n"), col("q50_exact"), col("e.b").as("b"),
          col("e.lo").as("lo"), col("e.cnt").as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("b"))))
      def pick(q: Int) =
        min(when(col("cum") >= expr(s"(n * $q + 99) div 100"), col("lo")))
          .as(s"l$q")
      cum.groupBy(col("n"), col("q50_exact"))
        .agg(count(lit(1)).as("n_buckets"),
          pick(25), pick(50), pick(75), pick(95))
        .select(col("n").as("n_total"), col("n_buckets"),
          round(col("l25") / lit(100.0), 6).as("q25_est"),
          round(col("l50") / lit(100.0), 6).as("q50_est"),
          round(col("l75") / lit(100.0), 6).as("q75_est"),
          round(col("l95") / lit(100.0), 6).as("q95_est"),
          col("q50_exact"),
          round(abs(col("l50") / lit(100.0) - col("q50_exact")), 6)
            .as("q50_abs_err"))
    }),

    // GROUPED quantile-sketch profile — one bounded bucket buffer per
    // (task, segment) merging map-side through the exchange (the
    // grouped twin, same shape as ana_kmv_by_group/ana_hll_by_group):
    // the per-column × per-segment latency/price-distribution profile a
    // 100 TB warehouse refreshes per day, mergeable day-over-day. The
    // per-group cumulative walk partitions the constant-size bucket
    // frame by segment.
    "ana_qsketch_by_group" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderpriority"),
        col("o_totalprice"),
        round(col("o_totalprice") * 100, 0).cast("long").as("x"))
      val sk = o.groupBy(col("o_orderpriority"))
        .agg(call_function("qsketch", col("x")).as("bk"),
          count(lit(1)).as("n"),
          round(expr("percentile(o_totalprice, 0.5)"), 6).as("q50_exact"))
      val cum = sk
        .select(col("o_orderpriority"), col("n"), col("q50_exact"),
          explode(col("bk")).as("e"))
        .select(col("o_orderpriority"), col("n"), col("q50_exact"),
          col("e.b").as("b"), col("e.lo").as("lo"), col("e.cnt").as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("o_orderpriority")).orderBy(col("b"))))
      cum.groupBy(col("o_orderpriority"), col("n"), col("q50_exact"))
        .agg(count(lit(1)).as("n_buckets"),
          min(when(col("cum") >= expr("(n * 50 + 99) div 100"), col("lo")))
            .as("l50"))
        .select(col("o_orderpriority"), col("n").as("n_total"),
          col("n_buckets"),
          round(col("l50") / lit(100.0), 6).as("q50_est"),
          col("q50_exact"),
          round(abs(col("l50") / lit(100.0) - col("q50_exact")), 6)
            .as("q50_abs_err"))
        .orderBy(col("o_orderpriority"))
    }),

    // QSKETCH MERGE LAW — sketch(A ∪ B) = bucketwise-ADD(sketch A,
    // sketch B), and unlike HLL/KMV the law is EXACT (counts add
    // losslessly), so the check demands full multiset equality: per-
    // period sketches built independently (the per-day profile shape),
    // merged relationally, and compared bucket-for-bucket against the
    // sketch of the union built from scratch — a genuine runtime probe
    // of the aggregate's merge path, replayed relationally by the
    // oracle. At 100 TB the merge side never rescans history:
    // yesterday's bucket file plus today's IS the union's.
    "ana_qsketch_merge" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_totalprice"),
        round(col("o_totalprice") * 100, 0).cast("long").as("x"),
        (year(col("o_orderdate")) < 1998).as("pre"))
      def flat(df: DataFrame, side: Column) = df
        .select(side.as("side"), explode(col("bk")).as("e"))
        .select(col("side"), col("e.b").as("b"), col("e.lo").as("lo"),
          col("e.cnt").as("cnt"))
      val parts = flat(
        o.groupBy(col("pre")).agg(call_function("qsketch", col("x")).as("bk")),
        when(col("pre"), lit("a")).otherwise(lit("b")))
      val merged = parts.groupBy(col("b"), col("lo"))
        .agg(sum(col("cnt")).as("cnt")).withColumn("side", lit("m"))
        .select(col("side"), col("b"), col("lo"), col("cnt"))
      val uni = flat(o.agg(call_function("qsketch", col("x")).as("bk")), lit("u"))
      val cum = parts.unionByName(merged).unionByName(uni)
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("side")).orderBy(col("b"))))
        .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col("side"))))
      val ests = cum.groupBy(col("side"))
        .agg(count(lit(1)).as("nb"),
          min(when(col("cum") >= expr("(tot * 50 + 99) div 100"), col("lo")))
            .as("l50"))
      def side(sd: String, c: String) = max(when(col("side") === sd, col(c)))
      val wide = ests.agg(
        side("a", "nb").as("n_buckets_a"), side("b", "nb").as("n_buckets_b"),
        side("m", "nb").as("n_buckets_merged"),
        round(side("a", "l50") / lit(100.0), 6).as("q50_est_a"),
        round(side("b", "l50") / lit(100.0), 6).as("q50_est_b"),
        round(side("m", "l50") / lit(100.0), 6).as("q50_est_merged"))
      val lossless = merged.select(col("b"), col("cnt").as("cm"))
        .join(uni.select(col("b"), col("cnt").as("cu")), Seq("b"), "full_outer")
        .agg(sum(when(col("cm").isNull || col("cu").isNull ||
          col("cm") =!= col("cu"), 1).otherwise(0)).cast("long").as("n_mismatch"))
      val exact = o.agg(
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("q50_exact_union"))
      wide.crossJoin(broadcast(lossless)).crossJoin(broadcast(exact))
        .select(col("n_buckets_a"), col("n_buckets_b"), col("n_buckets_merged"),
          col("q50_est_a"), col("q50_est_b"), col("q50_est_merged"),
          (col("n_mismatch") === 0).cast("int").as("merge_is_lossless"),
          col("q50_exact_union"))
    }),

    // A5 — basic stats + mean imputation (ref transformer.py:345
    // mean-imputes birth_year). The fixtures have no nulls, so
    // missingness is injected deterministically (hash-bucket 1-in-10)
    // and the mean of the observed values fills the gaps — the
    // scalar-subquery-broadcast pattern; exact decimal mean so both
    // engines agree bitwise.
    "ana_impute_mean" -> ((s, d) => {
      import TextHash.h28
      val c = Tables.customer(s, d)
        .select(col("c_custkey"),
          when(h28(col("c_name")) % 10 === 0, lit(null).cast("double"))
            .otherwise(col("c_acctbal")).as("bal"))
      graft.api.Analytics.meanImpute(c, "bal", scale = 2)
        .select(col("c_custkey"), col("was_missing"), col("bal_imputed"))
        .orderBy(col("c_custkey")).limit(1000)
    }),

    // Skew-safe salted aggregation (SURVEY §4 physical-execution note:
    // the reference's degree distribution has a γ≈3.4 hub tail, so hot
    // keys are real): phase 1 groups by (key, salt) spreading each hot
    // key over 16 reducers, phase 2 merges partials per key. Partial
    // sums STAY decimal between phases so the merged total is exactly
    // the direct groupBy's answer — which is what the oracle computes.
    "ana_salted_hub_degrees" -> ((s, d) => {
      graft.api.Analytics.saltedAgg(Tables.lineitem(s, d),
          key = col("l_suppkey"), saltBy = col("l_orderkey"),
          value = col("l_extendedprice"), salts = 16)
        .select(col("key").as("l_suppkey"), col("n").as("n_items"),
          col("total").as("total_price"))
        .orderBy(col("l_suppkey"))
    }),

    // A12 — in-degree per node over the bipartite order graph
    // (ref predicter.py:54-75 bincount).
    "ana_indegree_suppliers" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("in_degree"))
        .orderBy(col("l_suppkey"))
    }),

    // Exact interpolated quantiles of the price distribution — the
    // distribution-summary operator a corpus-stats pass reports. Exact
    // `percentile` (sort + linear interpolation, identical to DuckDB's
    // quantile_cont) so results hash-match; at 100 TB the repo's own
    // mergeable bounded-buffer sketch replaces it, same plan shape —
    // ana_qsketch_quantiles IS that swap-in, oracle-checked.
    "ana_quantiles" -> ((s, d) => {
      Tables.orders(s, d).agg(
        round(expr("percentile(o_totalprice, 0.25)"), 6).as("q25"),
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("q50"),
        round(expr("percentile(o_totalprice, 0.75)"), 6).as("q75"),
        round(expr("percentile(o_totalprice, 0.95)"), 6).as("q95"))
    }),

    // Robust (median/MAD) outlier screen over customer spend — the
    // heavy-tail-safe anomaly gate a power-law corpus needs (mean/stddev
    // breaks down when γ ≈ 3.4, SURVEY §6). Three passes, every one over
    // the ALREADY-AGGREGATED per-customer frame (|customers| rows, never
    // the raw log): exact interpolated median, median absolute deviation
    // via one broadcast scalar, then the 3σ-equivalent cut at
    // 4.4478·MAD (= 3·1.4826, the normal-consistency constant). At
    // production scale the two percentile passes swap to approx_percentile
    // with no other plan change.
    "ana_mad_outliers" -> ((s, d) => {
      val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(28,4)")).cast("double").as("spend"))
      val med = spend.agg(expr("percentile(spend, 0.5)").as("med"))
      val dev = spend.crossJoin(broadcast(med))
        .withColumn("adev", abs(col("spend") - col("med")))
      val mad = dev.agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.crossJoin(broadcast(mad))
        .agg(count(lit(1)).as("n_customers"),
          round(max(col("med")), 6).as("median_spend"),
          round(max(col("mad")), 6).as("mad_spend"),
          sum(when(col("adev") > lit(4.4478) * col("mad"), 1).otherwise(0))
            .cast("long").as("n_outliers"),
          round(max(col("spend")), 4).as("max_spend"))
    }),

    // Month-of-year seasonal index — the classical-decomposition seasonal
    // component (index = month share × 12; 1.0 = no seasonality): one
    // aggregation to the 12-row month domain, exact decimal revenue, one
    // rounded division against the broadcast total.
    "ana_seasonality" -> ((s, d) => {
      val m = Tables.orders(s, d)
        .groupBy(month(col("o_orderdate")).cast("int").as("mo"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(28,4)")).as("rev"))
      val tot = m.agg(sum(col("rev")).as("trev"))
      m.crossJoin(broadcast(tot))
        .select(col("mo"), col("n_orders"),
          round(col("rev").cast("double"), 4).as("revenue"),
          round(col("rev").cast("double") * 12 / col("trev").cast("double"), 6)
            .as("seasonal_index"))
        .orderBy(col("mo"))
    }),

    // Benford first-digit audit — the classic fabricated-data screen:
    // observed first-digit shares of order totals vs Benford's
    // log10(1+1/d) expectation, plus the chi²-style divergence. The
    // digit comes from the INTEGER part as a string (no log10-boundary
    // float hazard); shares and the divergence follow the exact-decimal
    // cell-sum discipline. Nine output rows at any scale.
    "ana_benford" -> ((s, d) => {
      val digit = substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit")
      val obs = Tables.orders(s, d).select(digit)
        .filter(col("digit") >= 1)
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = obs.agg(sum(col("n")).as("tot"))
      obs.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("tot"), 6).as("observed"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("benford"))
        .orderBy(col("digit"))
    }),

    // RFM (recency / frequency / monetary) segmentation — the customer-
    // value grid CRM pipelines cut on. Each dimension is scored 1-5 by
    // GLOBAL quintile of its exact rank; ranks come from the same
    // two-phase bucketed form as gini (per-bucket row_number + broadcast
    // offsets — no single-partition sort at any scale), and the quintile
    // is the integer formula ((i−1)·5) div n + 1 — replayed verbatim by
    // the oracle, with none of NTILE's engine-specific remainder
    // placement. Output: the populated RFM cells with sizes and average
    // spend.
    "ana_rfm_segments" -> ((s, d) => {
      val per = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(datediff(max(col("o_orderdate")), to_date(lit("1970-01-01"))).as("rec"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast("decimal(28,4)")).as("mon"))
      val n = per.agg(count(lit(1)).as("n"))
      def score(metric: Column, name: String): DataFrame =
        graft.api.Analytics.globalRank(per, col("o_custkey"), metric)
          .crossJoin(broadcast(n))
          .select(col("__k").as("o_custkey"),
            (expr("((i - 1) * 5) div n") + 1).as(name))
      score(col("rec"), "r_score")
        .join(score(col("freq"), "f_score"), "o_custkey")
        .join(score(col("mon"), "m_score"), "o_custkey")
        .join(per.select(col("o_custkey"), col("mon")), "o_custkey")
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("mon")).cast("double") / count(lit(1)), 4).as("avg_monetary"))
        .orderBy(col("r_score"), col("f_score"), col("m_score"))
    }),

    // Exact Gini coefficient of customer spend — the inequality summary
    // that goes with a power-law analysis (hub concentration in money
    // rather than degree). Needs every row's GLOBAL ascending rank;
    // computed with the same two-phase rank as Sampling.denseIndex:
    // values hash into range buckets, row_number runs PER BUCKET, and
    // bucket offsets come from a window over the ≤ GiniBuckets-row
    // histogram — no single-partition global sort at any scale. Rank
    // sums stay in exact decimals; Σ i·x_i is permutation-invariant
    // over ties, so the (value, key) total order is deterministic on
    // both engines. gini = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx).
    "ana_gini_spend" -> ((s, d) => {
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(28,4)")).as("v"))
      graft.api.Analytics.gini(spend, col("o_custkey"), col("v"), GiniBuckets)
        .select(col("n"), col("total").as("total_spend"), col("gini"))
    }),

    // Per-GROUP exact interpolated quantiles — the distribution summary
    // of ana_quantiles broken down by category (per-segment corpus
    // stats). One hash aggregation keyed on the group; at 100 TB the
    // same plan swaps `percentile` for the repo's mergeable qsketch
    // with no shape change (ana_qsketch_by_group IS that swap-in,
    // oracle-checked) — group count, not row count, bounds the reduce
    // side.
    "ana_group_quantiles" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          round(expr("percentile(o_totalprice, 0.25)"), 6).as("q25"),
          round(expr("percentile(o_totalprice, 0.5)"), 6).as("q50"),
          round(expr("percentile(o_totalprice, 0.95)"), 6).as("q95"))
        .orderBy(col("o_orderpriority"))
    }),

    // Deterministic stratified sampling — the class-rebalancing step of a
    // training-data pipeline: per-stratum keep-rates applied by an
    // integer-mix hash of the row key (no RNG, reproducible across runs
    // and engines; same sampler family as ml_neg_sampling). Urgent
    // orders keep everything, high priority half, the bulk 1-in-10.
    // Pure per-row filter + one aggregation — distributes with the scan.
    // Not api.Sampling.stratifiedSample: this reports per-stratum counts
    // of the keep gate, where the operator returns the kept rows only.
    "ana_stratified_sample" -> ((s, d) => {
      val rate = when(col("o_orderpriority").startsWith("1"), 100)
        .when(col("o_orderpriority").startsWith("2"), 50)
        .otherwise(10)
      val bucket = graft.api.Sampling.mixBucket(col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), rate.as("rate"),
          (bucket < rate).cast("int").as("keep"))
        .groupBy(col("o_orderpriority"), col("rate"))
        .agg(count(lit(1)).as("n_total"),
          sum(col("keep")).cast("long").as("n_sampled"))
        .orderBy(col("o_orderpriority"))
    }),

    // Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    // Spirakis A-Res, 2006) — the importance-sampling primitive of data
    // mixing: each key gets priority -ln(u)/w with u a deterministic
    // 28-bit hash uniform, and the k smallest priorities ARE a weighted
    // sample without replacement. Spend-weighted 25 customers here.
    // One aggregation for the weights, then per-row key arithmetic +
    // TakeOrdered (per-partition top-k heaps, no global sort) — the same
    // single-pass shape at any scale, and fully replayable: the oracle
    // recomputes identical priorities from the same md5-derived uniform.
    "ana_weighted_sample" -> ((s, d) => {
      val spend = Tables.orders(s, d).groupBy(col("o_custkey").as("c"))
        .agg(rsum(col("o_totalprice")).as("w"))
      graft.api.Sampling.weightedSample(spend, col("c"), col("w"), WsK)
        .select(col("key").as("c"), round(col("w"), 2).as("spend"),
          round(col("priority") * 1000000, 6).as("key_ppm"))
    }),

    // Join-key skew report — the pre-flight diagnostic before choosing a
    // shuffle strategy (feeds the ana_salted_hub_degrees decision): per
    // candidate key, group-size distribution stats. One aggregation to
    // group sizes (bounded by key cardinality), one summary over the
    // size DISTRIBUTION; max-share and p99/p50 are what decide between
    // plain hash join, broadcast, and salting at 100 TB.
    "ana_skew_report" -> ((s, d) => {
      val sizes = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
      sizes.agg(count(lit(1)).as("n_keys"),
          sum(col("n")).as("n_rows"),
          max(col("n")).as("max_key_rows"),
          round(expr("percentile(n, 0.5)"), 6).as("p50"),
          round(expr("percentile(n, 0.99)"), 6).as("p99"))
        .select(col("n_keys"), col("n_rows"), col("max_key_rows"),
          round(col("max_key_rows").cast("double") / col("n_rows"), 9)
            .as("max_share"),
          col("p50"), col("p99"),
          round(col("p99") / col("p50"), 6).as("skew_ratio"))
    }),

    // Pearson correlation matrix over lineitem measures — the standard
    // profiling step before feature selection. All nine moment sums come
    // from ONE scan/aggregation (map-side combine reduces each partition
    // to a single row); the three correlations are then per-row
    // arithmetic on that 1-row frame, exploded into matrix form. Sums of
    // squares go through DECIMAL(38,10) (13 integer digits of DECIMAL
    // (28,15) would overflow on price²; 28 integer digits will not),
    // so r is bit-identical across engines.
    "ana_correlation" -> ((s, d) => {
      // spread: the nine decimal moment products are scan-fused and a
      // single-row-group lineitem file cannot split — profiled 2.1 s on
      // ONE core at sf0.1; the ~10 MB round-robin exchange buys the
      // aggregation full width (Tables.spread contract: heavy per-row
      // work only). Decimal sums are order-independent — bit-identical.
      graft.api.Analytics.correlationMatrix(
          Tables.spread(Tables.lineitem(s, d)
            .select(col("l_quantity").as("quantity"),
              col("l_extendedprice").as("extendedprice"),
              col("l_discount").as("discount"))),
          Seq("quantity", "extendedprice", "discount"))
        .orderBy(col("x"), col("y"))
    }),

    // Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005) —
    // the third deterministic sketch next to KMV (cardinality) and the
    // Bloom bitset (membership): frequency estimation from a FIXED
    // CmsDepth×CmsWidth counter grid, never a groupBy of the key
    // universe. Build is one hash aggregation over (row, depth) whose
    // map-side partial combine bounds every partition's shuffle
    // contribution at CmsDepth·CmsWidth rows — the sketch, not the
    // stream, crosses the exchange, and the result is a ~2k-row
    // broadcastable artifact. Candidates come from a deterministic
    // 1-in-16 hash sample of the key stream (the scale contract: probe
    // volume ∝ sampled keys, never the universe); each estimate is the
    // min over the candidate's CmsDepth cells via one broadcast join.
    // Exact counts ride along as the audit: est ≥ exact always (CMS
    // never undercounts), and the same affine re-hash family as the
    // MinHash pipeline makes every cell index replayable in DuckDB —
    // the whole sketch hash-matches, not just the top line.
    "ana_cms_heavy" -> ((s, d) => {
      import TextHash.{h28, affine}
      val hashed = Tables.orders(s, d)
        .select(col("o_custkey"), h28(col("o_custkey").cast("string")).as("h"))
      val depths = sequence(lit(0), lit(CmsDepth - 1))
      val sketch = hashed
        .select(col("h"), explode(depths).as("j"))
        .groupBy(col("j"), (affine(col("h"), col("j")) % CmsWidth).as("b"))
        .agg(count(lit(1)).as("cnt"))
      val cand = hashed.filter(col("h") % 16 === 0).distinct()
      val est = cand
        .select(col("o_custkey"), col("h"), explode(depths).as("j"))
        .withColumn("b", affine(col("h"), col("j")) % CmsWidth)
        .join(broadcast(sketch), Seq("j", "b"))
        .groupBy(col("o_custkey"))
        .agg(min(col("cnt")).as("est"))
      val exact = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("exact_n"))
      est.join(exact, "o_custkey")
        .select(col("o_custkey"), col("est"), col("exact_n"),
          (col("est") - col("exact_n")).as("overcount"))
        .orderBy(col("est").desc, col("o_custkey").asc)
        .limit(20)
    })
  )

  val oracle: Map[String, String] = Map(
    "ana_degree_ccdf" ->
      """WITH deg AS (SELECT o_custkey, COUNT(*) AS k FROM orders GROUP BY o_custkey),
        |dist AS (SELECT k, COUNT(*) AS cnt FROM deg GROUP BY k)
        |SELECT k, cnt,
        |  1.0 - CAST(COALESCE(SUM(cnt) OVER (ORDER BY k
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
        |    / CAST(SUM(cnt) OVER () AS DOUBLE) AS ccdf
        |FROM dist ORDER BY k""".stripMargin,

    "ana_powerlaw_gamma" ->
      """WITH deg AS (SELECT o_custkey, COUNT(*) AS k FROM orders GROUP BY o_custkey)
        |SELECT COUNT(*) AS n_tail,
        |  round(1.0 + COUNT(*) / SUM(ln(k / 2.5)), 6) AS gamma
        |FROM deg WHERE k >= 3""".stripMargin,

    // capped mirrors Analytics.cooccurrencePairs' deterministic per-key
    // top-CoocCap (hash order, item tiebreak) — inert at fixture scale
    // (≤ 7 parts per order) but part of the compared semantics.
    "ana_cooccurrence_pairs" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
        |capped AS (SELECT okey, pk FROM (
        |    SELECT okey, pk, row_number() OVER (PARTITION BY okey
        |      ORDER BY ${TextHash.h28Sql("CAST(pk AS VARCHAR)")}, pk) AS rn
        |    FROM li)
        |  WHERE rn <= $CoocCap)
        |SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS n_cooc
        |FROM capped a JOIN capped b ON a.okey = b.okey AND a.pk < b.pk
        |GROUP BY 1, 2 ORDER BY n_cooc DESC, p1 ASC, p2 ASC LIMIT 20""".stripMargin,

    "ana_minmax_normalize" ->
      """WITH stats AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS med FROM orders)
        |SELECT o_orderkey,
        |  round((o_totalprice - mn) / (mx - mn), 6) AS price_norm,
        |  CAST(o_totalprice IS NULL AS DOUBLE) AS is_missing,
        |  med
        |FROM orders, stats ORDER BY o_orderkey LIMIT 1000""".stripMargin,

    "ana_count_distinct" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(DISTINCT o_custkey) AS n_custkeys,
        |  COUNT(DISTINCT o_orderstatus) AS n_statuses,
        |  COUNT(DISTINCT o_orderpriority) AS n_priorities
        |FROM orders""".stripMargin,

    // Replays the sketch exactly: the k smallest distinct h28 hashes and
    // the same fixed-order estimate arithmetic.
    "ana_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT
         |    ${TextHash.h28Sql("CAST(o_custkey AS VARCHAR)")} AS h FROM orders),
         |t AS (SELECT h FROM h ORDER BY h LIMIT $KmvK),
         |a AS (SELECT COUNT(*) AS k_used, MAX(h) AS kth_hash FROM t),
         |e AS (SELECT COUNT(DISTINCT o_custkey) AS n_exact FROM orders)
         |SELECT a.k_used, a.kth_hash,
         |  round((a.k_used - 1) * 268435456.0 / a.kth_hash, 6) AS est_distinct,
         |  e.n_exact,
         |  round(abs((a.k_used - 1) * 268435456.0 / a.kth_hash - e.n_exact)
         |    / e.n_exact, 6) AS rel_err
         |FROM a, e""".stripMargin,

    "ana_kmv_union" ->
      s"""WITH o AS (SELECT o_custkey, year(o_orderdate) < 1998 AS pre,
         |    ${TextHash.h28Sql("CAST(o_custkey AS VARCHAR)")} AS h FROM orders),
         |ta AS (SELECT h FROM (SELECT DISTINCT h FROM o WHERE pre)
         |  ORDER BY h LIMIT $KmvK),
         |tb AS (SELECT h FROM (SELECT DISTINCT h FROM o WHERE NOT pre)
         |  ORDER BY h LIMIT $KmvK),
         |tu AS (SELECT h FROM (SELECT DISTINCT h FROM o)
         |  ORDER BY h LIMIT $KmvK),
         |ea AS (SELECT round((COUNT(*) - 1) * 268435456.0 / MAX(h), 6)
         |  AS est_a FROM ta),
         |eb AS (SELECT round((COUNT(*) - 1) * 268435456.0 / MAX(h), 6)
         |  AS est_b FROM tb),
         |eu AS (SELECT round((COUNT(*) - 1) * 268435456.0 / MAX(h), 6)
         |  AS est_union FROM tu),
         |ex AS (SELECT COUNT(*) AS n_exact_inter FROM (
         |  SELECT DISTINCT o_custkey FROM o WHERE pre) a
         |  JOIN (SELECT DISTINCT o_custkey FROM o WHERE NOT pre) b
         |  USING (o_custkey))
         |SELECT est_a, est_b, est_union,
         |  round(est_a + est_b - est_union, 6) AS est_inter, n_exact_inter
         |FROM ea, eb, eu, ex""".stripMargin,

    "ana_kmv_by_group" ->
      s"""WITH h AS (SELECT DISTINCT o_orderpriority,
         |    ${TextHash.h28Sql("CAST(o_custkey AS VARCHAR)")} AS h FROM orders),
         |rk AS (SELECT o_orderpriority, h, row_number() OVER (
         |    PARTITION BY o_orderpriority ORDER BY h) AS rn FROM h),
         |t AS (SELECT o_orderpriority, COUNT(*) AS k_used, MAX(h) AS kth_hash
         |  FROM rk WHERE rn <= $KmvK GROUP BY 1),
         |e AS (SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_exact
         |  FROM orders GROUP BY 1)
         |SELECT t.o_orderpriority, t.k_used, t.kth_hash,
         |  round((t.k_used - 1) * 268435456.0 / t.kth_hash, 6) AS est_distinct,
         |  e.n_exact
         |FROM t JOIN e ON t.o_orderpriority = e.o_orderpriority
         |ORDER BY t.o_orderpriority""".stripMargin,

    // Replays the gate, the self-sizing divisor, and the interpolated
    // quantiles over the identical kept set.
    "ana_sampled_quantiles" ->
      s"""WITH s0 AS (SELECT COUNT(*) AS n_total,
         |    round(quantile_cont(o_totalprice, 0.5), 6) AS q50_exact
         |  FROM orders),
         |k AS (SELECT o.o_totalprice, s0.n_total, s0.q50_exact
         |  FROM orders o, s0
         |  WHERE (((o.o_orderkey % 1000003) * 427799) % 1000003)
         |    % greatest(1, n_total // $SqCap) = 0),
         |a AS (SELECT n_total, q50_exact, COUNT(*) AS n_sampled,
         |    round(quantile_cont(o_totalprice, 0.25), 6) AS q25_sample,
         |    round(quantile_cont(o_totalprice, 0.5), 6) AS q50_sample,
         |    round(quantile_cont(o_totalprice, 0.75), 6) AS q75_sample
         |  FROM k GROUP BY 1, 2)
         |SELECT n_total, n_sampled, q25_sample, q50_sample, q75_sample,
         |  q50_exact, round(abs(q50_sample - q50_exact), 6) AS q50_abs_err
         |FROM a""".stripMargin,

    // Replays the register file exactly: idx = top-8 hash bits, rank =
    // 21 − bitlength of the low 20 bits (bin() has no leading zeros in
    // either engine; rem = 0 is the all-zeros special case), Z from
    // exact dyadic 1/(1<<reg) terms, absent registers contributing 1.
    "ana_hll_distinct" ->
      s"""WITH h AS (SELECT DISTINCT
         |    ${TextHash.h28Sql("CAST(o_custkey AS VARCHAR)")} AS h FROM orders),
         |rk AS (SELECT h // 1048576 AS idx, MAX(${hllRegSql("h")}) AS reg
         |  FROM h GROUP BY 1),
         |a AS (SELECT COUNT(*) AS n_present,
         |    ${hllZSql} AS z, 256 - COUNT(*) AS nz FROM rk),
         |e AS (SELECT COUNT(DISTINCT o_custkey) AS n_exact FROM orders)
         |SELECT a.n_present AS regs_used,
         |  round(${hllEstSql("a.z", "a.nz")}, 6) AS est_distinct,
         |  e.n_exact,
         |  round(abs(${hllEstSql("a.z", "a.nz")} - e.n_exact)
         |    / e.n_exact, 6) AS rel_err
         |FROM a, e""".stripMargin,

    "ana_hll_by_group" ->
      s"""WITH h AS (SELECT DISTINCT o_orderpriority,
         |    ${TextHash.h28Sql("CAST(o_custkey AS VARCHAR)")} AS h FROM orders),
         |rk AS (SELECT o_orderpriority, h // 1048576 AS idx,
         |    MAX(${hllRegSql("h")}) AS reg FROM h GROUP BY 1, 2),
         |a AS (SELECT o_orderpriority, COUNT(*) AS n_present,
         |    ${hllZSql} AS z, 256 - COUNT(*) AS nz FROM rk GROUP BY 1),
         |e AS (SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_exact
         |  FROM orders GROUP BY 1)
         |SELECT a.o_orderpriority, a.n_present AS regs_used,
         |  round(${hllEstSql("a.z", "a.nz")}, 6) AS est_distinct, e.n_exact
         |FROM a JOIN e ON a.o_orderpriority = e.o_orderpriority
         |ORDER BY a.o_orderpriority""".stripMargin,

    "ana_hll_merge" ->
      s"""WITH b AS (SELECT DISTINCT year(o_orderdate) < 1998 AS pre,
         |    ${TextHash.h28Sql("CAST(o_custkey AS VARCHAR)")} AS h FROM orders),
         |rp AS (SELECT pre, h // 1048576 AS idx, MAX(${hllRegSql("h")}) AS reg
         |  FROM b GROUP BY 1, 2),
         |za AS (SELECT ${hllZSql} AS z, 256 - COUNT(*) AS nz FROM rp WHERE pre),
         |zb AS (SELECT ${hllZSql} AS z, 256 - COUNT(*) AS nz FROM rp WHERE NOT pre),
         |rm AS (SELECT idx, MAX(reg) AS reg FROM rp GROUP BY 1),
         |zm AS (SELECT ${hllZSql} AS z, 256 - COUNT(*) AS nz FROM rm),
         |rf AS (SELECT h // 1048576 AS idx, MAX(${hllRegSql("h")}) AS reg
         |  FROM (SELECT DISTINCT h FROM b) GROUP BY 1),
         |eq AS (SELECT CAST(COUNT(*) = 0 AS INTEGER) AS merge_is_lossless FROM (
         |    (SELECT idx, reg FROM rm EXCEPT SELECT idx, reg FROM rf)
         |    UNION ALL
         |    (SELECT idx, reg FROM rf EXCEPT SELECT idx, reg FROM rm))),
         |e AS (SELECT COUNT(DISTINCT o_custkey) AS n_exact_union FROM orders)
         |SELECT round(${hllEstSql("za.z", "za.nz")}, 6) AS est_a,
         |  round(${hllEstSql("zb.z", "zb.nz")}, 6) AS est_b,
         |  round(${hllEstSql("zm.z", "zm.nz")}, 6) AS est_merged,
         |  eq.merge_is_lossless, e.n_exact_union
         |FROM za, zb, zm, eq, e""".stripMargin,

    // Replays the quantile sketch bucket-for-bucket: the identical
    // integer bucket function (GROUP BY is the sketch — merge law makes
    // partitioning irrelevant), the same constant-size cumulative walk,
    // the same integer rank rule.
    "ana_qsketch_quantiles" ->
      s"""WITH o AS (SELECT o_totalprice,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders),
         |s0 AS (SELECT COUNT(*) AS n,
         |    round(quantile_cont(o_totalprice, 0.5), 6) AS q50_exact FROM o),
         |bk AS (SELECT ${qbSql("x")} AS b, COUNT(*) AS cnt FROM o GROUP BY 1),
         |cm AS (SELECT b, ${qloSql("b")} AS lo, cnt,
         |    SUM(cnt) OVER (ORDER BY b) AS cum FROM bk),
         |a AS (SELECT n, q50_exact, COUNT(*) AS n_buckets,
         |    MIN(CASE WHEN cum >= (n*25+99)//100 THEN lo END) AS l25,
         |    MIN(CASE WHEN cum >= (n*50+99)//100 THEN lo END) AS l50,
         |    MIN(CASE WHEN cum >= (n*75+99)//100 THEN lo END) AS l75,
         |    MIN(CASE WHEN cum >= (n*95+99)//100 THEN lo END) AS l95
         |  FROM cm, s0 GROUP BY 1, 2)
         |SELECT n AS n_total, n_buckets,
         |  round(l25 / CAST(100 AS DOUBLE), 6) AS q25_est,
         |  round(l50 / CAST(100 AS DOUBLE), 6) AS q50_est,
         |  round(l75 / CAST(100 AS DOUBLE), 6) AS q75_est,
         |  round(l95 / CAST(100 AS DOUBLE), 6) AS q95_est,
         |  q50_exact,
         |  round(abs(l50 / CAST(100 AS DOUBLE) - q50_exact), 6) AS q50_abs_err
         |FROM a""".stripMargin,

    "ana_qsketch_by_group" ->
      s"""WITH o AS (SELECT o_orderpriority, o_totalprice,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders),
         |s0 AS (SELECT o_orderpriority, COUNT(*) AS n,
         |    round(quantile_cont(o_totalprice, 0.5), 6) AS q50_exact
         |  FROM o GROUP BY 1),
         |bk AS (SELECT o_orderpriority, ${qbSql("x")} AS b, COUNT(*) AS cnt
         |  FROM o GROUP BY 1, 2),
         |cm AS (SELECT o_orderpriority, b, ${qloSql("b")} AS lo, cnt,
         |    SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY b) AS cum
         |  FROM bk),
         |a AS (SELECT c.o_orderpriority, s.n, s.q50_exact,
         |    COUNT(*) AS n_buckets,
         |    MIN(CASE WHEN c.cum >= (s.n*50+99)//100 THEN c.lo END) AS l50
         |  FROM cm c JOIN s0 s USING (o_orderpriority) GROUP BY 1, 2, 3)
         |SELECT o_orderpriority, n AS n_total, n_buckets,
         |  round(l50 / CAST(100 AS DOUBLE), 6) AS q50_est, q50_exact,
         |  round(abs(l50 / CAST(100 AS DOUBLE) - q50_exact), 6) AS q50_abs_err
         |FROM a ORDER BY o_orderpriority""".stripMargin,

    "ana_qsketch_merge" ->
      s"""WITH o AS (SELECT o_totalprice,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS x,
         |    year(o_orderdate) < 1998 AS pre FROM orders),
         |pb AS (SELECT CASE WHEN pre THEN 'a' ELSE 'b' END AS side,
         |    ${qbSql("x")} AS b, COUNT(*) AS cnt FROM o GROUP BY 1, 2),
         |mg AS (SELECT 'm' AS side, b, CAST(SUM(cnt) AS BIGINT) AS cnt
         |  FROM pb GROUP BY 2),
         |un AS (SELECT 'u' AS side, ${qbSql("x")} AS b, COUNT(*) AS cnt
         |  FROM o GROUP BY 2),
         |al AS (SELECT * FROM pb UNION ALL SELECT * FROM mg
         |  UNION ALL SELECT * FROM un),
         |cm AS (SELECT side, b, ${qloSql("b")} AS lo, cnt,
         |    SUM(cnt) OVER (PARTITION BY side ORDER BY b) AS cum,
         |    SUM(cnt) OVER (PARTITION BY side) AS tot FROM al),
         |es AS (SELECT side, COUNT(*) AS nb,
         |    MIN(CASE WHEN cum >= (tot*50+99)//100 THEN lo END) AS l50
         |  FROM cm GROUP BY 1),
         |wd AS (SELECT
         |    MAX(CASE WHEN side='a' THEN nb END) AS n_buckets_a,
         |    MAX(CASE WHEN side='b' THEN nb END) AS n_buckets_b,
         |    MAX(CASE WHEN side='m' THEN nb END) AS n_buckets_merged,
         |    round(MAX(CASE WHEN side='a' THEN l50 END)
         |      / CAST(100 AS DOUBLE), 6) AS q50_est_a,
         |    round(MAX(CASE WHEN side='b' THEN l50 END)
         |      / CAST(100 AS DOUBLE), 6) AS q50_est_b,
         |    round(MAX(CASE WHEN side='m' THEN l50 END)
         |      / CAST(100 AS DOUBLE), 6) AS q50_est_merged
         |  FROM es),
         |ls AS (SELECT CAST(COUNT(*) = 0 AS INTEGER) AS merge_is_lossless
         |  FROM ((SELECT b, cnt FROM mg EXCEPT SELECT b, cnt FROM un)
         |    UNION ALL
         |    (SELECT b, cnt FROM un EXCEPT SELECT b, cnt FROM mg))),
         |ex AS (SELECT round(quantile_cont(o_totalprice, 0.5), 6)
         |    AS q50_exact_union FROM o)
         |SELECT n_buckets_a, n_buckets_b, n_buckets_merged, q50_est_a,
         |  q50_est_b, q50_est_merged, merge_is_lossless, q50_exact_union
         |FROM wd, ls, ex""".stripMargin,

    // Replays the sketch cell-for-cell: same affine cell indexes, same
    // min-over-depths estimate, same sampled candidate set.
    "ana_cms_heavy" ->
      s"""WITH h AS (SELECT o_custkey,
         |    ${TextHash.h28Sql("CAST(o_custkey AS VARCHAR)")} AS h FROM orders),
         |js AS (SELECT unnest(range(0, $CmsDepth)) AS j),
         |sk AS (SELECT js.j, ${TextHash.affineSql("h.h", "js.j")} % $CmsWidth AS b,
         |    COUNT(*) AS cnt
         |  FROM h CROSS JOIN js GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT o_custkey, h FROM h WHERE h % 16 = 0),
         |est AS (SELECT c.o_custkey, MIN(s.cnt) AS est
         |  FROM cand c CROSS JOIN js
         |  JOIN sk s ON s.j = js.j
         |    AND s.b = ${TextHash.affineSql("c.h", "js.j")} % $CmsWidth
         |  GROUP BY c.o_custkey),
         |ex AS (SELECT o_custkey, COUNT(*) AS exact_n FROM orders GROUP BY 1)
         |SELECT e.o_custkey, e.est, x.exact_n, e.est - x.exact_n AS overcount
         |FROM est e JOIN ex x USING (o_custkey)
         |ORDER BY e.est DESC, e.o_custkey ASC LIMIT 20""".stripMargin,

    "ana_impute_mean" ->
      s"""WITH c AS (SELECT c_custkey,
         |    CASE WHEN ${TextHash.h28Sql("c_name")} % 10 = 0 THEN NULL
         |         ELSE c_acctbal END AS bal
         |  FROM customer),
         |m AS (SELECT round(CAST(SUM(CAST(bal AS DECIMAL(28,4))) AS DOUBLE)
         |    / COUNT(bal), 2) AS mean_bal FROM c)
         |SELECT c_custkey, CAST(bal IS NULL AS INT) AS was_missing,
         |  COALESCE(bal, mean_bal) AS bal_imputed
         |FROM c, m ORDER BY c_custkey LIMIT 1000""".stripMargin,

    "ana_freq_event_types" ->
      """SELECT event_type, COUNT(*) AS n FROM events
        |GROUP BY event_type ORDER BY n DESC, event_type ASC LIMIT 10""".stripMargin,

    "ana_indegree_suppliers" ->
      """SELECT l_suppkey, COUNT(*) AS in_degree FROM lineitem
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "ana_quantiles" ->
      """SELECT round(quantile_cont(o_totalprice, 0.25), 6) AS q25,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS q50,
        |  round(quantile_cont(o_totalprice, 0.75), 6) AS q75,
        |  round(quantile_cont(o_totalprice, 0.95), 6) AS q95
        |FROM orders""".stripMargin,

    "ana_seasonality" ->
      """WITH m AS (SELECT CAST(month(o_orderdate) AS INT) AS mo,
        |    COUNT(*) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (SELECT SUM(rev) AS trev FROM m)
        |SELECT mo, n_orders,
        |  round(CAST(rev AS DOUBLE), 4) AS revenue,
        |  round(CAST(rev AS DOUBLE) * 12 / CAST(trev AS DOUBLE), 6)
        |    AS seasonal_index
        |FROM m, t ORDER BY mo""".stripMargin,

    "ana_benford" ->
      """WITH obs AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INT) AS digit, COUNT(*) AS n
        |  FROM orders GROUP BY 1),
        |f AS (SELECT digit, n FROM obs WHERE digit >= 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM f)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / tot, 6) AS observed,
        |  round(log10(1.0 + CAST(1.0 AS DOUBLE) / digit), 6) AS benford
        |FROM f, t ORDER BY digit""".stripMargin,

    "ana_mad_outliers" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY o_custkey),
        |m AS (SELECT quantile_cont(spend, 0.5) AS med FROM spend),
        |dev AS (SELECT spend, abs(spend - med) AS adev, med FROM spend, m),
        |md AS (SELECT quantile_cont(adev, 0.5) AS mad FROM dev)
        |SELECT COUNT(*) AS n_customers,
        |  round(MAX(med), 6) AS median_spend,
        |  round(MAX(mad), 6) AS mad_spend,
        |  CAST(SUM(CASE WHEN adev > 4.4478 * mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  round(MAX(spend), 4) AS max_spend
        |FROM dev, md""".stripMargin,

    // Plain global row_number is the small-data oracle of record for the
    // two-phase bucketed quintile ranks.
    "ana_rfm_segments" ->
      """WITH per AS (SELECT o_custkey,
        |    date_diff('day', DATE '1970-01-01', MAX(o_orderdate)) AS rec,
        |    COUNT(*) AS freq,
        |    SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS mon
        |  FROM orders GROUP BY o_custkey),
        |n AS (SELECT COUNT(*) AS n FROM per),
        |r AS (SELECT o_custkey,
        |    ((row_number() OVER (ORDER BY rec, o_custkey) - 1) * 5) // n + 1
        |      AS r_score FROM per, n),
        |f AS (SELECT o_custkey,
        |    ((row_number() OVER (ORDER BY freq, o_custkey) - 1) * 5) // n + 1
        |      AS f_score FROM per, n),
        |m AS (SELECT o_custkey,
        |    ((row_number() OVER (ORDER BY mon, o_custkey) - 1) * 5) // n + 1
        |      AS m_score FROM per, n)
        |SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
        |  round(CAST(SUM(mon) AS DOUBLE) / COUNT(*), 4) AS avg_monetary
        |FROM r JOIN f USING (o_custkey) JOIN m USING (o_custkey)
        |  JOIN per USING (o_custkey)
        |GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""".stripMargin,

    // Plain global row_number is the small-data oracle of record for the
    // two-phase bucketed rank; Σ i·x_i is tie-permutation-invariant.
    "ana_gini_spend" ->
      """WITH spend AS (SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS v
        |  FROM orders GROUP BY o_custkey),
        |rk AS (SELECT v, row_number() OVER (ORDER BY v, o_custkey) AS i
        |  FROM spend)
        |SELECT COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS total_spend,
        |  round(CAST(2 * SUM(CAST(i AS DECIMAL(28,4)) * v)
        |      - (COUNT(*) + 1) * SUM(v) AS DOUBLE)
        |    / CAST(COUNT(*) * SUM(v) AS DOUBLE), 6) AS gini
        |FROM rk""".stripMargin,

    "ana_group_quantiles" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  round(quantile_cont(o_totalprice, 0.25), 6) AS q25,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS q50,
        |  round(quantile_cont(o_totalprice, 0.95), 6) AS q95
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "ana_stratified_sample" ->
      """WITH t AS (SELECT o_orderpriority,
        |    CASE WHEN o_orderpriority LIKE '1%' THEN 100
        |         WHEN o_orderpriority LIKE '2%' THEN 50 ELSE 10 END AS rate,
        |    CASE WHEN ((o_orderkey % 1000003) * 427799) % 1000003 % 100 <
        |        CASE WHEN o_orderpriority LIKE '1%' THEN 100
        |             WHEN o_orderpriority LIKE '2%' THEN 50 ELSE 10 END
        |      THEN 1 ELSE 0 END AS keep
        |  FROM orders)
        |SELECT o_orderpriority, rate, COUNT(*) AS n_total,
        |  CAST(SUM(keep) AS BIGINT) AS n_sampled
        |FROM t GROUP BY 1, 2 ORDER BY o_orderpriority""".stripMargin,

    "ana_skew_report" ->
      """WITH sizes AS (SELECT l_suppkey, COUNT(*) AS n
        |  FROM lineitem GROUP BY l_suppkey),
        |s AS (SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
        |    MAX(n) AS max_key_rows,
        |    round(quantile_cont(n, 0.5), 6) AS p50,
        |    round(quantile_cont(n, 0.99), 6) AS p99
        |  FROM sizes)
        |SELECT n_keys, n_rows, max_key_rows,
        |  round(CAST(max_key_rows AS DOUBLE) / n_rows, 9) AS max_share,
        |  p50, p99, round(p99 / p50, 6) AS skew_ratio
        |FROM s""".stripMargin,

    "ana_correlation" ->
      """WITH s AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sq,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS sp,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(38,10))) AS DOUBLE) AS sd,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sqq,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS spp,
        |    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,10))) AS DOUBLE) AS sdd,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS sqp,
        |    CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,10))) AS DOUBLE) AS sqd,
        |    CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,10))) AS DOUBLE) AS spd
        |  FROM lineitem)
        |SELECT x, y, r FROM (
        |  SELECT 'quantity' AS x, 'extendedprice' AS y,
        |    round((n*sqp - sq*sp) / sqrt((n*sqq - sq*sq) * (n*spp - sp*sp)), 6) AS r FROM s
        |  UNION ALL SELECT 'quantity', 'discount',
        |    round((n*sqd - sq*sd) / sqrt((n*sqq - sq*sq) * (n*sdd - sd*sd)), 6) FROM s
        |  UNION ALL SELECT 'extendedprice', 'discount',
        |    round((n*spd - sp*sd) / sqrt((n*spp - sp*sp) * (n*sdd - sd*sd)), 6) FROM s)
        |ORDER BY x, y""".stripMargin,

    "ana_weighted_sample" ->
      s"""WITH spend AS (SELECT o_custkey AS c,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,15))) AS DOUBLE) AS w
         |  FROM orders GROUP BY 1),
         |keyed AS (SELECT c, w,
         |    -ln((${TextHash.h28Sql("concat('ws:', c)")} + 1) / 268435456.0) / w AS key
         |  FROM spend)
         |SELECT c, round(w, 2) AS spend, round(key * 1000000, 6) AS key_ppm
         |FROM keyed ORDER BY key ASC, c ASC LIMIT $WsK""".stripMargin,

    // The salted two-phase form must equal the direct aggregation.
    "ana_salted_hub_degrees" ->
      """SELECT l_suppkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS total_price
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin
  )
}
