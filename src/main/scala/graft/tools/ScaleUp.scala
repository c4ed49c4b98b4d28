package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Builds a 10× scale-up fixture (≈ sf1) from the sf0.1 tables, for the
  * BENCH_SF1 scale checkpoint: every plan claim (co-occurrence cap,
  * block-pair sweep, BSP loops, two-phase ranks) is otherwise validated
  * only at sf0.1; a 10× point catches secretly super-linear plans.
  *
  * Replica ceiling (r13): the 12-digit NAME PAD binds — 9 990 replicas
  * ≈ sf999 from an sf0.1 source (hard `require`). The text bijection
  * no longer caps at 312: [[textPerms]] keeps the 312 affine maps
  * verbatim (replicas ≤ 312 regenerate CONTENT-identical fixtures —
  * the committed sf1/sf10/sf30 artifacts stay valid) and extends past them
  * with seeded Fisher-Yates permutations rejection-checked to agree
  * with EVERY earlier map on at most [[MaxAgree]] = 8 of 26 letters.
  * Distance argument: affine-affine pairs agree on ≤ 2 letters
  * ((a₁−a₂)l ≡ b₂−b₁ mod 26 has gcd(a₁−a₂, 26) ≤ 2 solutions — the
  * coprime multipliers are all odd, so the difference is even and
  * never ±13); random pairs agree on ≤ 8 by the explicit check. Either
  * way ≥ 18 of 26 letters map differently between any two replicas,
  * so a shingle survives across a replica pair only if drawn entirely
  * from the ≤ 8 agreeing letters — same "rewrites most shingles"
  * standard the affine family met, now at any replica count the pad
  * allows. (Expected agreement of two uniform permutations is
  * Poisson(1); P[> 8] ≈ 1e-9, so rejections stay negligible out to
  * ~10⁴ maps — the bound is a guarantee, not a filter.) The id
  * headroom (GraphPack.SuppOffset = 2^40 ≈ 10⁴ replicas) is the next
  * wall after the pad; don't conflate the two.
  *
  * Replication semantics — each replica is a DISJOINT copy of the world:
  * - Every entity key is offset by `replica × 10⁸` (far above any live
  *   key), so joins/graphs gain 10× rows without cross-replica edges.
  * - `region`/`nation` are fixed-size dimensions in TPC-H and stay as-is
  *   (replica customers reference the same nations — FKs hold).
  * - `documents.text` passes through a PER-REPLICA character bijection:
  *   an AFFINE permutation of a-z (letter l → a·l + b mod 26, a coprime
  *   to 26, (a, b) indexed by the replica id; replica 0 is the
  *   identity). Within a replica the bijection preserves every
  *   duplicate/near-duplicate relationship exactly; across replicas it
  *   rewrites most shingles, so the dedup workload scales ~linearly
  *   instead of creating quadratic phantom cross-replica dup pairs no
  *   real corpus would have. Affine over 26 letters gives 312 DISTINCT
  *   maps — the round-10 sf10 checkpoint caught the old 10-letter
  *   ROTATION colliding at replica 10 (every doc had ~10 exact twins:
  *   dup pairs ×990 for ×10 data, dedup_cluster_canonical 23.6×).
  * - `customer.c_name`/`supplier.s_name` are REGENERATED from the offset
  *   key so names stay bijective with keys and keep the source shape
  *   (`^Customer#[0-9]+$` — consumers regex on it). Leaving them
  *   verbatim would give every name 10 exact copies and square the
  *   edit-distance-join output (measured: 2.18M → 217.85M candidate
  *   pairs, a 100× blowup that benchmarks the fixture artifact, not the
  *   plan). Key-derived names alone are not enough either — the round-10
  *   sf10 checkpoint measured `search_lev_autojoin` at 24.3× for 10×
  *   data because offset keys differ in only their leading replica
  *   digits (~99 cross-replica distance-1 twins per base key at 100
  *   replicas). Same decorrelation discipline as the text bijection:
  *   replica 0 keeps the source's exact `Customer#%09d`; replicas ≥ 1
  *   prepend a 4-digit CHECK-CODED replica block (lpad(r,3) plus digit
  *   sum mod 10 — a single differing digit always flips the check
  *   digit, so any two replica blocks differ in ≥ 2 positions; equal-
  *   length strings with ≥ 2 differing positions have Levenshtein ≥ 2,
  *   and vs replica 0 the length gap alone costs 4). Cross-replica name
  *   pairs therefore NEVER enter a distance-1 join: near-dup name
  *   output is exactly replicas × the per-replica output — linear.
  * - `embeddings.embedding` passes through a SIGNED cyclic shift
  *   (coordinates rotated by replica × 7, then sign-flipped per
  *   (replica, coordinate) hash bit; replica 0 is the identity): a
  *   signed permutation is orthogonal, so all within-replica cosines
  *   are preserved (ANN index structure scales honestly) while
  *   cross-replica cosines decorrelate. The sign layer exists because
  *   a bare shift mod dim=64 collides at replica 64 (same fixture-
  *   artifact class as the text-rotation collision).
  * - `events.ts` passes through in the source fixture's own encoding
  *   (currently naive TIMESTAMP(MICROS); consumers adapt via
  *   OpsUtil.tsMicros) — the 10× user population over the same time
  *   range is the honest shape for watermark/state scaling.
  *
  * Output mirrors the driver fixture layout: one `<table>.parquet` FILE
  * per table (parquet is row-group-splittable, so a single file still
  * scans in parallel).
  */
object ScaleUp {
  private val Stride = 100000000L

  /** Max letters on which any two replica text maps may agree — see the
    * ceiling scaladoc's distance argument. */
  val MaxAgree = 8

  /** Per-replica a-z bijections: replicas 0-311 are the original affine
    * family (l → a·l + b mod 26; replica 0 = identity) VERBATIM, so any
    * fixture of ≤ 312 replicas regenerates row-identical (same rows and
    * row groups; parquet footer bytes may differ); past them,
    * deterministic seeded Fisher-Yates permutations, each
    * rejection-resampled (bumping its seed salt) until it agrees with
    * every earlier map on ≤ [[MaxAgree]] letters. Generation is
    * driver-side and O(replicas²·26) — ~1.3e9 char compares at the 10⁴
    * pad ceiling, seconds once per fixture build. ScaleUpSpec pins
    * bijectivity, the affine prefix, and the agreement bound across the
    * 312 boundary. */
  def textPerms(replicas: Int): IndexedSeq[String] = {
    val copr = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val affine = math.min(replicas, copr.length * 26)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    out ++= (0 until affine).map { r =>
      val a = copr((r / 26) % copr.length); val b = r % 26
      (0 until 26).map(l => ('a' + (a * l + b) % 26).toChar).mkString
    }
    def agree(x: String, y: String): Int = {
      var i = 0; var n = 0
      while (i < 26) { if (x.charAt(i) == y.charAt(i)) n += 1; i += 1 }
      n
    }
    var r = affine
    while (out.size < replicas) {
      var salt = 0L
      var cand: String = null
      do {
        // java.util.Random's LCG is pinned by its Javadoc — stable
        // across JVMs/platforms, so the fixture is reproducible.
        val rng = new java.util.Random(1000003L * r + 7919L * salt + 17L)
        val arr = ('a' to 'z').toArray
        var i = arr.length - 1
        while (i > 0) {
          val j = rng.nextInt(i + 1)
          val t = arr(i); arr(i) = arr(j); arr(j) = t
          i -= 1
        }
        cand = new String(arr)
        salt += 1
      } while (out.exists(p => agree(p, cand) > MaxAgree))
      out += cand
      r += 1
    }
    out.toIndexedSeq
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/testdata_sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    // Fixed shuffle width (not the core count): the output layout must
    // not depend on the host that generates the fixture.
    val spark = graft.Session(src, overrides = Seq("spark.sql.shuffle.partitions" -> "8"))
    spark.sparkContext.setLogLevel("WARN")

    val reps = spark.range(0, replicas).select(col("id").as("__r"))
    def rep(df: DataFrame): DataFrame = df.crossJoin(broadcast(reps))
    def off(c: String): org.apache.spark.sql.Column =
      (col(c) + col("__r") * Stride).as(c)

    // Per-replica text bijection — see textPerms: the 312-map affine
    // family verbatim, extended past 312 by seeded bounded-agreement
    // permutations (r13; a plain rotation has only |alphabet| distinct
    // maps and collided at replica 10 — dup pairs x990 for x10).
    val alpha = ('a' to 'z').mkString
    // BINDING ceiling (r13, was the 312-map affine family): offset keys
    // (key + r·Stride, source keys ≤ 9 digits) must fit the 12-digit
    // replica-name pad — lpad TRUNCATES beyond it (the silent
    // digit-drop this guard exists to prevent). 9 990 replicas ≈ sf999.
    require((replicas - 1).toLong * Stride + 999999999L < 1000000000000L,
      s"offset keys for $replicas replicas overflow the 12-digit name pad")
    val perms = textPerms(replicas)
    // Broadcast (replica → map) lookup + one non-foldable translate:
    // the pre-r13 form folded a when-branch PER REPLICA, which blows
    // codegen past a few hundred maps; the join is O(1) plan size at
    // any replica count and value-identical (same map per replica).
    val permsDF = broadcast(
      spark.createDataFrame(perms.zipWithIndex.map { case (pm, r) => (r.toLong, pm) })
        .toDF("__r", "__perm"))
    // SQL spelling: functions.translate pins literal match/replace
    // strings; the Catalyst StringTranslate expression itself takes any
    // column (it re-derives the char dict when the pattern row changes).
    def rotated = expr(s"translate(text, '$alpha', __perm)")

    def write(name: String, df: DataFrame): Unit = {
      val tmp = s"$dst/__tmp_$name"
      // Bounded row groups (4 MB uncompressed): a parquet file can only
      // split at row-group boundaries, and the driver fixtures' single
      // giant row group serializes every scan stage — ana_correlation's
      // 6 M-row moment aggregation measured 19.9 s on ONE core at sf1
      // with 31 idle. Real lake tables are many-row-group by
      // construction; the checkpoint should test the splittable-scan
      // path the engine would actually run on a cluster (sessions pair
      // this with a fixture-sized spark.sql.files.maxPartitionBytes —
      // see Tables.scanSplitBytes).
      df.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", 4 * 1024 * 1024)
        .parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$dst/$name.parquet")
      if (target.exists()) target.delete()
      java.nio.file.Files.move(part.toPath, target.toPath)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      System.err.println(s"[scaleup] $name done")
    }

    new java.io.File(dst).mkdirs()
    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))
    // Check-coded replica block for names (see scaladoc): lpad(r, 3)
    // plus digit-sum-mod-10 check digit — pairwise Hamming ≥ 2 between
    // any two replica blocks, so cross-replica names sit at
    // Levenshtein ≥ 2 and never enter a distance-1 join. Replica 0 is
    // the identity (source names verbatim). Supports r ≤ 999; the
    // text bijection's 312-replica cap binds first.
    def nameSalt = {
      val check = pmod(expr("(__r div 100) + (__r div 10) + __r"), lit(10L))
      concat(lpad(col("__r").cast("string"), 3, "0"), check.cast("string"))
    }
    // Offset-key digits at width 12, NOT 9: Spark's lpad TRUNCATES a
    // longer string to the target length, so at width 9 every replica
    // r ≥ 10 (offset key ≥ 10 digits) silently lost its LAST key digit
    // — ~10 keys per replica collapsed to one duplicate name, and the
    // sf10 full-surface checkpoint measured the fallout as a 15.6×
    // search_lev_autojoin (millions of distance-0 name pairs). Width 12
    // holds the full 312-replica offset range (3.12e10 + key, 11
    // digits; the require pins it), and because the offset key embeds r
    // across the pad, replicas ≥ 1 share NO common digit tail — the
    // zero-run shift-aliasing between check blocks is gone too.
    def named(pfx: String, key: String) = {
      val offKey = lpad((col(key) + col("__r") * Stride).cast("string"), 12, "0")
      when(col("__r") === 0, concat(lit(pfx), lpad(col(key).cast("string"), 9, "0")))
        .otherwise(concat(lit(pfx), nameSalt, offKey))
    }
    write("customer", rep(Tables.customer(spark, src)).select(
      off("c_custkey"), named("Customer#", "c_custkey").as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
    write("supplier", rep(Tables.supplier(spark, src)).select(
      off("s_suppkey"), named("Supplier#", "s_suppkey").as("s_name"),
      col("s_nationkey"), col("s_acctbal")))
    write("part", rep(Tables.part(spark, src)).select(
      off("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice")))
    write("orders", rep(Tables.orders(spark, src)).select(
      off("o_orderkey"), off("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))
    write("lineitem", rep(Tables.lineitem(spark, src)).select(
      off("l_orderkey"), off("l_partkey"), off("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))
    write("events", rep(Tables.events(spark, src)).select(
      off("event_id"), col("ts"), off("user_id"), col("event_type"),
      col("value"), col("props")))
    write("documents", rep(Tables.documents(spark, src)).join(permsDF, "__r")
      .select(off("doc_id"), rotated.as("text"), col("lang"), col("source"),
        col("n_chars")))
    write("embeddings", rep(Tables.embeddings(spark, src))
      .withColumn("__shift", pmod(col("__r") * 7, size(col("embedding"))))
      .withColumn("__rot", concat(
        slice(col("embedding"), col("__shift") + 1,
          size(col("embedding")) - col("__shift")),
        slice(col("embedding"), lit(1), col("__shift"))))
      .select(
        off("vec_id"),
        // Signed permutation (orthogonal => cosine-preserving): flip
        // coordinate j's sign by a (replica, j) hash bit; replica 0
        // stays the identity. Without signs the shift collides mod
        // dim=64 and replicas r and r+64 become exact twins.
        when(col("__r") === 0, col("__rot")).otherwise(
          zip_with(col("__rot"),
            transform(sequence(lit(0), size(col("__rot")) - 1),
              j => lit(1.0f) - lit(2.0f) * pmod(hash(col("__r"), j), lit(2))
                .cast("float")),
            (v, sg) => v * sg)).as("embedding"),
        col("label")))
    spark.stop()
  }
}
