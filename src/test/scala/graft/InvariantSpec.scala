package graft

/** Self-sizing LSH plane count: the integer rule (smallest p ≥ 1 with
  * ceil(n/2^p) ≤ 32, capped at 16) the DuckDB oracle replays. */
class LshSizingSpec extends SparkSpec {
  test("sizedNumPlanes tracks log2(n/32), floored at 1, capped at 16") {
    import graft.ops.SimilarityPack.sizedNumPlanes
    // Degenerate regime: p = 0 would mean an EMPTY hyperplane frame and
    // an index that silently drops every vector — the floor keeps one
    // plane even when a single bucket would satisfy the size target.
    assert(sizedNumPlanes(1L) == 1)
    assert(sizedNumPlanes(32L) == 1)
    assert(sizedNumPlanes(33L) == 1)
    assert(sizedNumPlanes(200L) == 3)     // sf0.01 fixture
    assert(sizedNumPlanes(2000L) == 6)    // sf0.1 fixture — the old fixed p
    assert(sizedNumPlanes(20000L) == 10)  // sf1 fixture
    assert(sizedNumPlanes(Long.MaxValue) == 16, "cap")
    // Minimal above the floor, and buckets stay at or under the target:
    (1L to 4096L).foreach { n =>
      val p = sizedNumPlanes(n)
      assert(p >= 1, s"plane floor lost at n=$n")
      assert((n + (1L << p) - 1) / (1L << p) <= 32, s"bucket too big at n=$n")
      if (p > 1) assert((n + (1L << (p - 1)) - 1) / (1L << (p - 1)) > 32,
        s"p not minimal at n=$n")
    }
  }

  test("tiny corpus still lands every vector in a bucket") {
    // ADVICE r7: with p = 0 the bucket build's inner join on the plane
    // frame dropped ALL vectors (and the oracle's identically-empty
    // planes CTE could not catch it). Pin the non-degenerate floor on a
    // 5-vector corpus end to end.
    import spark.implicits._
    val comps = (0L until 5L).flatMap(id => (0 until 4).map(p =>
      (id, p, (id * 4 + p % 3).toDouble + 0.5))).toDF("vec_id", "pos", "v")
    val planes = graft.api.Similarity.hyperplanes(spark,
      graft.ops.SimilarityPack.sizedNumPlanes(5L), 4)
    val buckets = graft.api.Similarity.lshBuckets(comps, planes)
    assert(buckets.count() === 5, "every vector must keep a bucket row")
  }
}

import org.apache.spark.sql.functions._
import graft.ops.AnalyticsPack

/** Property-style invariants SURVEY.md §5 calls for: the relationships an
  * operator must preserve on ANY input, checked on seeded generated
  * micro-data — complementing the DuckDB oracle's fixed-fixture value
  * checks.
  */
class InvariantSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(42)

  test("ScaleGuard: quadratic twins hard-fail past quadraticFailRows, run otherwise") {
    val failKey = "spark.graft.quadraticFailRows"
    // Default: unlimited — the guard only warns, the query still builds.
    assert(graft.ops.SimilarityPack.queries("sim_cosine_neardup")(spark, sf())
      .columns.nonEmpty)
    spark.conf.set(failKey, "1")
    try {
      val e1 = intercept[IllegalStateException] {
        graft.ops.SimilarityPack.queries("sim_cosine_neardup")(spark, sf())
      }
      assert(e1.getMessage.contains("sim_lsh_topk"),
        s"the failure must steer to the linear twin: ${e1.getMessage}")
      val e2 = intercept[IllegalStateException] {
        graft.ops.DedupPack.queries("dedup_simhash")(spark, sf())
      }
      assert(e2.getMessage.contains("dedup_simhash_banded"),
        s"the failure must steer to the banded twin: ${e2.getMessage}")
    } finally spark.conf.unset(failKey)
  }

  test("ScaleGuard: sizing count is memoized per key (r12 advice — no re-scan per build)") {
    var evals = 0
    graft.ops.ScaleGuard.quadratic(spark, "memo_op", "memo-test-key",
      { evals += 1; 10L }, "memo_alt")
    graft.ops.ScaleGuard.quadratic(spark, "memo_op", "memo-test-key",
      { evals += 1; 10L }, "memo_alt")
    assert(evals === 1, "second build must reuse the cached count")
  }

  test("percentile_approx (t-digest) is close to the exact percentile") {
    // ana_quantiles documents percentile_approx as the 100 TB form of its
    // exact interpolated percentile — pin that the approximation actually
    // holds on the fixture distribution (1% relative at accuracy 10000).
    val r = graft.tables.Tables.orders(spark, sf())
      .agg(expr("percentile(o_totalprice, 0.5)").as("exact"),
        expr("percentile_approx(o_totalprice, 0.5, 10000)").as("approx"))
      .head()
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.01,
      s"approx median $approx drifted from exact $exact")
  }

  test("approx_count_distinct (HLL) is within 5% of exact on orders") {
    val o = graft.tables.Tables.orders(spark, sf("sf0.01"))
    val r = o.agg(
      countDistinct(col("o_custkey")).as("exact"),
      approx_count_distinct(col("o_custkey"), 0.01).as("approx")).head()
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact <= 0.05,
      s"HLL estimate $approx vs exact $exact")
  }

  test("canonical-edge dedup is invariant under edge flip (D3 symmetry)") {
    for (_ <- 1 to 5) {
      val pairs = List.fill(40)((rng.nextLong(8) + 1, rng.nextLong(8) + 1))
      val df = pairs.toDF("a", "b")
      val flipped = df.select(col("b").as("a"), col("a").as("b"))
      def canon(d: org.apache.spark.sql.DataFrame) = d
        .select(least(col("a"), col("b")).as("k1"),
          greatest(col("a"), col("b")).as("k2"))
        .dropDuplicates("k1", "k2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(canon(df) == canon(flipped))
    }
  }

  test("dedup is idempotent: dropDuplicates twice = once") {
    for (_ <- 1 to 3) {
      val xs = List.fill(30)(rng.nextLong(6))
      val once = xs.toDF("x").dropDuplicates("x")
      assert(once.dropDuplicates("x").count() == once.count())
    }
  }

  test("kcore peeling is monotone: every surviving edge was in the input") {
    import spark.implicits._
    val li = graft.tables.Tables.lineitem(spark, sf())
      .select(col("l_orderkey").as("okey"), col("l_suppkey").as("sk"))
    val pairs = graft.api.Analytics.cooccurrencePairs(li, "okey", "sk", 32)
      .select($"p1".as("x"), $"p2".as("y"))
    val sym = pairs.select($"x".as("src"), $"y".as("dst"))
      .union(pairs.select($"y".as("src"), $"x".as("dst")))
    val r1 = graft.graph.DFGraphAlgs.kcore(sym, 3, 1)
    val r2 = graft.graph.DFGraphAlgs.kcore(sym, 3, 2)
    assert(r2.count() <= r1.count(), "a later round can only shrink the core")
    assert(r2.join(sym, Seq("src", "dst"), "left_anti").count() == 0,
      "the core must be a subgraph of the input")
  }

  test("CSV round-trip stays lossless for embedded newlines and quotes") {
    // The src_csv_roundtrip option contract (quoteAll on write, header +
    // multiLine on read) pinned on content the fixtures don't currently
    // have: embedded newlines, quotes, and commas must survive byte-exact.
    val docs = Seq(
      (1L, "en", "plain text"),
      (2L, "en", "line one\nline two\nline three"),
      (3L, "de", "a \"quoted\" phrase, with commas"),
      (4L, "fr", "trailing newline\n")).toDF("doc_id", "lang", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_csv_nl").toString
    docs.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      // writer-side trims default ON — disabling them is part of the
      // lossless contract (this test caught the trailing-newline trim)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(out)
    val back = spark.read
      .schema("doc_id BIGINT, lang STRING, text STRING")
      .option("header", "true").option("multiLine", "true").csv(out)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(back == want, s"lossy round-trip: $back")
  }

  test("gini: constant values are exactly 0, not an empty frame") {
    // The degenerate-range case the bucketing guard exists for: mx == mn
    // used to null the bucket expression and silently drop every row.
    val const = (1L to 100L).map(k => (k, 50.0)).toDF("k", "v")
    val row = graft.api.Analytics.gini(const, col("k"), col("v")).collect()
    assert(row.length == 1, "degenerate range must still produce one row")
    assert(row(0).getLong(0) == 100L)
    assert(row(0).getDouble(2) == 0.0, s"all-equal values have gini 0: ${row(0)}")
  }

  test("gini: two-phase bucketed rank equals the brute-force sorted form") {
    val vals = (1L to 500L).map(k => (k, rng.nextDouble() * 1000.0))
    val got = graft.api.Analytics.gini(vals.toDF("k", "v"), col("k"), col("v"))
      .head().getDouble(2)
    // Brute force on the driver: gini = (2*Σ i*x_i - (n+1)*Σx) / (n*Σx)
    // over ascending-sorted x with 1-based ranks.
    val xs = vals.map(v => BigDecimal(v._2).setScale(4, BigDecimal.RoundingMode.HALF_UP))
      .sorted
    val n = xs.size
    val sx = xs.sum
    val six = xs.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
    val want = ((2 * six - (n + 1) * sx) / (n * sx)).toDouble
    assert(math.abs(got - want) < 5e-7, s"got $got want $want")
  }

  test("packSequences on random corpora always matches the driver-side fold") {
    // Randomized (seeded) inputs: sparse non-contiguous ids, docs of
    // 1-20 tokens — the two-phase distributed prefix sum must equal a
    // sequential fold for ANY input, not just the fixture.
    for (seed <- Seq(7, 21)) {
      val r = new scala.util.Random(seed)
      val docs = (1 to 150).map { _ =>
        (r.nextInt(100000).toLong, Seq.fill(1 + r.nextInt(20))("t").mkString(" "))
      }.distinctBy(_._1)
      val df = docs.toDF("id", "body")
      val got = graft.api.Text.packSequences(df, "id", "body", seqLen = 16L, buckets = 8L)
        .collect().map(r0 => r0.getLong(0) -> (r0.getLong(1), r0.getLong(2))).toMap
      var cum = 0L
      val want = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      docs.sortBy(_._1).foreach { case (_, body) =>
        val n = body.split(" ").length.toLong
        val bin = cum / 16
        val (c, t) = want.getOrElse(bin, (0L, 0L))
        want(bin) = (c + 1, t + n)
        cum += n
      }
      assert(got == want.toMap, s"seed $seed: $got vs $want")
    }
  }

  test("vocabCoverage two-phase rank equals a global-sort reference on random corpora") {
    // The digit-bucket two-phase rank must equal a plain (cnt desc, term
    // asc) global sort for ANY frequency distribution — zipf-ish draws
    // force multi-digit counts so the cross-bucket offsets matter.
    for (seed <- Seq(3, 17)) {
      val r = new scala.util.Random(seed)
      val vocab = (1 to 40).map(i => s"w$i")
      val docs = (1 to 60).map { i =>
        val n = 1 + r.nextInt(30)
        (i.toLong, Seq.fill(n)(vocab(math.min(r.nextInt(1 + r.nextInt(40)),
          39))).mkString(" "))
      }
      val targets = Seq(0.5, 0.75, 0.9, 0.95, 0.99)
      val got = graft.api.Text.vocabCoverage(docs.toDF("id", "body"), "id", "body",
          targets)
        .collect().map(x => (x.getDouble(0), x.getLong(1), x.getDouble(2))).toList
        .sortBy(_._1)
      val freq = docs.flatMap(_._2.split(" ")).groupBy(identity)
        .map { case (t, xs) => t -> xs.length.toLong }
      val total = freq.values.sum.toDouble
      val ordered = freq.toSeq.sortBy { case (t, c) => (-c, t) }
      val cum = ordered.scanLeft(0L)(_ + _._2).tail.map(_ / total)
      val want = targets.map { t =>
        val i = cum.indexWhere(_ >= t)
        (t, (i + 1).toLong,
          BigDecimal(cum(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      assert(got == want, s"seed $seed: $got vs $want")
    }
  }

  test("mixtureSample: binding domain keeps 100%, rates bounded, gate exact") {
    for (seed <- Seq(5, 29)) {
      val r = new scala.util.Random(seed)
      val domains = Seq("a", "b", "c", "d")
      val shares = Map("a" -> 0.1, "b" -> 0.2, "c" -> 0.4)   // d unlisted
      val docs = (1 to 120).map { i =>
        (r.nextInt(100000).toLong, domains(r.nextInt(4)),
          Seq.fill(1 + r.nextInt(40))("t").mkString(" "))
      }.distinctBy(_._1)
      val got = graft.api.Text.mixtureSample(docs.toDF("id", "dom", "body"),
          "id", "body", "dom", shares)
        .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2),
          x.getLong(3), x.getInt(4)))
      // Unlisted domain dropped entirely.
      assert(got.forall(_._2 != "d"))
      // Rates: [0, 100], and the binding domain (max w/T) is exactly 100.
      val tok = docs.filter(d => shares.contains(d._2))
        .groupBy(_._2).map { case (d, xs) =>
          d -> xs.map(_._3.split(" ").length.toLong).sum }
      val ratios = shares.map { case (d, w) => d -> w / tok(d).toDouble }
      val binding = ratios.maxBy(_._2)._1
      val rates = got.map(x => x._2 -> x._4).toMap
      assert(rates(binding) == 100L, s"seed $seed: $rates binding=$binding")
      assert(rates.values.forall(v => v >= 0L && v <= 100L))
      // The keep flag is EXACTLY the documented mixBucket arithmetic.
      got.foreach { case (id, _, _, rate, keep) =>
        val bucket = math.floorMod(math.floorMod(id * 2654435761L, 1000003L), 100L)
        assert((keep == 1) == (bucket < rate), s"seed $seed id=$id")
      }
    }
  }

  test("partialRatio matches a plain-Scala best-window reference on random strings") {
    // The window arithmetic (api/Search.scala partialRatio: substr is
    // 1-based, nWin = Δlen+1, denominator = |shorter|) mirrored in
    // straightforward Scala: the shorter string against every
    // same-length window of the longer, best levenshtein ratio wins.
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(x: String, y: String): Double = {
      val (sh, lo) = if (x.length <= y.length) (x, y) else (y, x)
      if (sh.isEmpty) 0.0
      else (0 to lo.length - sh.length).map { i =>
        round6(100.0 * (1.0 - lev(sh, lo.substring(i, i + sh.length)).toDouble / sh.length))
      }.max
    }
    val alphabet = "ab c"
    def randStr(maxLen: Int): String =
      Seq.fill(rng.nextInt(maxLen + 1))(alphabet(rng.nextInt(alphabet.length))).mkString
    // Randomized cases plus the edge shapes the advice flagged: empty
    // sides, equal lengths (single window), and the off-by-one-prone
    // Δlen = 1 boundary.
    val cases = Seq.fill(300)((randStr(12), randStr(12))) ++
      Seq(("", ""), ("", "abc"), ("abc", ""), ("abc", "abc"),
        ("ab", "ba"), ("abc", "abcd"), ("a", "a a a"), (" ", "  "))
    val got = cases.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.api.Search.partialRatio(col("x"), col("y")).as("pr"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    cases.foreach { case (x, y) =>
      assert(got((x, y)) == ref(x, y),
        s"partialRatio('$x','$y') = ${got((x, y))}, reference says ${ref(x, y)}")
    }
  }

  test("partialRatio is symmetric and bounded on random strings") {
    val alphabet = "xyz "
    val pairs = Seq.fill(120)((
      Seq.fill(rng.nextInt(10))(alphabet(rng.nextInt(4))).mkString,
      Seq.fill(rng.nextInt(10))(alphabet(rng.nextInt(4))).mkString))
    val rows = pairs.toDF("x", "y")
      .select(graft.api.Search.partialRatio(col("x"), col("y")).as("xy"),
        graft.api.Search.partialRatio(col("y"), col("x")).as("yx"))
      .collect()
    rows.foreach { r =>
      val (xy, yx) = (r.getDouble(0), r.getDouble(1))
      assert(xy == yx, s"asymmetric: $xy vs $yx")
      assert(xy >= 0.0 && xy <= 100.0, s"out of range: $xy")
    }
  }

  test("semanticDropList never drops a cell's minimum id on random input") {
    val r = new scala.util.Random(11)
    val emb = (1 to 60).map { i =>
      (i.toLong, Array.fill(8)(r.nextFloat() * 2 - 1))
    }
    val cells = emb.map { case (id, _) => (id, (id % 5).toLong) }
    val drops = graft.api.Similarity.semanticDropList(
        emb.toDF("vid", "emb"), "vid", "emb",
        cells.toDF("vec_id", "cid"), threshold = 0.5, pairParts = 8)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toMap
    val minPerCell = cells.groupBy(_._2).map { case (_, m) => m.map(_._1).min }.toSet
    assert(minPerCell.forall(id => !drops.contains(id)),
      "the keep-the-min-id rule can never drop a cell's min id")
    val cellSize = cells.groupBy(_._2).map { case (c, m) => c -> m.size }
    drops.foreach { case (id, n) =>
      assert(n >= 1 && n <= cellSize((id % 5).toLong) - 1,
        s"drop $id reports $n better copies, cell holds ${cellSize(id % 5)}")
    }
  }

  test("sequence packing conserves tokens and fills bins in order") {
    import graft.ops.TextPack
    val bins = TextPack.queries("text_pack_sequences")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(bins.nonEmpty)
    val totalTokens = graft.tables.Tables.documents(spark, sf())
      .select(org.apache.spark.sql.functions.expr("size(split(text, ' '))").cast("long"))
      .collect().map(_.getLong(0)).sum
    assert(bins.map(_._3).sum == totalTokens,
      "every document's tokens must land in exactly one bin")
    assert(bins.map(_._1).toSeq == bins.map(_._1).toSeq.sorted, "bins ordered")
    assert(bins.forall(_._2 >= 1), "listed bins each start >= 1 document")
    // The two-phase global prefix sum must MATCH a driver-side fold: the
    // point of the discipline is exactness, not approximation.
    val docs = graft.tables.Tables.documents(spark, sf())
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.expr("size(split(text, ' '))").cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L
    val want = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    docs.foreach { case (_, n) =>
      val bin = cum / 512
      val (c, t) = want.getOrElse(bin, (0L, 0L))
      want(bin) = (c + 1, t + n)
      cum += n
    }
    assert(bins.map(b => b._1 -> (b._2, b._3)).toMap == want.toMap)
  }

  test("precision@k output is internally consistent") {
    val row = graft.ops.MLPack.queries("ml_precision_at_k")(spark, sf()).head()
    val (k, nq, nrec, nhits) =
      (row.getInt(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(nrec <= k * nq, "at most K recommendations per query")
    assert(nhits <= nrec, "hits are a subset of recommendations")
    assert(math.abs(row.getDouble(4) - nhits.toDouble / nrec) < 1e-6)
  }

  test("CCDF is monotone non-increasing and starts at 1") {
    val rows = AnalyticsPack.queries("ana_degree_ccdf")(spark, sf())
      .select("ccdf").collect().map(_.getDouble(0))
    assert(rows.nonEmpty && math.abs(rows.head - 1.0) < 1e-12)
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b <= a + 1e-12)
      case _           =>
    }
  }

  test("one-pass minhash_sketch aggregate equals the explode-based min") {
    import graft.ops.TextHash._
    val docs = Seq((1L, "alpha beta gamma delta eps"), (2L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), explode(shinglesFromWords(col("ws"), 3)).as("sh"))
      .withColumn("h", h28(col("sh")))
    val viaAgg = docs.groupBy(col("doc_id"))
      .agg(call_function("minhash_sketch", col("h")).as("sig"))
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("j", "mh")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val viaExplode = docs
      .select(col("doc_id"), explode(sequence(lit(0), lit(15))).as("j"), col("h"))
      .groupBy(col("doc_id"), col("j"))
      .agg(min(affine(col("h"), col("j"))).as("mh"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(viaAgg == viaExplode)
  }

  test("minhash signature depends on the shingle set, not document order") {
    import graft.ops.TextHash._
    def sigOf(texts: Seq[String]): Map[Int, Long] =
      texts.toDF("text")
        .select(tokens(col("text")).as("ws"))
        .select(explode(shinglesFromWords(col("ws"), 3)).as("sh")).distinct()
        .withColumn("h", h28(col("sh")))
        .select(explode(sequence(lit(0), lit(15))).as("j"), col("h"))
        .groupBy("j").agg(min(affine(col("h"), col("j"))).as("mh"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val fwd = sigOf(Seq("a b c d e", "f g h i j"))
    val rev = sigOf(Seq("f g h i j", "a b c d e"))
    assert(fwd == rev)
  }

  test("degrees-exp person gate: total at fixture size, ~PairSampleCap everywhere else") {
    // The six-degrees experiment samples persons with
    // ((hid*2654435761) mod 1000003) mod D = 0, D = max(1, n div 142)
    // (EtlPack.sampleDivisor / samplePersons; C(142,2) = 10011 pairs =
    // the reference's 10k-pair protocol, notebook cell 147). Pin the
    // rule at the fixture's corpus size (D = 1 - every person sampled,
    // so the published-claim goldens cover all pairs) and at two larger
    // sizes: the kept count must track the cap, NOT the corpus - the
    // bounded-by-construction property the BSP source list relies on.
    import spark.implicits._
    import graft.ops.EtlPack
    assert(EtlPack.sampleDivisor(30L) === 1L)
    for ((n, expected) <- Seq((3000L, 139L), (100000L, 145L))) {
      val d = EtlPack.sampleDivisor(n)
      assert(d === n / 142)
      val kept = EtlPack.samplePersons((1L to n).toDF("hid"), d).count()
      // Deterministic rule - exact kept counts, both within [cap/2, 2*cap].
      assert(kept === expected)
      assert(kept >= 71 && kept <= 284)
    }
  }

  test("native wratio equals the composed Column WRatio stage for stage") {
    // FuzzyJoinRule's wratio trigger only exists because wratio is ONE
    // Catalyst node; its scores must be value-identical to the composed
    // Column form (api/Search.fuzzyScoreWith) every user-facing query
    // computes - same rounding stages, same NaN arithmetic, same
    // token-sort/partial dispatch - on random strings spanning every
    // dispatch branch (lenRatio < 1.5, [1.5, 8), >= 8, empties,
    // multi-space runs).
    val alphabet = "abn o  t"
    def randStr(maxLen: Int): String =
      Seq.fill(rng.nextInt(maxLen + 1))(alphabet(rng.nextInt(alphabet.length))).mkString
    val names = Seq.fill(250)(randStr(24)) ++
      Seq("", " ", "  ", "ann barton", "barton ann", "a", randStr(3) * 12)
    // No empty query: name="" × query="" is the one input where the
    // composed form's 0/0 raises under ANSI (the native node defines it
    // as 0.0); one-side-empty is still covered by the "" name rows.
    val queries = Seq("ann barton", "no tab", "b", "ann  barton  ")
    for (q <- queries) {
      val rows = names.toDF("name")
        .select(col("name"),
          graft.api.Search.fuzzyScoreWith(col("name"),
            graft.api.Search.tokenSort(col("name")), q).as("composed"),
          call_function("wratio", col("name"), lit(q)).as("native"))
        .collect()
      rows.foreach { r =>
        val (c, n) = (r.getDouble(1), r.getDouble(2))
        assert(java.lang.Double.compare(c, n) == 0,
          s"wratio('${r.getString(0)}', '$q'): composed $c vs native $n")
      }
    }
  }

  test("scanSplitBytes sizes splits from the largest fixture file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ssb").toFile
    try {
      def mk(name: String, bytes: Int): Unit = {
        val f = new java.io.File(dir, name)
        val out = new java.io.FileOutputStream(f)
        out.write(new Array[Byte](bytes)); out.close()
      }
      // empty dir → Spark's 128 MB default (the knob only SHRINKS splits
      // for a known local fixture; a misconfigured dir must not pin the
      // pathological 1 MB floor)
      assert(graft.tables.Tables.scanSplitBytes(dir.getPath, 32) == (128L << 20))
      mk("small.parquet", 1000)
      mk("big.parquet", 64 << 20)
      mk("ignored.json", 128 << 20) // non-parquet files don't count
      // 64 MB / 32 cores = 2 MB
      assert(graft.tables.Tables.scanSplitBytes(dir.getPath, 32) == (2L << 20))
      // tiny corpus clamps at 1 MB; huge-per-core clamps at 128 MB
      assert(graft.tables.Tables.scanSplitBytes(dir.getPath, 1024) == (1L << 20))
      assert(graft.tables.Tables.scanSplitBytes(dir.getPath, 1) == (64L << 20))
      // missing dir → 128 MB default, no throw
      assert(graft.tables.Tables.scanSplitBytes(dir.getPath + "/nope", 8) == (128L << 20))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
