package graft

/** Pins the bench artifact's trust machinery (r12 verdict #2/#3/#7):
  * the quiet-host gate reads max(1-min, 5-min) — not the gameable
  * 1-minute figure alone — the calibration probe returns a positive,
  * repeatable host-speed number, and a filtered spot run warms only
  * the cache entries its queries consume. Also guards the one session
  * factory ([[Session]]), the graph family's one materializer
  * (`DFGraphAlgs.mat`), the one one-task rule (`OpsUtil.oneTask`) and
  * its one kind of path (no plan interpreter in OpsUtil), the one WRatio
  * scorer (the native `wratio` node), MLPack's one link score, the
  * registry of knobs and the registry of api operators the query packs
  * call against drift. */
class BenchContractSpec extends SparkSpec {

  /** The `.scala` files under `dir`, checked to be run from the repository root. */
  private def scalaFiles(dir: String): Seq[java.io.File] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val root = new java.io.File(dir)
    assert(root.isDirectory, s"run from the repository root (cwd ${root.getAbsoluteFile})")
    files(root).filter(_.getName.endsWith(".scala"))
  }

  private def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  /** The lines of `f`, comment lines blanked (line numbers kept). */
  private def code(f: java.io.File): Seq[String] = text(f).split("\n").toSeq.map { l =>
    val t = l.trim
    if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) "" else l
  }

  test("gateLoad is max(1-min, 5-min) — the r12 sf10 gaming case trips it") {
    // r12's sf10 spot: 1-min dipped to 1.03 while 5/15-min read a busy
    // quarter hour — the old 1-min-only gate shipped load_tainted:false.
    assert(Bench.gateLoad("1.03 23.76 13.44 1/328 21698") === 23.76)
    assert(Bench.gateLoad("30.98 23.76 13.44") === 30.98)
    assert(Bench.gateLoad("0.09 0.17 1.20 1/328 21698") === 0.17)
    intercept[Exception] { Bench.gateLoad("") }
  }

  test("calibration taint rule: steal-slow host taints, quiet host passes") {
    // The r13 sf30 case: load gate read 2.1 (passed) while calibration
    // measured 2.65 s = 2.9× the reference — hypervisor steal that
    // loadavg cannot see. The rule must taint it.
    assert(Bench.calTaintedAt(2.653, 1.4))
    assert(!Bench.calTaintedAt(0.96, 1.4))   // the committed r13 sf10 spot
    assert(!Bench.calTaintedAt(1.212, 1.4))  // 1.32 ratio: slow-ish but inside
    assert(!Bench.calTaintedAt(99.0, 0.0))   // gate 0 disables
  }

  test("calibration probe: positive, and CalRefSec stays plausible for it") {
    // reps=1 keeps the test cheap; the probe must return real work time
    // (not optimized away to ~0) on the same jobs the reference pinned.
    val t = Bench.calibrationProbe(spark, reps = 1)
    assert(t > 0.01, s"probe collapsed to $t s — a job was optimized away")
    assert(Bench.CalRefSec > 0.0)
  }

  test("budgeted stdout maps: strict slowest-first prefix inside the byte budget") {
    // r13 verdict #1: the driver keeps only a ~2000-char stdout tail, so
    // the line's per-query map must be a byte-budgeted prefix — slowest
    // entries first, never a truncated (unparseable) JSON object.
    val m = Seq("slow" -> 12.3456, "mid" -> 1.0, "fast" -> 0.004)
    assert(Bench.budgetMap(m, 1000) === """{"slow":12.346,"mid":1.0,"fast":0.004}""")
    // Budget cuts after the first entry; the kept set is a PREFIX (the
    // shorter "mid" entry that would fit is NOT back-filled).
    assert(Bench.budgetMap(m, 20) === """{"slow":12.346}""")
    assert(Bench.budgetMap(m, 2) === "{}")
    assert(Bench.budgetMap(Nil, 100) === "{}")
    // Rendering: 3-decimal rounding, integral values keep a ".0".
    assert(Bench.j3(316.461518034) === "316.462")
    assert(Bench.j3(2.0) === "2.0")
    assert(Bench.j3(0.0004) === "0.0")
  }

  test("scoped warmup: spot query sets warm only the caches they consume") {
    import graft.ops.Warm.neededEntries
    val d = sf()
    // A multimodal-only spot touches NO shared cache.
    assert(neededEntries(spark, d, Some(Set("mm_format_census"))).isEmpty)
    // The r12 sf10 4-query spot: dedup_semantic + sim_dedup_sweep ride
    // sim.*; ml_als_recommend rides ml.* + graph.relpairs; none of them
    // touch graph.rwcorpus / dedup.simhash (the 577 s warmup wall).
    val spot = neededEntries(spark, d, Some(Set(
      "dedup_semantic", "sim_dedup_sweep", "ml_als_recommend", "sim_cosine_neardup")))
    assert(spot.contains("sim.comps") && spot.contains("ml.edges") &&
      spot.contains("graph.relpairs"))
    assert(!spot.contains("graph.rwcorpus") && !spot.contains("dedup.simhash") &&
      !spot.contains("graph.nbridx") && !spot.contains("graph.maxdeg"))
    // dedup_semantic must not drag the text-shingle caches in (it is a
    // sim.* consumer; the r13 spot measured 15 s of unread warmup here).
    assert(!spot.contains("dedup.shingles") && !spot.contains("dedup.signatures"))
    // graph queries pull the maxdeg scalar memo; only the rw family
    // pulls the walk corpora.
    val g = neededEntries(spark, d, Some(Set("graph_degrees")))
    assert(g.contains("graph.maxdeg") && g.contains("graph.edges"))
    assert(!g.contains("graph.rwcorpus") && !g.contains("graph.n2vcorpus"))
    val rw = neededEntries(spark, d, Some(Set("graph_rw_skipgram")))
    assert(rw.contains("graph.rwcorpus") && rw.contains("graph.nbridx"))
    // The unfiltered surface warms everything — full-bench behavior
    // unchanged.
    val all = neededEntries(spark, d, None)
    assert(all.size === 33 && all.contains("graph.maxdeg"))
    // The r14 shared contribution frame scopes to the two unsalted-loop
    // consumers; other graph queries must not pull its |E|-sized fill.
    val pr = neededEntries(spark, d, Some(Set("graph_pagerank")))
    assert(pr.contains("graph.contrib"))
    assert(!g.contains("graph.contrib"))
    // The r14 LM-score cache scopes to its two consumers only.
    val lm = neededEntries(spark, d, Some(Set("text_ppl_buckets")))
    assert(lm === Seq("text.lmscores"))
    // The r14 LSH-candidate cache scopes to its three verifying
    // consumers; the signature digest query must not pull it.
    val lsh = neededEntries(spark, d, Some(Set("dedup_containment")))
    assert(lsh.contains("dedup.cands"))
    assert(!neededEntries(spark, d, Some(Set("dedup_minhash_signatures")))
      .contains("dedup.cands"))
    // The r13 landing-chain caches scope to the etl_sparql_ family only.
    val etl = neededEntries(spark, d, Some(Set("etl_sparql_degrees_exp")))
    assert(etl.contains("etl.chain") && etl.contains("etl.nodes") &&
      !etl.contains("graph.edges"))
    assert(!g.contains("etl.chain"))
    // text_contamination shares the dedup shingle pass (cross-pack edge).
    assert(neededEntries(spark, d, Some(Set("text_contamination")))
      === Seq("dedup.shingles"))
  }

  test("one session factory: the only session builder in src/ is graft.Session") {
    val needle = "SparkSession" + ".builder"
    val sites = scalaFiles("src").filter(text(_).contains(needle)).map(_.getPath)
    assert(sites === Seq("src/main/scala/graft/Session.scala"))
  }

  test("knob registry: the spark.graft.* keys and SPARK_GRAFT_* variables in src/main") {
    // Every key or variable a user can set is named here: adding one is a
    // deliberate edit of this list, not a side effect of a change.
    val src = scalaFiles("src/main").map(text).mkString("\n")
    def names(rx: scala.util.matching.Regex) = rx.findAllIn(src).toSet
    assert(names("""spark\.graft\.[A-Za-z0-9.]*[A-Za-z0-9]""".r) === Set(
      "spark.graft.reliableCheckpoint", "spark.graft.bsp.stateBroadcastLimit",
      "spark.graft.bsp.saltTargetDeg", "spark.graft.quadraticWarnRows",
      "spark.graft.quadraticFailRows", "spark.graft.multimodal.decoder"))
    assert(names("""SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]""".r) === Set(
      "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_BENCH_PASSES", "SPARK_GRAFT_CAL_GATE",
      "SPARK_GRAFT_CAL_WAIT_MAX", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_LOAD_GATE",
      "SPARK_GRAFT_LOAD_WAIT_MAX", "SPARK_GRAFT_ONLY", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_SKEW_MAX", "SPARK_GRAFT_SKEW_RETRIES"))
  }

  test("one materializer: the graph family checkpoints only inside DFGraphAlgs.mat") {
    val algs = "src/main/scala/graft/graph/DFGraphAlgs.scala"
    val files = Seq(algs, "src/main/scala/graft/ops/GraphPack.scala",
      "src/main/scala/graft/ops/DFCache.scala")
    val src = text(new java.io.File(algs))
    val matStart = src.indexOf("def mat(")
    val matEnd = src.indexOf("\n  }\n", matStart)
    assert(matStart >= 0 && matEnd > matStart, "DFGraphAlgs.mat not found")
    for (needle <- Seq("local" + "Checkpoint(", "." + "checkpoint(")) {
      val sites = files.flatMap { f =>
        val t = text(new java.io.File(f))
        Iterator.iterate(t.indexOf(needle))(i => t.indexOf(needle, i + 1))
          .takeWhile(_ >= 0).map(f -> _)
      }
      assert(sites.size == 1, s"$needle sites: $sites")
      val (f, i) = sites.head
      assert(f == algs && i > matStart && i < matEnd, s"$needle outside DFGraphAlgs.mat")
    }
  }

  test("one one-task rule: autoBroadcastJoinThreshold is read only in OpsUtil.oneTask") {
    // The graph calls and the vector lookup select the one-task path by one
    // rule; a second read of the threshold would be a second rule.
    val needle = "autoBroadcastJoinThreshold"
    val sites = scalaFiles("src/main").flatMap { f =>
      code(f).zipWithIndex.collect { case (l, i) if l.contains(needle) => (f.getPath, i) }
    }
    val util = "src/main/scala/graft/ops/OpsUtil.scala"
    val lines = code(new java.io.File(util))
    val start = lines.indexWhere(_.contains("def oneTask("))
    val end = lines.indexWhere(_.contains("def "), start + 1)
    assert(start >= 0 && end > start, "OpsUtil.oneTask not found")
    assert(sites.size == 1, s"$needle read at $sites")
    val (f, i) = sites.head
    assert(f == util && i > start && i < end, s"$needle read outside OpsUtil.oneTask")
  }

  test("one kind of one-task path: OpsUtil holds the selection rule, no plan interpreter") {
    // Each one-task call runs a kernel of its own over its input and
    // builds its schema from the input's types; walking a lookup's
    // analyzed plan to run it in one task was a second kind of path.
    val named = scalaFiles("src/main").filter(f => text(f).contains("oneTaskTopK"))
    assert(named.isEmpty, s"oneTaskTopK named in $named")
    val util = code(new java.io.File("src/main/scala/graft/ops/OpsUtil.scala")).mkString("\n")
    val walking = Seq("BindReferences", "InterpretedOrdering", "queryExecution.analyzed")
      .filter(util.contains)
    assert(walking.isEmpty, s"OpsUtil walks plans: $walking")
    // Every kernel reads Spark's InternalRow through OpsUtil.onePartition;
    // a Row encoder at a one-task call site converts every input row.
    val callers = scalaFiles("src/main").filter(f => code(f).exists(_.contains("onePartition(")))
    assert(callers.map(_.getName).toSet ==
      Set("OpsUtil.scala", "DFGraphAlgs.scala", "Similarity.scala"), s"callers: $callers")
    val encoders = callers.filter(f => code(f).exists(_.contains("Encoders.row")))
    assert(encoders.isEmpty, s"Encoders.row at a one-task call site: $encoders")
    // The parameter rule is injected once, by GraftExtensions: a second
    // hook would run it twice, a missing one would compile per request.
    val rule = "ParamLiteralRule"
    val uses = scalaFiles("src/main").filterNot(_.getName == s"$rule.scala").flatMap { f =>
      code(f).filter(_.contains(rule)).map(l => (f.getName, l.trim))
    }
    assert(uses == Seq("GraftExtensions.scala" -> s"ext.injectColumnar(_ => $rule.columnar)"),
      s"$rule used at $uses")
  }

  test("one WRatio scorer: src/main scores WRatio only through the native wratio node") {
    // The composed Column WRatio lives in test scope (FuzzyOracle) as the
    // parity oracle; a second scorer in src/main would drift from it.
    def sites(files: Seq[java.io.File], rx: scala.util.matching.Regex): Seq[String] =
      files.flatMap { f =>
        code(f).zipWithIndex.collect {
          case (l, i) if rx.findFirstIn(l).isDefined => s"${f.getPath}:${i + 1}"
        }
      }
    val composed = sites(scalaFiles("src/main"), """\b(fuzzyScoreWith|partialRatio)\b""".r)
    assert(composed.isEmpty, s"composed WRatio in src/main at $composed")
    val search = new java.io.File("src/main/scala/graft/api/Search.scala")
    val lev = sites(Seq(search), """\blevenshtein\(""".r)
    assert(lev.isEmpty, s"Column-level levenshtein at $lev")
    assert(code(search).exists(_.contains("call_function(\"wratio\"")),
      "Search scores through wratio")
  }

  /** Public operators of the `graft.api` objects that no query pack or
    * stream calls, each with the reason. Every other public def must be
    * called from code in `graft.ops` or `graft.streaming`, so the DuckDB
    * oracle checks the code users call. */
  private val userOnly: Map[String, String] = Map(
    "Analytics.minmaxNormalize" -> "ana_minmax_normalize takes the median in the same stats aggregate",
    "Dedup.keyedDedup" -> "no fixture query keeps one row per key",
    "Dedup.allPairsJaccard" -> "dedup_ngram_jaccard reads the cached shingles and filters on the rounded Jaccard",
    "Dedup.lshNearDupPairs" -> "dedup_minhash_lsh verifies the session-cached candidates and reports the MinHash estimate",
    "Dedup.bloomPositions" -> "the position column of bloomBitset and bloomProbe, which the queries call",
    "Events.windowCounts" -> "events_window_counts also sums value",
    "Sampling.mixPair" -> "the queries map pair mixes onto index spaces past 10^6, so they use mixPairWide",
    "Sampling.mixPairWide" -> "the pick mix of negativePairs, which ml_neg_sampling calls",
    "Sampling.stratifiedSample" -> "ana_stratified_sample reports per-stratum counts, not the kept rows",
    "Search.fuzzyTopK" -> "a serving lookup; search_fuzzy_topk adds the reference's re-rank bonuses",
    "Search.blockedSimJoin" -> "takes a caller's block key; search_blocked_simjoin sizes it from n",
    "Similarity.ivfAssign" -> "the packs' IVF index assigns to fitted k-means cells (SimilarityPack.ivfAssign)",
    "Similarity.sizedCells" -> "dedup_semantic keeps the two-level semCells quantizer the oracle replays",
    "Similarity.semanticDropListSized" -> "sizedCells feeding semanticDropList, which dedup_semantic calls",
    "Similarity.cosineNearDups" -> "sim_cosine_neardup runs a balanced block sweep under ScaleGuard",
    "Text.urlRows" -> "the extraction step of urlDomainStats, which text_url_domains calls",
    "Text.pplBuckets" -> "text_ppl_buckets ranks the session-cached scores through pplBucketsOf")

  test("one implementation per operator: pack code calls each api operator or registers it user-only") {
    val objects = Seq("Analytics", "Dedup", "Etl", "Events", "Layout", "Sampling",
      "Search", "Similarity", "Text")
    val defs = objects.flatMap { o =>
      code(new java.io.File(s"src/main/scala/graft/api/$o.scala"))
        .flatMap(l => """^  def (\w+)""".r.findFirstMatchIn(l).map(m => s"$o.${m.group(1)}"))
    }.distinct
    val undefined = userOnly.keySet.filterNot(defs.contains)
    assert(undefined.isEmpty, s"user-only entries name no public api def: $undefined")

    /** A code line with its trailing `//` comment cut (outside string literals). */
    def uncommented(l: String): String = {
      var inStr = false
      var i = 0
      while (i < l.length && (inStr || !l.startsWith("//", i))) {
        if (l(i) == '"') inStr = !inStr
        i += 1
      }
      l.substring(0, i)
    }
    // A call counts when written `graft.api.O.f`, or `X.f` under
    // `import graft.api.O` / `import graft.api.{O => X}` — never as a bare
    // name, which another object may share (SimilarityPack.ivfAssign,
    // StreamOps.windowCounts).
    val selector = """(\w+)(?:\s*=>\s*(\w+))?""".r
    val called = (scalaFiles("src/main/scala/graft/ops") ++
        scalaFiles("src/main/scala/graft/streaming")).flatMap { f =>
      val src = code(f).map(uncommented).mkString("\n")
      val aliases = """import\s+graft\.api\.(\w+|\{[^}]*\})""".r.findAllMatchIn(src)
        .flatMap(_.group(1).stripPrefix("{").stripSuffix("}").split(",").map(_.trim))
        .collect { case selector(o, as) => o -> Option(as).getOrElse(o) }.toSeq
      defs.filter { d =>
        val Array(o, fn) = d.split('.')
        (s"graft.api.$o" +: aliases.collect { case (`o`, as) => as }).exists { q =>
          s"(?<![\\w.])${java.util.regex.Pattern.quote(s"$q.$fn")}(?!\\w)".r
            .findFirstIn(src).isDefined
        }
      }
    }.toSet
    val unregistered = defs.filterNot(d => called(d) || userOnly.contains(d))
    assert(unregistered.isEmpty,
      s"api operators neither called by graft.ops/graft.streaming code nor user-only: $unregistered")
    val stale = userOnly.keySet.filter(called).toSeq.sorted
    assert(stale.isEmpty, s"user-only entries that pack code calls: $stale")
  }

  /** The start offsets of `needle` in the code of `t`: occurrences
    * that begin inside a string or character literal or a comment do
    * not count. */
  private def codeSites(t: String, needle: String): Seq[Int] = {
    val isCode = new Array[Boolean](t.length)
    var i = 0
    def skipTo(end: String, from: Int): Int = {
      val j = t.indexOf(end, from)
      if (j < 0) t.length else j + end.length
    }
    while (i < t.length) {
      val next =
        if (t.startsWith("\"\"\"", i)) skipTo("\"\"\"", i + 3)
        else if (t(i) == '"') {
          var j = i + 1
          while (j < t.length && t(j) != '"' && t(j) != '\n') j += (if (t(j) == '\\') 2 else 1)
          j + 1
        }
        else if (t.startsWith("'\\", i)) skipTo("'", i + 3)
        else if (t(i) == '\'' && i + 2 < t.length && t(i + 2) == '\'') i + 3
        else if (t.startsWith("//", i)) skipTo("\n", i)
        else if (t.startsWith("/*", i)) skipTo("*/", i + 2)
        else { isCode(i) = true; i + 1 }
      i = next
    }
    Iterator.iterate(t.indexOf(needle))(k => t.indexOf(needle, k + 1))
      .takeWhile(_ >= 0).filter(isCode).toSeq
  }

  test("one link score: src/main spells the AA term and the shared-supplier join once") {
    // MLPack scores customer pairs by the suppliers they share; every
    // query that does calls its helpers, so the score cannot drift.
    for (needle <- Seq("log(col(\"pdeg\") + 1)", "filter(col(\"p\") === col(\"p2\"))")) {
      val sites = scalaFiles("src/main").flatMap { f =>
        val t = text(f)
        codeSites(t, needle).map(k => s"${f.getPath}:${t.substring(0, k).count(_ == '\n') + 1}")
      }
      assert(sites.size == 1, s"$needle written at $sites")
    }
  }

  test("the test session runs the factory's settings, key for key") {
    val conf = spark.sparkContext.getConf
    Session.settings(SparkSpec.sf(), SparkSpec.Cpus).foreach { case (k, v) =>
      assert(conf.getOption(k) === Some(v), s"test session drifted on $k")
    }
  }

  test("a spark.* system property wins over the factory default and the override") {
    val d = SparkSpec.sf()
    val base = Session.settings(d, 4, props = Map.empty).toMap
    assert(base("spark.master") === "local[4]")
    assert(base("spark.sql.shuffle.partitions") === "4")
    val over = Seq("spark.sql.shuffle.partitions" -> "8", "spark.app.name" -> "t")
    val props = Map("spark.sql.shuffle.partitions" -> "7", "spark.network.timeout" -> "5s")
    val got = Session.settings(d, 4, over, props)
    assert(got.map(_._1).distinct === got.map(_._1), "one entry per key")
    assert(got.toMap === base ++ Map("spark.sql.shuffle.partitions" -> "7",
      "spark.network.timeout" -> "5s", "spark.app.name" -> "t"))
    assert(Session.settings(d, 4, over, Map.empty).toMap
      .apply("spark.sql.shuffle.partitions") === "8")
  }
}
