package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Effective load for the quiet-host gate: max of the 1- AND 5-minute
    * averages. r12's sf10 spot started at loadavg "30.98 23.76 13.44"
    * yet shipped `load_tainted: false` because the old gate consulted
    * only the 1-minute figure, which momentarily dipped to 1.03 on a
    * host whose 5/15-minute averages said it had been busy for the
    * preceding quarter hour — the taint flag was gamed by its own
    * window. Throws on a malformed line (callers default to 0.0). */
  def gateLoad(loadavgLine: String): Double = {
    val f = loadavgLine.trim.split("\\s+")
    math.max(f(0).toDouble, f(1).toDouble)
  }

  /** Pinned host-calibration probe (r12 verdict #3): three synthetic
    * jobs — codegen'd hash scan, hash-shuffle aggregation, full range
    * sort to a noop sink — each min-of-`reps`, summed. The work is
    * FIXTURE-INDEPENDENT (spark.range only) and constant across SFs,
    * so the shipped `calibration_ratio` = measured / [[CalRefSec]] is a
    * pure host-speed number: two rounds' artifacts divide out host
    * drift instead of the verdict taking "the host was 15-20% slower"
    * from SURVEY prose on faith. Comparable at 32 threads (the probes
    * pin 32 input slices; `cpus` ships alongside). */
  def calibrationProbe(spark: SparkSession, reps: Int = 5): Double = {
    import org.apache.spark.sql.functions._
    def minOf(job: () => Unit): Double =
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); job(); (System.nanoTime() - t0) / 1e9
      }.min
    val scan = minOf(() =>
      // pmod bounds the summand: ANSI SUM over full-range hash longs
      // overflows (30M terms × up to 2^63).
      spark.range(0, 30000000L, 1, 32)
        .select(sum(pmod(xxhash64(col("id")), lit(1000000L)))).head())
    val shuffle = minOf(() =>
      spark.range(0, 6000000L, 1, 32)
        .groupBy(pmod(col("id"), lit(10007L))).count().count())
    val sort = minOf(() =>
      spark.range(0, 4000000L, 1, 32).select(xxhash64(col("id")).as("h"))
        .orderBy("h").write.format("noop").mode("overwrite").save())
    scan + shuffle + sort
  }

  /** [[calibrationProbe]] reference: best min-of-5 sum across settled
    * captures on 2026-08-16 (round 13) on the build host, local[32],
    * 128 GiB — the host all committed BENCH_* artifacts to date ran on
    * (observed 0.92-1.11 s across four probes at load 0.1-3; 0.920 was
    * the quietest). A ratio of 1.2 in an artifact means that capture's
    * host ran ~20% slower than this reference state. */
  val CalRefSec: Double = 0.920

  /** Calibration taint rule (r13): a capture whose last pre-capture
    * probe ran more than `gate`× slower than [[CalRefSec]] is tainted —
    * the host was contended in a way /proc/loadavg cannot see
    * (hypervisor steal counts no runnable thread in this VM).
    * gate <= 0 disables. */
  def calTaintedAt(calSec: Double, gate: Double): Boolean =
    gate > 0 && calSec / CalRefSec > gate

  /** 3-decimal JSON rendering for the budgeted stdout line — every byte
    * of that line competes with per-query entries for the driver's
    * ~2000-char tail window (full-precision doubles stay in the file
    * artifact). */
  def j3(v: Double): String = {
    val r = math.rint(v * 1000) / 1000
    if (r == math.floor(r) && math.abs(r) < 1e15) s"${r.toLong}.0" else r.toString
  }

  /** Byte-budgeted JSON map: entries are appended IN THE GIVEN ORDER
    * until the next one would push the rendered map past `budget` chars
    * (then stops — the kept set is a strict prefix, so callers passing
    * descending-seconds order ship "the slowest N that fit"). */
  def budgetMap(entries: Seq[(String, Double)], budget: Int): String = {
    val sb = new StringBuilder("{")
    var done = false
    entries.foreach { case (k, v) =>
      if (!done) {
        val ent = (if (sb.length > 1) "," else "") + "\"" + k + "\":" + j3(v)
        if (sb.length + ent.length + 1 <= budget) sb.append(ent) else done = true
      }
    }
    sb.append("}").toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    // QUIET-HOST GATE: a bench taken at load-average 13 (round 7's
    // driver capture) measures the host, not the engine — min-of-2 and
    // the skew counter contain the damage but the official artifact
    // deserves a quiet start. Before any Spark work, wait (bounded) for
    // max(1-min, 5-min) load to fall under the gate; if it never does,
    // proceed — but the artifact ships `valid:false` (r12: the r11
    // driver capture started at load 8.2 after a 90 s wait and shipped
    // `valid:true` with a +7.6% total the clean sf1 artifact disproved;
    // a load-tainted total must self-identify as untrusted, not just
    // carry footnote fields). SPARK_GRAFT_LOAD_GATE=0 disables.
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "2.0").toDouble
    val loadWaitMax = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_MAX", "1800").toInt
    def loadLine(): String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim
      catch { case _: Throwable => "" }
    // START gate: max(1-min, 5-min) — see gateLoad. (Repair-pass waits
    // below use the 1-minute figure only: right after our own 32-core
    // passes the 5-minute average reads our own work, not the host's.)
    def startLoad(): Double =
      try gateLoad(loadLine()) catch { case _: Throwable => 0.0 }
    def load1(): Double =
      try loadLine().split(" ")(0).toDouble catch { case _: Throwable => 0.0 }
    var gateWaited = 0
    if (loadGate > 0) {
      while (startLoad() > loadGate && gateWaited < loadWaitMax) {
        System.err.println(f"[bench] max(load1,load5) ${startLoad()}%.2f > " +
          f"gate $loadGate%.1f — waiting (${gateWaited}s/${loadWaitMax}s)")
        Thread.sleep(15000)
        gateWaited += 15
      }
      if (startLoad() > loadGate)
        System.err.println(f"[bench] WARNING: proceeding at max(load1,load5) " +
          f"${startLoad()}%.2f after ${gateWaited}s — artifact will be load-tainted")
    }
    // The EXTERNAL-load reading: taken at gate release, before any
    // Spark work. load_avg_before (recorded after warmup) inevitably
    // includes our own local[cpus] warmup in the 1-minute average —
    // comparing it against the gate misreads self-load as host noise.
    // All three /proc/loadavg figures ship in the artifact.
    val loadLineAtGate = loadLine().split(" ").take(3).mkString(" ")
    val loadAtGate = startLoad()
    val spark = Session(sfDir, cpus)
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/shuffle warmup on throwaway data so the first measured
    // query isn't charged ~5 s of class loading and codegen compilation.
    // No fixture table is touched — no result data is pre-cached.
    val warmDir = java.nio.file.Files.createTempDirectory("graft_warm")
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
      .write.mode("overwrite").parquet(warmDir.toString)
    val w = spark.read.parquet(warmDir.toString)
    w.groupBy("k").agg(org.apache.spark.sql.functions.sum("v")).count()
    w.join(w.limit(10).hint("broadcast"), "k").count()
    // The warmup actions above are complete (count() materialized), so the
    // dir can go now — a long-running host otherwise accumulates graft_warm*.
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).iterator().asScala.foreach(rmTree)
      java.nio.file.Files.deleteIfExists(p)
    }
    rmTree(warmDir)
    // Host calibration, bracketing the capture (after JVM warmup so the
    // probe measures the host, not class loading). The probe doubles as
    // a SECOND gate: /proc/loadavg counts only this VM's runnable
    // threads, so hypervisor CPU steal is invisible to the load gate —
    // the r13 sf30 spot passed the load gate at 2.1 and then measured a
    // calibration ratio of 2.9 (the host was ~3× slow from outside
    // contention). When the ratio exceeds SPARK_GRAFT_CAL_GATE (default
    // 1.4 — quiet captures read 1.0-1.2; 0 disables), re-probe every
    // 60 s up to SPARK_GRAFT_CAL_WAIT_MAX (default 1500 s); a capture
    // that starts past the deadline ships calibration_tainted:true.
    // The shipped calibration_before is the LAST probe — the state the
    // measured section actually started under.
    val calGate = sys.env.getOrElse("SPARK_GRAFT_CAL_GATE", "1.4").toDouble
    val calWaitMax = sys.env.getOrElse("SPARK_GRAFT_CAL_WAIT_MAX", "1500").toInt
    var calBefore = calibrationProbe(spark)
    var calWaited = 0
    while (calTaintedAt(calBefore, calGate) && calWaited < calWaitMax) {
      System.err.println(f"[bench] calibration ${calBefore / CalRefSec}%.2f" +
        f" > gate $calGate%.2f ? waiting (${calWaited}s/${calWaitMax}s)")
      Thread.sleep(60000); calWaited += 60
      calBefore = calibrationProbe(spark, reps = 3)
    }
    val calTainted = calTaintedAt(calBefore, calGate)
    System.err.println(f"[bench] calibration before: $calBefore%.3f s " +
      f"(ref $CalRefSec%.3f, ratio ${calBefore / CalRefSec}%.2f, " +
      f"waited ${calWaited}s, tainted $calTainted)")
    // Local-iteration filter (the driver never sets it).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
    // Shared-intermediate warm pass: DFCache entries several queries
    // reuse are built HERE and reported as one explicit _shared_warmup
    // line (counted in the total), so per-query times are attributable
    // instead of charging the shared build to the first query to run.
    // A filtered spot run warms ONLY the entries its queries consume
    // (r12: the sf10 4-query spot spent 577 s warming caches it never
    // read); the full surface warms everything, as before.
    val tShared0 = System.nanoTime()
    val sharedTimes = graft.ops.Warm.sharedIntermediates(spark, sfDir,
      only.map(_ => selected.map(_._1).toSet))
    val sharedSec = (System.nanoTime() - tShared0) / 1e9
    sharedTimes.foreach { case (n, t) =>
      System.err.println(f"[bench] (warm) $n%-26s $t%8.2f s") }
    // MID calibration probe (r13 verdict #1): the warmup is the longest
    // unbracketed span in the run — r13's official capture carried a
    // 316 s warmup (3× the same commit's 8-core warmup) that the before/
    // after probes could not see because both ran OUTSIDE it. Probe
    // again between the warm pass and the timed loop: a host that got
    // busy during warmup taints the capture (same gate/wait rules as
    // the opening probe; reps=3 — the JVM is fully JIT-warm here, so a
    // quiet host reads BELOW the fresh-JVM reference and the gate can
    // only trip on real contention).
    var calMid = calibrationProbe(spark, reps = 3)
    var calMidWaited = 0
    while (calTaintedAt(calMid, calGate) && calMidWaited < calWaitMax) {
      System.err.println(f"[bench] mid calibration ${calMid / CalRefSec}%.2f" +
        f" > gate $calGate%.2f — waiting (${calMidWaited}s/${calWaitMax}s)")
      Thread.sleep(60000); calMidWaited += 60
      calMid = calibrationProbe(spark, reps = 3)
    }
    val calMidTainted = calTaintedAt(calMid, calGate)
    System.err.println(f"[bench] calibration mid: $calMid%.3f s " +
      f"(ratio ${calMid / CalRefSec}%.2f, waited ${calMidWaited}s, " +
      f"tainted $calMidTainted)")
    def loadAvg(): String = loadLine().split(" ").take(3).mkString(" ")
    // A failed query returns NEGATIVE elapsed time so it can never be
    // mistaken for a fast run — a swallowed exception recorded as 0.01 s
    // is the same misattribution class as host-load noise.
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] FAILED $name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(200))
          false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (ok) sec else -sec
    }
    // Two full passes per query; report the min. A single pass at whatever
    // host load exists has produced up to 20x misattribution (an 8-row
    // regex query recorded at 23.7 s that runs in 1.1 s isolated), so the
    // per-query number is min(run1, run2) and both passes are kept in the
    // JSON for auditability, alongside /proc/loadavg before and after.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)
    val loadBefore = loadAvg()
    val runs: Seq[Map[String, Double]] = (1 to passes).map { p =>
      selected.map { case (name, fn) =>
        val sec = timeOne(name, fn)
        System.err.println(f"[bench] (p$p) $name%-28s $sec%8.2f s")
        name -> sec
      }.toMap
    }
    val loadAfter = loadAvg()
    // SKEW ENFORCEMENT (not just recording): a query whose two BEST
    // successful times disagree by >3x AND by >0.5 s has only one
    // trustworthy sample — min-of-2 still reports the good pass, but the
    // artifact can't prove it wasn't the fluke. (The absolute floor
    // keeps sub-half-second JIT/timer/first-touch jitter out of the
    // counter: BENCH_r10's three "unresolved" rows were 0.23-vs-0.71 s
    // class noise on queries whose value is irrelevant to the total.)
    // EVERY unresolved query gets bounded repair passes — not only when
    // the count tops SPARK_GRAFT_SKEW_MAX (the r10 defect: 3 unresolved
    // ≤ bound 8 shipped with repair_passes:0, exactly the footnote the
    // mechanism exists to prevent). A repair sample near the existing
    // min confirms it (two agreeing samples → resolved); if the budget
    // runs out with the count still over the bound, the artifact is
    // marked valid:false instead of shipping a number that needs a
    // footnote (r9 lesson: BENCH_r09 recorded skew 49 and misread as a
    // 22% regression the clean sf1 artifact disproved).
    var samples: Map[String, Vector[Double]] =
      selected.map { case (n, _) => n -> runs.map(_(n)).toVector }.toMap
    def twoBestSkewed(ts: Vector[Double]): Boolean = {
      val good = ts.filter(_ >= 0.0).sorted
      good.size >= 2 && good(0) > 0.0 && good(1) / good(0) > 3.0 &&
        good(1) - good(0) > 0.5
    }
    def unresolved(): Seq[String] =
      selected.collect { case (n, _) if twoBestSkewed(samples(n)) => n }
    val skewMax = sys.env.getOrElse("SPARK_GRAFT_SKEW_MAX", "8").toInt
    val skewRetries = sys.env.getOrElse("SPARK_GRAFT_SKEW_RETRIES", "2").toInt
    val fnOf = selected.toMap
    var repairPasses = 0
    while (passes >= 2 && unresolved().nonEmpty && repairPasses < skewRetries) {
      repairPasses += 1
      var waited = 0
      while (loadGate > 0 && load1() > loadGate && waited < loadWaitMax) {
        System.err.println(f"[bench] repair $repairPasses: load ${load1()}%.2f > " +
          f"gate $loadGate%.1f — waiting (${waited}s/${loadWaitMax}s)")
        Thread.sleep(15000); waited += 15
      }
      val todo = unresolved()
      System.err.println(s"[bench] repair pass $repairPasses: " +
        s"${todo.size} skewed queries (bound $skewMax)")
      todo.foreach { name =>
        val sec = timeOne(name, fnOf(name))
        System.err.println(f"[bench] (r$repairPasses) $name%-28s $sec%8.2f s")
        samples = samples.updated(name, samples(name) :+ sec)
      }
    }
    val skewUnresolved = unresolved().size
    // Closing calibration bracket — DIRECTIONAL only: after a long run
    // the JVM is fully JIT-warm and the probe reads faster than the
    // fresh-JVM reference (measured 0.56 s vs ref 0.92 on an idle
    // host), so calibration_after says "the host didn't get busier"
    // (after >> before = it did), never "the host is fast". The
    // comparable figure — same JVM state as the pinned reference — is
    // calibration_before, and the shipped ratio uses it alone.
    val calAfter = calibrationProbe(spark)
    System.err.println(f"[bench] calibration after: $calAfter%.3f s " +
      f"(directional; ratio ${calAfter / CalRefSec}%.2f)")
    val calRatio = calBefore / CalRefSec
    // A run that STARTED above the gate is load-tainted: the external
    // load was there before any Spark work, so min-of-N can't prove any
    // pass was clean. Since r13 the start reading is max(1-min, 5-min)
    // — see gateLoad. (Self-load between passes is NOT checked — the
    // 1-minute average right after a 32-core pass reads our own work.)
    val loadTainted = loadGate > 0 && loadAtGate > loadGate
    val benchValid = (passes < 2 || skewUnresolved <= skewMax) && !loadTainted
    if (!benchValid)
      System.err.println(s"[bench] INVALID: " +
        (if (loadTainted) f"started at max(load1,load5) $loadAtGate%.2f > gate $loadGate%.1f; " else "") +
        s"$skewUnresolved queries still skewed after $repairPasses repair " +
        s"passes (bound $skewMax)")
    // Per-query: min over SUCCESSFUL samples (initial passes + repairs);
    // a query with no successful pass keeps a negative time and lands in
    // `failed`.
    val results = selected.map { case (name, _) =>
      val rs = samples(name)
      val good = rs.filter(_ >= 0)
      name -> (if (good.nonEmpty) good.min else rs.max)
    }.toMap
    val failed = results.collect { case (n, t) if t < 0 => n }.toSeq.sorted
    def jmap(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val qs = jmap(results)
    val runsJson = runs.map(jmap).mkString("[", ",", "]")
    val warmJson = sharedTimes.map { case (n, t) => "\"" + n + "\":" + t }
      .mkString("{", ",", "}")
    // `queries` holds ONLY real query names (min over passes); shared-
    // intermediate build time is its own top-level field. `value` (the
    // round-comparable total) INCLUDES shared_warmup — same semantics as
    // earlier rounds' totals — and `queries_total` is the pure per-query
    // sum of the min times. Failed queries (negative time) are EXCLUDED
    // from both totals: summing a negative marker would make a broken
    // query read as a speedup to anyone diffing `value` across rounds.
    // The `failed` list plus the negative per-query entries in the file
    // artifact carry the failure signal.
    val queriesTotal = results.values.filter(_ >= 0).sum
    val total = queriesTotal + sharedSec
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Noise self-identification: count queries whose successful passes
    // disagree by more than 3x (min-of-2 hides pass-2 load spikes — r3-r5
    // each burned judge time re-deriving this from the runs array).
    val skewed = selected.count { case (name, _) =>
      val good = runs.map(_(name)).filter(_ >= 0.0)
      good.size >= 2 && good.min > 0.0 && good.max / good.min > 3.0
    }
    val scalar =
      s""""metric":"total","value":${j3(total)},"unit":"sec","shared_warmup":${j3(sharedSec)},""" +
        s""""passes":$passes,"failed":$failedJson,"max_over_min_gt3":$skewed,""" +
        s""""skew_unresolved":$skewUnresolved,"skew_max":$skewMax,""" +
        s""""repair_passes":$repairPasses,"valid":$benchValid,""" +
        s""""load_avg_before":"$loadBefore","load_avg_after":"$loadAfter",""" +
        s""""load_gate":$loadGate,"load_gate_waited_sec":$gateWaited,""" +
        s""""load_avg_at_gate":$loadAtGate,"load_line_at_gate":"$loadLineAtGate",""" +
        s""""load_tainted":$loadTainted,"cpus":$cpus,""" +
        s""""calibration_before":${j3(calBefore)},"calibration_mid":${j3(calMid)},""" +
        s""""calibration_after":${j3(calAfter)},""" +
        s""""calibration_ref":$CalRefSec,"calibration_ratio":${j3(calRatio)},""" +
        s""""calibration_gate":$calGate,"calibration_gate_waited_sec":${calWaited + calMidWaited},""" +
        s""""calibration_tainted":${calTainted || calMidTainted},""" +
        s""""queries_total":${j3(queriesTotal)},"sf":"$sfDir""""
    // stdout is the driver contract and long lines truncate there: its
    // capture keeps only a ~2000-char tail (measured across every
    // committed BENCH_r* artifact), so rounds 1-5 all recorded
    // "parsed": null from a line carrying the full per-query map, and
    // rounds 6-13 shipped a scalar-only line the driver could parse but
    // not attribute (r13 verdict #1: PERF per_query was empty and a 316 s
    // warmup anomaly was unattributable). Middle ground: the line now
    // carries BUDGETED top-slowest prefixes of the per-query and
    // per-warm-entry maps — descending by seconds, as many entries as fit
    // in a fixed byte budget that keeps the whole line inside the
    // driver's tail window. The full maps still live in the
    // SPARK_GRAFT_BENCH_OUT file artifact.
    val lineMax = 1820 // ≤ driver tail (2000) minus the trailing sbt line
    val warmTop = budgetMap(sharedTimes.sortBy(-_._2), 300)
    val okResults = results.toSeq.filter(_._2 >= 0).sortBy(-_._2)
    val fixed = s"""{$scalar,"n_queries":${results.size},"warm":$warmTop,"queries":}"""
    val queriesTop = budgetMap(okResults, math.max(2, lineMax - fixed.length))
    println(s"""{$scalar,"n_queries":${results.size},"warm":$warmTop,"queries":$queriesTop}""")
    // Full per-query sample vectors (initial passes + repair passes, in
    // order) so the repair history is auditable alongside the pass runs.
    val samplesJson = samples.toSeq.sortBy(_._1).map { case (k, vs) =>
      "\"" + k + "\":" + vs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val line = s"""{$scalar,"queries":$qs,"shared_warmup_entries":$warmJson,"queries_runs":$runsJson,"queries_samples":$samplesJson}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
