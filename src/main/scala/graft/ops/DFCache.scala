package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** Session-scoped cache for derived frames shared ACROSS queries — the
  * Spark form of the reference's "precompute once, reuse every query"
  * pattern (edge weights cached at service start, bfs.py:12-13; pickled
  * graph re-loaded per session, SURVEY.md §4).
  *
  * Several driver-contract queries derive the same intermediates (the
  * symmetric co-purchase edge list, BFS distances from the fixed source,
  * minhash signatures, exploded embedding components). Each query must
  * remain independently runnable, but when one session runs many — the
  * driver's Verify/Bench loops, a notebook session — rebuilding the
  * shared intermediate per query is pure waste. Entries are persisted
  * (deserialized, spillable) and keyed by (session, logical-key, input
  * dir); the WeakHashMap drops a session's entries when the session is
  * collected, and a fresh session never sees another session's frames.
  * The same per-session map holds scalar memos ([[memo]]), so every
  * value reused across queries lives — and dies — with its session.
  *
  * Two kinds of shared frame:
  *  - [[cached]] persists a frame consumers JOIN (accurate size stats,
  *    see below) and counts it on first access — the one place a cached
  *    frame is materialized, so a warm pass only calls the accessor.
  *  - A frame whose LOGICAL PLAN is enormous relative to its data (the
  *    walk corpora embed per-step joins into the whole neighbour index)
  *    is built ending in `DFGraphAlgs.mat`, which truncates its lineage,
  *    and kept with [[memo]] — one materialized copy, no second
  *    checkpoint on top.
  */
object DFCache {
  private val caches =
    new java.util.WeakHashMap[SparkSession, TrieMap[String, Any]]()

  /** Default: persist(), returned as a SIZE-COALESCED scan view. The
    * InMemoryRelation carries ACCURATE size stats, which is what lets
    * the static planner broadcast the small cached frames (centroids,
    * norms, buckets) under the pairwise heavies — swapping every cache
    * to a lineage-truncating localCheckpoint was measured 6× WORSE on
    * sim_dedup_sweep / dedup_semantic at the sf1 checkpoint, because
    * LogicalRDD reports the default (huge) size and the exact-cosine
    * joins lose their broadcasts. Keep persist wherever consumers JOIN
    * the cache.
    *
    * The sized view (r13, guide §2.2): a cache's partition count is
    * whatever its build lineage had — 32-64 partitions of kilobyte
    * blocks at small SFs — and every consumer SCAN then pays one task
    * launch per block (measured ~100-200 ms each under load; the graph
    * caches are re-scanned 3-10× per query). The cache is materialized
    * once (its first access — Bench charges that to the warm pass) and
    * the returned view coalesced to ~4 MB partitions
    * (DFGraphAlgs.sizedScanView). The
    * Repartition node passes the child's stats through, so broadcast
    * planning is unchanged; coalesce is narrow and deterministic, so
    * values are identical. Caches deliberately carry NO key clustering
    * (see the shared-cache rules in the verify skill), so no consumer
    * loses a co-partitioning. */
  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    cached(s, key, sized = true)(build)

  /** [[cached]] with the sized view optional: pass `sized = false` for a
    * cache whose BUILDER deliberately spreads it across all cores
    * because consumers run heavy per-row compute in the scan stage
    * itself (sim.comps' exact-decimal folds — PlanSpec pins that
    * spread). For every other cache the per-task launch overhead of the
    * inherited partitioning dominates any scan-stage compute. */
  def cached(s: SparkSession, key: String, sized: Boolean)
      (build: => DataFrame): DataFrame = {
    memo(s, key) {
      val p = build.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      if (sized) graft.graph.DFGraphAlgs.sizedScanView(p) else p
    }
  }

  /** Session-scoped memo: `compute` runs once per (session, key) and the
    * value is reused by every later call in that session; a new session
    * (`newSession()` included) computes its own. Keys share one
    * namespace with the frame caches above. */
  def memo[T](s: SparkSession, key: String)(compute: => T): T =
    cacheMap(s).getOrElseUpdate(key, compute).asInstanceOf[T]

  private def cacheMap(s: SparkSession): TrieMap[String, Any] =
    synchronized {
      var c = caches.get(s)
      if (c == null) { c = TrieMap.empty[String, Any]; caches.put(s, c) }
      c
    }
}
