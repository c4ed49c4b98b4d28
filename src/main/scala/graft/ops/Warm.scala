package graft.ops

import org.apache.spark.sql.SparkSession

/** Explicit warm pass over the session-cached intermediates shared
  * across queries (DFCache entries). Bench runs this BEFORE the timed
  * per-query loop and reports it as its own `_shared_warmup` line:
  * otherwise the build cost of a shared frame (the exploded embedding
  * components, the BFS state, the co-purchase edge list) is charged to
  * whichever query happens to run first alphabetically, and per-query
  * deltas between rounds become unattributable (round-2 verdict: the
  * apparent `sim_lsh_topk` regression was exactly this artifact).
  *
  * SCOPED warmup (r12 verdict #7): a filtered spot run (SPARK_GRAFT_ONLY)
  * passes its selected query names and only the entries those queries
  * actually consume are pre-built — the r12 sf10 4-query spot spent
  * 577 s of its 608 s warming caches (graph.rwcorpus 65.9 s,
  * dedup.simhash 88.4 s) its queries never touched. Each entry carries
  * a needs-predicate over query names; mis-scoping is attribution-only
  * (DFCache still lazily builds on first use — the first consumer just
  * gets charged the build), never a correctness risk.
  */
object Warm {

  private def pfx(p: String*): String => Boolean =
    q => p.exists(q.startsWith)
  private def only(names: String*): String => Boolean = names.toSet

  /** (entry, builder, needs): the builder is the cache's accessor, whose
    * first call materializes it (DFCache.cached counts a frame, the walk
    * corpora end in `mat`, a scalar memo computes); `needs` says whether
    * a query of that name consumes the cache. Cross-pack edges: MLPack
    * rides graph.relpairs; text_contamination rides dedup.shingles;
    * dedup_semantic lives in SimilarityPack and rides the sim.* caches. */
  private def entries(s: SparkSession, d: String)
      : Seq[(String, () => Any, String => Boolean)] = {
    val sim = (q: String) => q.startsWith("sim_") || q == "dedup_semantic"
    Seq(
      ("graph.relpairs", () => GraphPack.relPairs(s, d), pfx("graph_", "ml_")),
      ("graph.edges",    () => GraphPack.edges(s, d), pfx("graph_")),
      // Shared PageRank/PPR contribution frame (r14): consumed only by
      // the two unsalted-loop queries — see GraphPack.prContrib.
      ("graph.contrib",  () => GraphPack.prContrib(s, d),
        only("graph_pagerank", "graph_ppr")),
      ("graph.wedges",   () => GraphPack.weightedEdges(s, d), pfx("graph_")),
      // lmdists BEFORE bfs: graph.bfs is now a derived slice of the
      // landmark run (GraphPack.bfsDists) — warming it first would
      // charge the whole landmark BSP build to the bfs entry.
      ("graph.lmdists",  () => GraphPack.landmarkDists(s, d), pfx("graph_")),
      ("graph.bfs",      () => GraphPack.bfsDists(s, d), pfx("graph_")),
      ("graph.tripairs", () => GraphPack.triPairs(s, d), pfx("graph_")),
      ("graph.ssspPred", () => GraphPack.ssspState(s, d), pfx("graph_")),
      ("graph.nbridx",   () => GraphPack.nbrIndex(s, d),
        only("graph_rw_corpus", "graph_node2vec", "graph_rw_skipgram")),
      ("graph.rwcorpus", () => GraphPack.rwCorpus(s, d),
        only("graph_rw_corpus", "graph_rw_skipgram")),
      ("graph.n2vcorpus", () => GraphPack.node2vecCorpus(s, d), only("graph_node2vec")),
      ("ml.edges",       () => MLPack.edges(s, d), pfx("ml_")),
      ("ml.edgesA",      () => MLPack.edgesHalfA(s, d), pfx("ml_")),
      ("ml.edgesB",      () => MLPack.edgesHalfB(s, d), pfx("ml_")),
      ("ml.pdegA",       () => MLPack.pdegA(s, d), pfx("ml_")),
      ("ml.aaScored",    () => MLPack.aaScored(s, d), pfx("ml_")),
      ("sim.comps",      () => SimilarityPack.comps(s, d), sim),
      ("sim.buckets",    () => SimilarityPack.buckets(s, d), sim),
      ("sim.ivfcent",    () => SimilarityPack.kmeansCentroids(s, d), sim),
      ("sim.ncomps",     () => SimilarityPack.ncomps(s, d), sim),
      ("sim.pqcent",     () => SimilarityPack.pqCodebooks(s, d), sim),
      ("sim.pqcodes",    () => SimilarityPack.pqCodes(s, d), sim),
      ("sim.ivfassign",  () => SimilarityPack.ivfAssign(s, d), sim),
      ("sim.sqstats",    () => SimilarityPack.sqStats(s, d), sim),
      ("sim.sqcodes",    () => SimilarityPack.sqCodes(s, d), sim),
      // dedup_semantic is SimilarityPack's (sim caches) — the dedup_
      // prefix must not pull the text-shingle caches for it (measured
      // 15 s of unread warmup in the r13 sf10 spot).
      ("dedup.shingles",   () => DedupPack.shingleRows(s, d),
        q => (q.startsWith("dedup_") && q != "dedup_semantic") ||
          q == "text_contamination"),
      ("dedup.signatures", () => DedupPack.signatures(s, d),
        q => q.startsWith("dedup_") && q != "dedup_semantic"),
      // LSH band-join candidate pairs (r14): three queries verify the
      // same candidate set — see DedupPack.lshCands.
      ("dedup.cands",      () => DedupPack.lshCands(s, d),
        only("dedup_minhash_lsh", "dedup_containment",
          "dedup_cluster_canonical")),
      ("dedup.simhash",    () => DedupPack.simhashFingerprints(s, d),
        pfx("dedup_simhash")),
      // The SPARQL landing chain caches (EtlPack): the edge frame's
      // accessor materializes flat + cleaned + edges; nodes rides the
      // then-cached cleaned stage.
      ("etl.chain",        () => EtlPack.warmEdges(s, d), pfx("etl_sparql_")),
      ("etl.nodes",        () => EtlPack.warmNodes(s, d), pfx("etl_sparql_")),
      // Per-doc bigram-LM scores (r14): text_bigram_lm_score and
      // text_ppl_buckets rank the same scored frame.
      ("text.lmscores",    () => TextPack.lmScores(s, d),
        only("text_bigram_lm_score", "text_ppl_buckets")),
      // Scalar memo, not a frame: the co-purchase graph's max out-degree
      // (the BSP hub-probe bound every graph query passes in), charged
      // here instead of to whichever graph query runs first.
      ("graph.maxdeg",     () => GraphPack.maxCoDeg(s, d), pfx("graph_")))
  }

  /** Entry names [[sharedIntermediates]] would warm for a query set —
    * the pure scoping rule, pinned by BenchContractSpec without building
    * anything. */
  def neededEntries(s: SparkSession, d: String,
      queryNames: Option[Set[String]]): Seq[String] =
    wanted(s, d, queryNames).map(_._1)

  /** Build the shared intermediates `queryNames` consume; None = the
    * full surface (every entry). Returns (entry, seconds) per warmed
    * entry. */
  def sharedIntermediates(s: SparkSession, d: String,
      queryNames: Option[Set[String]] = None): Seq[(String, Double)] =
    wanted(s, d, queryNames).map { case (name, build, _) =>
      val t0 = System.nanoTime()
      build()
      name -> (System.nanoTime() - t0) / 1e9
    }

  private def wanted(s: SparkSession, d: String, queryNames: Option[Set[String]]) =
    entries(s, d).filter { case (_, _, needs) => queryNames.forall(_.exists(needs)) }
}
