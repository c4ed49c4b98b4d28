package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import TextHash._

/** Deduplication pack over the `documents` table — the training-data
  * pipeline operators the reference lacks but a 100 TB corpus needs:
  * exact hash dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard.
  * (Embedding-cosine near-dup lives in SimilarityPack.)
  *
  * All hashing is the cross-engine MD5 scheme in [[TextHash]], so every
  * stage — signatures, bands, candidate pairs, verified pairs — is
  * DuckDB-oracle-checkable, not just row-counted.
  *
  * Scale design: the LSH path is the one that survives 100 TB — shingle
  * explode is per-row map work; signatures are one groupBy(doc); the
  * band-bucket join only pairs documents sharing a bucket (no all-pairs
  * product); exact Jaccard verification runs only on LSH candidates.
  * The plain `dedup_ngram_jaccard` all-pairs variant exists as the small-
  * data oracle of record for what Jaccard should be.
  */
object DedupPack {
  type Q = (SparkSession, String) => DataFrame

  private val NumHashes = 16
  private val BandSize  = 4   // 4 bands × 4 rows
  /** Bloom gate geometry: k affine hashes into a 2^18-bit filter. Sized
    * so the sf-fixture corpora stay below saturation (n=45k docs at sf1
    * → 16% measured fp — above the ~6% independent-hash ideal because
    * the k positions are affine re-hashes of ONE 28-bit base hash and
    * so correlated; n≤4.5k below that → fp ≈ 0) while keeping the
    * filter a fixed 32 KB both engines reproduce bit-for-bit. The
    * no-false-negative contract is unaffected. Production knobs:
    * numBits ∝ corpus cardinality / target fp-rate, and k independent
    * base hashes if the fp budget is tight. */
  private[ops] val BloomK    = 5
  private[ops] val BloomBits = 1 << 18
  /** Min-label rounds for near-dup clustering — exact for cluster
    * diameters ≤ 4 (near-dup chains are short; the oracle unrolls the
    * same fixed-round recurrence, so the compare holds regardless). */
  private val ClusterIters = 4

  /** (doc_id, shingle) distinct word-3-gram rows (session-cached: the
    * LSH, signature, and Jaccard queries all start here). */
  private[ops] def shingleRows(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"dedup.shingles:$d") {
      // Spread before shingling: ~50 shingle rows out per doc row in.
      graft.api.Dedup.shingleRows(Tables.spread(Tables.documents(s, d)), "doc_id", "text", 3)
    }

  private val shingleRowsSql =
    s"""sh AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(${shingles3Sql("text")}) AS sh
       |  FROM documents)""".stripMargin

  /** MinHash signatures: (doc_id, j, mh) for j in 0..15 (session-cached:
    * shared by the signature digest and the LSH band join). Computed by
    * the one-pass MinHashSketch aggregate (graft.functions) — identical
    * values to the explode×16 formulation the DuckDB oracle runs, but
    * the shuffle carries one 16-slot buffer per doc instead of 16× the
    * shingle rows (map-side combine does the work). */
  private[ops] def signatures(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"dedup.signatures:$d") {
      graft.api.Dedup.minhashSignatures(shingleRows(s, d))
    }

  private val signaturesSql =
    s"""$shingleRowsSql,
       |sig AS MATERIALIZED (SELECT doc_id, j, MIN(${affineSql(h28Sql("sh"), "j")}) AS mh
       |  FROM sh CROSS JOIN (SELECT unnest(range(0, $NumHashes)) AS j)
       |  GROUP BY doc_id, j)""".stripMargin

  /** LSH band-join candidate pairs (session-cached, r14):
    * dedup_minhash_lsh, dedup_containment and dedup_cluster_canonical
    * all start from the SAME lshCandidates(lshBands(signatures)) frame —
    * each was rebuilding the band aggregation and its self-join from the
    * signature cache per pass. The frame is the near-dup candidate set:
    * small by construction at any scale (pairs sharing a band bucket). */
  private[ops] def lshCands(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"dedup.cands:$d") {
      graft.api.Dedup.lshCandidates(
        graft.api.Dedup.lshBands(signatures(s, d), BandSize))
    }

  /** 32-bit simhash per doc (session-cached; integer bit math only —
    * DuckDB CAST(double AS BIGINT) rounds where Spark truncates, so
    * doubles never touch the bit pipeline). */
  private[ops] def simhashFingerprints(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"dedup.simhash:$d") {
      graft.api.Dedup.simhashFingerprints(Tables.spread(Tables.documents(s, d)), "doc_id", "text")
    }

  val queries: Map[String, Q] = Map(
    // Exact dedup audit: hash-groupBy over full text (the 100 TB form —
    // never compares strings, only 128-bit digests).
    "dedup_exact_docs" -> ((s, d) => {
      graft.api.Dedup.exactDupStats(Tables.documents(s, d), "text")
    }),

    // MinHash signature summary — per-j minimum over all docs, a compact
    // fixed-size digest of the signature matrix that exercises shingling,
    // hashing, and the per-(doc,j) min end to end.
    "dedup_minhash_signatures" -> ((s, d) => {
      signatures(s, d)
        .groupBy(col("j").cast("long").as("j"))
        .agg(min(col("mh")).as("global_min"),
             countDistinct(col("mh")).as("n_distinct_mh"))
        .orderBy(col("j"))
    }),

    // MinHash + LSH near-dup pairs: band signatures into 4 buckets of 4
    // rows, candidate-pair only docs sharing a bucket, verify candidates
    // with exact shingle Jaccard >= 0.8, report estimate vs exact.
    "dedup_minhash_lsh" -> ((s, d) => {
      val sig = signatures(s, d)
      // Session-cached band-join candidates — see lshCands.
      val cand = lshCands(s, d)
      // Signature-match estimate: fraction of the 16 minhashes that agree.
      // (cand's pair columns renamed ci/cj — both cand and sig carry a
      // column named j otherwise.)
      val est = cand.select(col("i").as("ci"), col("j").as("cj"))
        .join(sig.as("si"), col("ci") === col("si.doc_id"))
        .join(sig.as("sj"), col("cj") === col("sj.doc_id") && col("si.j") === col("sj.j"))
        .groupBy(col("ci").as("i"), col("cj").as("j"))
        .agg((sum(when(col("si.mh") === col("sj.mh"), 1).otherwise(0)) /
          lit(NumHashes.toDouble)).as("est_jaccard"))
      // Exact verification on candidates only.
      est.join(graft.api.Dedup.jaccardOf(shingleRows(s, d), cand), Seq("i", "j"))
        .select(col("i"), col("j"),
          round(col("est_jaccard"), 6).as("est_jaccard"),
          round(col("jaccard"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
        .orderBy(col("i"), col("j"))
    }),

    // All-pairs n-gram Jaccard (the small-scale oracle of record): every
    // pair sharing >= 1 shingle, Jaccard >= 0.8. Not api.Dedup.allPairsJaccard:
    // this reads the cached shingles and filters on the rounded Jaccard.
    "dedup_ngram_jaccard" -> ((s, d) => {
      val ds = shingleRows(s, d)
      val sz = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = ds.as("x").join(ds.as("y"),
          col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
        .agg(count(lit(1)).as("c"))
      inter
        .join(sz.select(col("doc_id").as("i"), col("n").as("ni")), "i")
        .join(sz.select(col("doc_id").as("j"), col("n").as("nj")), "j")
        .select(col("i"), col("j"),
          round(col("c") / (col("ni") + col("nj") - col("c")).cast("double"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
        .orderBy(col("i"), col("j"))
    }),

    // Incremental (batch-vs-corpus) near-dup — the production ingest
    // shape: a new batch (doc_id % 10 = 0, a deterministic fixture
    // split) probes the standing corpus's LSH band index; candidates
    // come from the cross-frame band-bucket equi-join ONLY (no
    // batch×batch or corpus×corpus pairing), then exact Jaccard ≥ 0.8 on
    // the survivors. At 100 TB the corpus bands are a persisted index a
    // daily batch joins against — per-ingest cost scales with the batch,
    // not the corpus pair space.
    "dedup_incremental" -> ((s, d) => {
      val bands = graft.api.Dedup.lshBands(signatures(s, d), BandSize)
      val isNew = col("doc_id") % 10 === 0
      val cand = graft.api.Dedup.lshCandidatesAcross(
        bands.filter(!isNew), bands.filter(isNew))
      graft.api.Dedup.jaccardOf(shingleRows(s, d), cand)
        .filter(col("jaccard") >= 0.8)
        .select(col("j").as("new_doc"), col("i").as("dup_of"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("new_doc"), col("dup_of"))
    }),

    // Containment near-dup — the SUBSET-duplicate detector Jaccard
    // misses: a short doc fully embedded in a longer one has
    // |A∩B|/min(|A|,|B|) ≈ 1 while Jaccard = |A∩B|/|A∪B| stays low.
    // Candidates still come from the LSH band join only (never
    // all-pairs); both scores are reported for every candidate with
    // containment ≥ 0.9 so the gap is visible.
    "dedup_containment" -> ((s, d) => {
      val cand = lshCands(s, d)   // session-cached — see lshCands
      val ds = shingleRows(s, d)
      val sz = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = cand
        .join(ds.as("x"), col("i") === col("x.doc_id"))
        .join(ds.as("y"), col("j") === col("y.doc_id") && col("x.sh") === col("y.sh"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
      inter
        .join(sz.select(col("doc_id").as("i"), col("n").as("ni")), "i")
        .join(sz.select(col("doc_id").as("j"), col("n").as("nj")), "j")
        .select(col("i"), col("j"),
          round(col("c") / least(col("ni"), col("nj")).cast("double"), 6)
            .as("containment"),
          round(col("c") / (col("ni") + col("nj") - col("c")).cast("double"), 6)
            .as("jaccard"))
        .filter(col("containment") >= 0.9)
        .orderBy(col("i"), col("j"))
    }),

    // Near-dup CLUSTERS → canonical representative — the step that makes
    // dedup actionable: verified LSH pairs (exact Jaccard ≥ 0.8 on
    // band-join candidates only) become an undirected graph, fixed-round
    // min-label propagation (same BSP discipline as graph_components;
    // near-dup cluster diameters are tiny, ClusterIters rounds is
    // generous) labels every clustered doc with its cluster's minimum
    // doc_id — the doc a keep-one pass retains. Singleton docs never
    // enter the loop: state is bounded by docs-with-a-duplicate, a few
    // percent of any real corpus. The oracle unrolls the identical
    // recurrence.
    "dedup_cluster_canonical" -> ((s, d) => {
      val cand = lshCands(s, d)   // session-cached — see lshCands
      val pairs = graft.api.Dedup.jaccardOf(shingleRows(s, d), cand)
        .filter(col("jaccard") >= 0.8)
        .select(col("i"), col("j"))
      val edges = pairs.select(col("i").as("src"), col("j").as("dst"))
        .union(pairs.select(col("j").as("src"), col("i").as("dst")))
      graft.graph.DFGraphAlgs.connectedComponents(edges, ClusterIters)
        .groupBy(col("comp").as("canonical_doc"))
        .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_doc"))
        .orderBy(col("canonical_doc"))
    }),

    // SimHash: 32-bit fingerprint from distinct-token hashes; near-dup =
    // pairs within Hamming distance 6. Bit j of the fingerprint is the
    // sign of Σ_tokens (±1 by bit j of the token hash).
    "dedup_simhash" -> ((s, d) => {
      // Quadratic-by-design teaching twin — ScaleGuard steers users to
      // the output-identical linear form past the warn threshold (and
      // hard-fails under spark.graft.quadraticFailRows).
      ScaleGuard.quadratic(s, "dedup_simhash", s"documents:$d",
        Tables.documents(s, d).count(), "dedup_simhash_banded")
      val fp = simhashFingerprints(s, d)
      fp.as("a").join(fp.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
          expr("bit_count(a.simhash ^ b.simhash)").cast("int").as("hamming"))
        .filter(col("hamming") <= 1)
        .orderBy(col("i"), col("j"))
    }),

    // SimHash, banded (the 100 TB form): for Hamming ≤ 1 the differing
    // bit lies in exactly one of two 16-bit halves, so every qualifying
    // pair shares at least one half EXACTLY (pigeonhole) — candidates
    // come from two equality band-joins instead of the all-pairs
    // product, then the exact Hamming check keeps true matches. Output
    // is provably identical to dedup_simhash's scan, and the oracle IS
    // dedup_simhash's all-pairs SQL.
    "dedup_simhash_banded" -> ((s, d) => {
      graft.api.Dedup.simhashNearDups(simhashFingerprints(s, d), maxHamming = 1)
        .orderBy(col("i"), col("j"))
    }),

    // URL-canonical dedup (the C4/RefinedWeb pre-text gate): collapse
    // scheme/host-case/www/trailing-slash/query/fragment spellings of
    // the same page to one canonical key, keep the minimum doc per key.
    // Pure codegen'd regex map + ONE groupBy on the canonical key — the
    // cheapest dedup pass a web corpus runs, before any content hash.
    "dedup_url_canonical" -> ((s, d) => {
      urlVariants(s, d)
        .select(col("doc_id"),
          graft.api.Text.canonicalUrl(col("url")).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
        .orderBy(col("canonical_url"))
    }),

    // Bloom-filter ingest pre-gate — the EXACT-membership stage that
    // runs before any LSH near-dup pass at 100 TB: the standing corpus's
    // content hashes build one 32 KB bitset (BitsetAgg: partial buffers
    // OR-merge map-side, one buffer per task through the exchange), the
    // batch (doc_id % 10 = 0, the dedup_incremental split) probes the
    // broadcast filter with pure codegen'd built-ins. `in_bloom` has
    // Bloom semantics — never a false negative, false positives at the
    // designed rate — and `exact_dup` (hash equi-join ground truth) sits
    // beside it so the fp gap is visible in the output. Membership is
    // deterministic given TextHash's cross-engine hashes, so the oracle
    // replays the filter exactly, false positives included, via the
    // position-set formulation.
    "dedup_bloom_gate" -> ((s, d) =>
      bloomGateProbe(s, d,
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id")))
  )

  /** The Bloom gate's probe side, shared with the streaming twin
    * (graft.ops.StreamingPack `stream_bloom_gate`): `ingest` is any
    * documents-shaped frame — batch or STREAMING (every step is a
    * stateless projection or a stream-static equi-join). The standing
    * corpus (doc_id % 10 != 0 of dir `d`) supplies both the bitset and
    * the exact-membership ground truth; at scale the exact join would
    * run on the bloom-flagged survivors only — the gate's whole point;
    * both columns are reported so the contract is checkable. */
  private[ops] def bloomGateProbe(s: SparkSession, d: String, ingest: DataFrame): DataFrame = {
    // The standing-corpus artifacts are what a production gate keeps
    // warm between ingests — session-cached here (shared by the batch
    // query and the streaming twin; rebuilt only on a new corpus dir).
    val bloom = DFCache.cached(s, s"dedup.bloom:$d") {
      graft.api.Dedup.bloomBitset(corpusHashes(s, d), col("h"), BloomK, BloomBits)
    }
    val exact = DFCache.cached(s, s"dedup.bloomexact:$d") {
      corpusHashes(s, d).select(col("h")).distinct()
        .withColumn("exact_hit", lit(1))
    }
    val probed = graft.api.Dedup.bloomProbe(
      ingest.select(col("doc_id"), h28(col("text")).as("h")),
      bloom, col("h"), BloomK, BloomBits, "in_bloom")
    probed.join(exact, Seq("h"), "left")
      .select(col("doc_id"), col("in_bloom"),
        coalesce(col("exact_hit"), lit(0)).as("exact_dup"))
  }

  private def corpusHashes(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), h28(col("text")).as("h"))

  /** Deterministic URL-variant frame: doc pairs (2k, 2k+1) cite the SAME
    * target page under different spellings — https+www, uppercased
    * scheme/host + trailing slash, query string, fragment — the inputs
    * URL-canonical dedup must collapse. Host derives from the shared
    * pair key (not `source`, which differs between pair members). */
  private def urlVariants(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val base = expr("doc_id div 2")
    val host = concat(lit("s"), pmod(base, lit(20L)).cast("string"),
      lit(".example.com"))
    val page = concat(lit("/p/"), base.cast("string"))
    val url = when(id % 4 === 0, concat(lit("https://www."), host, page))
      .when(id % 4 === 1,
        concat(lit("HTTP://"), upper(host), page, lit("/")))
      .when(id % 4 === 2, concat(lit("http://"), host, page, lit("?utm=1")))
      .otherwise(concat(lit("https://"), host, page, lit("#frag")))
    Tables.documents(s, d).select(id.as("doc_id"), url.as("url"))
  }

  val oracle: Map[String, String] = Map(
    "dedup_exact_docs" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |g AS (SELECT h, COUNT(*) AS n FROM h GROUP BY h)
        |SELECT COUNT(*) AS n_distinct_texts,
        |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
        |  CAST(SUM(n - 1) AS BIGINT) AS n_redundant_docs
        |FROM g""".stripMargin,

    "dedup_minhash_signatures" ->
      s"""WITH $signaturesSql
         |SELECT j, MIN(mh) AS global_min, COUNT(DISTINCT mh) AS n_distinct_mh
         |FROM sig GROUP BY j ORDER BY j""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $signaturesSql,
         |bands AS (SELECT doc_id, CAST(j // $BandSize AS INT) AS band,
         |    SUM((j % $BandSize + 1) * mh) AS bucket
         |  FROM sig GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |est AS (SELECT c.i, c.j,
         |    SUM(CASE WHEN si.mh = sj.mh THEN 1 ELSE 0 END) / ${NumHashes.toDouble} AS est_jaccard
         |  FROM cand c
         |  JOIN sig si ON si.doc_id = c.i
         |  JOIN sig sj ON sj.doc_id = c.j AND si.j = sj.j
         |  GROUP BY c.i, c.j),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.i, c.j, COUNT(*) AS c
         |  FROM cand c
         |  JOIN sh x ON x.doc_id = c.i
         |  JOIN sh y ON y.doc_id = c.j AND x.sh = y.sh
         |  GROUP BY c.i, c.j)
         |SELECT e.i, e.j, round(e.est_jaccard, 6) AS est_jaccard,
         |  round(iv.c * 1.0 / (sx.n + sy.n - iv.c), 6) AS jaccard
         |FROM est e
         |JOIN inter iv ON iv.i = e.i AND iv.j = e.j
         |JOIN sz sx ON sx.doc_id = e.i
         |JOIN sz sy ON sy.doc_id = e.j
         |WHERE iv.c * 1.0 / (sx.n + sy.n - iv.c) >= 0.8
         |ORDER BY e.i, e.j""".stripMargin,

    "dedup_incremental" ->
      s"""WITH $signaturesSql,
         |bands AS (SELECT doc_id, CAST(j // $BandSize AS INT) AS band,
         |    SUM((j % $BandSize + 1) * mh) AS bucket
         |  FROM sig GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.i, c.j, COUNT(*) AS c
         |  FROM cand c
         |  JOIN sh x ON x.doc_id = c.i
         |  JOIN sh y ON y.doc_id = c.j AND x.sh = y.sh
         |  GROUP BY c.i, c.j)
         |SELECT iv.j AS new_doc, iv.i AS dup_of,
         |  round(iv.c * 1.0 / (sx.n + sy.n - iv.c), 6) AS jaccard
         |FROM inter iv
         |JOIN sz sx ON sx.doc_id = iv.i
         |JOIN sz sy ON sy.doc_id = iv.j
         |WHERE iv.c * 1.0 / (sx.n + sy.n - iv.c) >= 0.8
         |ORDER BY new_doc, dup_of""".stripMargin,

    "dedup_containment" ->
      s"""WITH $signaturesSql,
         |bands AS (SELECT doc_id, CAST(j // $BandSize AS INT) AS band,
         |    SUM((j % $BandSize + 1) * mh) AS bucket
         |  FROM sig GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.i, c.j, COUNT(*) AS c
         |  FROM cand c
         |  JOIN sh x ON x.doc_id = c.i
         |  JOIN sh y ON y.doc_id = c.j AND x.sh = y.sh
         |  GROUP BY c.i, c.j)
         |SELECT iv.i, iv.j,
         |  round(iv.c / CAST(least(sx.n, sy.n) AS DOUBLE), 6) AS containment,
         |  round(iv.c * 1.0 / (sx.n + sy.n - iv.c), 6) AS jaccard
         |FROM inter iv
         |JOIN sz sx ON sx.doc_id = iv.i
         |JOIN sz sy ON sy.doc_id = iv.j
         |WHERE round(iv.c / CAST(least(sx.n, sy.n) AS DOUBLE), 6) >= 0.9
         |ORDER BY iv.i, iv.j""".stripMargin,

    "dedup_cluster_canonical" -> {
      val rounds = (1 to ClusterIters).map { k =>
        s"""c$k AS MATERIALIZED (SELECT n.id, least(n.comp, r.m) AS comp
           |  FROM c${k - 1} n LEFT JOIN (
           |    SELECT e.dst AS id, MIN(p.comp) AS m
           |    FROM cedges e JOIN c${k - 1} p ON p.id = e.src
           |    GROUP BY e.dst) r ON r.id = n.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $signaturesSql,
         |bands AS (SELECT doc_id, CAST(j // $BandSize AS INT) AS band,
         |    SUM((j % $BandSize + 1) * mh) AS bucket
         |  FROM sig GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.i, c.j, COUNT(*) AS c
         |  FROM cand c
         |  JOIN sh x ON x.doc_id = c.i
         |  JOIN sh y ON y.doc_id = c.j AND x.sh = y.sh
         |  GROUP BY c.i, c.j),
         |dpairs AS (SELECT iv.i, iv.j FROM inter iv
         |  JOIN sz sx ON sx.doc_id = iv.i
         |  JOIN sz sy ON sy.doc_id = iv.j
         |  WHERE iv.c * 1.0 / (sx.n + sy.n - iv.c) >= 0.8),
         |cedges AS MATERIALIZED (SELECT i AS src, j AS dst FROM dpairs
         |  UNION ALL SELECT j AS src, i AS dst FROM dpairs),
         |cnodes AS (SELECT DISTINCT src AS id FROM cedges),
         |c0 AS (SELECT id, id AS comp FROM cnodes),
         |$rounds
         |SELECT comp AS canonical_doc, COUNT(*) AS n_docs, MAX(id) AS max_doc
         |FROM c$ClusterIters GROUP BY comp ORDER BY canonical_doc""".stripMargin
    },

    "dedup_ngram_jaccard" ->
      s"""WITH $shingleRowsSql,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS i, y.doc_id AS j, COUNT(*) AS c
         |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT i, j, round(c * 1.0 / (sx.n + sy.n - c), 6) AS jaccard
         |FROM inter
         |JOIN sz sx ON sx.doc_id = i
         |JOIN sz sy ON sy.doc_id = j
         |WHERE c * 1.0 / (sx.n + sy.n - c) >= 0.8
         |ORDER BY i, j""".stripMargin,

    "dedup_simhash" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
         |  FROM documents),
         |th AS (SELECT doc_id, ${h28Sql("t")} AS h FROM tok),
         |bits AS (SELECT doc_id, bt,
         |    SUM(CASE WHEN (h >> bt) & 1 = 1 THEN 1 ELSE -1 END) AS balance
         |  FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS bt)
         |  GROUP BY doc_id, bt),
         |fp AS MATERIALIZED (SELECT doc_id,
         |    SUM(CASE WHEN balance > 0 THEN (CAST(1 AS BIGINT) << bt) ELSE 0 END) AS simhash
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS i, b.doc_id AS j,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY i, j""".stripMargin,

    // Pigeonhole equivalence: the banded form must return exactly what
    // the all-pairs scan returns.
    "dedup_simhash_banded" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
         |  FROM documents),
         |th AS (SELECT doc_id, ${h28Sql("t")} AS h FROM tok),
         |bits AS (SELECT doc_id, bt,
         |    SUM(CASE WHEN (h >> bt) & 1 = 1 THEN 1 ELSE -1 END) AS balance
         |  FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS bt)
         |  GROUP BY doc_id, bt),
         |fp AS MATERIALIZED (SELECT doc_id,
         |    SUM(CASE WHEN balance > 0 THEN (CAST(1 AS BIGINT) << bt) ELSE 0 END) AS simhash
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS i, b.doc_id AS j,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY i, j""".stripMargin,

    // Same variant construction and canonicalization chain as the Spark
    // side (graft.api.Text.canonicalUrl): strip [#?]-tail, lowercase
    // host minus "www.", trim the path's trailing slash.
    "dedup_url_canonical" ->
      """WITH v AS (SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'https://www.s' || (doc_id // 2) % 20
        |        || '.example.com/p/' || (doc_id // 2)
        |      WHEN 1 THEN 'HTTP://'
        |        || upper('s' || (doc_id // 2) % 20 || '.example.com')
        |        || '/p/' || (doc_id // 2) || '/'
        |      WHEN 2 THEN 'http://s' || (doc_id // 2) % 20
        |        || '.example.com/p/' || (doc_id // 2) || '?utm=1'
        |      ELSE 'https://s' || (doc_id // 2) % 20
        |        || '.example.com/p/' || (doc_id // 2) || '#frag'
        |    END AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    regexp_replace(lower(regexp_extract(
        |        regexp_replace(url, '[#?].*$', ''),
        |        '^[A-Za-z]+://([^/]+)', 1)), '^www\.', '')
        |    || regexp_replace(regexp_extract(
        |        regexp_replace(url, '[#?].*$', ''),
        |        '^[A-Za-z]+://[^/]+(/.*)?$', 1), '/$', '') AS canonical_url
        |  FROM v)
        |SELECT canonical_url, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS keep_doc
        |FROM c GROUP BY 1 ORDER BY canonical_url""".stripMargin,

    // Exact Bloom replay: a batch doc is in_bloom iff ALL k of its bit
    // positions appear in the corpus's distinct position set — the
    // uncompressed formulation of the same filter (bit arrays and
    // position sets answer membership identically).
    "dedup_bloom_gate" ->
      s"""WITH hs AS MATERIALIZED (SELECT doc_id, ${h28Sql("text")} AS h,
         |    doc_id % 10 = 0 AS is_batch FROM documents),
         |pos AS MATERIALIZED (SELECT doc_id, is_batch,
         |    ${affineSql("h", "j")} % $BloomBits AS p
         |  FROM hs CROSS JOIN (SELECT unnest(range(0, $BloomK)) AS j)),
         |cb AS MATERIALIZED (SELECT DISTINCT p FROM pos WHERE NOT is_batch),
         |probe AS (SELECT pos.doc_id,
         |    CASE WHEN SUM(CASE WHEN cb.p IS NULL THEN 1 ELSE 0 END) = 0
         |      THEN 1 ELSE 0 END AS in_bloom
         |  FROM pos LEFT JOIN cb ON cb.p = pos.p
         |  WHERE pos.is_batch GROUP BY pos.doc_id),
         |ch AS (SELECT DISTINCT h FROM hs WHERE NOT is_batch)
         |SELECT pr.doc_id, pr.in_bloom,
         |  CASE WHEN ch.h IS NULL THEN 0 ELSE 1 END AS exact_dup
         |FROM probe pr
         |JOIN hs b ON b.doc_id = pr.doc_id
         |LEFT JOIN ch ON ch.h = b.h
         |ORDER BY pr.doc_id""".stripMargin
  )
}
