package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import TextHash._

/** Text-analysis pack over `documents` — the training-data pipeline
  * columns a 100 TB corpus build needs: token statistics, quality
  * scoring (length/stopword ratios), stopword-marker language ID, and
  * polynomial rolling-hash document fingerprints.
  *
  * Everything is built-in expressions (split/aggregate/array ops) —
  * per-row map work inside whole-stage codegen, no shuffle except the
  * final summaries, so these columns cost one pass over the corpus.
  */
object TextPack {
  type Q = (SparkSession, String) => DataFrame

  private val Stopwords = Seq("the", "a", "and", "of", "to", "in", "is")
  private val StopwordsSqlList = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
  /** GPT-2-style pre-tokenizer split, reduced to the RE2-compatible core
    * (no lookahead): optional leading space + letter run / digit run /
    * punctuation run. */
  private val BpeIshPattern = """ ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"""
  /** BM25 parameters (the standard Robertson defaults) and the fixed
    * query-term set of the text_bm25_topk query. */
  private val Bm25K1 = 1.2
  private val Bm25B  = 0.75
  private val BmQueryTerms = Seq("spark", "query", "join")
  /** Probe-document bound of the text_contamination query: docs with
    * doc_id <= ProbeDocs play the role of the external benchmark file. */
  private val ProbeDocs = 5L
  /** Token budget per packed training sequence (text_pack_sequences). */
  private val SeqLen = 512L
  /** Domain blocklist of the text_url_domains query (the C4/Dolma-style
    * URL gate); mirror.example.com is guaranteed present in the derived
    * corpus so the filter provably removes rows. */
  private val UrlBlocklist = Seq("mirror.example.com", "ads.example.com")
  /** Range buckets of the two-phase global prefix sum in
    * text_pack_sequences (same discipline as Analytics.gini /
    * Sampling.denseIndex: per-bucket window + histogram offsets, never a
    * single-partition global window). */
  private val PackBuckets = 64L
  /** Target mixture of text_mix_sample — a skewed 4-domain blend; every
    * other source drops (weight 0). */
  private val MixShares = Map(
    "src1" -> 0.4, "src3" -> 0.3, "src5" -> 0.2, "src7" -> 0.1)
  /** Hashed-bigram bucket space of text_dsir_weights. */
  private val DsirBuckets = 1024
  /** Shingle width of text_dup_spans — 3 keeps cross-doc duplication
    * demonstrably present on the fixture's ~60-word vocabulary
    * (production exact-substring dedup uses 50-token spans; the width is
    * the operator's parameter, not its shape). */
  private val DupSpanN = 3
  /** Chunk window / stride of text_chunk_overlap — 32/24 yields 1-5
    * overlapped chunks per fixture doc (10-99 tokens); production values
    * (2048/1536 etc.) are parameters, not shape. */
  private val ChunkTokens = 32
  private val ChunkStride = 24
  /** Shard count of text_global_shuffle's manifest. */
  private val ShuffleShards = 16
  /** Segment width of text_para_dedup — the "paragraph" of a fixture
    * with no newlines; 8 tokens gives each 10-99-token doc 2-13
    * segments. Production paragraph dedup splits on '\n' instead — the
    * delimiter is a parameter, the keep-first plan is the shape. */
  private val ParaTokens = 8

  /** Per-doc bigram-LM scores, session-cached (r14): text_bigram_lm_score
    * and text_ppl_buckets both rank the SAME (doc_id, n_bigrams,
    * lm_score) frame, and the build is the pack's most expensive chain
    * (corpus tokenize → posexplode → per-doc lead window → two model
    * aggregations → score join). One build per session, charged to
    * Bench's shared-warmup stage via a Warm entry like every cross-query
    * cache; the frame is |docs| rows at any scale. */
  private[ops] def lmScores(s: SparkSession, d: String): DataFrame =
    DFCache.cached(s, s"text.lmscores:$d") {
      graft.api.Text.bigramLmScores(
        Tables.spread(Tables.documents(s, d)), "doc_id", "text")
    }

  val queries: Map[String, Q] = Map(
    // Token counting + basic stats per doc: whitespace tokenizer, a
    // BPE-ish pre-tokenizer regex (word / number / punctuation runs with
    // leading space, the GPT-2-style split reduced to RE2-compatible
    // form so both engines count identically), and the usual chars/4
    // subword estimate.
    "text_token_stats" -> ((s, d) => {
      graft.api.Text.tokenStats(Tables.documents(s, d), "doc_id", "text", BpeIshPattern)
        .withColumn("avg_token_len",
          round(col("n_chars") / col("n_tokens").cast("double"), 6))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: stopword ratio, type-token ratio, length band —
    // the heuristics corpus filters gate on.
    "text_quality_score" -> ((s, d) => {
      graft.api.Text.qualityScore(Tables.documents(s, d), "doc_id", "text", Stopwords)
        .select(col("doc_id"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("type_token_ratio"), 6).as("type_token_ratio"),
          col("len_band"),
          round(col("quality"), 6).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Stopword-marker language ID vs the labeled lang column → confusion
    // counts. (n-gram-profile LID reduced to its marker-set core so the
    // oracle stays SQL; the text corpus is English-word soup, which the
    // confusion matrix makes visible.)
    "text_lang_id" -> ((s, d) => {
      graft.api.Text.langId(Tables.documents(s, d), "text", Stopwords)
        .select(col("lang"), col("predicted_lang").as("predicted"))
        .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    }),

    // Rolling-hash fingerprint: left fold h = (h*131 + h28(token)) mod P
    // over the ordered token stream — order-sensitive by design (catches
    // permuted near-dups that bag-of-words hashing misses).
    "text_fingerprint" -> ((s, d) => {
      graft.api.Text.fingerprint(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // TF-IDF top terms per document — the keyword-extraction column of a
    // corpus pipeline. Document frequency is computed over the FULL
    // corpus (one groupBy of the per-doc term table), scores ranked by
    // the rounded value with a term tie-break so the top-3 is a total
    // order both engines agree on. Per-doc ranking is a bounded
    // partitioned window, never a global sort; the doc filter sits on
    // the window's partition key and the join's tf side, so it pushes
    // down to the scan.
    "text_tfidf_topterms" -> ((s, d) => {
      // Spread: the token explode is ~n_tokens rows out per row in
      // (Tables.spread contract).
      graft.api.Text.tfidfTopTerms(Tables.spread(Tables.documents(s, d)), "doc_id", "text", 3)
        .filter(col("doc_id") < 100)
        .orderBy(col("doc_id"), col("rk"))
    }),

    // BM25 relevance scoring (Robertson/Sparck-Jones; k1=1.2, b=0.75) of
    // the corpus against a fixed query-term set — the retrieval-quality
    // column a training-data pipeline ranks candidate documents by. One
    // token pass builds per-doc lengths and term frequencies; document
    // frequencies and the (n_docs, avgdl) stats are broadcast; the
    // per-(doc, term) contributions sum through exact decimals so the
    // score is order-independent. Top-20 with a doc_id tiebreak.
    "text_bm25_topk" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val dlen = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val stats = dlen.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val tf = toks.filter(col("term").isin(BmQueryTerms: _*))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
      tf.join(broadcast(dfreq), "term")
        .join(dlen, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
            col("tf") * (lit(Bm25K1) + lit(1.0)) /
            (col("tf") + lit(Bm25K1) *
              (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
        .groupBy(col("doc_id"))
        .agg(round(OpsUtil.rsum(col("contrib")), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(20)
    }),

    // Bigram language-model quality score — the statistical-LM corpus
    // filter (low average bigram log-likelihood ⇒ disfluent/garbled
    // text): the corpus's own add-1-smoothed bigram model scores every
    // document, bottom-20 reported. Bigrams come from one lead() window
    // per doc (a single doc-key shuffle); model counts are two hash
    // aggregations over the bigram stream; per-doc scores sum through
    // exact decimals (order-independent) — the same one-corpus-pass
    // discipline as the rest of the pack.
    "text_bigram_lm_score" -> ((s, d) => {
      lmScores(s, d)
        .orderBy(col("lm_score").asc, col("doc_id").asc)
        .limit(20)
    }),

    // CCNet perplexity partition (Wenzek et al. 2020 §4.4) — the same
    // per-doc LM scores cut into equal-count head/middle/tail quality
    // bands via a two-phase global rank (score-range buckets →
    // per-bucket row_number → histogram offsets; no global sort). Per
    // band: doc/bigram counts + the score range, i.e. the perplexity
    // cutoffs a production mixture builder would persist.
    "text_ppl_buckets" -> ((s, d) => {
      // Rank over the SAME session-cached per-doc scores as
      // text_bigram_lm_score (see lmScores) — the two-phase rank then
      // reads a |docs|-row cache instead of re-running the corpus
      // tokenize + bigram-model build a second (and third: the ranker
      // references the score frame three times) time.
      graft.api.Text.pplBucketsOf(lmScores(s, d))
    }),

    // Fingerprint-based exact-ordered-dup audit (groups sharing a
    // fingerprint), the scalable "same content, same order" check.
    "text_fingerprint_dups" -> ((s, d) => {
      graft.api.Text.fingerprint(Tables.documents(s, d), "doc_id", "text")
        .groupBy(col("fingerprint")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_distinct_fp"),
             sum(when(col("n") > 1, 1).otherwise(0)).as("n_dup_groups"))
    }),

    // Benchmark DECONTAMINATION probe — the n-gram overlap check every
    // training-corpus build runs against its eval sets (the GPT-3
    // 13-gram dedup, Brown et al. 2020 app. C, at the fixture's word
    // 3-grams): the "benchmark" is a fixed probe document set (doc_id <=
    // ProbeDocs, a stand-in for an external eval file); every corpus
    // document sharing a shingle with it is flagged with its overlap
    // evidence. The probe shingle set is tiny and BROADCAST; the corpus
    // side is the SAME cached shingle pass the dedup family uses — one
    // semi-shaped equi-join on shingle, no text comparison, which is the
    // 100 TB decontamination shape (eval sets are KB, corpora are TB).
    "text_contamination" -> ((s, d) => {
      val sh = DedupPack.shingleRows(s, d)
      graft.api.Text.contaminationFromShingles(
          sh.filter(col("doc_id") > ProbeDocs),
          sh.filter(col("doc_id") <= ProbeDocs))
        .orderBy(col("overlap_frac").desc, col("doc_id").asc)
        .limit(20)
    }),

    // Within-document REPETITION metrics — the Gopher repetition filters
    // (Rae et al. 2021, §A1.3): duplicate-n-gram fraction and
    // top-n-gram fraction per document, for n = 2 and 3. A doc whose
    // mass concentrates in few repeated n-grams is boilerplate/spam; the
    // filter gates on these fractions. Bigram/trigram streams come from
    // one posexplode + per-doc lead window (the text_bigram_lm idiom) —
    // per-doc-key shuffles only, linear in corpus size.
    "text_repetition" -> ((s, d) => {
      graft.api.Text.repetitionMetrics(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Training-sequence PACKING — the concat-and-chunk step that turns a
    // filtered corpus into fixed-budget training rows: documents are
    // concatenated in deterministic doc_id order and chunked every
    // SeqLen tokens; a document belongs to the chunk holding its first
    // token (bin = global-prefix-tokens div SeqLen). The global ordered
    // prefix sum is TWO-PHASE (contiguous doc_id range buckets →
    // per-bucket cumulative window → offsets from the ≤PackBuckets-row
    // histogram window) — no single-partition global window at any
    // scale, same discipline as Analytics.gini / Sampling.denseIndex.
    // Output: per bin, how many documents start in it and their tokens.
    "text_pack_sequences" -> ((s, d) => {
      graft.api.Text.packSequences(Tables.documents(s, d), "doc_id", "text",
          SeqLen, PackBuckets)
        .orderBy(col("bin"))
    }),

    // PII REDACTION — the scrub pass (emails/phones/IPv4 → placeholder
    // tags) every public-corpus build runs before training. The fixture
    // tables carry no organic PII, so the query derives a deterministic
    // contact-card text from customer-key arithmetic (identical CASE/
    // concat logic in the oracle: both engines redact the same input) —
    // the operator itself (graft.api.Text.piiRedact) is generic and
    // pure per-row codegen'd regex work, no shuffle at any scale.
    "text_pii_redact" -> ((s, d) => {
      graft.api.Text.piiRedact(piiProfiles(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // URL DOMAIN GATE — extract every URL mention, key by domain, drop
    // blocklisted domains (the C4 badwords-domain / Dolma URL filter
    // shape). URL-bearing text is derived deterministically from
    // (source, doc_id) arithmetic; extraction is per-row regex in
    // codegen + one explode, the only shuffle is the domain groupBy,
    // and the blocklist folds into the scan filter (eval-set-sized).
    "text_url_domains" -> ((s, d) => {
      graft.api.Text.urlDomainStats(urlCorpus(s, d), "doc_id", "text",
          UrlBlocklist)
        .orderBy(col("n_urls").desc, col("domain").asc)
    }),

    // Token-level Shannon ENTROPY per document — the information-
    // theoretic quality gate (near-zero entropy = one token repeated =
    // spam; complements the Gopher repetition fractions). Two hash
    // aggregations on doc keys; the c·ln(c) mass sums through exact
    // decimals so the double score is accumulation-order-independent.
    "text_token_entropy" -> ((s, d) => {
      graft.api.Text.tokenEntropy(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // The composed corpus FILTER FUNNEL — every gate above in one pass,
    // each doc attributed to its FIRST failing gate (C4/Gopher funnel
    // report shape). All signals are per-doc-key aggregations over one
    // token pass; the report is a ≤5-row groupBy.
    "text_filter_funnel" -> ((s, d) => {
      // Thresholds sit inside the fixture's signal distributions
      // (n_tokens 10-99, entropy 1.6-3.35, dup-bigram 0-0.13) so every
      // gate of the funnel demonstrably fires.
      graft.api.Text.filterFunnel(Tables.spread(Tables.documents(s, d)), "doc_id", "text",
          Stopwords, minStopRatio = 0.02, minTokens = 20L, maxTokens = 1000L,
          maxDupBigramFrac = 0.06, minEntropy = 2.7)
        .groupBy(col("verdict")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("verdict"))
    }),

    // Max-volume mixture rebalance to target domain shares (DoReMi-style
    // reweighting as deterministic sampling): the binding domain keeps
    // 100%, every other samples down by a hash gate. One bounded stats
    // agg + a broadcast rate table; the report is a <=|domains|-row
    // groupBy.
    "text_mix_sample" -> ((s, d) => {
      graft.api.Text.mixtureSample(Tables.documents(s, d), "doc_id", "text",
          "source", MixShares)
        .groupBy(col("domain"), col("rate"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep")).cast("long").as("n_kept"),
          sum(col("n_tokens") * col("keep")).cast("long").as("tok_kept"))
        .orderBy(col("domain"))
    }),

    // DSIR importance weights: hashed-bigram log-likelihood ratio of each
    // doc against the src0 probe slice vs the raw corpus — the
    // data-selection score of Xie et al. 2023. Probe stats broadcast
    // (eval-set shape); corpus stats one bounded agg.
    "text_dsir_weights" -> ((s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
      graft.api.Text.dsirWeights(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text", buckets = DsirBuckets)
        .orderBy(col("doc_id"))
    }),

    // Cross-doc duplicated-span fractions (Lee et al. 2022 exact
    // substring dedup signal): per doc, the share of its 3-token
    // shingles that also occur in another document. One shingle pass +
    // one gram groupBy; the dup mark joins back on the same gram key.
    "text_dup_spans" -> ((s, d) => {
      graft.api.Text.dupSpanStats(Tables.spread(Tables.documents(s, d)), "doc_id", "text",
          n = DupSpanN)
        .orderBy(col("doc_id"))
    }),

    // Vocabulary coverage curve: smallest frequency-ranked vocab reaching
    // each cumulative token-share target — tokenizer budget planning.
    // Global rank is the two-phase digit-bucket form (no global sort).
    "text_vocab_coverage" -> ((s, d) => {
      graft.api.Text.vocabCoverage(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("target"))
    }),

    // BPE merge-pair counting (Sennrich et al. 2016) — tokenizer
    // training's inner loop, counted the way production trainers scale
    // it: over the word-frequency VOCAB (one row per distinct word),
    // never over raw corpus positions. See api.Text.bpePairCounts.
    "text_bpe_pairs" -> ((s, d) => {
      graft.api.Text.bpePairCounts(Tables.documents(s, d), "doc_id", "text")
    }),

    // Zipf-law fit: OLS slope of ln(freq) on ln(rank) over the top-100
    // words — the corpus-health check (natural text has s ≈ 1;
    // template-spam corpora go flat). Vocab from one corpus pass; all
    // downstream work is 100-row.
    "text_zipf_fit" -> ((s, d) => {
      graft.api.Text.zipfFit(Tables.documents(s, d), "doc_id", "text")
    }),

    // Sliding-window CHUNKING with overlap (long doc → fixed-token
    // training contexts, consecutive chunks sharing ChunkTokens−Stride
    // tokens): sequence→explode→slice per row, all codegen'd — a flat
    // map over the corpus, no shuffle. Chunk hashes are the join key
    // for downstream chunk-level dedup.
    "text_chunk_overlap" -> ((s, d) => {
      graft.api.Text.chunkSliding(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = ChunkTokens, stride = ChunkStride)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // Sub-document dedup at paragraph granularity (CCNet §3.1 / C4):
    // every distinct ParaTokens-token segment keeps only its globally
    // first occurrence; per-doc retention table. Segment pass is the
    // chunking flat map; the first-occurrence mark is one hash-
    // partitioned window — no all-pairs.
    "text_para_dedup" -> ((s, d) => {
      graft.api.Text.paraDedup(Tables.documents(s, d), "doc_id", "text",
          paraTokens = ParaTokens)
        .orderBy(col("doc_id"))
    }),

    // Deterministic global shuffle + shard manifests (reproducible
    // training order): multiplicative-hash position, shard-partitioned
    // window for in-shard order, ≤Shards-row report.
    "text_global_shuffle" -> ((s, d) => {
      graft.api.Text.globalShuffle(Tables.documents(s, d), "doc_id",
          shards = ShuffleShards)
        .orderBy(col("shard"))
    })
  )

  /** Deterministic PII-bearing contact cards derived from customer-key
    * arithmetic (the fixture has no organic PII): every key gets a name,
    * keys ≡ 0,1 (mod 3) an email, even keys a phone, keys ≡ 0 (mod 4)
    * an IPv4 literal — so match counts vary per row and absent fields
    * exercise the zero-match path. Mirrored 1:1 in the oracle SQL. */
  private def piiProfiles(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    val email = when(k % 3 < 2,
      concat(lit("user"), k.cast("string"), lit("@ex"),
        (k % 5).cast("string"), lit(".com"))).otherwise(lit(""))
    val phone = when(k % 2 === 0,
      concat((k % 90 + 10).cast("string"), lit("-"),
        (k % 900 + 100).cast("string"), lit("-"),
        ((k * 7) % 900 + 100).cast("string"), lit("-"),
        ((k * 13) % 9000 + 1000).cast("string"))).otherwise(lit(""))
    val ip = when(k % 4 === 0,
      concat((k % 256).cast("string"), lit("."),
        ((k * 3) % 256).cast("string"), lit("."),
        ((k * 5) % 256).cast("string"), lit("."),
        ((k * 7) % 256).cast("string"))).otherwise(lit(""))
    Tables.customer(s, d).select(k.as("doc_id"),
      concat_ws(" ", col("c_name"), lit("contact"), email,
        lit("tel"), phone, lit("host"), ip).as("text"))
  }

  /** Documents text with deterministic URL mentions appended from
    * (source, doc_id) arithmetic: one primary URL per doc across a
    * source×7×3 domain grid, plus a mirror.example.com citation on
    * every 4th doc (so the blocklist provably filters rows). Mirrored
    * 1:1 in the oracle SQL. */
  private def urlCorpus(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val tld = when(id % 3 === 0, "com").when(id % 3 === 1, "org").otherwise("net")
    Tables.documents(s, d).select(id.as("doc_id"),
      concat(col("text"), lit(" see http://"), col("source"),
        (id % 7).cast("string"), lit(".example."), tld,
        lit("/p/"), id.cast("string"),
        when(id % 4 === 0,
          concat(lit(" plus https://mirror.example.com/p/"), id.cast("string")))
          .otherwise(lit(""))).as("text"))
  }

  val oracle: Map[String, String] = Map(
    // Parallel unnest aligns (term, pos); lead() mirrors the Spark window.
    "text_bigram_lm_score" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS term,
        |    unnest(range(0, len(string_split(text, ' ')))) AS pos
        |  FROM documents),
        |big AS MATERIALIZED (SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, term AS w1,
        |      lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |    FROM tok)
        |  WHERE w2 IS NOT NULL),
        |c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM big GROUP BY w1, w2),
        |c1 AS (SELECT w1, COUNT(*) AS n1 FROM big GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM tok)
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |  round(CAST(SUM(CAST(ln((c2.n2 + 1) / CAST(c1.n1 + v.v AS DOUBLE))
        |      AS DECIMAL(28,15))) AS DOUBLE) / COUNT(*), 6) AS lm_score
        |FROM big b
        |JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
        |JOIN c1 ON c1.w1 = b.w1
        |CROSS JOIN v
        |GROUP BY b.doc_id
        |ORDER BY lm_score ASC, doc_id ASC LIMIT 20""".stripMargin,

    // Same LM CTEs; the oracle ranks globally (fine at oracle scale) —
    // band cut floor(nBands·(rank-1)/n) mirrors pplBuckets exactly.
    "text_ppl_buckets" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS term,
        |    unnest(range(0, len(string_split(text, ' ')))) AS pos
        |  FROM documents),
        |big AS MATERIALIZED (SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, term AS w1,
        |      lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |    FROM tok)
        |  WHERE w2 IS NOT NULL),
        |c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM big GROUP BY w1, w2),
        |c1 AS (SELECT w1, COUNT(*) AS n1 FROM big GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM tok),
        |scores AS (SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |    round(CAST(SUM(CAST(ln((c2.n2 + 1) / CAST(c1.n1 + v.v AS DOUBLE))
        |        AS DECIMAL(28,15))) AS DOUBLE) / COUNT(*), 6) AS lm_score
        |  FROM big b
        |  JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
        |  JOIN c1 ON c1.w1 = b.w1
        |  CROSS JOIN v
        |  GROUP BY b.doc_id),
        |ranked AS (SELECT *,
        |    row_number() OVER (ORDER BY lm_score DESC, doc_id ASC) AS rnk,
        |    COUNT(*) OVER () AS n
        |  FROM scores)
        |SELECT CAST(least(floor(3 * (rnk - 1) / CAST(n AS DOUBLE)), 2)
        |    AS BIGINT) AS band,
        |  COUNT(*) AS n_docs, CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
        |  MAX(lm_score) AS best_score, MIN(lm_score) AS worst_score
        |FROM ranked GROUP BY band ORDER BY band""".stripMargin,

    "text_token_stats" ->
      s"""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens,
        |  CAST(len(regexp_extract_all(text, '$BpeIshPattern')) AS INT) AS n_bpe_tokens,
        |  CAST(length(text) AS INT) AS n_chars,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subwords_est,
        |  round(length(text) / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         |m AS (SELECT doc_id, text,
         |    len(list_intersect(ws, $StopwordsSqlList)) / CAST(len(ws) AS DOUBLE) AS stop_ratio,
         |    len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE) AS ttr
         |  FROM t)
         |SELECT doc_id,
         |  round(stop_ratio, 6) AS stopword_ratio,
         |  round(ttr, 6) AS type_token_ratio,
         |  CASE WHEN length(text) < 100 THEN 'short'
         |       WHEN length(text) > 400 THEN 'long'
         |       ELSE 'medium' END AS len_band,
         |  round(0.5 * ttr + 0.5 * least(stop_ratio * 10, 1.0), 6) AS quality
         |FROM m ORDER BY doc_id""".stripMargin,

    "text_lang_id" ->
      s"""WITH t AS (SELECT lang,
         |    len(list_intersect(string_split(text, ' '), $StopwordsSqlList))
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS en_ratio
         |  FROM documents)
         |SELECT lang, CASE WHEN en_ratio >= 0.02 THEN 'en' ELSE 'unknown' END AS predicted,
         |  COUNT(*) AS n
         |FROM t GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(text, ' '), t -> ${h28Sql("t")})),
         |    (acc, h) -> (acc * $B + h) % $P) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_tfidf_topterms" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (SELECT t.doc_id, t.term, t.tf,
        |    round(t.tf * ln(CAST(n_docs AS DOUBLE) / d.df), 6) AS tfidf
        |  FROM tf t JOIN df d USING (term) CROSS JOIN n
        |  WHERE t.doc_id < 100),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term ASC) AS rk FROM scored)
        |SELECT doc_id, rk, term, tf, tfidf FROM rk
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    // Fractional literals are CAST to DOUBLE so DuckDB's DECIMAL literal
    // arithmetic cannot fold constants differently from Spark's double
    // folding (1.2 + 1 in decimal ≠ 1.2 + 1 in IEEE doubles).
    "text_bm25_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |dlen AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlen),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN ('spark', 'query', 'join') GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |contrib AS (SELECT t.doc_id,
        |    ln((s.n_docs - f.df + CAST(0.5 AS DOUBLE)) / (f.df + CAST(0.5 AS DOUBLE))
        |        + CAST(1.0 AS DOUBLE))
        |      * t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
        |      / (t.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |          + CAST(0.75 AS DOUBLE) * l.dl / s.avgdl)) AS contrib
        |  FROM tf t JOIN dfreq f USING (term) JOIN dlen l USING (doc_id)
        |  CROSS JOIN stats s)
        |SELECT doc_id, round(CAST(SUM(CAST(contrib AS DECIMAL(28,15))) AS DOUBLE), 6) AS bm25
        |FROM contrib GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin,

    "text_fingerprint_dups" ->
      s"""WITH fp AS (SELECT
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text, ' '), t -> ${h28Sql("t")})),
         |      (acc, h) -> (acc * $B + h) % $P) AS fingerprint
         |  FROM documents),
         |g AS (SELECT fingerprint, COUNT(*) AS n FROM fp GROUP BY fingerprint)
         |SELECT COUNT(*) AS n_distinct_fp,
         |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
         |FROM g""".stripMargin,

    "text_contamination" ->
      s"""WITH sh AS MATERIALIZED (SELECT DISTINCT doc_id,
         |    unnest(${shingles3Sql("text")}) AS sh
         |  FROM documents),
         |probe AS (SELECT DISTINCT sh FROM sh WHERE doc_id <= $ProbeDocs),
         |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh
         |  WHERE doc_id > $ProbeDocs GROUP BY doc_id),
         |hits AS (SELECT s.doc_id, COUNT(*) AS n_hit_shingles
         |  FROM sh s JOIN probe p ON p.sh = s.sh
         |  WHERE s.doc_id > $ProbeDocs GROUP BY s.doc_id)
         |SELECT h.doc_id, h.n_hit_shingles, t.n_shingles,
         |  round(h.n_hit_shingles / CAST(t.n_shingles AS DOUBLE), 6) AS overlap_frac
         |FROM hits h JOIN tot t ON t.doc_id = h.doc_id
         |ORDER BY overlap_frac DESC, h.doc_id ASC LIMIT 20""".stripMargin,

    "text_repetition" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    unnest(range(0, len(string_split(text, ' ')))) AS pos
        |  FROM documents),
        |g AS MATERIALIZED (SELECT doc_id, tok,
        |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
        |    lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
        |  FROM tok),
        |b2 AS (SELECT doc_id, SUM(n) AS b_total, COUNT(*) AS b_distinct,
        |    MAX(n) AS b_max
        |  FROM (SELECT doc_id, tok || ' ' || t1 AS gram, COUNT(*) AS n
        |    FROM g WHERE t1 IS NOT NULL GROUP BY doc_id, gram)
        |  GROUP BY doc_id),
        |b3 AS (SELECT doc_id, SUM(n) AS t_total, COUNT(*) AS t_distinct,
        |    MAX(n) AS t_max
        |  FROM (SELECT doc_id, tok || ' ' || t1 || ' ' || t2 AS gram, COUNT(*) AS n
        |    FROM g WHERE t2 IS NOT NULL GROUP BY doc_id, gram)
        |  GROUP BY doc_id)
        |SELECT b2.doc_id,
        |  round((b_total - b_distinct) / CAST(b_total AS DOUBLE), 6) AS dup_bigram_frac,
        |  round(b_max / CAST(b_total AS DOUBLE), 6) AS top_bigram_frac,
        |  round((t_total - t_distinct) / CAST(t_total AS DOUBLE), 6) AS dup_trigram_frac,
        |  round(t_max / CAST(t_total AS DOUBLE), 6) AS top_trigram_frac
        |FROM b2 JOIN b3 ON b3.doc_id = b2.doc_id
        |ORDER BY b2.doc_id""".stripMargin,

    // The derived contact-card text is the SAME CASE/concat arithmetic
    // as piiProfiles; DuckDB regexp_* needs the 'g' flag to mirror
    // Spark's replace-all semantics.
    "text_pii_redact" ->
      s"""WITH t AS (SELECT c_custkey AS doc_id,
         |    concat_ws(' ', c_name, 'contact',
         |      CASE WHEN c_custkey % 3 < 2 THEN 'user' || CAST(c_custkey AS VARCHAR)
         |        || '@ex' || CAST(c_custkey % 5 AS VARCHAR) || '.com' ELSE '' END,
         |      'tel',
         |      CASE WHEN c_custkey % 2 = 0 THEN CAST(c_custkey % 90 + 10 AS VARCHAR)
         |        || '-' || CAST(c_custkey % 900 + 100 AS VARCHAR)
         |        || '-' || CAST((c_custkey * 7) % 900 + 100 AS VARCHAR)
         |        || '-' || CAST((c_custkey * 13) % 9000 + 1000 AS VARCHAR) ELSE '' END,
         |      'host',
         |      CASE WHEN c_custkey % 4 = 0 THEN CAST(c_custkey % 256 AS VARCHAR)
         |        || '.' || CAST((c_custkey * 3) % 256 AS VARCHAR)
         |        || '.' || CAST((c_custkey * 5) % 256 AS VARCHAR)
         |        || '.' || CAST((c_custkey * 7) % 256 AS VARCHAR) ELSE '' END) AS text
         |  FROM customer)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${graft.api.Text.EmailPattern}')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${graft.api.Text.PhonePattern}')) AS INT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '${graft.api.Text.Ipv4Pattern}')) AS INT) AS n_ipv4,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text, '${graft.api.Text.EmailPattern}', '<EMAIL>', 'g'),
         |      '${graft.api.Text.Ipv4Pattern}', '<IP>', 'g'),
         |    '${graft.api.Text.PhonePattern}', '<PHONE>', 'g') AS redacted
         |FROM t ORDER BY doc_id""".stripMargin,

    // Same (source, doc_id) URL-grid derivation as urlCorpus.
    "text_url_domains" ->
      s"""WITH t AS (SELECT doc_id,
         |    text || ' see http://' || source || CAST(doc_id % 7 AS VARCHAR)
         |      || '.example.'
         |      || CASE WHEN doc_id % 3 = 0 THEN 'com'
         |              WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END
         |      || '/p/' || CAST(doc_id AS VARCHAR)
         |      || CASE WHEN doc_id % 4 = 0
         |           THEN ' plus https://mirror.example.com/p/' || CAST(doc_id AS VARCHAR)
         |           ELSE '' END AS text
         |  FROM documents),
         |u AS (SELECT doc_id,
         |    unnest(regexp_extract_all(text, '${graft.api.Text.UrlPattern}')) AS url
         |  FROM t),
         |d AS (SELECT doc_id, regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) AS domain
         |  FROM u)
         |SELECT domain, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
         |FROM d
         |WHERE domain NOT IN (${UrlBlocklist.map(b => s"'$b'").mkString(", ")})
         |GROUP BY domain
         |ORDER BY n_urls DESC, domain ASC""".stripMargin,

    // Same gate order and thresholds as graft.api.Text.filterFunnel's
    // defaults; entropy is the SAME round-6 value both engines compute.
    "text_filter_funnel" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |    len(list_intersect(ws, $StopwordsSqlList))
         |      / CAST(len(ws) AS DOUBLE) AS stop_ratio
         |  FROM t),
         |tok AS (SELECT doc_id,
         |    unnest(string_split(text, ' ')) AS tok,
         |    unnest(range(0, len(string_split(text, ' ')))) AS pos
         |  FROM documents),
         |tf AS (SELECT doc_id, tok AS term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |ent AS (SELECT doc_id,
         |    round(ln(CAST(SUM(c) AS DOUBLE))
         |      - CAST(SUM(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(28,15))) AS DOUBLE)
         |        / CAST(SUM(c) AS DOUBLE), 6) AS entropy
         |  FROM tf GROUP BY doc_id),
         |g AS (SELECT doc_id, tok,
         |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS t1 FROM tok),
         |big AS (SELECT doc_id,
         |    (SUM(n) - COUNT(*)) / CAST(SUM(n) AS DOUBLE) AS dup_bigram_frac
         |  FROM (SELECT doc_id, tok || ' ' || t1 AS gram, COUNT(*) AS n
         |    FROM g WHERE t1 IS NOT NULL GROUP BY doc_id, gram)
         |  GROUP BY doc_id),
         |v AS (SELECT b.doc_id,
         |    CASE WHEN stop_ratio < 0.02 THEN 'drop_lang'
         |         WHEN n_tokens < 20 OR n_tokens > 1000 THEN 'drop_length'
         |         WHEN COALESCE(dup_bigram_frac, 0.0) > 0.06 THEN 'drop_repetition'
         |         WHEN entropy < 2.7 THEN 'drop_entropy'
         |         ELSE 'keep' END AS verdict
         |  FROM base b
         |  LEFT JOIN ent ON ent.doc_id = b.doc_id
         |  LEFT JOIN big ON big.doc_id = b.doc_id)
         |SELECT verdict, COUNT(*) AS n_docs FROM v
         |GROUP BY verdict ORDER BY verdict""".stripMargin,

    "text_token_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  round(ln(CAST(SUM(c) AS DOUBLE))
        |    - CAST(SUM(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(28,15))) AS DOUBLE)
        |      / CAST(SUM(c) AS DOUBLE), 6) AS entropy
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The oracle computes the SAME global prefix sum with a plain window
    // (DuckDB is single-node; the two-phase form must agree exactly).
    "text_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents),
         |c AS (SELECT doc_id, n,
         |    SUM(n) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT CAST((cum - n) // $SeqLen AS BIGINT) AS bin, COUNT(*) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS n_tokens
         |FROM c GROUP BY bin ORDER BY bin""".stripMargin,

    // Same rate formula and hash gate as graft.api.Text.mixtureSample;
    // the mix-bucket fragment matches api.Sampling.mixBucket (keys are
    // non-negative, so plain % = pmod).
    "text_mix_sample" ->
      """WITH docs AS (SELECT doc_id, source AS domain,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CASE source WHEN 'src1' THEN 0.4 WHEN 'src3' THEN 0.3
        |                WHEN 'src5' THEN 0.2 WHEN 'src7' THEN 0.1 END AS w
        |  FROM documents
        |  WHERE source IN ('src1', 'src3', 'src5', 'src7')),
        |stats AS (SELECT domain, w, CAST(SUM(n_tokens) AS DOUBLE) AS tok
        |  FROM docs GROUP BY 1, 2),
        |rates AS (SELECT domain,
        |    CAST(floor(100.0 * (w / tok) / max(w / tok) OVER ()) AS BIGINT)
        |      AS rate
        |  FROM stats),
        |g AS (SELECT d.doc_id, d.domain, d.n_tokens, r.rate,
        |    CASE WHEN ((d.doc_id % 1000003) * 427799) % 1000003 % 100 < r.rate
        |      THEN 1 ELSE 0 END AS keep
        |  FROM docs d JOIN rates r USING (domain))
        |SELECT domain, rate, COUNT(*) AS n_docs,
        |  CAST(SUM(keep) AS BIGINT) AS n_kept,
        |  CAST(SUM(n_tokens * keep) AS BIGINT) AS tok_kept
        |FROM g GROUP BY 1, 2 ORDER BY domain""".stripMargin,

    // Same hashed-bigram bucket space, add-one smoothing, and exact-
    // decimal accumulation as graft.api.Text.dsirWeights (bigrams via
    // lead(), bucket via the shared h28 fragment).
    "text_dsir_weights" ->
      s"""WITH tok AS (SELECT doc_id,
         |    unnest(string_split(text, ' ')) AS tok,
         |    unnest(range(0, len(string_split(text, ' ')))) AS pos
         |  FROM documents),
         |grams AS (SELECT doc_id, tok || ' ' || t1 AS g FROM (
         |    SELECT doc_id, tok,
         |      lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS t1
         |    FROM tok) WHERE t1 IS NOT NULL),
         |db AS (SELECT doc_id,
         |    ${TextHash.h28Sql("g")} % $DsirBuckets AS b, COUNT(*) AS c
         |  FROM grams GROUP BY 1, 2),
         |rawb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS craw FROM db GROUP BY b),
         |nraw AS (SELECT CAST(SUM(craw) AS BIGINT) AS nraw FROM rawb),
         |ptok AS (SELECT unnest(string_split(text, ' ')) AS tok,
         |    unnest(range(0, len(string_split(text, ' ')))) AS pos, doc_id
         |  FROM documents WHERE source = 'src0'),
         |pgrams AS (SELECT tok || ' ' || t1 AS g FROM (
         |    SELECT doc_id, tok,
         |      lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS t1
         |    FROM ptok) WHERE t1 IS NOT NULL),
         |pb AS (SELECT ${TextHash.h28Sql("g")} % $DsirBuckets AS b,
         |    COUNT(*) AS cprobe FROM pgrams GROUP BY 1),
         |np AS (SELECT CAST(SUM(cprobe) AS BIGINT) AS nprobe FROM pb),
         |tbl AS (SELECT rawb.b,
         |    ln(CAST(COALESCE(pb.cprobe, 0) + 1 AS DOUBLE)
         |       / (np.nprobe + $DsirBuckets))
         |  - ln(CAST(rawb.craw + 1 AS DOUBLE) / (nraw.nraw + $DsirBuckets))
         |      AS lr
         |  FROM rawb LEFT JOIN pb ON pb.b = rawb.b, nraw, np)
         |SELECT db.doc_id,
         |  round(CAST(SUM(CAST(db.c * tbl.lr AS DECIMAL(28,15)))
         |    AS DOUBLE), 6) AS dsir_score
         |FROM db JOIN tbl ON tbl.b = db.b
         |GROUP BY db.doc_id ORDER BY db.doc_id""".stripMargin,

    // Trigram via two lead()s (NULL tails drop since string || NULL is
    // NULL); same >=2-distinct-docs mark and 6-place rounding as
    // graft.api.Text.dupSpanStats.
    "text_dup_spans" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |    unnest(range(0, len(string_split(text, ' ')))) AS pos
        |  FROM documents),
        |g0 AS (SELECT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
        |      AS gram
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |g AS (SELECT doc_id, gram FROM g0 WHERE gram IS NOT NULL),
        |d AS (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram),
        |per AS (SELECT g.doc_id, COUNT(*) AS n_shingles,
        |    CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_shingles
        |  FROM g JOIN d USING (gram) GROUP BY g.doc_id)
        |SELECT doc_id, n_shingles, n_dup_shingles,
        |  round(n_dup_shingles / CAST(n_shingles AS DOUBLE), 6) AS dup_frac
        |FROM per ORDER BY doc_id""".stripMargin,

    "text_bpe_pairs" ->
      """WITH words AS (SELECT w, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w),
        |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, freq FROM (
        |    SELECT w, freq, unnest(range(1, length(w))) AS i FROM words))
        |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,

    "text_zipf_fit" ->
      """WITH v AS (SELECT w, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w),
        |top AS (SELECT freq,
        |    row_number() OVER (ORDER BY freq DESC, w ASC) AS rank
        |  FROM v ORDER BY freq DESC, w ASC LIMIT 100),
        |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
        |    ln(CAST(freq AS DOUBLE)) AS y FROM top),
        |m AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(28,15))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(28,15))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(28,15))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(28,15))) AS DOUBLE) AS sxx
        |  FROM xy)
        |SELECT n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
        |    AS intercept
        |FROM m""".stripMargin,

    // The oracle ranks the vocabulary with one global window (DuckDB is
    // single-node); the two-phase digit-bucket rank must agree exactly.
    "text_vocab_coverage" ->
      """WITH tf AS (SELECT term, COUNT(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY term),
        |ranked AS (SELECT
        |    row_number() OVER (ORDER BY cnt DESC, term) AS rank,
        |    SUM(cnt) OVER (ORDER BY cnt DESC, term
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      / CAST((SELECT SUM(cnt) FROM tf) AS DOUBLE) AS coverage
        |  FROM tf),
        |m AS (SELECT
        |    min(CASE WHEN coverage >= 0.5 THEN rank END) AS v0,
        |    round(min(CASE WHEN coverage >= 0.5 THEN coverage END), 6) AS c0,
        |    min(CASE WHEN coverage >= 0.75 THEN rank END) AS v1,
        |    round(min(CASE WHEN coverage >= 0.75 THEN coverage END), 6) AS c1,
        |    min(CASE WHEN coverage >= 0.9 THEN rank END) AS v2,
        |    round(min(CASE WHEN coverage >= 0.9 THEN coverage END), 6) AS c2,
        |    min(CASE WHEN coverage >= 0.95 THEN rank END) AS v3,
        |    round(min(CASE WHEN coverage >= 0.95 THEN coverage END), 6) AS c3,
        |    min(CASE WHEN coverage >= 0.99 THEN rank END) AS v4,
        |    round(min(CASE WHEN coverage >= 0.99 THEN coverage END), 6) AS c4
        |  FROM ranked)
        |SELECT CAST(0.5 AS DOUBLE) AS target, v0 AS vocab_size, c0 AS coverage FROM m
        |UNION ALL SELECT CAST(0.75 AS DOUBLE), v1, c1 FROM m
        |UNION ALL SELECT CAST(0.9 AS DOUBLE), v2, c2 FROM m
        |UNION ALL SELECT CAST(0.95 AS DOUBLE), v3, c3 FROM m
        |UNION ALL SELECT CAST(0.99 AS DOUBLE), v4, c4 FROM m
        |ORDER BY target""".stripMargin,

    // Chunk starts 0, S, 2S, … ≤ ntok−1; DuckDB 1-based list slice
    // truncates past the end exactly like Spark's slice().
    "text_chunk_overlap" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |n AS (SELECT doc_id, ws, len(ws) AS ntok FROM w),
         |st AS (SELECT doc_id, ws, ntok,
         |    unnest(range(0, ((ntok - 1) // $ChunkStride) * $ChunkStride + 1,
         |      $ChunkStride)) AS start
         |  FROM n)
         |SELECT doc_id, start // $ChunkStride AS chunk_id,
         |  start AS start_tok,
         |  least($ChunkTokens, ntok - start) AS n_chunk_tokens,
         |  ${TextHash.h28Sql(
              s"array_to_string(ws[start + 1 : start + $ChunkTokens], ' ')")}
         |    AS chunk_hash
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

    // Same segmentation as the chunking oracle (stride = width), then
    // the keep-first mark partitioned by segment hash.
    "text_para_dedup" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |n AS (SELECT doc_id, ws, len(ws) AS ntok FROM w),
         |st AS (SELECT doc_id, ws, ntok,
         |    unnest(range(0, ((ntok - 1) // $ParaTokens) * $ParaTokens + 1,
         |      $ParaTokens)) AS start
         |  FROM n),
         |segs AS (SELECT doc_id, start // $ParaTokens AS seg_idx,
         |    ${TextHash.h28Sql(
              s"array_to_string(ws[start + 1 : start + $ParaTokens], ' ')")} AS h
         |  FROM st),
         |mk AS (SELECT doc_id, row_number() OVER (PARTITION BY h
         |    ORDER BY doc_id, seg_idx) AS rn FROM segs)
         |SELECT doc_id, COUNT(*) AS n_paras,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS kept_ratio
         |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_global_shuffle" ->
      s"""WITH b AS (SELECT doc_id,
         |    (((doc_id % 4294967296) % 65536) * 2654435761
         |     + ((((doc_id % 4294967296) // 65536) * 31153) % 65536) * 65536)
         |      % 4294967296 AS h FROM documents),
         |s AS (SELECT doc_id, h, h % $ShuffleShards AS shard,
         |    row_number() OVER (PARTITION BY h % $ShuffleShards
         |      ORDER BY h, doc_id) AS rn
         |  FROM b)
         |SELECT shard, COUNT(*) AS n_docs, MIN(h) AS min_h, MAX(h) AS max_h,
         |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS head1,
         |  MAX(CASE WHEN rn = 2 THEN doc_id END) AS head2,
         |  MAX(CASE WHEN rn = 3 THEN doc_id END) AS head3
         |FROM s GROUP BY shard ORDER BY shard""".stripMargin
  )
}
