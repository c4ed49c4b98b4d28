package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.OpsUtil.rsum
import graft.ops.TextHash._

/** Generic text-analysis operators over ANY corpus frame — the
  * user-facing library surface behind `graft.ops.TextPack`'s driver
  * queries. All per-row map work in built-in (codegen'd) expressions;
  * the only shuffles are the explicitly-named corpus aggregations.
  */
object Text {

  /** Per-document token statistics: whitespace tokens, distinct tokens,
    * BPE-ish pre-tokenizer runs, chars, chars/4 subword estimate. */
  def tokenStats(corpus: DataFrame, id: String, text: String,
      bpePattern: String = """ ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"""): DataFrame = {
    val ws = tokens(col(text))
    corpus.select(col(id).as("doc_id"),
      size(ws).as("n_tokens"),
      size(array_distinct(ws)).as("n_distinct_tokens"),
      size(regexp_extract_all(col(text), lit(bpePattern), lit(0))).as("n_bpe_tokens"),
      length(col(text)).as("n_chars"),
      ceil(length(col(text)) / 4.0).cast("long").as("n_subwords_est"))
  }

  /** Quality heuristics: stopword ratio, type-token ratio, length band,
    * and a combined [0,1] score — the corpus-filter gates. */
  def qualityScore(corpus: DataFrame, id: String, text: String,
      stopwords: Seq[String]): DataFrame = {
    val ws = tokens(col(text))
    val nTok = size(ws).cast("double")
    val stopRatio = size(array_intersect(ws, array(stopwords.map(lit): _*))) / nTok
    val ttr = size(array_distinct(ws)) / nTok
    corpus.select(col(id).as("doc_id"),
      stopRatio.as("stopword_ratio"),
      ttr.as("type_token_ratio"),
      when(length(col(text)) < 100, "short")
        .when(length(col(text)) > 400, "long")
        .otherwise("medium").as("len_band"),
      (lit(0.5) * ttr + lit(0.5) * least(stopRatio * 10, lit(1.0))).as("quality"))
  }

  /** Marker-set language ID: predicted language by stopword-marker hit
    * ratio (the n-gram-profile method reduced to its marker core). */
  def langId(corpus: DataFrame, text: String,
      markers: Seq[String], lang: String = "en", minRatio: Double = 0.02): DataFrame = {
    val ws = tokens(col(text))
    val ratio = size(array_intersect(ws, array(markers.map(lit): _*))) /
      size(ws).cast("double")
    corpus.withColumn("predicted_lang",
      when(ratio >= minRatio, lang).otherwise("unknown"))
  }

  /** Order-sensitive polynomial rolling-hash fingerprint per document:
    * h = fold (h*B + h28(token)) mod P over the token stream. */
  def fingerprint(corpus: DataFrame, id: String, text: String): DataFrame = {
    val hs = transform(tokens(col(text)), t => h28(t))
    corpus.select(col(id).as("doc_id"),
      aggregate(hs, lit(0L), (acc, h) => (acc * B + h) % P).as("fingerprint"))
  }

  /** TF-IDF top-k terms per document; document frequency over the whole
    * corpus, rank = dense per-doc window by (rounded score desc, term). */
  def tfidfTopTerms(corpus: DataFrame, id: String, text: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = corpus
      .select(col(id).as("doc_id"), explode(tokens(col(text))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = corpus.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term").asc)))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("long").as("rk"),
        col("term"), col("tf"), col("tfidf"))
  }

  /** Benchmark decontamination over PRE-SHINGLED frames — (doc_id, sh)
    * corpus rows vs a probe shingle set (the eval file's n-grams). The
    * probe side is broadcast (eval sets are KB, corpora are TB); returns
    * per contaminated doc (doc_id, n_hit_shingles, n_shingles,
    * overlap_frac). Build shingle frames with [[Dedup.shingleRows]]. */
  def contaminationFromShingles(corpusSh: DataFrame, probeSh: DataFrame): DataFrame = {
    val probe = probeSh.select(col("sh")).distinct()
    val tot = corpusSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    corpusSh.join(broadcast(probe), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_shingles"))
      .join(tot, "doc_id")
      .select(col("doc_id"), col("n_hit_shingles"), col("n_shingles"),
        round(col("n_hit_shingles") / col("n_shingles").cast("double"), 6)
          .as("overlap_frac"))
  }

  /** Within-document repetition metrics (the Gopher repetition filters,
    * Rae et al. 2021 §A1.3): duplicate-n-gram and top-n-gram fractions
    * per document for n = 2, 3. One posexplode + per-doc lead window —
    * per-doc-key shuffles only, linear in corpus size. Documents with
    * fewer than 3 tokens produce no trigram and are omitted. */
  def repetitionMetrics(corpus: DataFrame, id: String, text: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = corpus
      .select(col(id).as("doc_id"), posexplode(tokens(col(text))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val g = tok
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
    def gramStats(gram: org.apache.spark.sql.Column, pfx: String) =
      g.filter(gram.isNotNull)
        .groupBy(col("doc_id"), gram.as("gram"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as(s"${pfx}_total"),
          count(lit(1)).as(s"${pfx}_distinct"),
          max(col("n")).as(s"${pfx}_max"))
    val b2 = gramStats(when(col("t1").isNotNull,
      concat_ws(" ", col("tok"), col("t1"))), "b")
    val b3 = gramStats(when(col("t2").isNotNull,
      concat_ws(" ", col("tok"), col("t1"), col("t2"))), "t")
    b2.join(b3, "doc_id")
      .select(col("doc_id"),
        round((col("b_total") - col("b_distinct")) /
          col("b_total").cast("double"), 6).as("dup_bigram_frac"),
        round(col("b_max") / col("b_total").cast("double"), 6)
          .as("top_bigram_frac"),
        round((col("t_total") - col("t_distinct")) /
          col("t_total").cast("double"), 6).as("dup_trigram_frac"),
        round(col("t_max") / col("t_total").cast("double"), 6)
          .as("top_trigram_frac"))
  }

  /** PII patterns shared by [[piiRedact]] and its DuckDB oracle twin —
    * the RE2-compatible core (no lookahead/backreferences) so Java regex
    * (Spark) and RE2 (DuckDB) match identically. */
  val EmailPattern = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val PhonePattern = """\b\d{2,3}-\d{3}-\d{3}-\d{4}\b"""
  val Ipv4Pattern  = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  /** PII redaction — the scrub step every public-corpus build runs
    * before training (emails / phone numbers / IPv4 literals →
    * placeholder tags). Pure per-row regex work inside whole-stage
    * codegen: no shuffle, one corpus pass, trivially linear at any
    * scale. Emails are redacted FIRST so their digit-bearing domains
    * can't be re-matched as phone/IP fragments; match counts are taken
    * on the raw text. Returns (doc_id, n_emails, n_phones, n_ipv4,
    * redacted). */
  def piiRedact(corpus: DataFrame, id: String, text: String): DataFrame = {
    val t = col(text)
    corpus.select(col(id).as("doc_id"),
      size(regexp_extract_all(t, lit(EmailPattern), lit(0))).as("n_emails"),
      size(regexp_extract_all(t, lit(PhonePattern), lit(0))).as("n_phones"),
      size(regexp_extract_all(t, lit(Ipv4Pattern), lit(0))).as("n_ipv4"),
      regexp_replace(
        regexp_replace(
          regexp_replace(t, EmailPattern, "<EMAIL>"),
          Ipv4Pattern, "<IP>"),
        PhonePattern, "<PHONE>").as("redacted"))
  }

  /** URL pattern shared by [[urlRows]] and the oracle: scheme + host,
    * then any run of non-space/non-delimiter path chars. (No quote
    * chars in the class so the pattern embeds verbatim in SQL.) */
  val UrlPattern = """https?://[A-Za-z0-9.-]+[^ "<>]*"""

  /** Explode every URL mention out of a corpus — (doc_id, url, domain)
    * rows. Per-row regex extraction in codegen + one explode: linear,
    * no shuffle. The domain column is what blocklist / reputation
    * filters key on (C4's badwords-domain filter, Dolma's URL filter);
    * join it against a broadcast blocklist downstream. */
  def urlRows(corpus: DataFrame, id: String, text: String): DataFrame =
    corpus
      .select(col(id).as("doc_id"),
        explode(regexp_extract_all(col(text), lit(UrlPattern), lit(0))).as("url"))
      .withColumn("domain", regexp_extract(col("url"), "https?://([A-Za-z0-9.-]+)", 1))

  /** Canonical dedup key of an absolute http(s) URL (the C4/RefinedWeb
    * URL-dedup key): scheme dropped, host lowercased with a leading
    * "www." removed, query string and fragment stripped, trailing slash
    * trimmed. Path case is preserved (paths are case-sensitive; hosts
    * are not). Pure codegen'd regex chain — no UDF, distributes
    * embarrassingly. Non-URL input canonicalizes to the empty string
    * (feed it [[urlRows]] output, whose pattern guarantees a scheme). */
  def canonicalUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val noQf = regexp_replace(url, "[#?].*$", "")
    val host = regexp_replace(
      lower(regexp_extract(noQf, "^[A-Za-z]+://([^/]+)", 1)), "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(noQf, "^[A-Za-z]+://[^/]+(/.*)?$", 1), "/$", "")
    concat(host, path)
  }

  /** Per-domain corpus stats with a broadcast blocklist filter — the
    * domain-level gate of a web-corpus build: how many URL mentions and
    * how many distinct documents cite each allowed domain. One shuffle
    * (the domain groupBy); the blocklist is a local Seq (eval-set-sized,
    * KB) folded into the scan filter. */
  def urlDomainStats(corpus: DataFrame, id: String, text: String,
      blocklist: Seq[String]): DataFrame =
    urlRows(corpus, id, text)
      .filter(!col("domain").isin(blocklist: _*))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))

  /** Token-level Shannon entropy per document — the information-theoretic
    * quality gate (near-zero entropy ⇒ one token repeated ⇒ spam;
    * complements the Gopher repetition fractions). H = ln(N) − Σc·ln(c)/N
    * over token frequencies c; the Σc·ln(c) sum runs through exact
    * decimals so the double result is accumulation-order-independent
    * (the same determinism trick as the BM25/bigram scores). Two hash
    * aggregations on doc-keys: linear, skew-free. */
  def tokenEntropy(corpus: DataFrame, id: String, text: String): DataFrame =
    corpus
      .select(col(id).as("doc_id"), explode(tokens(col(text))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        round(
          log(sum(col("c")).cast("double")) -
            rsum(col("c") * log(col("c").cast("double"))) /
              sum(col("c")).cast("double"),
          6).as("entropy"))

  /** End-to-end corpus FILTER FUNNEL — the composed gate every corpus
    * build runs (C4/Gopher-style): each document is tested against the
    * gates IN ORDER and attributed to the FIRST failing gate (or 'keep'),
    * so the per-reason counts read as a funnel. Gates:
    *
    *   1. lang       — stopword-marker ratio >= minStopRatio
    *   2. length     — n_tokens in [minTokens, maxTokens]
    *   3. repetition — duplicate-bigram fraction <= maxDupBigramFrac
    *   4. entropy    — token Shannon entropy >= minEntropy
    *
    * Signals come from one token pass (per-doc-key aggregations, all
    * linear); the verdict is a single CASE over the joined signal frame.
    * Returns (doc_id, verdict) — aggregate downstream for the funnel
    * report. Documents with < 2 tokens have no bigram; their dup
    * fraction is defined 0 (nothing repeats). */
  def filterFunnel(corpus: DataFrame, id: String, text: String,
      stopwords: Seq[String], minStopRatio: Double = 0.02,
      minTokens: Long = 10L, maxTokens: Long = 1000L,
      maxDupBigramFrac: Double = 0.3, minEntropy: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = tokens(col(text))
    val base = corpus.select(col(id).as("doc_id"),
      size(ws).cast("long").as("n_tokens"),
      (size(array_intersect(ws, array(stopwords.map(lit): _*))) /
        size(ws).cast("double")).as("stop_ratio"))
    val ent = tokenEntropy(corpus, id, text).select(col("doc_id"), col("entropy"))
    val tok = corpus
      .select(col(id).as("doc_id"), posexplode(tokens(col(text))).as(Seq("pos", "tok")))
    val big = tok
      .withColumn("t1", lead(col("tok"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("t1").isNotNull)
      .groupBy(col("doc_id"), concat_ws(" ", col("tok"), col("t1")).as("gram"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(((sum(col("n")) - count(lit(1))) / sum(col("n")).cast("double"))
        .as("dup_bigram_frac"))
    base
      .join(ent, Seq("doc_id"), "left")
      .join(big, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("stop_ratio") < minStopRatio, "drop_lang")
          .when(col("n_tokens") < minTokens || col("n_tokens") > maxTokens,
            "drop_length")
          .when(coalesce(col("dup_bigram_frac"), lit(0.0)) > maxDupBigramFrac,
            "drop_repetition")
          .when(col("entropy") < minEntropy, "drop_entropy")
          .otherwise("keep").as("verdict"))
  }

  /** Training-sequence packing (concat-and-chunk): documents concatenate
    * in ascending `id` order and chunk every `seqLen` whitespace tokens;
    * a document belongs to the bin holding its first token. The global
    * ordered prefix sum is TWO-PHASE — contiguous id-range buckets →
    * per-bucket cumulative window → offsets from the ≤`buckets`-row
    * histogram window — so no single-partition window exists at any
    * scale. Returns (bin, n_docs, n_tokens) of documents STARTING in
    * each bin. `id` must be non-negative. */
  def packSequences(corpus: DataFrame, id: String, text: String,
      seqLen: Long, buckets: Long = 64L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = corpus
      .select(col(id).as("doc_id"), size(tokens(col(text))).cast("long").as("n"))
    val mx = t.agg(max(col("doc_id")).as("mx"))
    val bucketed = t.crossJoin(broadcast(mx))
      .withColumn("bkt",
        (col("doc_id") * buckets / (col("mx") + 1)).cast("long"))
    val within = bucketed.withColumn("wcum", sum(col("n")).over(
      Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // Unpartitioned window over the ≤`buckets`-row histogram only.
    val offs = bucketed.groupBy(col("bkt")).agg(sum(col("n")).as("tot"))
      .withColumn("off", coalesce(sum(col("tot")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    within.join(broadcast(offs), "bkt")
      .select(col("doc_id"), col("n"),
        (col("off") + col("wcum") - col("n")).as("start"))
      .groupBy(expr(s"start div $seqLen").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
  }

  /** Cross-document duplicated-span statistics (the detection signal of
    * exact substring dedup, Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better"): per document, how many of its
    * n-token shingles also appear in at least one OTHER document, and the
    * resulting duplicated-span fraction — the score span-removal and
    * doc-dropping policies threshold on. Documents with fewer than `n`
    * tokens have no shingles and no output row.
    *
    * Scale: shingling is per-row map work; the corpus shingle histogram
    * is one groupBy(gram) with a distinct-doc count, and the mark joins
    * back on the SAME gram key — both sides co-partitioned by the
    * aggregation's shuffle, no second wide exchange, no all-pairs stage
    * anywhere. */
  def dupSpanStats(corpus: DataFrame, id: String, text: String,
      n: Int = 8): DataFrame = {
    val ws = corpus.select(col(id).as("doc_id"), split(col(text), " ").as("ws"))
    val sh = ws.select(col("doc_id"),
      explode(shinglesFromWords(col("ws"), n)).as("g"))
    val dup = sh.groupBy(col("g")).agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("g"), lit(1).as("is_dup"))
    sh.join(dup, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_dup"), lit(0))).cast("long").as("n_dup_shingles"))
      .withColumn("dup_frac",
        round(col("n_dup_shingles") / col("n_shingles").cast("double"), 6))
  }

  /** Max-volume corpus MIXTURE REBALANCE: keep the largest hash-sample
    * whose domain token proportions hit `targetShares` (DoReMi-style
    * domain reweighting executed as deterministic sampling). Per domain d
    * with target weight w_d and token total T_d, the per-domain keep
    * percentage is
    *
    *   rate_d = floor(100 * (w_d / T_d) / max_e(w_e / T_e))
    *
    * — the binding domain (largest w/T) keeps 100% and every other
    * domain samples down to match, so no budget parameter is needed and
    * no domain is over-asked. A document is kept iff
    * [[Sampling.mixBucket]](id) < rate_d: reproducible across runs,
    * partitionings, and engines. Domains absent from `targetShares` are
    * dropped (weight 0).
    *
    * Returns per-document (doc_id, domain, n_tokens, rate, keep) — filter
    * keep = 1 for the sample, aggregate for the mixture report. Scale:
    * one token-count aggregation over the corpus (shuffle bounded by
    * |domains|), a ≤|domains|-row rate table broadcast back, and a
    * map-side hash gate; nothing global. */
  def mixtureSample(corpus: DataFrame, id: String, text: String,
      domain: String, targetShares: Map[String, Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = targetShares.foldLeft(lit(null).cast("double")) {
      case (acc, (d, s)) => when(col("domain") === d, s).otherwise(acc)
    }
    val docs = corpus.select(col(id).as("doc_id"), col(domain).as("domain"),
        size(tokens(col(text))).cast("long").as("n_tokens"))
      .withColumn("w", w).filter(col("w").isNotNull)
    // Per-domain token totals -> keep rates. The unpartitioned max window
    // runs over the <=|domains|-row stats frame only.
    val rates = docs.groupBy(col("domain"), col("w"))
      .agg(sum(col("n_tokens")).cast("double").as("tok"))
      .withColumn("ratio", col("w") / col("tok"))
      .withColumn("rate",
        floor(lit(100.0) * col("ratio") / max(col("ratio")).over(
          Window.partitionBy())).cast("long"))
      .select(col("domain"), col("rate"))
    docs.join(broadcast(rates), "domain")
      .select(col("doc_id"), col("domain"), col("n_tokens"), col("rate"),
        (Sampling.mixBucket(col("doc_id")) < col("rate"))
          .cast("int").as("keep"))
  }

  /** DSIR-style importance weights (Xie et al. 2023: Data Selection via
    * Importance Resampling): score each corpus document by how much its
    * hashed-bigram distribution looks like a PROBE corpus (the quality
    * target) versus the raw corpus itself:
    *
    *   score(doc) = Σ_g c_doc(g) · ( ln p̂_probe(b(g)) − ln p̂_raw(b(g)) )
    *
    * where b(g) = h28(g) mod `buckets` and each p̂ is add-one-smoothed
    * over the bucket space. Returns (doc_id, dsir_score), rounded to 6
    * places; resample/threshold downstream. Scale: probe stats are a
    * KB-sized broadcast (the eval-set shape); raw stats are one bounded
    * aggregation (≤`buckets` rows); the per-doc score is a broadcast
    * join + one exact-decimal aggregation — no shuffle wider than the
    * corpus bucket histogram. */
  def dsirWeights(corpus: DataFrame, id: String, text: String,
      probe: DataFrame, probeText: String, buckets: Int = 4096): DataFrame = {
    def bucketCounts(df: DataFrame, textCol: String, keyed: Boolean) = {
      val keep = if (keyed) Seq(col("doc_id")) else Seq.empty
      // The word array crosses a projection boundary before shingling —
      // see TextHash.shinglesFromWords on lambda re-evaluation.
      val ws = df.select(
        (if (keyed) Seq(col(id).as("doc_id")) else Seq.empty) :+
          split(col(textCol), " ").as("ws"): _*)
      ws.select(keep :+ explode(shinglesFromWords(col("ws"), 2)).as("g"): _*)
        .withColumn("b", h28(col("g")) % buckets)
    }
    val praw = bucketCounts(corpus, text, keyed = true)
    val docB = praw.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
    val rawB = docB.groupBy(col("b")).agg(sum(col("c")).as("craw"))
    val nRaw = rawB.agg(sum(col("craw")).as("nraw"))
    val probeB = bucketCounts(probe, probeText, keyed = false)
      .groupBy(col("b")).agg(count(lit(1)).as("cprobe"))
    val nProbe = probeB.agg(sum(col("cprobe")).as("nprobe"))
    // Log-ratio table: every bucket PRESENT IN THE CORPUS, probe counts
    // add-one smoothed (absent probe buckets get ln(1/(N_p + B))).
    val table = rawB
      .join(broadcast(probeB), Seq("b"), "left")
      .crossJoin(broadcast(nRaw)).crossJoin(broadcast(nProbe))
      .select(col("b"),
        (log((coalesce(col("cprobe"), lit(0L)) + 1).cast("double") /
             (col("nprobe") + buckets)) -
         log((col("craw") + 1).cast("double") /
             (col("nraw") + buckets))).as("lr"))
    docB.join(broadcast(table), "b")
      .groupBy(col("doc_id"))
      .agg(round(rsum(col("c") * col("lr")), 6)
        .as("dsir_score"))
  }

  /** Vocabulary coverage curve: rank distinct terms by corpus frequency
    * (count desc, term asc) and report, for each coverage target, the
    * smallest vocabulary size whose cumulative token share reaches it —
    * the tokenizer-budget planning query. Returns (target, vocab_size,
    * coverage) with vocab_size null when even the full vocabulary falls
    * short. The global frequency rank is TWO-PHASE like [[packSequences]]:
    * terms bucket by decimal digit count of their frequency (integer-
    * exact, monotone in count, ≤19 buckets), rank within a bucket by a
    * partitioned window, and offset by the ≤19-row bucket histogram — no
    * single-partition sort over the vocabulary at any scale. */
  /** Per-document corpus-bigram LM quality score for EVERY scoreable
    * document (≥1 bigram): (doc_id, n_bigrams, lm_score) where lm_score
    * is the add-1-smoothed average bigram log-likelihood under the
    * corpus's OWN model — the statistical-LM corpus filter (low score ⇒
    * disfluent/garbled text). Bigrams come from one lead() window per
    * doc (a single doc-key shuffle); model counts are two hash
    * aggregations over the bigram stream; per-doc sums go through exact
    * decimals (order-independent) and round to 6 places. */
  def bigramLmScores(corpus: DataFrame, id: String, text: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = corpus
      .select(col(id).as("doc_id"), posexplode(tokens(col(text))).as(Seq("pos", "term")))
    val big = tok
      .withColumn("w2", lead(col("term"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("term").as("w1"), col("w2"))
    val c2 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n2"))
    val c1 = big.groupBy(col("w1")).agg(count(lit(1)).as("n1"))
    val vocab = tok.agg(countDistinct(col("term")).as("v"))
    big
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        log((col("n2") + 1) / (col("n1") + col("v"))).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(rsum(col("lp")) /
          count(lit(1)), 6).as("lm_score"))
  }

  /** CCNet-style perplexity partition (Wenzek et al. 2020 §4.4: score
    * every document under a reference LM, cut the corpus into
    * equal-count head/middle/tail quality bands; training mixes favor
    * the head). Documents are ranked by [[bigramLmScores]] descending
    * (head = most fluent = lowest perplexity) and the ranking is cut
    * into `nBands` equal-count bands; returns one row per band with
    * doc/bigram counts and the score range — the per-band stats a
    * mixture builder feeds into [[mixtureSample]]-style gates.
    *
    * The global rank is TWO-PHASE (equal-width score-range buckets →
    * per-bucket row_number → histogram-window offsets), the same shape
    * as [[Analytics.gini]]: no global sort or single-partition window
    * over corpus-sized data at any scale. Unscoreable docs (<2 tokens)
    * carry no LM evidence and are not ranked. */
  def pplBuckets(corpus: DataFrame, id: String, text: String,
      nBands: Int = 3, buckets: Int = 1024): DataFrame =
    pplBucketsOf(bigramLmScores(corpus, id, text), nBands, buckets)

  /** [[pplBuckets]] over a PRECOMPUTED [[bigramLmScores]] frame
    * (doc_id, n_bigrams, lm_score) — callers holding a shared/cached
    * score frame skip the corpus scorer rebuild (the ranker references
    * the frame three times: stats, per-bucket rank, histogram). */
  def pplBucketsOf(scores: DataFrame,
      nBands: Int = 3, buckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBands >= 2, s"nBands must be >= 2: $nBands")
    val stats = scores.agg(min(col("lm_score")).as("mn"),
      max(col("lm_score")).as("mx"), count(lit(1)).as("n"))
    // bkt 0 holds the HIGHEST scores so bucket order follows rank order;
    // degenerate range (all scores equal) ranks through one bucket.
    val bucketed = scores.crossJoin(broadcast(stats))
      .withColumn("bkt", when(col("mx") === col("mn"), lit(0L)).otherwise(
        least(floor((col("mx") - col("lm_score")) /
          (col("mx") - col("mn")) * buckets), lit(buckets - 1))).cast("long"))
    val ranked = bucketed.withColumn("rn", row_number().over(
      Window.partitionBy(col("bkt"))
        .orderBy(col("lm_score").desc, col("doc_id").asc)).cast("long"))
    // Unpartitioned window over the <=`buckets`-row histogram only.
    val offs = bucketed.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    ranked.join(broadcast(offs), "bkt")
      .withColumn("band",
        least(floor(lit(nBands) * (col("off") + col("rn") - 1) / col("n")),
          lit(nBands - 1)).cast("long"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        max(col("lm_score")).as("best_score"),
        min(col("lm_score")).as("worst_score"))
      .orderBy(col("band"))
  }

  def vocabCoverage(corpus: DataFrame, id: String, text: String,
      targets: Seq[Double] = Seq(0.5, 0.75, 0.9, 0.95, 0.99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = corpus.select(explode(tokens(col(text))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .withColumn("bkt", length(col("cnt").cast("string")).cast("long"))
    val win = Window.partitionBy(col("bkt"))
      .orderBy(col("cnt").desc, col("term"))
    val within = tf
      .withColumn("wrank", row_number().over(win).cast("long"))
      .withColumn("wcum", sum(col("cnt")).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // Unpartitioned windows over the <=19-row digit histogram only.
    val offs = tf.groupBy(col("bkt"))
      .agg(count(lit(1)).as("nterms"), sum(col("cnt")).as("tok"))
      .withColumn("roff", coalesce(sum(col("nterms")).over(
        Window.orderBy(col("bkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("coff", coalesce(sum(col("tok")).over(
        Window.orderBy(col("bkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("roff"), col("coff"))
    val total = tf.agg(sum(col("cnt")).cast("double").as("total"))
    val ranked = within.join(broadcast(offs), "bkt")
      .crossJoin(broadcast(total))
      .select((col("roff") + col("wrank")).as("rank"),
        ((col("coff") + col("wcum")) / col("total")).as("coverage"))
    // One pass: conditional aggregates per target, then unpivot. Coverage
    // is monotone in rank, so min(coverage | coverage >= t) IS the
    // coverage achieved at the minimal vocab_size — no join back needed.
    val aggs = targets.zipWithIndex.flatMap { case (t, i) => Seq(
      min(when(col("coverage") >= t, col("rank"))).as(s"v$i"),
      round(min(when(col("coverage") >= t, col("coverage"))), 6).as(s"c$i"))
    }
    val mins = ranked.agg(aggs.head, aggs.tail: _*)
    val stackArgs = targets.zipWithIndex
      .map { case (t, i) => s"CAST($t AS DOUBLE), v$i, c$i" }.mkString(", ")
    mins.selectExpr(
      s"stack(${targets.size}, $stackArgs) AS (target, vocab_size, coverage)")
  }

  /** Sliding-window CHUNKING of long documents into fixed-token windows
    * with overlap — the long-doc → training-context stage of a corpus
    * build: a document larger than the model window is cut into
    * `chunkTokens`-token pieces every `stride` tokens, so consecutive
    * chunks share `chunkTokens − stride` tokens of context (GPT-style
    * overlapped packing of oversized docs). One output row per
    * (doc, chunk): ordinal, token offset, token count, and the h28
    * content hash of the chunk text (the compact key downstream
    * chunk-level dedup joins on).
    *
    * Scale: pure per-row expression work (sequence → explode → slice,
    * all inside whole-stage codegen) — a flat map over the corpus with
    * no shuffle and no state, fanout ≤ ⌈n_tokens/stride⌉ per doc.
    * Chunk starts are 0, stride, 2·stride, … up to the last start
    * < n_tokens, so a document shorter than one window still yields
    * exactly one (short) chunk and every token is covered. */
  def chunkSliding(corpus: DataFrame, id: String, text: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(stride > 0 && chunkTokens > 0, "chunkTokens and stride must be positive")
    corpus.select(col(id).as("doc_id"), tokens(col(text)).as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("ntok"))
      .select(col("doc_id"), col("ntok"), col("ws"),
        explode(expr(
          s"sequence(0, ((ntok - 1) div $stride) * $stride, $stride)")).as("start"))
      .select(col("doc_id"),
        expr(s"start div $stride").cast("long").as("chunk_id"),
        col("start").cast("long").as("start_tok"),
        least(lit(chunkTokens.toLong),
          (col("ntok") - col("start")).cast("long")).as("n_chunk_tokens"),
        h28(concat_ws(" ", slice(col("ws"), col("start") + 1, lit(chunkTokens))))
          .as("chunk_hash"))
  }

  /** Sub-document (paragraph-level) dedup — the CCNet/C4 "remove
    * duplicated paragraphs across the corpus" pass (Wenzek et al. 2020
    * §3.1; Raffel et al. 2020 C4 three-sentence rule), granular where
    * doc-level MinHash is all-or-nothing: each doc is cut into fixed
    * `paraTokens`-token segments (the paragraph analog of a corpus
    * without newlines), every distinct segment keeps only its globally
    * FIRST occurrence (min (doc, position) — deterministic across runs
    * and engines), and the per-doc retention table is returned:
    * (doc_id, n_paras, n_kept, kept_ratio).
    *
    * Scale: segmentation is the chunkSliding flat map (codegen, no
    * shuffle); the first-occurrence mark is ONE window partitioned by
    * segment hash — per-key state bounded by the copy count of that
    * segment, the same key profile as the exact-dedup groupBy — then a
    * per-doc hash aggregation. No all-pairs anything. */
  def paraDedup(corpus: DataFrame, id: String, text: String,
      paraTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = chunkSliding(corpus, id, text, paraTokens, paraTokens)
    val kept = (col("rn") === 1).cast("long")
    segs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("chunk_hash"))
          .orderBy(col("doc_id"), col("chunk_id"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"), sum(kept).as("n_kept"),
        round(sum(kept) / count(lit(1)), 6).as("kept_ratio"))
  }

  /** Deterministic GLOBAL SHUFFLE + sharding of a corpus — the
    * reproducible "shuffle the corpus, cut it into training shards"
    * stage: every doc gets a pseudo-random but deterministic position
    * (Knuth multiplicative hash of its id, exact in 64-bit integer math
    * so reruns and engines agree bit-for-bit), shard = hash mod
    * `shards`, order within a shard = (hash, id). Returns the per-shard
    * MANIFEST (doc count, hash range, first three doc ids in shuffled
    * order) — the bounded artifact a shard writer validates against;
    * the full per-doc (shard, position) assignment is the same frame
    * before the final aggregation.
    *
    * Scale: one map-side hash projection, a window PARTITIONED BY shard
    * (the per-shard order is materialized shard-locally — at production
    * scale this is `repartitionByRange(shard, h)` + sortWithinPartitions
    * into one file per shard, never a global sort), and a `shards`-row
    * aggregate. The multiplicative hash splits the (2³²-reduced) key
    * into 16-bit halves so every intermediate stays in int64 for ANY
    * non-negative int64 id — bit-identical to (id·2654435761) mod 2³²
    * ((k₁·2¹⁶ + k₀)·C ≡ k₀·C + ((k₁·(C mod 2¹⁶)) mod 2¹⁶)·2¹⁶ mod 2³²;
    * the raw product threw ANSI overflow at the sf10 fixture's
    * 10¹⁰-scale ids, which the DuckDB twin never sees). */
  def globalShuffle(corpus: DataFrame, id: String, shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards > 0, "shards must be positive")
    val k = pmod(col("doc_id"), lit(4294967296L))
    val k1 = shiftright(k, 16)
    val k0 = k.bitwiseAND(65535L)
    val base = corpus
      .select(col(id).as("doc_id"))
      .select(col("doc_id"),
        pmod(k0 * 2654435761L + pmod(k1 * 31153L, lit(65536L)) * 65536L,
          lit(4294967296L)).as("h"))
      .withColumn("shard", col("h") % shards)
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    base.withColumn("rn", row_number().over(w))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("h")).as("min_h"), max(col("h")).as("max_h"),
        max(when(col("rn") === 1, col("doc_id"))).as("head1"),
        max(when(col("rn") === 2, col("doc_id"))).as("head2"),
        max(when(col("rn") === 3, col("doc_id"))).as("head3"))
  }

  /** BPE merge-candidate counting — the inner step of byte-pair-encoding
    * tokenizer training: frequency-weighted adjacent-symbol pair counts.
    * The trick that makes corpus-scale BPE feasible is counted here
    * exactly as production trainers do it: pairs are counted over the
    * WORD-FREQUENCY VOCABULARY (one row per distinct word), never over
    * raw corpus positions — the corpus is touched once to build the
    * vocab, and every subsequent merge round is vocab-sized work.
    * Returns (pair, n) — the top merge candidates with full tie-breaks.
    */
  def bpePairCounts(corpus: DataFrame, id: String, text: String,
      topK: Int = 20): DataFrame = {
    val vocab = corpus
      .select(explode(split(lower(col(text)), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    vocab
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topK)
  }

  /** Zipf-law fit over the word-frequency distribution: OLS slope of
    * ln(freq) on ln(rank) for the top-`topK` words (a natural corpus
    * follows freq ∝ rank^(−s) with s ≈ 1 — the health check that
    * catches template-spam corpora, which go flat). One corpus pass
    * builds the vocab; everything after is topK-row work (the rank
    * window runs over the ALREADY-LIMITED frame). The four regression
    * moments accumulate as exact decimals, so the two float divisions
    * at the end see identical inputs in any engine. */
  def zipfFit(corpus: DataFrame, id: String, text: String,
      topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = corpus
      .select(explode(split(lower(col(text)), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val top = vocab
      .orderBy(col("freq").desc, col("w").asc).limit(topK)
      // Bounded window: the frame is the topK rows just materialized.
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("w").asc)))
    top
      .select(log(col("rank").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
      .agg(count(lit(1)).as("n"), rsum(col("x")).as("sx"),
        rsum(col("y")).as("sy"), rsum(col("x") * col("y")).as("sxy"),
        rsum(col("x") * col("x")).as("sxx"))
      .select(col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n"), 6).as("intercept"))
  }
}
