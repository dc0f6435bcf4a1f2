package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language ID, and
  * document fingerprinting. All are narrow (per-row) transformations —
  * no shuffle, fully codegen'd built-in expressions — so they scale
  * linearly with input splits at 100 TB.
  */
object TextAnalysis {

  /** Lowercased word tokens (ASCII word chars; deterministic and
    * mirrorable in any RE2-style engine).
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, " "), t => t =!= ""))

  /** BPE-ish subword unit count: letter runs, single digits, punctuation
    * runs — a cheap, deterministic proxy for tokenizer cost.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]|[^a-z0-9 ]"), lit(0)))

  /** SQL fragment mirror of [[bpeishTokenCount]] for oracles. */
  val bpeishPattern = "[a-z]+|[0-9]|[^a-z0-9 ]"

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "for", "on", "with", "as", "at", "by")

  /** Stopword-hit count (English function words). */
  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isin(stopwords.map(lit(_)): _*)))

  val stopwordList: Seq[String] = stopwords

  /** Heuristic quality features + a composite score in [0,1]:
    * length, punctuation ratio, stopword ratio, mean token length.
    * Thresholds follow common LLM-corpus filters (Gopher-style rules).
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    df.withColumn("n_chars_calc", length(text))
      .withColumn("n_tokens", size(tokens(text)))
      .withColumn("punct_ratio",
        size(regexp_extract_all(text, lit("[^a-zA-Z0-9 ]"), lit(0))).cast("double") /
          greatest(length(text), lit(1)))
      .withColumn("stop_ratio",
        stopwordCount(text).cast("double") / greatest(size(tokens(text)), lit(1)))
      .withColumn("mean_token_len",
        (length(text).cast("double") / greatest(size(tokens(text)), lit(1))))
      .withColumn("quality_score",
        // integer points summed exactly, one final double division —
        // bit-identical across engines (no float accumulation)
        (when(col("n_tokens") >= 10 && col("n_tokens") <= 100000, lit(4)).otherwise(lit(0)) +
         when(col("punct_ratio") <= 0.2, lit(2)).otherwise(lit(0)) +
         when(col("stop_ratio") >= 0.05, lit(2)).otherwise(lit(0)) +
         when(col("mean_token_len") >= 3 && col("mean_token_len") <= 12, lit(2))
           .otherwise(lit(0))).cast("double") / lit(10.0))
  }

  /** The required-stopword set of Gopher rule 7 (Rae et al. 2021,
    * table A1): a document must contain at least 2 of these.
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Full Gopher document-quality rule set (Rae et al. 2021 §A1.1,
    * "Quality filtering"): per-document boolean gates plus the
    * composite `keep`.
    *
    *   r1 50 ≤ word count ≤ 100000          r5 ≤30% lines end "..."
    *   r2 3 ≤ mean word length ≤ 10         r6 ≥80% words have a letter
    *   r3 hash AND ellipsis word ratios     r7 ≥2 required stopwords
    *      each ≤ 0.1 (gated separately,
    *      per the paper's "either" wording)
    *   r4 ≤90% of lines start with a bullet
    *
    * Everything is a narrow per-row expression over codegen'd built-ins
    * plus two per-row higher-order folds (word-length sum, stopword
    * membership) — linear, shuffle-free, scan-fused at any scale. The
    * character classes are explicit ASCII (no \\s shorthand) so RE2
    * engines tokenize identically; ratios are exact int/int IEEE
    * divisions — no rounding needed for cross-engine equality. Null
    * text fails the gate (`keep` = false, rule columns null).
    */
  def gopherRules(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    val words = filter(split(text, "[ \\t\\r\\n]+"), w => w =!= "")
    val lines = split(text, "\n")
    val out = df
      .withColumn("n_words", size(words))
      .withColumn("mean_word_len",
        when(size(words) > 0,
          aggregate(words, lit(0), (a, w) => a + length(w)).cast("double") /
            size(words)))
      // Rae et al. 2021 A1.1 gates the symbol-to-word ratio "for either
      // the hash symbol or the ellipsis" SEPARATELY — a doc is removed
      // when either ratio exceeds 0.1, so the two counts must not be
      // summed into one combined ratio
      .withColumn("hash_ratio",
        when(size(words) > 0,
          size(regexp_extract_all(text, lit("#"), lit(0)))
            .cast("double") / size(words)))
      .withColumn("ellipsis_ratio",
        when(size(words) > 0,
          size(regexp_extract_all(text, lit("(\\.\\.\\.|\\x{2026})"), lit(0)))
            .cast("double") / size(words)))
      .withColumn("bullet_line_frac",
        size(filter(lines, l => trim(l).rlike("^[-*\\x{2022}]"))).cast("double") /
          size(lines))
      .withColumn("ellipsis_line_frac",
        size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|\\x{2026})$"))).cast("double") /
          size(lines))
      .withColumn("alpha_word_frac",
        when(size(words) > 0,
          size(filter(words, w => w.rlike("[a-zA-Z]"))).cast("double") / size(words)))
      .withColumn("stop_hits",
        gopherStopwords.map(s =>
          when(array_contains(transform(words, lower(_)), s), 1).otherwise(0))
          .reduce(_ + _))
    out
      .withColumn("r_word_count", col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("r_mean_len", col("mean_word_len") >= 3 && col("mean_word_len") <= 10)
      .withColumn("r_symbol",
        col("hash_ratio") <= 0.1 && col("ellipsis_ratio") <= 0.1)
      .withColumn("r_bullet", col("bullet_line_frac") <= 0.9)
      .withColumn("r_ellipsis", col("ellipsis_line_frac") <= 0.3)
      .withColumn("r_alpha", col("alpha_word_frac") >= 0.8)
      .withColumn("r_stopwords", col("stop_hits") >= 2)
      .withColumn("keep", coalesce(
        col("r_word_count") && col("r_mean_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stopwords"), lit(false)))
  }

  /** Language-ID stopword regexes per language (RE2-compatible, usable
    * verbatim in DuckDB oracles).
    */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in|is|that|for|with|was)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|ein|eine|zu|mit)\\b",
    "es" -> "\\b(el|la|los|las|es|una|que|por|para|como)\\b",
    "fr" -> "\\b(le|les|des|est|une|dans|pour|que|sur|avec)\\b",
    "zh" -> "[\\x{4E00}-\\x{9FFF}]")

  /** N-gram/stopword heuristic language ID: per-language marker hit counts
    * and an argmax with a deterministic precedence order.
    */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val lowered = lower(col(textCol))
    val withCounts = langMarkers.foldLeft(df) { case (d, (lang, re)) =>
      d.withColumn(s"c_$lang", size(regexp_extract_all(lowered, lit(re), lit(0))))
    }
    val langs = langMarkers.map(_._1)
    // ordered CASE chain: first listed language with count >= all others
    // wins (mirrorable 1:1 as SQL CASE in oracles)
    val pred = langs.foldRight(lit("und")) { case (lang, rest) =>
      val c = col(s"c_$lang")
      val ge = langs.filter(_ != lang).map(o => c >= col(s"c_$o")).reduce(_ && _)
      when(c > 0 && ge, lit(lang)).otherwise(rest)
    }
    withCounts.withColumn("pred_lang", pred)
  }

  /** Content fingerprint: md5 of whitespace-collapsed lowercase text —
    * the exact-dedup key for near-identical formatting variants.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Word bigrams of the token array (empty below 2 tokens). */
  private def bigrams(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i + 1, lit(2)))))

  /** Gopher-style repetition features: duplicate-token fraction,
    * duplicate-bigram fraction, and the character share of the single most
    * frequent bigram (Rae et al. 2021 "repetitious documents" filters,
    * adapted to space-joined corpora without line structure).
    *
    * Scale design: the duplicate fractions are narrow per-row expressions;
    * only the top-bigram search shuffles — one explode + two hash
    * aggregations keyed by (doc, bigram) then doc, both linear in total
    * token count with map-side partial aggregation. The deterministic
    * tie-break (count desc, bigram desc) makes output reproducible and
    * oracle-able.
    *
    * Input columns are preserved (like [[qualityFeatures]]); null/empty
    * text yields all-zero features, never null — `size(NULL)` is NULL in
    * Spark 3+, which would otherwise slip past the `=== 0` guards.
    */
  def repetitionFeatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // materialize the token array ONCE per row: passing the raw
    // tokens(text) expression into the bigram lambda would inline the
    // full tokenizer into every slice() evaluation — O(len²) per doc
    // (Catalyst keeps this projection because the alias is expensive
    // and multi-referenced, SPARK-36718)
    val toks = col("_tk")
    val base = df
      .withColumn("_tk", tokens(col(textCol)))
      .withColumn("n_tokens", coalesce(size(toks), lit(0)))
      .withColumn("dup_token_frac", coalesce(
        when(size(toks) === 0, lit(0.0)).otherwise(
          lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks)),
        lit(0.0)))
      .withColumn("_bgs", bigrams(toks))
      .withColumn("dup_bigram_frac", coalesce(
        when(size(col("_bgs")) === 0, lit(0.0)).otherwise(
          lit(1.0) - size(array_distinct(col("_bgs"))).cast("double") / size(col("_bgs"))),
        lit(0.0)))
    val top = base.select(col(idCol), explode(col("_bgs")).as("bg"))
      .groupBy(idCol, "bg").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(max(struct(col("c"), col("bg"))).as("m"))
      .select(col(idCol), col("m.bg").as("top_bigram"), col("m.c").as("top_bigram_n"))
    base.join(top, Seq(idCol), "left")
      .withColumn("top_bigram", coalesce(col("top_bigram"), lit("")))
      .withColumn("top_bigram_n", coalesce(col("top_bigram_n"), lit(0L)))
      .withColumn("top_bigram_frac",
        col("top_bigram_n").cast("double") * length(col("top_bigram")) /
          greatest(length(col(textCol)), lit(1)))
      .drop("_bgs", "_tk")
  }

  /** Deterministic content-addressed split bucket in [0, 100): the first
    * 32 bits of md5 of the key's string form, mod 100. Stable across
    * engines, runs, and cluster layouts — the property a train/val/test
    * split must have so re-runs never leak rows across splits. (A plain
    * `rand()` split has none of these properties; `id % 100` is stable but
    * correlates with insertion order.)
    */
  def hashBucket(key: Column): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long"), lit(100))

  /** Named split from a hash bucket: train < trainPct <= val < valPct+trainPct <= test. */
  def hashSplit(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(key)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Top-`k` bigram collocations by pointwise mutual information:
    * PMI(x,y) = ln( P(x,y) / (P(x)·P(y)) ) with P(x,y) over adjacent
    * token pairs and P(x) over token instances. Pairs below `minCount`
    * are dropped (PMI is noise-dominated at low counts). Ranked by
    * (pmi desc, pair asc) — the PMI both engines compare is rounded at
    * 6 dp, so ordering and output agree bit-for-bit cross-engine.
    *
    * Scale shape: two explode → hash-aggregate passes (bigram counts
    * keyed on the pair, unigram counts keyed on the term), both
    * map-side combined so the shuffle carries vocabulary-sized data,
    * not token-instance-sized. The two corpus totals are 1-row
    * aggregates broadcast back; the pair↔unigram joins are hash joins
    * on the term (AQE broadcasts the unigram side while it fits — on a
    * 100 TB corpus it stays a shuffled hash join, which is correct:
    * vocabulary must never be required to fit in one executor). Global
    * top-k compiles to TakeOrderedAndProject — no global sort.
    */
  def collocations(df: DataFrame, textCol: String, minCount: Int, k: Int): DataFrame = {
    // tokenize ONCE per row into a kept projection: inlining
    // tokens(text) into the bigram lambda would re-run the tokenizer
    // inside every slice() — O(len²) per doc (see repetitionFeatures)
    val tk = df.select(tokens(col(textCol)).as("_tk"))
    val uni = tk.select(explode(col("_tk")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c1"))
    // both totals and both unigram joins read these same two
    // aggregates, so their shuffle exchanges are plan-identical and
    // exchange reuse evaluates each corpus explode once per pass
    val allGramCounts = tk.select(explode(bigrams(col("_tk"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cxy"))
    val pairCounts = allGramCounts
      .filter(col("cxy") >= minCount)
      .withColumn("w1", split(col("gram"), " ").getItem(0))
      .withColumn("w2", split(col("gram"), " ").getItem(1))
    val nUni = uni.agg(sum("c1").cast("double").as("_nu"))
    val nBi = allGramCounts.agg(sum("cxy").cast("double").as("_nb"))
    pairCounts
      .join(uni.select(col("term").as("w1"), col("c1").as("cx")), "w1")
      .join(uni.select(col("term").as("w2"), col("c1").as("cy")), "w2")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      // association order mirrored verbatim in the oracle:
      // ((cxy·nu)·nu) / ((cx·cy)·nb)
      .withColumn("pmi", round(log(
        (col("cxy").cast("double") * col("_nu") * col("_nu")) /
          (col("cx").cast("double") * col("cy") * col("_nb"))), 6))
      .select("w1", "w2", "cxy", "pmi")
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Per-document top-`k` terms by a TF-IDF-style score. The score is
    * `tf / df` (term frequency over corpus document frequency) rather than
    * `tf * ln(N/df)`: the ranking is identical for fixed N (ln is
    * monotone in 1/df and tf scales it positively per term), and a single
    * integer-over-integer double division is bit-reproducible across
    * engines, where `ln` implementations may differ in the last ulp.
    * Ties break by term ascending — fully deterministic output.
    *
    * Scale design: two hash aggregations (doc×term, then term) and one
    * equi-join on `term`, all map-side-combined; the per-doc top-k is a
    * window over doc_id — one shuffle each on term and doc. No driver
    * collection; vocabulary stays distributed (a broadcast would cap
    * vocabulary size, wrong at corpus scale).
    */
  def tfidfTopTerms(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("score", col("tf").cast("double") / col("df"))
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Winnowing-style rolling-hash fingerprint: k-gram hashes, window
    * minima, distinct sorted — robust to local edits
    * (Schleimer et al., SIGMOD'03). Hash-dependent, so tested by spec
    * rather than SQL oracle.
    */
  /** Canonical text normalization: lowercase, strip everything outside
    * [a-z0-9 ], collapse whitespace runs, trim. A narrow per-row
    * transform of codegen'd built-ins (no UDF), linear at any scale; the
    * regexes are RE2-compatible so any engine reproduces them exactly.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text),
      lit("[^a-z0-9 ]"), lit(" ")), lit(" +"), lit(" ")))

  /** HTML → text extraction (the crawl-ingest stage before any quality
    * or dedup work — trafilatura/jusText's core step, reduced to the
    * deterministic part): drop `<script>`/`<style>` blocks and comments
    * wholesale, strip remaining tags, decode the common entities
    * (`&amp;` LAST, standard single-pass decode order), collapse
    * whitespace. A narrow chain of codegen'd `regexp_replace` built-ins
    * — no UDF, no parser state, linear at any scale — and every pattern
    * is RE2-compatible (inline `(?is)` flags, lazy quantifiers, no
    * lookaround) so oracle engines replay it byte-identically.
    */
  def extractHtmlText(html: Column): Column = {
    val noScript = regexp_replace(html,
      lit("(?is)<script[^>]*>.*?</script>"), lit(" "))
    val noStyle = regexp_replace(noScript,
      lit("(?is)<style[^>]*>.*?</style>"), lit(" "))
    val noComment = regexp_replace(noStyle, lit("(?s)<!--.*?-->"), lit(" "))
    val noTags = regexp_replace(noComment, lit("<[^>]+>"), lit(" "))
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(ent, lit("[ \\t\\r\\n]+"), lit(" ")))
  }

  /** `<title>` content of an HTML document (empty string when absent),
    * whitespace-collapsed. Same RE2-safe inline-flag pattern class as
    * [[extractHtmlText]].
    */
  def htmlTitle(html: Column): Column =
    trim(regexp_replace(
      regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1),
      lit("[ \\t\\r\\n]+"), lit(" ")))

  /** Count of `<a ...>` anchor tags — the out-link degree a crawl
    * frontier and a link-spam filter both key on.
    */
  def htmlLinkCount(html: Column): Column =
    size(regexp_extract_all(html, lit("(?i)<a[ \\t\\r\\n][^>]*>"), lit(0)))

  /** `<meta name="robots" ... noindex ...>` detector — the compliance
    * gate a crawl corpus applies before training use. Case-insensitive,
    * attribute order/quoting tolerant, RE2-safe.
    */
  def htmlNoindex(html: Column): Column =
    html.rlike("(?is)<meta[^>]*name[ \\t\\r\\n]*=[ \\t\\r\\n]*\"?robots\"?[^>]*noindex")

  /** Rule-based sentence segmentation: maximal runs of non-terminator
    * characters plus their trailing `[.!?]` run, as one RE2-safe
    * `regexp_extract_all` (no lookaround — `(?<=[.!?]) ` splitting is
    * not RE2-expressible, the match-the-sentence form is). The
    * granularity decontamination and packing drop to when documents are
    * too coarse. Returns the raw match array; callers trim/filter
    * (whitespace-only matches arise between adjacent terminators).
    */
  def sentences(text: Column): Column =
    regexp_extract_all(text, lit("[^.!?]+[.!?]*"), lit(0))

  // ---- URL analysis (crawl-frontier / per-site grouping primitives).
  // All patterns RE2-safe; closed-form oracles derive the same values
  // independently, so these are gated end-to-end, not replayed. ----

  val urlSchemePattern = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
  val urlHostPattern = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
  private val urlRestPattern = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^#]*)"

  /** Lowercased host with default ports (:80/:443) stripped — the
    * per-site dedup / politeness key. Userinfo, if present, stays (rare
    * in crawls; a closed-list strip would mask malformed URLs).
    */
  def urlHost(url: Column): Column =
    regexp_replace(lower(regexp_extract(url, urlHostPattern, 1)),
      lit(":(80|443)$"), lit(""))

  /** Last-two-label registered domain approximation (`a.b.example.com`
    * → `example.com`) — the domain-budget / domain-mix key. A public-
    * suffix list would refine `co.uk`-style hosts; at corpus scale the
    * two-label cut is the standard cheap first pass.
    */
  def urlDomain(url: Column): Column =
    regexp_extract(urlHost(url), "([^.]+\\.[^.]+)$", 1)

  /** Canonical URL: lowercased scheme + host (default ports stripped),
    * path+query preserved case-exact, fragment dropped, bare host gains
    * "/". Non-URL strings pass through unchanged (never null out a
    * malformed crawl record — downstream filters see the original).
    */
  def normalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, urlSchemePattern, 1))
    val rest = regexp_extract(url, urlRestPattern, 1)
    when(scheme === "", url)
      .otherwise(concat(scheme, lit("://"), urlHost(url),
        when(rest === "", lit("/")).otherwise(rest)))
  }

  /** PII patterns: deliberately RE2-compatible (no lookaround, no
    * backrefs) so oracle engines match them identically. Emails, IPv4,
    * and SSN-shaped ids cover the common redaction set for web corpora.
    */
  val piiEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val piiSsnPattern = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** PII detection + redaction (C4/Dolma-style pipeline stage): per-doc
    * match counts for each pattern and a `redacted` text with typed
    * placeholders, applied email -> ipv4 -> ssn. Narrow per-row regex
    * work — no shuffle, scales linearly with splits.
    */
  def piiFeatures(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    df.withColumn("n_emails",
        size(regexp_extract_all(text, lit(piiEmailPattern), lit(0))))
      .withColumn("n_ipv4",
        size(regexp_extract_all(text, lit(piiIpv4Pattern), lit(0))))
      .withColumn("n_ssn",
        size(regexp_extract_all(text, lit(piiSsnPattern), lit(0))))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(text,
          lit(piiEmailPattern), lit("[EMAIL]")),
          lit(piiIpv4Pattern), lit("[IP]")),
          lit(piiSsnPattern), lit("[SSN]")))
  }

  /** Per-document unigram surprisal (mean -ln p(token) under the corpus
    * unigram model with add-one smoothing) — the cheap LM-based quality
    * signal perplexity filters use. Two map-side-combined aggregations
    * (doc x term, term) and one broadcast-sized scalar join; the
    * vocabulary stays distributed, so the model "fit" is just a term
    * count — no driver collection at any corpus size.
    *
    * The score is rounded to 6 decimals: `ln` is not correctly rounded
    * and float-sum order differs across engines, so the raw double is
    * reproducible only to ~1e-12 — rounding makes the value stable and
    * oracle-comparable while keeping full filtering power.
    */
  def unigramSurprisal(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val model = tf.groupBy("term").agg(sum("tf").as("ctf"))
    val totals = model.agg(sum("ctf").as("n_total"), count(lit(1)).as("v_size"))
    tf.join(model, "term")
      .crossJoin(broadcast(totals))
      .groupBy(idCol)
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        round((-sum(col("tf") *
          log((col("ctf") + lit(1)).cast("double") /
            (col("n_total") + col("v_size")))) /
          sum(col("tf"))).cast("double"), 6).as("surprisal"))
  }

  /** Per-document interpolated bigram surprisal — the standard
    * KenLM-style perplexity gate one step up from [[unigramSurprisal]]:
    * p(w2|w1) = lambda * c(w1 w2)/c(w1)  +  (1-lambda) * (c(w2)+1)/(N+V)
    * (Jelinek-Mercer interpolation with an add-one unigram floor, so
    * unseen continuations never zero out). Score is the mean -ln p over
    * the doc's bigrams; docs with fewer than two tokens emit no row.
    *
    * Scale shape mirrors the unigram gate: the bigram and unigram
    * models are map-side-combined aggregations that STAY distributed
    * (vocabulary and bigram tables never collect — at 100 TB the bigram
    * table is huge, and it only ever flows through hash joins on its
    * own key); the scalar totals broadcast back as one row. Joins are
    * equi-joins on the bigram/term keys, AQE-broadcast when the model
    * side fits. Rounded to 6 decimals for the same cross-engine ln /
    * sum-order reasons as [[unigramSurprisal]].
    */
  def bigramSurprisal(df: DataFrame, textCol: String, idCol: String,
                      lambda: Double = 0.75): DataFrame = {
    require(lambda > 0 && lambda < 1, "lambda in (0, 1)")
    val toks = df.select(col(idCol), tokens(col(textCol)).as("tk"))
    // bigram instances: positions 0..n-2 paired with the next token —
    // posexplode + element_at are codegen'd (no interpreted HOF lambda)
    val bg = toks.filter(size(col("tk")) >= 2)
      .select(col(idCol), col("tk"),
        posexplode(slice(col("tk"), lit(1), size(col("tk")) - 1)))
      .withColumnRenamed("col", "w1")
      .withColumn("w2", element_at(col("tk"), col("pos") + 2))
      .select(col(idCol), col("w1"), col("w2"))
    val tf = bg.groupBy(idCol, "w1", "w2").agg(count(lit(1)).as("tf"))
    val bgModel = tf.groupBy("w1", "w2").agg(sum("tf").as("cbg"))
    val uni = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("ctf"))
    val totals = uni.agg(sum("ctf").as("n_total"), count(lit(1)).as("v_size"))
    tf.join(bgModel, Seq("w1", "w2"))
      .join(uni.select(col("term").as("w1"), col("ctf").as("c1")), "w1")
      .join(uni.select(col("term").as("w2"), col("ctf").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("p",
        lit(lambda) * (col("cbg").cast("double") / col("c1")) +
          lit(1 - lambda) * ((col("c2") + lit(1)).cast("double") /
            (col("n_total") + col("v_size"))))
      .groupBy(idCol)
      .agg(sum(col("tf")).cast("long").as("n_bigrams"),
        round((-sum(col("tf") * log(col("p"))) / sum(col("tf")))
          .cast("double"), 6).as("bigram_surprisal"))
  }

  /** Chunk documents into fixed-size token windows with overlap — the
    * context-length packing step before tokenizer/training. Emits one row
    * per chunk: (idCol, chunk_id, chunk_text, n_chunk_tokens). Chunk
    * starts step by (chunkTokens - overlap); the last chunk may be short;
    * empty docs yield no chunks. One explode per doc — linear in total
    * token count, no shuffle (narrow generator over the scan), so it
    * pipelines into whatever consumes the chunks.
    */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
                     chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      "need 0 <= overlap < chunkTokens")
    val step = chunkTokens - overlap
    val toks = tokens(col(textCol))
    val nChunks = when(size(toks) <= 0, lit(0))
      .otherwise(floor((size(toks) - lit(1)) / lit(step)).cast("int") + lit(1))
    df.withColumn("_toks", toks)
      // guard: sequence(0, -1) would step BACKWARDS ([0, -1]) for empty
      // docs — emit an empty array so explode drops them instead
      .withColumn("chunk_id", explode(when(nChunks > 0,
        sequence(lit(0), nChunks - 1)).otherwise(array().cast("array<int>"))))
      .withColumn("chunk_toks",
        slice(col("_toks"), col("chunk_id") * step + 1, lit(chunkTokens)))
      // drop overlap-only tails: a chunk adds value only if it starts
      // before the token list ends
      .filter(col("chunk_id") * step < size(col("_toks")))
      .select(col(idCol), col("chunk_id"),
        concat_ws(" ", col("chunk_toks")).as("chunk_text"),
        size(col("chunk_toks")).as("n_chunk_tokens"))
  }

  /** Greedy sequence packing: assign documents (in ascending `idCol`
    * order within each `groupCol` partition) to training sequences of at
    * most `maxTokens`, opening a new sequence whenever the next doc
    * would overflow; docs longer than `maxTokens` get a sequence of
    * their own. Emits (group, id, n_tokens, seq_id, offset) — the
    * deterministic packing manifest a tokenizer worker can apply.
    *
    * The greedy fill is a running state (current fill resets on
    * overflow), not a prefix-sum, so it needs the group's docs in id
    * order. Secondary sort supplies that without ever materializing a
    * group: hash-repartition on the group key, `sortWithinPartitions`
    * on (group, id) — Spark's external sort, which spills — then a
    * single `mapPartitions` sweep holding O(1) state that resets at
    * each group boundary. A group larger than task memory is fine;
    * only the sort buffers, and those spill. Groups are independent
    * (split/shard keys), so parallelism is group-count wide and
    * results do not depend on cluster layout.
    */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
                    groupCol: String, maxTokens: Int): DataFrame =
    // null text packs as zero tokens (size(null) is null and would
    // break the non-nullable encoder)
    packByCount(df.withColumn("__pack_n",
        coalesce(size(tokens(col(textCol))), lit(0)).cast("long")),
      groupCol, idCol, "__pack_n", maxTokens)

  /** [[packSequences]] generalized to a precomputed size column — the
    * packing a tokenized export uses, where the doc size is the BPE
    * piece count rather than the whitespace token count. Same greedy
    * per-group sweep, same output shape (the size column lands as
    * `n_tokens`).
    */
  def packByCount(df: DataFrame, groupCol: String, idCol: String,
                  countCol: String, maxTokens: Int): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val sized = df.select(col(groupCol).cast("string").as("grp"),
      col(idCol).cast("long").as("id"),
      coalesce(col(countCol).cast("long"), lit(0L)).as("n_tokens"))
      .as[(String, Long, Long)]
    // Partition/sort on the select-alias names (`grp`/`id`): tuple
    // positional names (`_1`) only resolve on LocalRelation inputs and
    // fail analysis on file-backed relations.
    sized
      .repartition(col("grp"))
      .sortWithinPartitions("grp", "id")
      .mapPartitions { it =>
        var curGrp: String = null; var started = false
        var seq = 0L; var fill = 0L; var first = true
        it.map { case (grp, id, n) =>
          if (!started || grp != curGrp) {
            started = true; curGrp = grp; seq = 0L; fill = 0L; first = true
          }
          if (!first && fill + n > maxTokens) { seq += 1; fill = 0L }
          first = false
          val off = fill
          fill += n
          (grp, id, n, seq, off)
        }
      }
      .toDF("grp", "id", "n_tokens", "seq_id", "offset")
      .withColumnRenamed("grp", groupCol)
      .withColumnRenamed("id", idCol)
  }

  /** Corpus-level repetition: for each document, the fraction of its
    * DISTINCT word n-grams that also occur in at least one other document
    * — the "duplicate n-gram fraction" signal used to gate
    * memorization-prone training text (cf. Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22). Documents with
    * no grams (null/empty text) are absent from the output.
    *
    * Scale: one explode of per-doc distinct grams (the [[WordShingles]]
    * kernel dedups within the row, so the exploded volume is bounded by
    * distinct grams, not raw tokens), one count aggregation keyed on the
    * gram (huge key space — no skew), one re-join of that count to the
    * gram stream, one per-doc aggregation. All shuffles carry
    * (gram, id)-width rows; nothing is quadratic.
    */
  def duplicateNgramFraction(df: DataFrame, textCol: String, idCol: String,
                             n: Int = 5): DataFrame = {
    val grams = df.select(col(idCol).as("id"),
      explode(graft.functions.WordShingles(col(textCol), n)).as("gram"))
    // rows are (doc, gram)-distinct, so count(*) counts documents
    val counts = grams.groupBy("gram").agg(count(lit(1)).as("docs_with"))
    grams.join(counts, "gram")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("docs_with") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_frac", col("n_dup_grams").cast("double") / col("n_grams"))
  }

  /** Exact duplicated-substring spans: the maximal token ranges of each
    * document covered by `k`-token grams that occur MORE THAN ONCE in
    * the corpus (anywhere — another doc or elsewhere in the same doc).
    * This is the span-level signal behind suffix-array substring dedup
    * (Lee et al., ACL'22 §4: remove repeated substrings over ~50 tokens
    * rather than whole near-dup documents); a consumer drops or trims
    * the reported ranges. Output: (id, span_start, span_end,
    * n_dup_grams) with token positions 0-based inclusive.
    *
    * Spark-first shape instead of a suffix array: (1) one pass builds
    * every positioned k-gram via `lead` calls that share ONE window
    * over a doc-keyed sort — linear in token instances; (2) gram
    * occurrence counts are a map-side-combined aggregation on the gram
    * key (the count table stays distributed — never collected, never
    * joined wider than (gram, pos) rows); (3) positions of repeated
    * grams come back through one equi-join on the gram; (4) overlapping
    * or touching gram spans fold into maximal islands with a lag +
    * running-sum window — the classic gaps-and-islands plan, one more
    * doc-keyed shuffle. Nothing is quadratic and no driver state grows
    * with the corpus; every value is an integer, so the oracle replays
    * the result exactly.
    */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 8): DataFrame = {
    require(k >= 2, "k must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val pos = df.select(col(idCol).as("_doc"),
      posexplode(tokens(col(textCol))).as(Seq("_pos", "_tok")))
    val w = Window.partitionBy("_doc").orderBy("_pos")
    val withGram = (1 until k).foldLeft(pos) { (d, j) =>
      d.withColumn(s"_t$j", lead(col("_tok"), j).over(w))
    }
    val grams = withGram
      .filter(col(s"_t${k - 1}").isNotNull) // last k-1 positions have no full gram
      .select(col("_doc"), col("_pos"),
        concat_ws(" ", col("_tok") +: (1 until k).map(j => col(s"_t$j")): _*)
          .as("_gram"))
    val repeated = grams.groupBy("_gram").agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") >= 2)
    val dupPos = grams.join(repeated, "_gram").select("_doc", "_pos")
    // gaps-and-islands: a gram at _pos covers [_pos, _pos+k-1]; merge
    // with the previous gram's span when they overlap or touch
    // (_pos - prev <= k), break on a true gap
    val wi = Window.partitionBy("_doc").orderBy("_pos")
    dupPos
      .withColumn("_brk",
        when(col("_pos") - lag("_pos", 1).over(wi) > k, 1L).otherwise(0L))
      .withColumn("_island",
        sum("_brk").over(wi.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("_doc"), col("_island"))
      .agg(min("_pos").as("span_start"),
        (max("_pos") + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("_doc").as(idCol), col("span_start"), col("span_end"),
        col("n_dup_grams"))
  }

  /** Skip-gram co-occurrence counts (word2vec-style training pairs):
    * ordered (center, context) pairs for every context within `window`
    * positions to the RIGHT of the center, counted over the corpus.
    * (Symmetric counts follow by summing both orientations; keeping
    * orientation preserves information.)
    *
    * Shape: one posexplode, then `window` lead() calls that all share
    * ONE window spec — Catalyst evaluates them in a single Window
    * operator over a single (doc-keyed) shuffle+sort, so the pass is
    * linear in token instances regardless of `window`; the final pair
    * aggregation is map-side combined on vocabulary²-bounded keys
    * (in practice the observed-pair set). No self-join, no per-doc
    * quadratic blowup.
    */
  def skipGrams(df: DataFrame, textCol: String, idCol: String,
                window: Int, minCount: Long = 1L): DataFrame = {
    require(window >= 1, "window must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val pos = df.select(col(idCol).as("_doc"),
      posexplode(tokens(col(textCol))).as(Seq("_pos", "center")))
    val w = Window.partitionBy("_doc").orderBy("_pos")
    val withCtx = (1 to window).foldLeft(pos) { (d, k) =>
      d.withColumn(s"_ctx$k", lead(col("center"), k).over(w))
    }
    withCtx
      .select(col("center"), explode(array_compact(
        array((1 to window).map(k => col(s"_ctx$k")): _*))).as("context"))
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. ICML'09):
    * project token counts into a fixed `dim`-bucket space with a
    * md5-derived bucket and ±1 sign per term — the collision-unbiased
    * sparse featurization that needs NO vocabulary pass, no fit step,
    * and no driver state, which is what makes it the scale-safe
    * baseline featurizer. Returns sparse triplets (id, bucket, weight),
    * zero-sum buckets dropped; weights are exact integers.
    *
    * Shape: one explode → one (id, bucket)-keyed hash aggregation with
    * map-side combine — shuffle bounded by nnz(output), not token
    * instances. Content-addressed (md5), so any engine replays it.
    */
  def featureHash(df: DataFrame, textCol: String, idCol: String, dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    val term = col("term")
    // 60-bit positive hash -> bucket; an independent digest nibble -> sign
    val bucket = conv(substring(md5(term), 1, 15), 16, 10).cast("long") % dim
    val sign = when(
      conv(substring(md5(term), 16, 1), 16, 10).cast("long") % 2 === 0,
      lit(1L)).otherwise(lit(-1L))
    df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .select(col(idCol), bucket.as("bucket"), sign.as("s"))
      .groupBy(idCol, "bucket").agg(sum("s").as("weight"))
      .filter(col("weight") =!= 0)
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every RAW document by the log-likelihood ratio of its hashed
    * unigram bag under the TARGET domain's bucket model vs the raw
    * corpus's own — the principled "make the crawl look like the
    * quality domain" selection signal that pairs with
    * [[graft.operators.Sampling.temperatureWeights]] /
    * `tokenBudgetSelect` downstream (resample raw docs ∝ exp(weight)).
    * Buckets are the [[featureHash]] md5 convention (content-addressed,
    * engine-replayable); both models use add-`alpha` smoothing over the
    * `dim` buckets. Returns (id, n_tokens, log_weight); token-less
    * documents score 0 with n_tokens 0 (visible, not dropped).
    *
    * Shape: two bucket-count aggregations (map-side combined, bounded
    * at `dim` rows each), one full-outer bucket join → a broadcast
    * `dim`-row log-ratio table, then one explode + broadcast join +
    * per-doc sum. No vocabulary pass, no driver state beyond two
    * totals. Exactness: per-bucket log-ratio is one fixed-order double
    * expression rounded at 6 dp; per-doc weights are exact decimal
    * sums of those rounded terms.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, textCol: String,
                  idCol: String, dim: Int = 10000,
                  alpha: Double = 0.5): DataFrame = {
    require(dim > 0, "dim must be positive")
    require(alpha > 0, "alpha must be positive (unsmoothed zeros blow up the log)")
    val bucket =
      conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long") % dim
    def bucketCounts(df: DataFrame, out: String): DataFrame =
      df.select(explode(tokens(col(textCol))).as("term"))
        .select(bucket.as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(out))
    val tC = bucketCounts(target, "_nt")
    val rC = bucketCounts(raw, "_nr")
    val tTot = tC.agg(sum("_nt")).head().getLong(0)
    val rTot = rC.agg(sum("_nr")).head().getLong(0)
    val ratio = tC.join(rC, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("_nt", "_nr"))
      .withColumn("_lr", round(
        log((col("_nt") + alpha) / lit(tTot + alpha * dim)) -
          log((col("_nr") + alpha) / lit(rTot + alpha * dim)), 6))
      .select("bucket", "_lr")
    val perDoc = raw
      .select(col(idCol).as("_id"), explode(tokens(col(textCol))).as("term"))
      .select(col("_id"), bucket.as("bucket"))
      .join(broadcast(ratio), "bucket")
      .groupBy("_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("_lr").cast("decimal(18,6)")).cast("double").as("log_weight"))
    raw.select(col(idCol).as("_id"))
      .join(perDoc, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("log_weight"), lit(0.0)).as("log_weight"))
  }

  /** Pairwise cross-group contamination matrix: for every group pair
    * (g1 < g2) the number of distinct word `n`-grams they share, each
    * group's distinct-gram count, and the overlap coefficient
    * shared / min(|g1|, |g2|) — the corpus-level view of benchmark or
    * split contamination ([[graft.operators.Dedup]] handles the
    * per-document form; this ranks SOURCE pairs by leakage).
    *
    * Shape: one (group, gram)-distinct aggregation (gram-keyed shuffle,
    * map-side combined), a self-equi-join on the gram — per-gram
    * amplification bounded by #groups², fine for the source/split/shard
    * groupings this is for — then a #groups²-bounded pair aggregation;
    * the per-group totals are a #groups-bounded broadcast. Exact
    * int/int division, no rounding needed cross-engine.
    */
  def contaminationMatrix(df: DataFrame, textCol: String, groupCol: String,
                          n: Int = 5): DataFrame = {
    val grams = df.select(col(groupCol).as("grp"),
      explode(graft.functions.WordShingles(col(textCol), n)).as("gram")).distinct()
    val sizes = grams.groupBy("grp").agg(count(lit(1)).as("n_grams"))
    grams.select(col("grp").as("src1"), col("gram"))
      .join(grams.select(col("grp").as("src2"), col("gram")), "gram")
      .filter(col("src1") < col("src2"))
      .groupBy("src1", "src2").agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(sizes.select(col("grp").as("src1"), col("n_grams").as("n1"))), "src1")
      .join(broadcast(sizes.select(col("grp").as("src2"), col("n_grams").as("n2"))), "src2")
      .withColumn("overlap",
        col("shared_grams").cast("double") / least(col("n1"), col("n2")))
      .select("src1", "src2", "shared_grams", "n1", "n2", "overlap")
  }

  /** BM25 top-`k` retrieval (Robertson/Spärck Jones; the Lucene-style
    * `ln(1 + (N − df + 0.5)/(df + 0.5))` idf, which is always
    * non-negative) of `queryTerms` against the corpus — the retrieval
    * primitive behind dataset search and RAG-style corpus probes.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Scale design: the scan explodes tokens but filters to the query
    * terms IMMEDIATELY (predicate on the generator output), so the
    * shuffled posting volume is bounded by matches, not corpus tokens;
    * df per query term falls out of the same posting aggregate; corpus
    * stats (N, Σdl) are one 1-row aggregate broadcast back; and the
    * top-k runs as TakeOrderedAndProject (per-partition heaps, no
    * global sort). Nothing driver-side beyond the k result rows.
    *
    * Engine replay: dl and tf are integers, avgdl = Σdl/N is one exact
    * long-over-long double division, the per-term score is one fixed
    * double expression rounded at 6 dp, and the document score is the
    * EXACT decimal sum of those rounded per-term scores — summation
    * order (partitioning) cannot change a bit. Null texts are excluded
    * from the corpus (N counts only non-null documents).
    */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, "k must be positive")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("_tk"))
    val stats = base.agg(count(lit(1)).as("_n"), sum(size(col("_tk"))).as("_sumdl"))
    val postings = base
      .select(col(idCol), size(col("_tk")).as("dl"), explode(col("_tk")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    postings
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("_avgdl", col("_sumdl").cast("double") / col("_n"))
      .withColumn("_w", round(
        log((col("_n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("_avgdl"))),
        6))
      .groupBy(col(idCol))
      .agg(sum(col("_w").cast("decimal(18,6)")).cast("double").as("score"),
        count(lit(1)).as("n_terms_matched"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  def winnowingFingerprint(text: Column, k: Int = 8, w: Int = 4): Column = {
    val grams = sequence(lit(0), greatest(length(text) - k, lit(0)) - 1)
    val hashes = transform(grams, i => xxhash64(text.substr(i + lit(1), lit(k))))
    val windows = sequence(lit(0), greatest(size(hashes) - w, lit(0)) - 1)
    array_sort(array_distinct(transform(windows, i => array_min(slice(hashes, i + 1, lit(w))))))
  }

  /** Corpus-level LINE deduplication (the C4/RefinedWeb curation step):
    * drop every line occurring in MORE than `maxOccur` distinct
    * documents — navigation bars, cookie banners, license footers —
    * from every document, preserving the remaining lines in original
    * order. Returns (doc_id, text_clean, n_removed); a fully-boilerplate
    * document survives as an empty string with its removal count (the
    * caller decides whether to drop it — silently losing the row would
    * hide how much the filter removed).
    *
    * Shape: one posexplode (narrow), one distinct + grouped count on
    * the line text (map-side combined; the >maxOccur survivor set is
    * the small boilerplate table), one anti-join, and one per-doc
    * sort-rebuild via collect_list over the doc's OWN lines (bounded by
    * document length, never a window over the corpus). Blank lines are
    * lines: a corpus-wide blank line is boilerplate by this definition
    * and gets removed like any other.
    */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
                maxOccur: Int): DataFrame = {
    require(maxOccur >= 1, "maxOccur must be >= 1")
    val lines = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("col", "line")
    val common = lines.select("doc_id", "line").distinct()
      .groupBy("line").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxOccur).select("line")
    val kept = lines.join(common, Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("text_clean"),
        count(lit(1)).as("_kept"))
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n")).cast("long").as("_n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        (col("_n_lines") - coalesce(col("_kept"), lit(0L))).as("n_removed"))
  }

  /** Inverted index construction: term → document frequency + a capped,
    * sorted posting list (the retrieval-side artifact behind the BM25 /
    * TF-IDF scorers above, materialized instead of recomputed per
    * query). Postings render as a comma-joined string of the first
    * `maxPostings` doc ids ascending — a bounded preview column; the
    * full list at corpus scale lives as (term, doc_id) rows, which is
    * exactly the `tok` intermediate here.
    *
    * Shape: explode → distinct (one shuffle on (term, doc)) → one
    * groupBy term. The collect_set is bounded per term by the slice
    * cap's SORTED prefix — but the set itself holds all docs for the
    * term first, so `minDf`/`maxDf` gates matter at scale: stop-words
    * (df ≈ corpus size) would otherwise build corpus-sized arrays in a
    * single aggregation buffer. Gate them out with `maxDf` — their
    * postings are useless for retrieval anyway (BM25 IDF ≈ 0).
    */
  /** Pairwise vocabulary Jaccard between document groups (sources,
    * domains, snapshots): |V_a ∩ V_b| / |V_a ∪ V_b| over distinct
    * token sets. The corpus-comparison screen — "how much does crawl
    * snapshot N's vocabulary overlap snapshot N−1's", "which two
    * sources are near-duplicates at the vocabulary level".
    *
    * Shape: explode → distinct (group, term), then a self-join ON TERM:
    * each term fans out by its group-degree, which is bounded by the
    * number of groups (domains/sources — small by construction), never
    * by corpus size. Counts are exact integers; one division per pair
    * at the end.
    */
  def vocabOverlap(docs: DataFrame, groupCol: String,
                   textCol: String): DataFrame = {
    val terms = docs
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("term"))
      .distinct()
    val sizes = terms.groupBy("grp").agg(count(lit(1)).as("nv"))
    val inter = terms.as("a")
      .join(terms.as("b"), Seq("term"))
      .filter(col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("g1"), col("b.grp").as("g2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("grp").as("g1"), col("nv").as("_n1"))), Seq("g1"))
      .join(broadcast(sizes.select(col("grp").as("g2"), col("nv").as("_n2"))), Seq("g2"))
      .select(col("g1"), col("g2"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("_n1") + col("_n2") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
  }

  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 2L, maxDf: Long = Long.MaxValue,
                    maxPostings: Int = 20): DataFrame = {
    val tok = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("term"))
      .distinct()
    tok
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(
            slice(sort_array(collect_set(col("doc"))), 1, maxPostings),
            d => d.cast("string")),
          ",").as("postings"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
  }

  /** Zipf-law fit over the corpus vocabulary: least-squares slope of
    * ln(freq) on ln(rank) for the top-`topK` terms, with intercept and
    * R². Natural text sits near slope −1; a corpus drifting toward
    * templated/generated content flattens or steepens measurably — a
    * one-number corpus-health gauge to trend per crawl snapshot.
    *
    * Shape: the token-count aggregation is the only corpus-scale
    * stage (one shuffle, map-side combined); the top-K cut is a
    * TakeOrdered (no full sort materialization), and the regression
    * runs over the BOUNDED top-K table — per-term x/y products are
    * rounded at 9 dp into exact decimal sums, the three closed-form
    * divisions happen once. Rank ties break by term code point, so the
    * ranking is total and engine-reproducible.
    */
  def zipfFit(docs: DataFrame, textCol: String, topK: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 10 && topK <= 100000, "topK in [10, 100000]")
    val vocab = docs
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(topK)
    val ranked = vocab.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("term"))))
    val x = log(col("rank").cast("double"))
    val y = log(col("n").cast("double"))
    def q9(c: Column): Column = round(c, 9).cast("decimal(28,9)")
    val k = col("_k").cast("double")
    val sx = col("_sx").cast("double"); val sy = col("_sy").cast("double")
    val sxx = col("_sxx").cast("double"); val syy = col("_syy").cast("double")
    val sxy = col("_sxy").cast("double")
    val slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    val r = (k * sxy - sx * sy) /
      (sqrt(k * sxx - sx * sx) * sqrt(k * syy - sy * sy))
    ranked
      .agg(count(lit(1)).as("_k"),
        sum(q9(x)).as("_sx"), sum(q9(y)).as("_sy"),
        sum(q9(x * x)).as("_sxx"), sum(q9(y * y)).as("_syy"),
        sum(q9(x * y)).as("_sxy"))
      .select(col("_k").as("k"),
        // `+ 0.0` signed-zero normalization: a flat-frequency vocabulary
        // degenerates the slope/intercept to ±ε exactly like
        // [[heapsCurve]]'s beta (see the NOTES ±0.0 checklist entry)
        (round(slope, 6) + lit(0.0)).as("zipf_slope"),
        (round((sy - slope * sx) / k, 6) + lit(0.0)).as("intercept"),
        round(r * r, 6).as("r_squared"))
  }

  /** Keyword topic tagging: explode [[tokens]], hash-join against the
    * broadcast (topic, keyword) table, count hits per (doc, topic),
    * and flag each doc's dominant topic — the curation-time router
    * that decides which domain bucket a crawl page feeds (the
    * token-boundary join does what a LIKE '%kw%' sweep cannot: "art"
    * never fires inside "partition"). Docs with zero keyword hits are
    * ABSENT from the output by design — emit-nothing beats a fake
    * "unknown" topic row that downstream budgets would count.
    *
    * Scale shape: the keyword table broadcasts (topics are
    * human-curated, never corpus-sized); the explode is a narrow
    * pipeline over the scan; ONE grouped aggregation collapses to
    * (doc, topic); the dominance window partitions by doc over that
    * doc's ≤|topics| rows. Ties break to the lexicographically first
    * topic so the pick is oracle-reproducible.
    */
  def topicTag(df: DataFrame, topics: Map[String, Seq[String]],
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(topics.nonEmpty, "topics must be non-empty")
    require(topics.values.forall(_.nonEmpty), "every topic needs keywords")
    val spark = df.sparkSession
    import spark.implicits._
    val kw = topics.toSeq
      .flatMap { case (t, ws) => ws.map(w => (t, w.toLowerCase)) }
      .toDF("topic", "_tok")
    import org.apache.spark.sql.expressions.Window
    val hits = df
      .select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("_tok"))
      .join(broadcast(kw), "_tok")
      .groupBy(col("doc_id"), col("topic"))
      .agg(count(lit(1)).as("hits"))
    val byDoc = Window.partitionBy("doc_id")
    val rank = Window.partitionBy("doc_id")
      .orderBy(col("hits").desc, col("topic").asc)
    hits
      .withColumn("share",
        round(col("hits").cast("double") /
          sum("hits").over(byDoc).cast("double"), 6))
      .withColumn("is_dominant", row_number().over(rank) === 1)
      .orderBy("doc_id", "topic")
  }

  /** Tokenizer fertility per language: subword units per whitespace
    * word ([[bpeishTokenCount]] / [[wsTokenCount]]) and characters per
    * subword — the multilingual curation dial. A language whose
    * fertility runs 2× the corpus mean pays 2× the training compute
    * per document; token budgets set in "documents" silently starve
    * it. One grouped aggregation of exact integer counts; ratios are
    * fixed-order doubles rounded 6 dp.
    */
  def tokenFertility(df: DataFrame, langCol: String = "lang",
                     textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val agg = df.filter(text.isNotNull)
      .groupBy(col(langCol).cast("string").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(wsTokenCount(text).cast("long")).as("ws_tokens"),
        sum(bpeishTokenCount(text).cast("long")).as("bpe_tokens"),
        sum(length(text).cast("long")).as("chars"))
    agg.select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("bpe_tokens"),
        round(col("bpe_tokens").cast("double") /
          nullif(col("ws_tokens").cast("double"), lit(0.0)), 6)
          .as("fertility"),
        round(col("chars").cast("double") /
          nullif(col("bpe_tokens").cast("double"), lit(0.0)), 6)
          .as("chars_per_token"))
      .orderBy("lang")
  }

  /** Heaps'-law vocabulary growth curve: cumulative distinct-term count
    * versus cumulative token count along the doc_id reading order,
    * sampled at `buckets` id-range checkpoints, with the power-law fit
    * V ≈ K·N^β (log-log least squares over the checkpoint table). The
    * corpus-health lens [[zipfFit]]'s frequency view can't give:
    * natural corpora grow vocabulary at β ≈ 0.4–0.6 — a β near 1 means
    * unbounded junk vocabulary (serial numbers, hashes), a β near 0
    * means the crawl is re-reading the same material.
    *
    * The prefix structure needs NO global sort: buckets are fixed
    * doc_id ranges (exact integer arithmetic from one min/max fold),
    * each term's first appearance is one min-aggregation, and the
    * cumulative sums are windows over the BUCKETS-row table. Everything
    * corpus-sized is a map-side-combined aggregation.
    */
  def heapsCurve(df: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id", buckets: Int = 20): DataFrame = {
    require(buckets >= 2, "need at least 2 checkpoints to fit a curve")
    import org.apache.spark.sql.expressions.Window
    val docs = df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    // one bounded fold for the id span (embedded as exact literals so
    // the bucket arithmetic is pure integer — no float boundary drift)
    val b = docs.agg(min(col(idCol)).as("lo"), max(col(idCol)).as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val span = hi - lo + 1
    val bucket = expr(s"CAST((($idCol - $lo) * $buckets) DIV $span AS INT) + 1")
    val perDoc = docs.select(col(idCol), bucket.as("_b"),
      size(tokens(col(textCol))).cast("long").as("_nt"),
      tokens(col(textCol)).as("_tk"))
    val tokTotals = perDoc.groupBy("_b").agg(sum("_nt").as("_tok"))
    val firstSeen = perDoc
      .select(col("_b"), explode(col("_tk")).as("_t")).distinct()
      .groupBy("_t").agg(min("_b").as("_fb"))
      .groupBy(col("_fb").as("_b")).agg(count(lit(1)).as("_new"))
    val w = Window.orderBy("_b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = tokTotals.join(firstSeen, Seq("_b"), "full_outer")
      .select(col("_b"), coalesce(col("_tok"), lit(0L)).as("_tok"),
        coalesce(col("_new"), lit(0L)).as("_new"))
      .withColumn("tokens_cum", sum("_tok").over(w))
      .withColumn("vocab_cum", sum("_new").over(w))
      .filter(col("tokens_cum") > 0 && col("vocab_cum") > 0)
    // log-log least squares over the bounded checkpoint table: each
    // point's lnN/lnV rounds at 9 dp, the moment sums fold exactly
    val pts = curve.select(col("_b"),
      round(log(col("tokens_cum").cast("double")), 9)
        .cast("decimal(18,9)").as("_x"),
      round(log(col("vocab_cum").cast("double")), 9)
        .cast("decimal(18,9)").as("_y"),
      col("tokens_cum"), col("vocab_cum"))
    val fit = pts.agg(count(lit(1)).as("_n"),
      sum("_x").as("_sx"), sum("_y").as("_sy"),
      sum(col("_x") * col("_y")).as("_sxy"),
      sum(col("_x") * col("_x")).as("_sxx"))
    val nD = col("_n").cast("double")
    val beta = (col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double") / nD) /
      (col("_sxx").cast("double") -
        col("_sx").cast("double") * col("_sx").cast("double") / nD)
    // `+ 0.0` normalizes IEEE signed zero: a flat-vocabulary corpus
    // leaves a ±ε float residue in the slope numerator, and two engines'
    // libm can land on OPPOSITE signs of it — round(−ε, 6) is −0.0 in
    // one and 0.0 in the other. −0.0 + 0.0 = +0.0 in IEEE 754, so both
    // engines publish the same zero. (Engine-parity checklist: NOTES.)
    pts.select(col("_b").as("bucket"), col("tokens_cum"), col("vocab_cum"))
      .crossJoin(broadcast(
        fit.select((round(beta, 6) + lit(0.0)).as("heaps_beta"))))
      .orderBy("bucket")
  }

  /** Canary-string sweep: find documents containing any of a known
    * list of planted canaries — the memorization-measurement loop's
    * other half (plant unique strings pre-training, sweep corpora and
    * model output for them later; Carlini et al.'s secret-sharer
    * protocol). Also the right tool for "is this known-leaked key in
    * our corpus" incident response.
    *
    * Shape: the canary list is a BROADCAST literal table crossed with
    * the corpus and filtered by a codegen'd `contains` — one narrow
    * scan, |canaries|× work per row, no shuffle. Returns one row per
    * (doc, canary) hit with the 1-based position.
    */
  def findCanaries(df: DataFrame, canaries: Seq[String],
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(canaries.nonEmpty, "canary list must be non-empty")
    require(canaries.forall(_.nonEmpty), "empty canary matches everything")
    val spark = df.sparkSession
    import spark.implicits._
    val cs = canaries.distinct.sorted.toDF("canary")
    df.select(col(idCol), col(textCol).as("_txt"))
      .crossJoin(broadcast(cs))
      .withColumn("position", instr(col("_txt"), col("canary")).cast("long"))
      .filter(col("position") > 0)
      .select(col(idCol), col("canary"), col("position"))
  }

  /** Credential/secret screen for crawl text — the curation gate that
    * keeps API keys, tokens, and private keys OUT of training data
    * (models memorize and regurgitate them). Candidates are unbroken
    * runs of ≥ `minLen` token-alphabet characters; each distinct
    * (doc, candidate) is classified by the first matching rule:
    *
    *   1. `prefix`: a known credential prefix (sk-, ghp_, gho_, xoxb-,
    *      xoxp-, AKIA, ASIA, ya29.) — prefix alone convicts, these
    *      namespaces are reserved for secrets;
    *   2. `hex`: ≥ 32 pure hex chars with Shannon entropy ≥
    *      `hexEntropy` bits/char (random keys sit near log₂16 = 4;
    *      repeated-pattern hex like deadbeef… falls below);
    *   3. `b64`: any candidate with entropy ≥ `b64Entropy` (random
    *      base64 sits near 5.3; natural-language runs far below).
    *
    * The flagged token is emitted MASKED (first 4 chars + length) —
    * a secrets report must not itself republish the secret.
    *
    * Entropy is replayable: each character-class term
    * −(c/n)·log₂(c/n) rounds at 9 dp before an exact decimal fold,
    * total rounds at 6 — the repo's standard two-stage float contract.
    * The fold is EXACT decimal, so its order is irrelevant and any
    * formulation (the oracle's grouped SQL, this operator's row-local
    * expression) lands on the same bits.
    *
    * Scale: ONE narrow scan + one candidate-set distinct. The
    * per-candidate entropy is a row-local higher-order expression
    * (array_distinct + per-class count over the ≤ token-length char
    * array) — no explode, no second shuffle; the first version
    * exploded characters into a grouped aggregation and the 10× probe
    * measured the (doc, tok, ch) shuffle as the dominant super-linear
    * cost.
    */
  def detectSecrets(df: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", minLen: Int = 20,
                    hexEntropy: Double = 3.0,
                    b64Entropy: Double = 4.0): DataFrame = {
    require(minLen >= 8, "minLen < 8 would flag ordinary words")
    val cands = df
      .select(col(idCol), explode(regexp_extract_all(col(textCol),
        lit(s"[A-Za-z0-9+/=_\\-]{$minLen,}"), lit(0))).as("tok"))
      .distinct()
    val chars = filter(split(col("tok"), ""), c => c =!= "")
    val nD = size(chars).cast("double")
    val terms = transform(array_distinct(chars), c => {
      val cnt = size(filter(chars, x => x === c)).cast("double")
      round(-(cnt / nD) * log2(cnt / nD), 9).cast("decimal(18,9)")
    })
    val entropy = round(aggregate(terms, lit(0).cast("decimal(28,9)"),
      (acc, t) => (acc + t).cast("decimal(28,9)")).cast("double"), 6)
    val ent = cands.withColumn("entropy", entropy)
    val isPrefix = col("tok")
      .rlike("^(sk-|ghp_|gho_|xoxb-|xoxp-|AKIA|ASIA|ya29\\.)")
    val isHex = col("tok").rlike("^[0-9a-fA-F]{32,}$") &&
      col("entropy") >= hexEntropy
    val reason = when(isPrefix, "prefix")
      .when(isHex, "hex")
      .when(col("entropy") >= b64Entropy, "b64")
    ent
      .withColumn("reason", reason)
      .filter(col("reason").isNotNull)
      .select(col(idCol),
        concat(substring(col("tok"), 1, 4), lit("***"),
          length(col("tok")).cast("string")).as("masked"),
        col("reason"), col("entropy"),
        length(col("tok")).cast("long").as("tok_len"))
  }

  /** Luhn checksum screen — the payment-card companion to
    * [[detectSecrets]]: every contiguous digit run of card length
    * (13–19 by default) in `textCol` is checked against the Luhn mod-10
    * digit scheme, and candidates come back MASKED (`****` + last 4 —
    * a screen must never re-emit the number it flagged). `luhn_valid`
    * separates real card-shaped leaks from phone numbers and order ids
    * that merely look long enough.
    *
    * Shape: a narrow codegen chain — regexp extraction, one bounded
    * explode (runs per document), and the checksum as a row-local
    * higher-order fold over at most 19 digits (the detectSecrets
    * lesson: never a character explode). All-integer arithmetic, so
    * engine parity is trivial. Digit runs are found WITHOUT lookarounds
    * ("[0-9]+" then a length filter) so RE2-based engines replay the
    * same candidate set.
    */
  def luhnScreen(df: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 minDigits: Int = 13, maxDigits: Int = 19): DataFrame = {
    require(minDigits >= 2 && maxDigits >= minDigits && maxDigits <= 64,
      "digit-run bounds must satisfy 2 <= min <= max <= 64")
    val runs = filter(
      regexp_extract_all(col(textCol), lit("[0-9]+"), lit(0)),
      r => length(r) >= minDigits && length(r) <= maxDigits)
    val cand = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(runs).as("_cand"))
    // Luhn: from the RIGHT, odd positions add as-is, even positions
    // double (minus 9 past 9); valid iff the total is divisible by 10
    val rev = reverse(col("_cand"))
    val total = aggregate(
      sequence(lit(1), length(col("_cand"))), lit(0),
      (acc, i) => {
        val d = ascii(rev.substr(i, lit(1))) - 48
        acc + when(i % 2 === 1, d)
          .otherwise(d * 2 - when(d > 4, 9).otherwise(0))
      })
    cand.select(col(idCol),
      concat(lit("****"), substring(col("_cand"), -4, 4)).as("masked"),
      length(col("_cand")).cast("long").as("n_digits"),
      (total % 10 === 0).as("luhn_valid"))
  }

  /** Mojibake screen: flags documents carrying the three classic
    * encoding-damage signatures — U+FFFD replacement characters (a
    * decoder already gave up), and the U+00C3/U+00C2 lead bytes that
    * appear when UTF-8 is re-decoded as Latin-1 ("Ã©" for "é"). Crawl
    * corpora are full of double-encoded pages; training on them teaches
    * the model mojibake. Counts are per-document and only flagged rows
    * return.
    *
    * Shape: row-local length-difference counting (translate) — no
    * explode, no window, no shuffle; the filter prunes clean documents
    * at the scan.
    */
  def mojibakeScreen(df: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nRepl = length(t) - length(translate(t, "\uFFFD", ""))
    val nMark = length(t) - length(translate(t, "\u00C3\u00C2", ""))
    df.filter(t.isNotNull)
      .select(col(idCol),
        nRepl.cast("long").as("n_replacement"),
        nMark.cast("long").as("n_latin1_marker"))
      .filter(col("n_replacement") > 0 || col("n_latin1_marker") > 0)
  }

  /** Interpolated Kneser\u2013Ney bigram model (Kneser & Ney 1995; Chen &
    * Goodman 1998 eq. 4.25) \u2014 the smoothing that actually works for
    * n-gram LMs, and the [[bigramSurprisal]] upgrade path: instead of
    * backing off to RAW unigram frequency (which overrates "Francisco"
    * \u2014 frequent but only ever after "San"), the continuation weight is
    * how many DISTINCT predecessors a word follows:
    *
    *   P(w2|w1) = max(c(w1w2)\u2212D, 0)/c(w1\u00B7)
    *            + D\u00B7N1+(w1\u00B7)/c(w1\u00B7) \u00B7 N1+(\u00B7w2)/N1+(\u00B7\u00B7)
    *
    * Returns the scored bigram-type table (w1, w2, c12, c1, n_follow,
    * n_prec, p_kn).
    *
    * Shape: ONE corpus-scale fold to the bigram-type table; c(w1\u00B7),
    * N1+(w1\u00B7), N1+(\u00B7w2) and the type total all fold FROM that table
    * (never a second corpus pass), then join back on the bigram keys \u2014
    * every stage keyed and distributed, nothing collected. p_kn is a
    * single fixed-order double expression over exact integer counts,
    * rounded at 6 dp.
    */
  def kneserNeyBigram(df: DataFrame, textCol: String = "text",
                      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, "discount in (0, 1)")
    val toks = df.select(tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 2)
    val bg = toks
      .select(posexplode(slice(col("tk"), lit(1), size(col("tk")) - 1)),
        col("tk"))
      .select(col("col").as("w1"),
        element_at(col("tk"), col("pos") + 2).as("w2"))
    // persist the bigram-type table: the three derived folds and the
    // final join must not EACH re-run the corpus tokenize+explode (the
    // kendallTau recompute lesson — this was a 4x corpus-scan plan).
    // The result localCheckpoints eagerly so the persist can release;
    // callers drop the pinned blocks with [[Materialize.release]] when
    // done.
    Materialize.within(bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))) { types =>
      val left = types.groupBy("w1")
        .agg(sum("c12").as("c1"), count(lit(1)).as("n_follow"))
      val right = types.groupBy("w2").agg(count(lit(1)).as("n_prec"))
      val total = types.agg(count(lit(1)).as("n_types"))
      val d = lit(discount)
      types.join(left, "w1").join(right, "w2")
        .crossJoin(broadcast(total))
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          col("n_follow"), col("n_prec"),
          round(
            greatest(col("c12").cast("double") - d, lit(0.0)) / col("c1") +
              d * col("n_follow").cast("double") / col("c1") *
                (col("n_prec").cast("double") / col("n_types")), 6)
            .as("p_kn"))
        .localCheckpoint(eager = true)
    }
  }

  /** Distinct-n diversity (Li et al. 2016's distinct-1/2/3): for each
    * n, the count of distinct n-grams over the count of n-gram tokens
    * corpus-wide — THE cheap mode-collapse detector for generated
    * corpora (a model looping on stock phrases craters distinct-2/3
    * long before any quality classifier notices). Returns one row per
    * n (n, total_ngrams, distinct_ngrams, distinct_ratio).
    *
    * Shape: one corpus pass per n (the n-gram projection is a narrow
    * codegen transform), each collapsing map-side to an n-gram count
    * table; the ratio is one rounded double division of exact counts.
    * Scale note: on a HIGH-ENTROPY corpus the distinct-gram table is
    * itself corpus-sized (distinct ratio → 1), so the exact count is an
    * unavoidable full shuffle (measured ~5x wall at 10x docs on random
    * text). That's intrinsic to exactness — at 100 TB run the HLL
    * sketch ([[graft.operators.Hll]]) over the same gram projection and
    * accept ~2% error on the ratio.
    */
  def distinctN(df: DataFrame, textCol: String = "text",
                ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 8),
      "n in [1, 8]")
    val spark = df.sparkSession
    ns.distinct.sorted.map { n =>
      val toks = df.select(tokens(col(textCol)).as("tk"))
        .filter(size(col("tk")) >= n)
      val grams =
        if (n == 1) toks.select(explode(col("tk")).as("g"))
        else toks.select(explode(transform(
          sequence(lit(0), size(col("tk")) - n),
          i => concat_ws(" ", slice(col("tk"), i + 1, lit(n))))).as("g"))
      grams.groupBy("g").agg(count(lit(1)).as("_c"))
        .agg(sum("_c").cast("long").as("total_ngrams"),
          count(lit(1)).as("distinct_ngrams"))
        .select(lit(n).as("n"), col("total_ngrams"),
          col("distinct_ngrams"),
          round(col("distinct_ngrams").cast("double") /
            col("total_ngrams"), 6).as("distinct_ratio"))
    }.reduce(_ unionByName _)
  }

  /** Term burstiness (Fano factor / index of dispersion of per-document
    * counts, zeros included): var(c)/mean(c) over all N docs. Content
    * words arrive in BURSTS (Fano ≫ 1 — a doc that says "transformer"
    * once says it ten times); function words are Poisson-ish (≈ 1).
    * The signal separates topical terms from glue for stopword lists
    * and keyword extraction without any language resource. Returns the
    * `topK` most frequent terms (deterministic ties toward the lexical
    * smaller) with their moments.
    *
    * Shape: one (doc, term) fold, one term fold, broadcast N — zeros
    * never materialize (the moment algebra over docs-containing plus
    * the known N is exact): mean = Σc/N,
    * var = (Σc² − (Σc)²/N)/(N−1) from exact integer sums.
    */
  def burstiness(df: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id", topK: Int = 50): DataFrame = {
    require(topK >= 1 && topK <= 10000, "topK in [1, 10000]")
    val nDocs = df.filter(col(textCol).isNotNull)
      .agg(count(lit(1)).as("_nd"))
    val perDoc = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("_c"))
    val perTerm = perDoc.groupBy("term")
      .agg(sum("_c").as("tf"), count(lit(1)).as("df"),
        sum(col("_c").cast("decimal(38,0)") * col("_c")).as("_c2"))
    val nD = col("_nd").cast("double")
    val mean = col("tf").cast("double") / nD
    val varNum = (col("_nd") * col("_c2") -
      (col("tf").cast("decimal(38,0)") * col("tf"))).cast("double")
    val variance = varNum / (nD * (nD - lit(1.0)))
    perTerm.crossJoin(broadcast(nDocs))
      .filter(col("_nd") >= 2)
      .select(col("term"), col("tf").cast("long").as("tf"),
        col("df").as("doc_freq"),
        round(mean, 6).as("mean_count"),
        round(variance, 6).as("var_count"),
        when(mean > 0, round(variance / mean, 6)).as("fano"))
      .orderBy(col("tf").desc, col("term"))
      .limit(topK)
  }

  /** Unicode-script profile: per document, the character mass in each
    * of the four highest-volume web scripts (basic Latin letters,
    * Cyrillic, CJK unified ideographs, Arabic) and the dominant script
    * \u2014 the char-level cross-check for an n-gram [[langId]] (language-ID
    * models are script-blind once text is mojibake'd or mixed; this
    * catches Cyrillic spam inside an "en" crawl slice). Counts use
    * explicit codepoint ranges (`\x{...}` class syntax that Java regex
    * and RE2 read identically \u2014 never named script properties, whose
    * tables drift across engines and Unicode versions).
    *
    * Shape: row-local regex length-difference counting \u2014 no explode,
    * no shuffle; `greatest`+`when` pick the dominant label with a fixed
    * precedence order on ties (latin > cyrillic > han > arabic).
    */
  def scriptProfile(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def cnt(pattern: String): Column =
      (length(t) - length(regexp_replace(t, pattern, ""))).cast("long")
    val latin = cnt("[A-Za-z]")
    val cyr = cnt("[\\x{0400}-\\x{04FF}]")
    val han = cnt("[\\x{4E00}-\\x{9FFF}]")
    val arab = cnt("[\\x{0600}-\\x{06FF}]")
    df.filter(t.isNotNull)
      .select(col(idCol), latin.as("n_latin"), cyr.as("n_cyrillic"),
        han.as("n_han"), arab.as("n_arabic"))
      .withColumn("dominant", {
        val mx = greatest(col("n_latin"), col("n_cyrillic"),
          col("n_han"), col("n_arabic"))
        when(mx === 0, lit("none"))
          .when(col("n_latin") === mx, lit("latin"))
          .when(col("n_cyrillic") === mx, lit("cyrillic"))
          .when(col("n_han") === mx, lit("han"))
          .otherwise(lit("arabic"))
      })
  }

  /** Dedup-grade URL canonicalization \u2014 [[normalizeUrl]] plus the two
    * transforms crawl dedup needs: tracking parameters dropped
    * (utm_*, fbclid, gclid \u2014 pure analytics noise that splits one page
    * into dozens of "distinct" URLs) and surviving query parameters
    * SORTED so `?a=1&b=2` and `?b=2&a=1` collapse. Fragments never
    * reach the server, so they drop with the query-string split.
    * Lookaround-free regexes and binary-collation sorts keep any
    * RE2-based engine bit-compatible.
    */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, urlSchemePattern, 1))
    val path = regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val qs = regexp_extract(url, "\\?([^#]*)", 1)
    val params = filter(split(qs, "&"), p =>
      p =!= "" && !p.rlike("^(utm_|fbclid|gclid)"))
    val sortedQ = array_join(array_sort(params), "&")
    when(scheme === "", url)
      .otherwise(concat(scheme, lit("://"), urlHost(url),
        when(path === "", lit("/")).otherwise(path),
        when(sortedQ === "", lit(""))
          .otherwise(concat(lit("?"), sortedQ))))
  }
}
