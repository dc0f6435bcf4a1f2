package graft

import graft.functions.{TokenArray, WordShingles}
import graft.operators._
import graft.sources.{FormatSide, MemorySide, ParquetSide}
import graft.types.TypeRender

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier-evaluation, distribution-distance, robust-stats and
  * graph-fingerprint registry (round-13 second wave; split out of
  * SparkEntry in r16).
  */
private[graft] object EvalRegistry {
  import Tables.t
  import RegistryFixtures._
  import SparkEntry.dmap

  /** Round-13 second wave: classifier-score evaluation (calibration,
    * Brier decomposition, threshold sweep, lift, WOE/IV), distribution
    * distances (Jensen-Shannon, 1-Wasserstein), robust group tests
    * (Brown-Forsythe, Cohen's d, higher moments, Mann-Kendall trend,
    * trimmed mean) and the degree-assortativity graph fingerprint.
    * The classifier queries share one deterministic convention with
    * q_auc: score = l_discount·10 ∈ [0, 1] (11 exact levels), label =
    * `l_returnflag = 'R'`.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = dmap(
    // ---- exact Bayesian A/B readout: P(arm B beats arm A) on the
    //      heavy-buyer outcome, Beta(1,1) priors, Cook's closed-form
    //      sum — one corpus fold to 4 counts, bounded driver math ----
    "q_bayes_ab" -> ((s, dir) =>
      Experiment.bayesianAB(perUserExperiment(s, dir), "arm",
        col("purchases") >= 14L, "A", "B")),

    // ---- ε-DP Laplace release of per-event-type user counts and
    //      clipped per-user purchase value (one row per privacy unit
    //      per group upstream, content-addressed seeded noise) ----
    "q_dp_release" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
      Privacy.dpRelease(perUser, "event_type", col("v"), epsilon = 1.0,
        clip = 100.0).orderBy("event_type")
    }),

    // ---- frequent contiguous event-type sequences (ordered bigrams +
    //      Apriori-pruned trigrams, distinct-user support >= 30%) ----
    "q_frequent_seqs" -> ((s, dir) =>
      EventAnalytics.frequentSequences(Tables.events(s, dir), minShare = 0.3)
        .orderBy("len", "seq")),

    // ---- rolling-origin forecast backtest: naive vs seasonal-naive
    //      MAE/sMAPE at horizons 1..7 on per-priority daily revenue ----
    "q_backtest" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("v"))
      Stats.backtestForecast(daily, "priority", "day", "v")
        .orderBy("priority", "model", "horizon")
    }),

    // ---- image EXIF header scan: planted doc-seeded EXIF JPEGs (both
    //      TIFF byte orders), real PNGs, and junk rows — dimensions +
    //      orientation from header bytes only, no pixel decode ----
    "q_image_exif" -> ((s, dir) => {
      val mkJpeg = udf((d: Long) => ExifHeader.syntheticExifJpeg(
        (d % 500 + 32).toInt, (d % 300 + 24).toInt, (d % 8 + 1).toInt,
        bigEndian = d % 2 == 0))
      val mkPng = udf((d: Long) => Multimodal.syntheticImage(d))
      val payloads = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, mkJpeg(col("doc_id")))
          .when(col("doc_id") % 3 === 1, mkPng(col("doc_id")))
          // 'x:' prefix: no image signature starts with 'x', so junk
          // rows can never alias a real container by text accident
          .otherwise(encode(concat(lit("x:"), col("text")), "UTF-8"))
          .as("payload"))
      Multimodal.imageExif(payloads).orderBy("doc_id")
    }),

    // ---- split-conformal next-step interval per priority: naive
    //      forecaster residuals calibrate the distribution-free
    //      ⌈(n+1)(1−α)⌉-th order-statistic half-width ----
    "q_conformal" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("v"))
      Stats.conformalInterval(daily, "priority", "day", "v",
        horizon = 1, alpha = 0.1).orderBy("priority")
    }),

    // ---- sorted-neighborhood ER: suffix-corrupted part names that
    //      equality blocking would lose (the corruption is at the END,
    //      so sort order keeps twins adjacent) ----
    "q_snm_match" -> ((s, dir) => {
      val clean = t(s, dir, "part").select(col("p_partkey").as("id"),
        concat(lower(col("p_name")), lit(" #"), col("p_partkey")).as("nm"))
      val dirty = clean.select((col("id") + lit(10000000L)).as("id"),
        when(col("id") % 5 === 0,
          concat(expr("substr(nm, 1, length(nm) - 1)"), lit("z")))
          .otherwise(col("nm")).as("nm"))
      FuzzyJoin.sortedNeighborhood(clean.unionByName(dirty), "id", "nm",
          window = 8, maxEdits = 1)
        .orderBy("id1", "id2")
    }),

    // ---- ε-DP histogram: Laplace-noised per-bin user counts over the
    //      event-value distribution (dpRelease composed over bins) ----
    "q_dp_histogram" -> ((s, dir) => {
      val binned = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("bin", least(greatest(
          floor(col("value") / 20.0), lit(0.0)), lit(5.0)).cast("long"))
        .groupBy(col("user_id"), col("bin"))
        .agg(count(lit(1)).as("n"))
      Privacy.dpRelease(binned, "bin", col("n"), epsilon = 1.0,
        clip = 50.0).orderBy(col("bin").cast("long"))
    }),

    // ---- Markov removal-effect attribution: first-conversion journeys
    //      to 'purchase', 60 fixed absorption iterations (round-9 per
    //      step) on the bounded collected chain ----
    "q_markov_attribution" -> ((s, dir) =>
      EventAnalytics.markovAttribution(Tables.events(s, dir), "purchase")
        .orderBy("channel")),

    // ---- credential screen over documents with planted secrets:
    //      doc_id % 11 gets a prefixed key, % 13 a 64-hex token; the
    //      natural corpus (max token 8 chars) yields no candidates ----
    "q_secrets_screen" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 11 === 0,
            concat(lit(" sk-"), md5(concat(lit("k:"),
              col("doc_id").cast("string"))))).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            concat(lit(" "), md5(concat(lit("h1:"),
              col("doc_id").cast("string"))), md5(concat(lit("h2:"),
              col("doc_id").cast("string"))))).otherwise(lit("")))
          .as("text"))
      TextAnalysis.detectSecrets(planted).orderBy("doc_id", "masked")
    }),

    // ---- Mahalanobis OOD screen: planted far-mode outliers on the
    //      embeddings table; top-k by d² is exactly the planted set ----
    "q_mahalanobis" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val dim = 64
      val far = udf((d: Long) =>
        Array.tabulate(dim)(i => if (i == (d % dim).toInt) 50.0f else 25.0f))
      val planted = emb.select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") % 97 === 0)
          .select((col("vec_id") + lit(2000000L)).as("vec_id"),
            far(col("vec_id")).as("embedding")))
      Similarity.mahalanobisScore(planted)
        .orderBy(col("mdist2").desc, col("vec_id"))
        .limit(emb.filter(col("vec_id") % 97 === 0).count().toInt)
        .select(col("vec_id")).orderBy("vec_id")
    }),

    // ---- Bradley–Terry ratings over "next event beats previous"
    //      preference pairs; 50 fixed MM iterations (round-9 per step)
    //      on the bounded collected pair table ----
    "q_bradley_terry" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val prefs = Tables.events(s, dir)
        .withColumn("_w", lead(col("event_type"), 1).over(w))
        .filter(col("_w").isNotNull && col("_w") =!= col("event_type"))
      Stats.bradleyTerry(prefs, "_w", "event_type").orderBy("item")
    }),

    // ---- budgeted mixture allocation: token budget = the corpus
    //      total, epoch cap 1.2 — the skewed shares force the de/fr/es
    //      caps to bind and re-spread onto en at every SF ----
    "q_budget_mix" -> ((s, dir) => {
      val avail = t(s, dir, "documents")
        .groupBy(col("lang").cast("string").as("lang"))
        .agg(sum(TextAnalysis.wsTokenCount(col("text")).cast("long"))
          .as("tok"))
      val total = avail.agg(sum("tok")).head().getLong(0).toDouble
      Sampling.allocateBudget(avail, "lang", col("tok"),
        Map("en" -> 0.25, "de" -> 0.35, "fr" -> 0.2, "es" -> 0.2),
        budget = total, maxEpochs = 1.2).orderBy("lang")
    }),

    // ---- canary sweep: planted memorization canaries on doc_id % 17,
    //      broadcast contains scan reports (doc, canary, position) ----
    "q_canary_sweep" -> ((s, dir) => {
      val canaries = Seq("CANARY-7f3a9c", "CANARY-b21e44", "CANARY-e99d01")
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" "),
            element_at(array(canaries.map(lit): _*),
              (col("doc_id") % 3 + 1).cast("int"))))
          .otherwise(col("text")).as("text"))
      TextAnalysis.findCanaries(planted, canaries).orderBy("doc_id")
    }),

    // ---- Heaps'-law vocabulary growth: 20 doc_id-range checkpoints,
    //      cumulative tokens vs distinct terms, log-log beta fit. The
    //      sf fixtures carry a CONSTANT 31-term vocabulary (vocab_cum
    //      flat → degenerate ±0 slope), so one synthetic unique token
    //      per document is planted (mirrored in the oracle) to give the
    //      fit real vocabulary growth to measure ----
    "q_heaps_law" -> ((s, dir) =>
      TextAnalysis.heapsCurve(
        t(s, dir, "documents").withColumn("text",
          concat(col("text"), lit(" zztok"), col("doc_id").cast("string"))),
        buckets = 20)),

    // ---- ε-DP p90 of event values via the exponential mechanism
    //      (Gumbel-max over the bounded distinct-value table) ----
    "q_dp_quantile" -> ((s, dir) =>
      Privacy.dpQuantile(Tables.events(s, dir), col("value"), q = 0.9,
        epsilon = 1.0)),

    // ---- disk-backed IVF index round trip: build (cell-partitioned
    //      postings + saved centroids), then search the planted twins
    //      through the PARTITION-PRUNED posting scan ----
    "q_ivf_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 4 === 0)
        .select("vec_id", "embedding")
      val twins = emb.select(col("vec_id").as("_oid"), col("embedding"))
        .select((col("_oid") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x * (lit(1.0) + lit(0.02) * sin(i.cast("double") + col("_oid").cast("double"))))
          .cast("array<float>").as("embedding"))
      val idx = java.nio.file.Files.createTempDirectory("q_ivf_index").toString
      Similarity.buildIvfIndex(emb.unionByName(twins), idx, nCells = 16)
      Similarity.searchIvfIndex(emb, idx, k = 1, nProbe = 4)
        .filter(col("rank") === 1)
        .select("query_id", "neighbor_id").orderBy("query_id")
    }),

    // ---- multi-pass SNM: suffix twins (%5=0) for pass 1, prefix twins
    //      (%5=1) that ONLY the reversed-key pass can seat adjacent ----
    "q_snm_multipass" -> ((s, dir) => {
      val clean = t(s, dir, "part").select(col("p_partkey").as("id"),
        concat(lower(col("p_name")), lit(" #"), col("p_partkey")).as("nm"))
      val dirty = clean.select((col("id") + lit(10000000L)).as("id"),
        when(col("id") % 5 === 0,
          concat(expr("substr(nm, 1, length(nm) - 1)"), lit("z")))
          .when(col("id") % 5 === 1,
            concat(lit("x"), expr("substr(nm, 2)")))
          .otherwise(col("nm")).as("nm"))
      FuzzyJoin.sortedNeighborhoodMultiPass(clean.unionByName(dirty),
          "id", "nm", window = 8, maxEdits = 1)
        .orderBy("id1", "id2")
    }),

    // ---- windowed ε-DP release (batch mode of the streaming twin):
    //      hourly per-event-type DP counts of per-user activity ----
    "q_dp_windowed" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("ts"),
          col("event_type"))
        .agg(count(lit(1)).cast("double").as("v"))
      graft.streaming.DpOps.dpWindowedRelease(perUser, "event_type",
          col("v"), epsilon = 1.0, clip = 20.0, streaming = false)
        .orderBy("window_start", "event_type")
    }),

    // ---- Jensen-Shannon divergence of the event-type mix between the
    //      even- and odd-user halves (zero-cell-safe drift score) ----
    "q_js_divergence" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Stats.jsDivergence(ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 === 1), "event_type")
    }),

    // ---- 1-Wasserstein distance between click and purchase value
    //      distributions on the distinct 2-dp value grid ----
    "q_wasserstein" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      Stats.wasserstein1(ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"), "value")
    }),

    // ---- Brown-Forsythe equal-variance test on event values by type
    //      (ANOVA on |v − lower-median_g|) ----
    "q_brown_forsythe" -> ((s, dir) =>
      Stats.brownForsythe(Tables.events(s, dir).filter(col("value").isNotNull),
        "event_type", "value")),

    // ---- Cohen's d / Hedges' g effect sizes for every event-type pair ----
    "q_cohens_d" -> ((s, dir) =>
      Stats.cohensD(Tables.events(s, dir), "event_type", "value")
        .orderBy("g1", "g2")),

    // ---- mean/variance/skewness/kurtosis of extended price by
    //      return flag (two-pass centered moments, quantized folds) ----
    "q_moments" -> ((s, dir) =>
      Stats.moments(t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag")),

    // ---- Mann-Kendall trend test on the daily order-count series
    //      (bounded: 2399 day buckets; pair join guarded) ----
    "q_mann_kendall" -> ((s, dir) =>
      Stats.mannKendall(
        t(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n_orders")),
        "day", "n_orders")),

    // ---- 10 %-trimmed mean of extended price per return flag (exact
    //      tie-splitting overlap arithmetic on the distinct-value grid) ----
    "q_trimmed_mean" -> ((s, dir) =>
      Stats.trimmedMean(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", alpha = 0.1)
        .orderBy("l_returnflag")),

    // ---- degree assortativity of the supplier–part incidence graph
    //      (part ids offset to their own node namespace) ----
    "q_assortativity" -> ((s, dir) =>
      Graph.assortativity(
        t(s, dir, "lineitem").select(col("l_suppkey").as("src"),
          (col("l_partkey") + 1000000L).as("dst")))),

    // ---- calibration table of the discount score vs returned-flag
    //      rate over 10 equal-width bins ----
    "q_calibration" -> ((s, dir) =>
      Eval.calibration(
          t(s, dir, "lineitem").withColumn("score", col("l_discount") * 10),
          "score", col("l_returnflag") === "R")
        .orderBy("bin")),

    // ---- Brier score + Murphy reliability/resolution/uncertainty
    //      decomposition of the same score ----
    "q_brier" -> ((s, dir) =>
      Eval.brierDecomposition(
        t(s, dir, "lineitem").withColumn("score", col("l_discount") * 10),
        "score", col("l_returnflag") === "R")),

    // ---- confusion-matrix sweep over an 11-point threshold grid;
    //      corpus collapses once to the 11 score levels ----
    "q_threshold_metrics" -> ((s, dir) =>
      Eval.thresholdMetrics(
          t(s, dir, "lineitem").withColumn("score", col("l_discount") * 10),
          "score", col("l_returnflag") === "R",
          (0 to 10).map(_ / 10.0))
        .orderBy("threshold")),

    // ---- cumulative gains/lift by descending score level ----
    "q_lift_table" -> ((s, dir) =>
      Eval.liftTable(
          t(s, dir, "lineitem").withColumn("score", col("l_discount") * 10),
          "score", col("l_returnflag") === "R")
        .orderBy(col("score").desc)),

    // ---- weight of evidence / information value of order priority
    //      against the fulfilled-status outcome ----
    "q_woe_iv" -> ((s, dir) =>
      Eval.weightOfEvidence(t(s, dir, "orders"), "o_orderpriority",
          col("o_orderstatus") === "F")
        .orderBy("category")),

    // ---- graded-relevance retrieval metrics: mean nDCG@5 / MRR@5 /
    //      MAP@5 over per-order ranked lists (ranking by price desc,
    //      graded relevance from quantity mod 4; one query-key
    //      exchange serves both windows and the groupBy) ----
    "q_retrieval_metrics" -> ((s, dir) =>
      Eval.retrievalMetrics(
        t(s, dir, "lineitem")
          .withColumn("rel", col("l_quantity").cast("long") % 4),
        "l_orderkey", "l_linenumber", "l_extendedprice", "rel", k = 5)),

    // ---- rank-biased overlap between the price-ranked and the
    //      size-ranked top-50 parts (top-weighted ranking drift;
    //      TakeOrdered both sides, bounded grid after) ----
    "q_rbo" -> ((s, dir) =>
      Eval.rankBiasedOverlap(t(s, dir, "part"), "p_partkey",
        "p_retailprice", "p_size", depth = 50, p = 0.9)),

    // ---- Zipf-law fit over the top-500 vocabulary (slope/intercept/R²
    //      on the bounded ranked table; tie-broken by code point) ----
    "q_zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(t(s, dir, "documents"), "text", topK = 500)),

    // ---- 14-day rolling correlation between daily click and purchase
    //      counts (exact decimal frame sums on the day-bucket table) ----
    "q_rolling_corr" -> ((s, dir) =>
      Stats.rollingCorrelation(dailyClickPurchase(s, dir),
          "day", "clicks", "purchases", windowSize = 14)
        .orderBy("day")),

    // ---- cross-correlation of the same pair at lags −5..5 ----
    "q_ccf" -> ((s, dir) =>
      Stats.crossCorrelation(dailyClickPurchase(s, dir),
          "day", "clicks", "purchases", maxLag = 5)
        .orderBy("lag")),

    // ---- Gini coefficient of order value by priority class ----
    "q_gini" -> ((s, dir) =>
      Stats.gini(t(s, dir, "orders"), "o_orderpriority", "o_totalprice")
        .orderBy("o_orderpriority")),

    // ---- Lorenz-curve deciles of order value: the plot-ready
    //      companion to q_gini (share of total revenue held by the
    //      poorest k/10 of orders) ----
    "q_lorenz" -> ((s, dir) =>
      Stats.lorenzCurve(t(s, dir, "orders"), "o_totalprice", 10)
        .orderBy("point")),

    // ---- Atkinson(ε=0.5) inequality of order value: the welfare-
    //      weighted companion to q_gini/q_theil (√ is IEEE-exact, so
    //      the index replays bit-for-bit) ----
    "q_atkinson" -> ((s, dir) =>
      Stats.atkinsonIndex(t(s, dir, "orders"), "o_totalprice")),

    // ---- Herfindahl-Hirschman concentration of the documents corpus
    //      over sources: "is the training mix dominated by one
    //      domain" in one row ----
    "q_hhi" -> ((s, dir) =>
      Stats.hhi(t(s, dir, "documents"), "source")),

    // ---- CR_2 concentration: share of documents held by the two
    //      largest sources — the headline number next to q_hhi. Named
    //      q_concentration_RATIO: the bare name belongs to the r13
    //      per-nation HHI+Gini query, which this entry silently
    //      shadowed out of the r14 gate until dmerge made duplicate
    //      names a hard failure ----
    "q_concentration_ratio" -> ((s, dir) =>
      Stats.concentrationRatio(t(s, dir, "documents"), "source", 2)),

    // ---- Durbin-Watson lag-1 serial correlation of daily purchase
    //      revenue: ~2 = independent days, <2 = momentum ----
    "q_durbin_watson" -> ((s, dir) =>
      Stats.durbinWatson(
        Tables.events(s, dir).filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("rev")),
        "day", "rev")),

    // ---- Page-Hinkley upward-shift alarm on the same daily revenue
    //      series (delta 0, lambda 50): the batch replay of a
    //      sequential drift monitor ----
    "q_page_hinkley" -> ((s, dir) =>
      Stats.pageHinkley(
        Tables.events(s, dir).filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("rev")),
        "day", "rev")),

    // ---- median/MAD robust z-scores of event values by type (bounded
    //      probe slice so the output stays inspectable) ----
    "q_robust_scale" -> ((s, dir) =>
      Stats.robustScale(
          Tables.events(s, dir).filter(col("event_id") < 2000),
          "event_id", "event_type", "value")
        .orderBy("event_id"))
  )

  def oracles: Map[String, String] = dmap(
    "q_bradley_terry" -> btOracleSql,

    // both SNM passes replayed as ONE unified pass block over a
    // (pass, key-variant) union; levenshtein is reversal-invariant so
    // pass-2 distances are the same numbers, and full-row DISTINCT is
    // the dedup (keys are determined by the ids)
    "q_snm_multipass" ->
      """WITH clean AS (SELECT p_partkey AS id,
        |    lower(p_name) || ' #' || CAST(p_partkey AS VARCHAR) AS nm
        |  FROM part),
        |dirty AS (SELECT id + 10000000 AS id,
        |    CASE WHEN id % 5 = 0
        |        THEN substr(nm, 1, length(nm) - 1) || 'z'
        |      WHEN id % 5 = 1 THEN 'x' || substr(nm, 2)
        |      ELSE nm END AS nm
        |  FROM clean),
        |base AS (SELECT id, nm FROM clean
        |  UNION ALL SELECT id, nm FROM dirty),
        |keyed AS (SELECT 1 AS pass, id, nm AS k FROM base
        |  UNION ALL SELECT 2, id, reverse(nm) FROM base),
        |rk AS (SELECT pass, id, k, substr(k, 1, 3) AS rng,
        |    row_number() OVER (PARTITION BY pass, substr(k, 1, 3)
        |      ORDER BY k, id) AS rn
        |  FROM keyed),
        |cand AS (SELECT a.pass, a.id AS ida, a.k AS ka, b.id AS idb,
        |    b.k AS kb, levenshtein(a.k, b.k) AS dist
        |  FROM rk a JOIN rk b ON a.pass = b.pass AND a.rng = b.rng
        |    AND b.rn - a.rn BETWEEN 1 AND 7
        |  WHERE abs(length(a.k) - length(b.k)) <= 1),
        |hits AS (SELECT
        |    CASE WHEN ida > idb THEN idb ELSE ida END AS id1,
        |    CASE WHEN ida > idb THEN ida ELSE idb END AS id2,
        |    CASE WHEN pass = 2
        |      THEN reverse(CASE WHEN ida > idb THEN kb ELSE ka END)
        |      ELSE CASE WHEN ida > idb THEN kb ELSE ka END END AS key1,
        |    CASE WHEN pass = 2
        |      THEN reverse(CASE WHEN ida > idb THEN ka ELSE kb END)
        |      ELSE CASE WHEN ida > idb THEN ka ELSE kb END END AS key2,
        |    CAST(dist AS BIGINT) AS dist
        |  FROM cand WHERE dist <= 1)
        |SELECT DISTINCT id1, id2, key1, key2, dist FROM hits
        |ORDER BY id1, id2""".stripMargin,

    // windowed Laplace replay: hour buckets via date_trunc (the same
    // epoch-aligned starts as window('ts','1 hour')), seeds keyed on
    // (salt, epoch seconds, group)
    "q_dp_windowed" ->
      """WITH pu AS (SELECT user_id,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, event_type,
        |    CAST(count(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |g AS (SELECT h AS ws, event_type AS grp, count(*) AS n,
        |    sum(least(greatest(coalesce(CAST(v AS DECIMAL(18,6)), 0), 0),
        |      CAST(20.0 AS DECIMAL(18,6)))) AS s
        |  FROM pu GROUP BY 1, 2),
        |u AS (SELECT ws, grp, n, s,
        |    'dpw:' || CAST(CAST(epoch(ws) AS BIGINT) AS VARCHAR) || ':'
        |      || grp AS sd
        |  FROM g),
        |d AS (SELECT ws, grp, n, s,
        |    (CAST(CAST(('0x' || substr(md5(sd || ':c'), 1, 15)) AS BIGINT)
        |      AS DOUBLE) + 0.5) / 1152921504606846976.0 - 0.5 AS uc,
        |    (CAST(CAST(('0x' || substr(md5(sd || ':s'), 1, 15)) AS BIGINT)
        |      AS DOUBLE) + 0.5) / 1152921504606846976.0 - 0.5 AS us
        |  FROM u)
        |SELECT ws AS window_start, grp AS event_type,
        |  round(CAST(n AS DOUBLE) +
        |    (-2.0) * sign(uc) * ln(1.0 - 2.0 * abs(uc)), 6) AS noisy_count,
        |  round(CAST(s AS DOUBLE) +
        |    (-40.0) * sign(us) * ln(1.0 - 2.0 * abs(us)), 6) AS noisy_sum
        |FROM d ORDER BY window_start, event_type""".stripMargin,

    // planted truth (same construction as q_planted_ivf): each query's
    // nearest neighbor through the disk index is its +1M scaled twin
    "q_ivf_index" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id
        |FROM embeddings WHERE vec_id % 4 = 0
        |ORDER BY query_id""".stripMargin,

    // Heaps replay: same integer bucket arithmetic (// is exact), same
    // token mirror, per-point ln rounded 9 into exact decimal moments.
    // The planted per-doc token and the `+ 0.0` signed-zero normalizer
    // mirror the Spark side (see q_heaps_law query comment).
    "q_heaps_law" ->
      s"""WITH pd AS (SELECT doc_id,
        |    text || ' zztok' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
        |    FROM pd WHERE text IS NOT NULL),
        |d AS (SELECT doc_id,
        |    CAST(((doc_id - (SELECT lo FROM b)) * 20) //
        |      ((SELECT hi FROM b) - (SELECT lo FROM b) + 1) AS INTEGER)
        |      + 1 AS bk,
        |    $toksSql AS tk
        |  FROM pd WHERE text IS NOT NULL),
        |tok AS (SELECT bk, CAST(sum(len(tk)) AS BIGINT) AS tkn
        |  FROM d GROUP BY 1),
        |tms AS (SELECT DISTINCT bk, unnest(tk) AS term FROM d),
        |fs AS (SELECT term, min(bk) AS fb FROM tms GROUP BY 1),
        |nw AS (SELECT fb AS bk, count(*) AS nt FROM fs GROUP BY 1),
        |cur AS (SELECT coalesce(tok.bk, nw.bk) AS bk,
        |    coalesce(tkn, 0) AS tkn, coalesce(nt, 0) AS nt
        |  FROM tok FULL OUTER JOIN nw ON tok.bk = nw.bk),
        |cum AS (SELECT bk,
        |    CAST(sum(tkn) OVER (ORDER BY bk) AS BIGINT) AS tokens_cum,
        |    CAST(sum(nt) OVER (ORDER BY bk) AS BIGINT) AS vocab_cum
        |  FROM cur),
        |pts AS (SELECT bk, tokens_cum, vocab_cum,
        |    CAST(round(ln(CAST(tokens_cum AS DOUBLE)), 9)
        |      AS DECIMAL(18,9)) AS x,
        |    CAST(round(ln(CAST(vocab_cum AS DOUBLE)), 9)
        |      AS DECIMAL(18,9)) AS y
        |  FROM cum WHERE tokens_cum > 0 AND vocab_cum > 0),
        |fit AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx FROM pts)
        |SELECT bk AS bucket, tokens_cum, vocab_cum,
        |  round((CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) /
        |    (CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n), 6) + 0.0
        |    AS heaps_beta
        |FROM pts, fit ORDER BY bucket""".stripMargin,

    // DP-quantile replay: same exclusive-below ranks, exact-decimal
    // q·n target, same md5-seeded Gumbel draw keyed on the value's
    // shortest-roundtrip string (values are 2-dp in [0, 561): both
    // engines render them identically)
    "q_dp_quantile" ->
      """WITH vals AS (SELECT CAST(value AS DOUBLE) AS v, count(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |g AS (SELECT count(*) AS bins, CAST(sum(c) AS BIGINT) AS n
        |  FROM vals),
        |w AS (SELECT v, coalesce(sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS below FROM vals),
        |s AS (SELECT v, -0.5 * CAST(abs(CAST(below AS DECIMAL(28,6)) -
        |      CAST(0.9 AS DECIMAL(18,6)) * (SELECT n FROM g))
        |      AS DOUBLE) +
        |    (-ln(-ln((CAST(CAST(('0x' ||
        |      substr(md5('dpq:' || CAST(v AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0)))
        |    AS score
        |  FROM w)
        |SELECT v AS dp_quantile, (SELECT n FROM g) AS n,
        |  (SELECT bins FROM g) AS n_bins
        |FROM s ORDER BY score DESC, v LIMIT 1""".stripMargin,

    // waterfill replay: same normalized shares, same cap/share sort,
    // same prefix-scan threshold, budget = the corpus token total
    "q_budget_mix" ->
      """WITH avail AS (SELECT CAST(lang AS VARCHAR) AS lang,
        |    CAST(sum(len(list_filter(string_split(text, ' '),
        |      x -> x <> ''))) AS BIGINT) AS tok
        |  FROM documents GROUP BY 1),
        |b AS (SELECT CAST(sum(tok) AS DOUBLE) AS budget FROM avail),
        |sh AS (SELECT * FROM (VALUES ('en', 0.25), ('de', 0.35),
        |    ('fr', 0.2), ('es', 0.2)) t(lang, sraw)),
        |shn AS (SELECT lang, sraw / (SELECT sum(sraw) FROM sh) AS share
        |  FROM sh),
        |base AS (SELECT a.lang, CAST(a.tok AS DOUBLE) AS avail, shn.share
        |  FROM avail a LEFT JOIN shn ON a.lang = shn.lang),
        |pos AS (SELECT lang, avail, share, avail * 1.2 AS cap,
        |    avail * 1.2 / share AS r
        |  FROM base WHERE share IS NOT NULL),
        |scan AS (SELECT *, row_number() OVER w AS rn,
        |    coalesce(sum(cap) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0.0) AS capb,
        |    coalesce(sum(share) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0.0) AS shb,
        |    sum(share) OVER () AS sht
        |  FROM pos WINDOW w AS (ORDER BY r, lang)),
        |tc AS (SELECT *, ((SELECT budget FROM b) - capb) / (sht - shb)
        |    AS t FROM scan),
        |ts AS (SELECT min_by(t, rn) AS tstar FROM tc WHERE t < r),
        |alloc AS (SELECT lang, avail, share, cap,
        |    CASE WHEN (SELECT tstar FROM ts) IS NULL THEN cap
        |      ELSE least(share * (SELECT tstar FROM ts), cap) END AS al
        |  FROM tc
        |  UNION ALL SELECT lang, avail, 0.0, avail * 1.2, 0.0
        |  FROM base WHERE share IS NULL)
        |SELECT lang, CAST(avail AS BIGINT) AS avail,
        |  round(share, 6) AS share, CAST(floor(cap) AS BIGINT) AS cap_tokens,
        |  round(al, 6) AS alloc_tokens,
        |  round(al / avail, 6) AS epochs, al >= cap AS capped
        |FROM alloc ORDER BY lang""".stripMargin,

    // planted truth: position is 1-based just past the appended space
    "q_canary_sweep" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER)
        |    WHEN 0 THEN 'CANARY-7f3a9c' WHEN 1 THEN 'CANARY-b21e44'
        |    ELSE 'CANARY-e99d01' END AS canary,
        |  CAST(length(text) + 2 AS BIGINT) AS position
        |FROM documents WHERE doc_id % 17 = 0 ORDER BY doc_id""".stripMargin,

    // Cook's closed-form sum replayed with DuckDB's lgamma (the operator
    // uses exact Σln k prefix sums; both are exact to ~1e-13, reconciled
    // by the 6 dp rounding); correlated generate_series walks i=0..αB−1
    "q_bayes_ab" ->
      """WITH pu AS (SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY 1),
        |t AS (SELECT
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND conv = 1 THEN 1 ELSE 0
        |      END) AS BIGINT) AS s_a,
        |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN user_id % 2 <> 0 AND conv = 1 THEN 1 ELSE 0
        |      END) AS BIGINT) AS s_b
        |  FROM pu),
        |p AS (SELECT *, s_a + 1 AS aa, n_a - s_a + 1 AS ba,
        |    s_b + 1 AS ab2, n_b - s_b + 1 AS bb FROM t),
        |terms AS (SELECT p.*, exp(
        |      (lgamma(aa + i) + lgamma(ba + bb) - lgamma(aa + i + ba + bb))
        |      - ln(bb + i)
        |      - (lgamma(1 + i) + lgamma(bb) - lgamma(1 + i + bb))
        |      - (lgamma(aa) + lgamma(ba) - lgamma(aa + ba))) AS term
        |  FROM p JOIN generate_series(0, 100000000) AS g(i)
        |    ON g.i < p.ab2)
        |SELECT n_a, s_a, n_b, s_b,
        |  round(CAST(aa AS DOUBLE) / (aa + ba), 6) AS post_mean_a,
        |  round(CAST(ab2 AS DOUBLE) / (ab2 + bb), 6) AS post_mean_b,
        |  round(sum(term), 6) AS p_b_beats_a
        |FROM terms GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin,

    // Laplace replay: same md5-derived uniform in (-1/2, 1/2), same
    // inverse-CDF draw, exact decimal clipped sums, 6 dp both sides
    "q_dp_release" ->
      """WITH pu AS (SELECT user_id, event_type AS grp,
        |    sum(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT grp, count(*) AS n,
        |    sum(least(greatest(coalesce(CAST(v AS DECIMAL(18,6)), 0), 0),
        |      CAST(100.0 AS DECIMAL(18,6)))) AS s
        |  FROM pu GROUP BY 1),
        |u AS (SELECT grp, n, s,
        |    (CAST(CAST(('0x' || substr(md5('dp:' || grp || ':c'), 1, 15))
        |      AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0 - 0.5
        |      AS uc,
        |    (CAST(CAST(('0x' || substr(md5('dp:' || grp || ':s'), 1, 15))
        |      AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0 - 0.5
        |      AS us
        |  FROM g)
        |SELECT grp AS event_type,
        |  round(CAST(n AS DOUBLE) +
        |    (-2.0) * sign(uc) * ln(1.0 - 2.0 * abs(uc)), 6) AS noisy_count,
        |  round(CAST(s AS DOUBLE) +
        |    (-200.0) * sign(us) * ln(1.0 - 2.0 * abs(us)), 6) AS noisy_sum
        |FROM u ORDER BY event_type""".stripMargin,

    // sequence truth: same (ts, event_id)-ordered leads, distinct-user
    // support, same ceil(share·users) threshold; no prune needed — the
    // Apriori prune is lossless (see FrequentSequencesSpec)
    "q_frequent_seqs" ->
      """WITH seq AS (SELECT user_id, event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM events WINDOW w AS (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |nu AS (SELECT count(DISTINCT user_id) AS nusers FROM events),
        |b AS (SELECT t1 || '>' || t2 AS seq, 2 AS len,
        |    count(DISTINCT user_id) AS n_users
        |  FROM seq WHERE t2 IS NOT NULL GROUP BY 1
        |  HAVING count(DISTINCT user_id) >=
        |    (SELECT ceil(0.3 * nusers) FROM nu)),
        |tr AS (SELECT t1 || '>' || t2 || '>' || t3 AS seq, 3 AS len,
        |    count(DISTINCT user_id) AS n_users
        |  FROM seq WHERE t3 IS NOT NULL GROUP BY 1
        |  HAVING count(DISTINCT user_id) >=
        |    (SELECT ceil(0.3 * nusers) FROM nu))
        |SELECT * FROM b UNION ALL SELECT * FROM tr
        |ORDER BY len, seq""".stripMargin,

    // backtest truth: same exact-decimal daily fold, same 7 lags over
    // (priority, day), sMAPE terms rounded 9 dp before the decimal
    // fold, MAE/sMAPE one double division rounded 6 dp
    "q_backtest" ->
      """WITH daily AS (SELECT o_orderpriority AS priority,
        |    CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v
        |  FROM orders GROUP BY 1, 2),
        |lagd AS (SELECT priority, CAST(v AS DECIMAL(18,6)) AS y,
        |    CAST(lag(v, 1) OVER w AS DECIMAL(18,6)) AS f1,
        |    CAST(lag(v, 2) OVER w AS DECIMAL(18,6)) AS f2,
        |    CAST(lag(v, 3) OVER w AS DECIMAL(18,6)) AS f3,
        |    CAST(lag(v, 4) OVER w AS DECIMAL(18,6)) AS f4,
        |    CAST(lag(v, 5) OVER w AS DECIMAL(18,6)) AS f5,
        |    CAST(lag(v, 6) OVER w AS DECIMAL(18,6)) AS f6,
        |    CAST(lag(v, 7) OVER w AS DECIMAL(18,6)) AS f7
        |  FROM daily WINDOW w AS (PARTITION BY priority ORDER BY day)),
        |ex AS (SELECT priority, 'naive' AS model, h.h AS horizon, y,
        |    CASE h.h WHEN 1 THEN f1 WHEN 2 THEN f2 WHEN 3 THEN f3
        |      WHEN 4 THEN f4 WHEN 5 THEN f5 WHEN 6 THEN f6
        |      ELSE f7 END AS f
        |  FROM lagd, (VALUES (1),(2),(3),(4),(5),(6),(7)) h(h)
        |  UNION ALL
        |  SELECT priority, 'snaive', h.h, y, f7
        |  FROM lagd, (VALUES (1),(2),(3),(4),(5),(6),(7)) h(h)),
        |terms AS (SELECT priority, model, horizon, abs(y - f) AS ae,
        |    CASE WHEN abs(y) + abs(f) = 0 THEN CAST(0 AS DECIMAL(18,9))
        |      ELSE CAST(round(2.0 * CAST(abs(y - f) AS DOUBLE) /
        |        CAST(abs(y) + abs(f) AS DOUBLE), 9) AS DECIMAL(18,9))
        |      END AS st
        |  FROM ex WHERE f IS NOT NULL)
        |SELECT priority, model, horizon, count(*) AS n,
        |  round(CAST(sum(ae) AS DOUBLE) / count(*), 6) AS mae,
        |  round(CAST(sum(st) AS DOUBLE) / count(*), 6) AS smape
        |FROM terms GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // Markov attribution replay: same first-conversion journeys, same
    // round-6 transition probs, the SAME 60 absorption iterations with
    // per-(scenario, state) round-9 — a recursive CTE whose iterate is
    // the operator's definition (not an approximation of a limit)
    "q_markov_attribution" ->
      """WITH RECURSIVE
        |ev AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events WHERE event_type IS NOT NULL),
        |fc AS (SELECT user_id, min(rn) AS cv FROM ev
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |j AS (SELECT ev.user_id, ev.rn, ev.event_type AS t, fc.cv
        |  FROM ev LEFT JOIN fc ON ev.user_id = fc.user_id
        |  WHERE fc.cv IS NULL OR ev.rn < fc.cv),
        |m AS (SELECT user_id, rn, t, cv,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
        |  FROM j),
        |alltr AS (
        |  SELECT 'START' AS f, min_by(t, rn) AS tos FROM j GROUP BY user_id
        |  UNION ALL SELECT t, nxt FROM m WHERE nxt IS NOT NULL
        |  UNION ALL SELECT t,
        |    CASE WHEN cv IS NOT NULL THEN 'CONV' ELSE 'NULL' END
        |  FROM m WHERE nxt IS NULL
        |  UNION ALL SELECT 'START', 'CONV' FROM fc
        |  WHERE user_id NOT IN (SELECT DISTINCT user_id FROM j)),
        |cnt AS (SELECT f, tos, count(*) AS n FROM alltr GROUP BY 1, 2),
        |trans AS (
        |  SELECT f, tos, round(CAST(n AS DOUBLE) /
        |      sum(n) OVER (PARTITION BY f), 6) AS p FROM cnt
        |  UNION ALL SELECT 'CONV', 'CONV', CAST(1.0 AS DOUBLE)
        |  UNION ALL SELECT 'NULL', 'NULL', CAST(1.0 AS DOUBLE)),
        |scen AS (SELECT 'NONE' AS c UNION ALL SELECT DISTINCT t FROM j),
        |it AS (
        |  SELECT 0 AS i, c, 'CONV' AS s, CAST(1.0 AS DOUBLE) AS v
        |  FROM scen
        |  UNION ALL
        |  SELECT it.i + 1, it.c, t.f AS s, round(sum(t.p * it.v), 9) AS v
        |  FROM it JOIN trans t ON t.tos = it.s
        |  WHERE it.i < 60 AND it.s <> it.c
        |  GROUP BY 1, 2, 3),
        |res AS (SELECT c,
        |    coalesce(max(CASE WHEN s = 'START' THEN v END), 0.0) AS p
        |  FROM it WHERE i = 60 GROUP BY c),
        |base AS (SELECT p AS pn FROM res WHERE c = 'NONE'),
        |ef AS (SELECT c AS channel, (SELECT pn FROM base) - p AS eff
        |  FROM res WHERE c <> 'NONE'),
        |tot AS (SELECT sum(eff) AS se FROM ef),
        |nc AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_conv
        |  FROM cnt WHERE tos = 'CONV')
        |SELECT ef.channel,
        |  CASE WHEN b.pn > 0 THEN round(ef.eff / b.pn, 6) END
        |    AS removal_effect,
        |  CASE WHEN t.se <> 0 THEN round(ef.eff / t.se, 6) END AS share,
        |  CASE WHEN t.se <> 0 THEN round(ef.eff / t.se * nc.n_conv, 6) END
        |    AS attributed,
        |  round(b.pn, 6) AS p_conv, nc.n_conv AS n_conversions
        |FROM ef, base b, tot t, nc ORDER BY channel""".stripMargin,

    // secrets replay: same planted tokens, same candidate regex, same
    // per-char entropy terms rounded 9 before the exact decimal fold,
    // same rule precedence and masking
    "q_secrets_screen" ->
      """WITH d AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 11 = 0
        |      THEN ' sk-' || md5('k:' || CAST(doc_id AS VARCHAR))
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0
        |      THEN ' ' || md5('h1:' || CAST(doc_id AS VARCHAR))
        |        || md5('h2:' || CAST(doc_id AS VARCHAR))
        |      ELSE '' END AS text
        |  FROM documents),
        |cand AS (SELECT DISTINCT doc_id,
        |    unnest(regexp_extract_all(text,
        |      '[A-Za-z0-9+/=_\-]{20,}')) AS tok FROM d),
        |ch AS (SELECT doc_id, tok, unnest(string_split(tok, '')) AS c
        |  FROM cand),
        |cc AS (SELECT doc_id, tok, c, count(*) AS k FROM ch
        |  WHERE c <> '' GROUP BY 1, 2, 3),
        |tt AS (SELECT doc_id, tok, k,
        |    sum(k) OVER (PARTITION BY doc_id, tok) AS nt FROM cc),
        |ent AS (SELECT doc_id, tok,
        |    round(CAST(sum(CAST(round(
        |      -(CAST(k AS DOUBLE) / nt) * log2(CAST(k AS DOUBLE) / nt), 9)
        |      AS DECIMAL(18,9))) AS DOUBLE), 6) AS entropy
        |  FROM tt GROUP BY 1, 2),
        |cls AS (SELECT doc_id, tok, entropy,
        |    CASE
        |      WHEN regexp_matches(tok,
        |        '^(sk-|ghp_|gho_|xoxb-|xoxp-|AKIA|ASIA|ya29\.)')
        |        THEN 'prefix'
        |      WHEN regexp_matches(tok, '^[0-9a-fA-F]{32,}$')
        |        AND entropy >= 3.0 THEN 'hex'
        |      WHEN entropy >= 4.0 THEN 'b64'
        |    END AS reason
        |  FROM ent)
        |SELECT doc_id,
        |  substr(tok, 1, 4) || '***' || CAST(length(tok) AS VARCHAR)
        |    AS masked,
        |  reason, entropy, CAST(length(tok) AS BIGINT) AS tok_len
        |FROM cls WHERE reason IS NOT NULL
        |ORDER BY doc_id, masked""".stripMargin,

    // planted truth: the contaminated modes sit ~25 raw units from a
    // unit-scale cloud — the top-k Mahalanobis set is exactly them
    "q_mahalanobis" ->
      """SELECT vec_id + 2000000 AS vec_id FROM embeddings
        |WHERE vec_id % 97 = 0 ORDER BY vec_id""".stripMargin,

    // conformal truth: same exact-decimal residuals, same
    // ceil((n+1)·0.9)-th order statistic (rank in exact decimal), same
    // max_by last value; short keys are omitted by the rank join
    "q_conformal" ->
      """WITH daily AS (SELECT o_orderpriority AS priority,
        |    CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT priority, CAST(v AS DECIMAL(18,6)) AS y,
        |    CAST(lag(v, 1) OVER (PARTITION BY priority ORDER BY day)
        |      AS DECIMAL(18,6)) AS f
        |  FROM daily),
        |res AS (SELECT priority, abs(y - f) AS e FROM r
        |  WHERE f IS NOT NULL),
        |kt AS (SELECT priority, count(*) AS n_calib,
        |    CAST(ceil((count(*) + 1) * CAST(0.9 AS DECIMAL(18,6)))
        |      AS BIGINT) AS k
        |  FROM res GROUP BY 1),
        |rk AS (SELECT priority, e,
        |    row_number() OVER (PARTITION BY priority ORDER BY e) AS rn
        |  FROM res),
        |q AS (SELECT rk.priority, kt.n_calib, rk.e AS qh
        |  FROM rk JOIN kt ON rk.priority = kt.priority AND rk.rn = kt.k),
        |lastv AS (SELECT priority,
        |    CAST(max_by(v, day) AS DECIMAL(18,6)) AS fc
        |  FROM daily GROUP BY 1),
        |cov AS (SELECT res.priority,
        |    sum(CASE WHEN res.e <= q.qh THEN 1 ELSE 0 END) AS c
        |  FROM res JOIN q ON res.priority = q.priority GROUP BY 1)
        |SELECT q.priority, q.n_calib,
        |  CAST(l.fc AS DOUBLE) AS forecast,
        |  CAST(q.qh AS DOUBLE) AS q_hat,
        |  CAST(l.fc - q.qh AS DOUBLE) AS lo,
        |  CAST(l.fc + q.qh AS DOUBLE) AS hi,
        |  round(CAST(cov.c AS DOUBLE) / q.n_calib, 6) AS coverage
        |FROM q JOIN lastv l ON q.priority = l.priority
        |JOIN cov ON q.priority = cov.priority
        |ORDER BY q.priority""".stripMargin,

    // SNM truth: same prefix ranges, same (key, id) rank order, same
    // <= window-1 rank offsets, same length prefilter + edit kernel,
    // pairs canonicalized by ascending id
    "q_snm_match" ->
      """WITH clean AS (SELECT p_partkey AS id,
        |    lower(p_name) || ' #' || CAST(p_partkey AS VARCHAR) AS nm
        |  FROM part),
        |dirty AS (SELECT id + 10000000 AS id,
        |    CASE WHEN id % 5 = 0
        |      THEN substr(nm, 1, length(nm) - 1) || 'z' ELSE nm END AS nm
        |  FROM clean),
        |base AS (SELECT id, nm, substr(nm, 1, 3) AS rng FROM clean
        |  UNION ALL SELECT id, nm, substr(nm, 1, 3) FROM dirty),
        |rk AS (SELECT id, nm, rng,
        |    row_number() OVER (PARTITION BY rng ORDER BY nm, id) AS rn
        |  FROM base),
        |cand AS (SELECT a.id AS ida, a.nm AS nma, b.id AS idb,
        |    b.nm AS nmb, levenshtein(a.nm, b.nm) AS dist
        |  FROM rk a JOIN rk b ON a.rng = b.rng
        |    AND b.rn - a.rn BETWEEN 1 AND 7
        |  WHERE abs(length(a.nm) - length(b.nm)) <= 1)
        |SELECT CASE WHEN ida > idb THEN idb ELSE ida END AS id1,
        |  CASE WHEN ida > idb THEN ida ELSE idb END AS id2,
        |  CASE WHEN ida > idb THEN nmb ELSE nma END AS key1,
        |  CASE WHEN ida > idb THEN nma ELSE nmb END AS key2,
        |  CAST(dist AS BIGINT) AS dist
        |FROM cand WHERE dist <= 1 ORDER BY id1, id2""".stripMargin,

    // DP histogram replay: same bins, same per-(user, bin) fold, same
    // md5-seeded Laplace draws keyed by the bin string
    "q_dp_histogram" ->
      """WITH pu AS (SELECT user_id,
        |    CAST(least(greatest(floor(value / 20.0), 0.0), 5.0)
        |      AS BIGINT) AS bin, count(*) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT CAST(bin AS VARCHAR) AS grp, count(*) AS n,
        |    sum(least(greatest(coalesce(CAST(n AS DECIMAL(18,6)), 0), 0),
        |      CAST(50.0 AS DECIMAL(18,6)))) AS s
        |  FROM pu GROUP BY 1),
        |u AS (SELECT grp, n, s,
        |    (CAST(CAST(('0x' || substr(md5('dp:' || grp || ':c'), 1, 15))
        |      AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0 - 0.5
        |      AS uc,
        |    (CAST(CAST(('0x' || substr(md5('dp:' || grp || ':s'), 1, 15))
        |      AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0 - 0.5
        |      AS us
        |  FROM g)
        |SELECT grp AS bin,
        |  round(CAST(n AS DOUBLE) +
        |    (-2.0) * sign(uc) * ln(1.0 - 2.0 * abs(uc)), 6) AS noisy_count,
        |  round(CAST(s AS DOUBLE) +
        |    (-100.0) * sign(us) * ln(1.0 - 2.0 * abs(us)), 6) AS noisy_sum
        |FROM u ORDER BY CAST(bin AS BIGINT)""".stripMargin,

    // planted truth: EXIF parameters are pure doc_id arithmetic; PNG
    // rows are the 36×32 synthetic image (no EXIF → NULL orientation);
    // junk rows parse to all-NULL
    "q_image_exif" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'jpeg'
        |       WHEN doc_id % 3 = 1 THEN 'png' END AS format,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 500 + 32 AS INTEGER)
        |       WHEN doc_id % 3 = 1 THEN 36 END AS width,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 300 + 24 AS INTEGER)
        |       WHEN doc_id % 3 = 1 THEN 32 END AS height,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 8 + 1 AS INTEGER)
        |       END AS orientation
        |FROM documents ORDER BY doc_id""".stripMargin,
    // per-category JSD halves rounded at 9 dp before the decimal fold;
    // ln 2 embedded as the shared shortest-roundtrip literal
    "q_js_divergence" ->
      s"""WITH r AS (SELECT event_type AS c, count(*) AS rn FROM events
        |    WHERE user_id % 2 = 0 AND event_type IS NOT NULL GROUP BY 1),
        |  c AS (SELECT event_type AS c, count(*) AS cn FROM events
        |    WHERE user_id % 2 = 1 AND event_type IS NOT NULL GROUP BY 1),
        |  j AS (SELECT coalesce(r.rn, 0) AS rn, coalesce(c.cn, 0) AS cn
        |    FROM r FULL JOIN c ON r.c = c.c),
        |  tot AS (SELECT CAST(sum(rn) AS BIGINT) AS rt,
        |      CAST(sum(cn) AS BIGINT) AS ct FROM j),
        |  terms AS (SELECT rn, cn, rt, ct,
        |      CASE WHEN rn > 0 THEN round(
        |          (CAST(rn AS DOUBLE) / CAST(rt AS DOUBLE)) *
        |          ln((CAST(rn AS DOUBLE) / CAST(rt AS DOUBLE)) /
        |            ((CAST(rn AS DOUBLE) / CAST(rt AS DOUBLE) +
        |              CAST(cn AS DOUBLE) / CAST(ct AS DOUBLE)) / 2.0)) / 2.0,
        |          9) ELSE 0.0 END
        |      + CASE WHEN cn > 0 THEN round(
        |          (CAST(cn AS DOUBLE) / CAST(ct AS DOUBLE)) *
        |          ln((CAST(cn AS DOUBLE) / CAST(ct AS DOUBLE)) /
        |            ((CAST(rn AS DOUBLE) / CAST(rt AS DOUBLE) +
        |              CAST(cn AS DOUBLE) / CAST(ct AS DOUBLE)) / 2.0)) / 2.0,
        |          9) ELSE 0.0 END AS term
        |    FROM j, tot)
        |SELECT max(rt) AS n_ref, max(ct) AS n_cur, count(*) AS n_cats,
        |  round(CAST(sum(CAST(term AS DECIMAL(18,9))) AS DOUBLE), 6) AS jsd,
        |  round(CAST(sum(CAST(term AS DECIMAL(18,9))) AS DOUBLE) /
        |    ${math.log(2.0)}, 6) AS jsd_norm
        |FROM terms""".stripMargin,

    // gap terms |ΔCDF|·gap rounded at 9 dp on the union value grid
    "q_wasserstein" ->
      """WITH rv AS (SELECT CAST(value AS DECIMAL(18,2)) AS v, count(*) AS rn
        |    FROM events WHERE event_type = 'click' AND value IS NOT NULL
        |    GROUP BY 1),
        |  cv AS (SELECT CAST(value AS DECIMAL(18,2)) AS v, count(*) AS cn
        |    FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        |    GROUP BY 1),
        |  j AS (SELECT coalesce(rv.v, cv.v) AS v, coalesce(rn, 0) AS rn,
        |      coalesce(cn, 0) AS cn
        |    FROM rv FULL JOIN cv ON rv.v = cv.v),
        |  tot AS (SELECT CAST(sum(rn) AS BIGINT) AS rt,
        |      CAST(sum(cn) AS BIGINT) AS ct FROM j),
        |  w AS (SELECT v, rn, cn, rt, ct,
        |      sum(rn) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
        |      sum(cn) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
        |      lead(v) OVER (ORDER BY v) AS nxt
        |    FROM j, tot),
        |  terms AS (SELECT rt, ct,
        |      CASE WHEN nxt IS NOT NULL THEN CAST(round(
        |        abs(CAST(cr AS DOUBLE) / CAST(rt AS DOUBLE) -
        |            CAST(cc AS DOUBLE) / CAST(ct AS DOUBLE)) *
        |        CAST(nxt - v AS DOUBLE), 9) AS DECIMAL(18,9)) END AS term
        |    FROM w)
        |SELECT max(rt) AS n_ref, max(ct) AS n_cur, count(*) AS n_values,
        |  round(coalesce(CAST(sum(term) AS DOUBLE), 0.0), 6) AS wasserstein1
        |FROM terms""".stripMargin,

    // lower inverse-CDF median per group, exact decimal |v − med|,
    // then the identical quantize-then-fold ANOVA tail as q_anova
    "q_brown_forsythe" ->
      """WITH base AS (SELECT event_type AS g, CAST(value AS DECIMAL(18,2)) AS v
        |    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |  gv AS (SELECT g, v, count(*) AS cnt FROM base GROUP BY 1, 2),
        |  cumt AS (SELECT g, v,
        |      sum(cnt) OVER (PARTITION BY g ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      sum(cnt) OVER (PARTITION BY g) AS n FROM gv),
        |  med AS (SELECT g, min(v) AS med FROM cumt WHERE cum * 2 >= n
        |    GROUP BY g),
        |  z AS (SELECT base.g, CAST(abs(base.v - med.med) AS DECIMAL(18,6)) AS v
        |    FROM base JOIN med ON base.g = med.g),
        |  gz AS (SELECT g, count(*) AS n_g, sum(v) AS s_g,
        |      sum(v * v) AS q_g FROM z GROUP BY 1),
        |  a AS (SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |      sum(s_g) AS s, sum(q_g) AS q,
        |      sum(CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) /
        |        CAST(n_g AS DOUBLE), 6) AS DECIMAL(38,6))) AS terms
        |    FROM gz),
        |  b AS (SELECT k, n,
        |      CAST(terms AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |        CAST(n AS DOUBLE) AS ssb,
        |      CAST(q AS DOUBLE) - CAST(terms AS DOUBLE) AS ssw,
        |      CAST(k AS DOUBLE) AS kd, CAST(n AS DOUBLE) AS nd FROM a)
        |SELECT k, n, round(ssb, 4) AS ss_between, round(ssw, 4) AS ss_within,
        |  round((ssb / (kd - 1.0)) / (ssw / (nd - kd)), 6) AS bf_stat,
        |  round(ssb / (ssb + ssw), 6) AS eta_sq
        |FROM b""".stripMargin,

    // exact decimal moments per group cast to double once; identical
    // fixed-order pooled-SD / d / J arithmetic
    "q_cohens_d" ->
      """WITH g AS (SELECT event_type AS g, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
        |    CAST(sum(CAST(value AS DECIMAL(18,6)) *
        |      CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS q
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |p AS (SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2,
        |    CAST(a.n AS DOUBLE) AS nd1, CAST(b.n AS DOUBLE) AS nd2,
        |    a.s AS s1, b.s AS s2, a.q AS q1, b.q AS q2
        |  FROM g a JOIN g b ON a.g < b.g),
        |v AS (SELECT g1, g2, n1, n2, nd1, nd2, s1, s2,
        |    (q1 - s1 * s1 / nd1) / (nd1 - 1.0) AS v1,
        |    (q2 - s2 * s2 / nd2) / (nd2 - 1.0) AS v2 FROM p),
        |d AS (SELECT g1, g2, n1, n2,
        |    (s1 / nd1 - s2 / nd2) /
        |      sqrt(((nd1 - 1.0) * v1 + (nd2 - 1.0) * v2) /
        |        (nd1 + nd2 - 2.0)) AS d,
        |    1.0 - 3.0 / (4.0 * (nd1 + nd2) - 9.0) AS j FROM v)
        |SELECT g1, g2, n1, n2, round(d, 6) AS cohens_d,
        |  round(d * j, 6) AS hedges_g
        |FROM d ORDER BY g1, g2""".stripMargin,

    // two-pass centered moments: exact mean join-back, per-row powers
    // rounded at 6 dp into exact decimal sums
    "q_moments" ->
      """WITH base AS (SELECT l_returnflag AS g,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v FROM lineitem
        |    WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
        |  m AS (SELECT g, count(*) AS n,
        |      CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
        |    FROM base GROUP BY 1),
        |  c AS (SELECT base.g, m.n, m.mean, CAST(base.v AS DOUBLE) - m.mean AS d
        |    FROM base JOIN m ON base.g = m.g),
        |  s AS (SELECT g, n, mean,
        |      sum(CAST(round(d * d, 6) AS DECIMAL(38,6))) AS s2,
        |      sum(CAST(round(d * d * d, 6) AS DECIMAL(38,6))) AS s3,
        |      sum(CAST(round(d * d * d * d, 6) AS DECIMAL(38,6))) AS s4
        |    FROM c GROUP BY 1, 2, 3),
        |  f AS (SELECT g, n, mean,
        |      CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
        |      CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS m3,
        |      CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS m4 FROM s)
        |SELECT g AS l_returnflag, n, round(mean, 6) AS mean,
        |  round(m2, 6) AS variance,
        |  round(m3 / power(m2, 1.5), 6) AS skewness,
        |  round(m4 / (m2 * m2) - 3.0, 6) AS ex_kurtosis
        |FROM f ORDER BY l_returnflag""".stripMargin,

    // O(n²) pair join on the bounded day-bucket table; integer S and
    // tie sums; continuity-corrected Z once on the single row
    "q_mann_kendall" ->
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS t,
        |    CAST(count(*) AS DECIMAL(18,6)) AS v FROM orders GROUP BY 1),
        |  n AS (SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd FROM s),
        |  pairs AS (SELECT CAST(sum(CAST(sign(b.v - a.v) AS BIGINT))
        |      AS BIGINT) AS s_stat
        |    FROM s a JOIN s b ON a.t < b.t),
        |  ties AS (SELECT CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT)
        |      AS tsum
        |    FROM (SELECT count(*) AS tc FROM s GROUP BY v)),
        |  vv AS (SELECT n.n, pairs.s_stat,
        |      (nd * (nd - 1.0) * (2.0 * nd + 5.0) -
        |        CAST(ties.tsum AS DOUBLE)) / 18.0 AS var_s
        |    FROM n, pairs, ties)
        |SELECT n, s_stat, round(var_s, 6) AS var_s,
        |  round(CASE WHEN s_stat > 0
        |      THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
        |    WHEN s_stat < 0
        |      THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
        |    ELSE 0.0 END, 6) AS z
        |FROM vv""".stripMargin,

    // rank-interval overlap with the kept window is exact integer
    // arithmetic; ⌊αn⌋ is the identical IEEE double product floored
    "q_trimmed_mean" ->
      """WITH gv AS (SELECT l_returnflag AS g,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v, count(*) AS cnt
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (SELECT g, v, cnt,
        |    coalesce(sum(cnt) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev,
        |    sum(cnt) OVER (PARTITION BY g) AS n FROM gv),
        |k AS (SELECT g, v, cnt, cumprev, n,
        |    CAST(floor(CAST(n AS DOUBLE) * 0.1) AS BIGINT) AS lo FROM w),
        |o AS (SELECT g, v, n, lo,
        |    greatest(0, least(cumprev + cnt, n - lo) -
        |      greatest(cumprev, lo)) AS kept FROM k)
        |SELECT g AS l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |  max(lo) AS n_trimmed_each, CAST(sum(kept) AS BIGINT) AS n_kept,
        |  round(CAST(sum(v * kept) AS DOUBLE) /
        |    CAST(sum(kept) AS DOUBLE), 6) AS trimmed_mean
        |FROM o GROUP BY g ORDER BY l_returnflag""".stripMargin,

    // symmetrize + distinct, integer-decimal moment sums, one Pearson
    "q_assortativity" ->
      """WITH e0 AS (SELECT l_suppkey AS src, l_partkey + 1000000 AS dst
        |    FROM lineitem),
        |  und AS (SELECT src, dst FROM e0
        |    UNION SELECT dst AS src, src AS dst FROM e0),
        |  deg AS (SELECT src, CAST(count(*) AS DECIMAL(12,0)) AS deg
        |    FROM und GROUP BY src),
        |  p AS (SELECT dx.deg AS dx, dy.deg AS dy FROM und
        |    JOIN deg dx ON und.src = dx.src
        |    JOIN deg dy ON und.dst = dy.src),
        |  a AS (SELECT CAST(count(*) AS DOUBLE) AS m, count(*) AS mi,
        |      CAST(sum(dx) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
        |      CAST(sum(dx * dx) AS DOUBLE) AS sxx,
        |      CAST(sum(dy * dy) AS DOUBLE) AS syy,
        |      CAST(sum(dx * dy) AS DOUBLE) AS sxy FROM p)
        |SELECT CAST(CAST(mi AS DOUBLE) / 2 AS BIGINT) AS n_edges,
        |  round((m * sxy - sx * sy) /
        |    (sqrt(m * sxx - sx * sx) * sqrt(m * syy - sy * sy)), 6) + 0.0
        |    AS assortativity
        |FROM a""".stripMargin,

    // equal-width bins on the exact decimal score; top edge closed
    "q_calibration" ->
      """WITH b AS (SELECT
        |    least(CAST(floor(CAST(l_discount * 10 AS DECIMAL(9,6)) * 10)
        |      AS BIGINT), 9) AS bin,
        |    CAST(l_discount * 10 AS DECIMAL(9,6)) AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem WHERE l_discount IS NOT NULL)
        |SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
        |  round(CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS mean_score,
        |  round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS pos_rate
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // Murphy decomposition over the calibration bins + exact decimal
    // Brier sum; wb_var reports the within-bin variance gap
    "q_brier" ->
      """WITH b AS (SELECT
        |    least(CAST(floor(CAST(l_discount * 10 AS DECIMAL(9,6)) * 10)
        |      AS BIGINT), 9) AS bin,
        |    CAST(l_discount * 10 AS DECIMAL(9,6)) AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem WHERE l_discount IS NOT NULL),
        |  tot AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS pos,
        |      sum(CAST(s - y AS DECIMAL(12,6)) *
        |        CAST(s - y AS DECIMAL(12,6))) AS bsum,
        |      CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ybar
        |    FROM b),
        |  bins AS (SELECT bin, count(*) AS bn,
        |      round(CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |        AS mean_score,
        |      round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |        AS pos_rate
        |    FROM b GROUP BY bin),
        |  dec AS (SELECT
        |      CAST(sum(CAST(round(CAST(bn AS DOUBLE) *
        |        (mean_score - pos_rate) * (mean_score - pos_rate) /
        |        CAST(tot.n AS DOUBLE), 9) AS DECIMAL(18,9))) AS DOUBLE)
        |        AS rel,
        |      CAST(sum(CAST(round(CAST(bn AS DOUBLE) *
        |        (pos_rate - tot.ybar) * (pos_rate - tot.ybar) /
        |        CAST(tot.n AS DOUBLE), 9) AS DECIMAL(18,9))) AS DOUBLE)
        |        AS res
        |    FROM bins, tot GROUP BY tot.n, tot.ybar)
        |SELECT tot.n, round(CAST(bsum AS DOUBLE) / CAST(tot.n AS DOUBLE), 6)
        |    AS brier,
        |  round(rel, 6) AS reliability, round(res, 6) AS resolution,
        |  round(ybar * (1.0 - ybar), 6) AS uncertainty,
        |  round(CAST(bsum AS DOUBLE) / CAST(tot.n AS DOUBLE) -
        |    (rel - res + ybar * (1.0 - ybar)), 6) AS wb_var
        |FROM tot, dec""".stripMargin,

    // corpus collapses once to 11 score levels; the sweep is a bounded
    // levels × thresholds cross join
    "q_threshold_metrics" ->
      """WITH lv AS (SELECT CAST(l_discount * 10 AS DECIMAL(9,6)) AS s,
        |    count(*) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos
        |  FROM lineitem WHERE l_discount IS NOT NULL GROUP BY 1),
        |  thr AS (SELECT CAST(t AS DECIMAL(9,6)) AS threshold
        |    FROM unnest([0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8,
        |      0.9, 1.0]) AS u(t)),
        |  cm AS (SELECT threshold,
        |      CAST(sum(CASE WHEN s >= threshold THEN pos ELSE 0 END)
        |        AS BIGINT) AS tp,
        |      CAST(sum(CASE WHEN s >= threshold THEN n - pos ELSE 0 END)
        |        AS BIGINT) AS fp,
        |      CAST(sum(CASE WHEN s < threshold THEN pos ELSE 0 END)
        |        AS BIGINT) AS fn,
        |      CAST(sum(CASE WHEN s < threshold THEN n - pos ELSE 0 END)
        |        AS BIGINT) AS tn
        |    FROM lv, thr GROUP BY threshold)
        |SELECT CAST(threshold AS DOUBLE) AS threshold, tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0 THEN round(CAST(tp AS DOUBLE) /
        |    CAST(tp + fp AS DOUBLE), 6) END AS "precision",
        |  CASE WHEN tp + fn > 0 THEN round(CAST(tp AS DOUBLE) /
        |    CAST(tp + fn AS DOUBLE), 6) END AS recall,
        |  CASE WHEN tp > 0 THEN round(
        |      2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)) *
        |        (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)) /
        |        (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) +
        |          CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)), 6)
        |    WHEN tp + fp + fn > 0 THEN 0.0 END AS f1,
        |  round(CAST(tp + tn AS DOUBLE) /
        |    CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy
        |FROM cm ORDER BY threshold""".stripMargin,

    // cumulative windows over the distinct score table, descending
    "q_lift_table" ->
      """WITH lv AS (SELECT CAST(l_discount * 10 AS DECIMAL(9,6)) AS score,
        |    count(*) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pos
        |  FROM lineitem WHERE l_discount IS NOT NULL GROUP BY 1),
        |  w AS (SELECT score, n, n_pos,
        |      sum(n) OVER (ORDER BY score DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
        |      sum(n_pos) OVER (ORDER BY score DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
        |      sum(n) OVER () AS tn, sum(n_pos) OVER () AS tp
        |    FROM lv)
        |SELECT CAST(score AS DOUBLE) AS score, n, n_pos,
        |  round(CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS depth,
        |  round(CAST(cp AS DOUBLE) / CAST(tp AS DOUBLE), 6) AS gain,
        |  round((CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)) /
        |    (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 6) AS lift
        |FROM w ORDER BY score DESC""".stripMargin,

    // zero-mass categories get NULL WOE, excluded from IV, counted
    "q_woe_iv" ->
      """WITH c AS (SELECT o_orderpriority AS category, count(*) AS n,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pos
        |  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1),
        |  w AS (SELECT category, n, n_pos, n - n_pos AS n_neg,
        |      sum(n_pos) OVER () AS tp, sum(n - n_pos) OVER () AS tn
        |    FROM c),
        |  x AS (SELECT category, n, n_pos, n_neg,
        |      CASE WHEN n_pos > 0 AND n_neg > 0 THEN round(
        |        ln((CAST(n_pos AS DOUBLE) / CAST(tp AS DOUBLE)) /
        |           (CAST(n_neg AS DOUBLE) / CAST(tn AS DOUBLE))), 6) END
        |        AS woe,
        |      CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN round(
        |        (CAST(n_pos AS DOUBLE) / CAST(tp AS DOUBLE) -
        |         CAST(n_neg AS DOUBLE) / CAST(tn AS DOUBLE)) *
        |        ln((CAST(n_pos AS DOUBLE) / CAST(tp AS DOUBLE)) /
        |           (CAST(n_neg AS DOUBLE) / CAST(tn AS DOUBLE))), 9)
        |        ELSE 0.0 END AS DECIMAL(18,9)) AS iv_term
        |    FROM w)
        |SELECT category, n, n_pos, n_neg, woe,
        |  round(CAST(sum(iv_term) OVER () AS DOUBLE), 6) AS iv_total,
        |  CAST(sum(CASE WHEN woe IS NULL THEN 1 ELSE 0 END) OVER ()
        |    AS BIGINT) AS n_excluded
        |FROM x ORDER BY category""".stripMargin,

    // ranking by score desc with item-id tiebreak on BOTH engines; DCG
    // terms and per-query ratios rounded at 9 dp before decimal sums;
    // no-relevant queries contribute 0 (not excluded)
    "q_retrieval_metrics" ->
      """WITH base AS (SELECT l_orderkey AS q, l_linenumber AS item,
        |    CAST(l_extendedprice AS DOUBLE) AS s,
        |    CAST(l_quantity AS BIGINT) % 4 AS rel
        |  FROM lineitem),
        |  r AS (SELECT q, item, s, rel,
        |      row_number() OVER (PARTITION BY q ORDER BY s DESC, item) AS rk,
        |      row_number() OVER (PARTITION BY q ORDER BY rel DESC, item) AS irk,
        |      sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY q ORDER BY s DESC, item
        |              ROWS UNBOUNDED PRECEDING) AS cumrel,
        |      sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY q) AS totrel
        |    FROM base),
        |  per AS (SELECT q,
        |      sum(CASE WHEN rk <= 5 THEN CAST(round(
        |          (pow(2, rel) - 1) / log2(rk + 1), 9) AS DECIMAL(18,9))
        |        ELSE CAST(0 AS DECIMAL(18,9)) END) AS dcg,
        |      sum(CASE WHEN irk <= 5 THEN CAST(round(
        |          (pow(2, rel) - 1) / log2(irk + 1), 9) AS DECIMAL(18,9))
        |        ELSE CAST(0 AS DECIMAL(18,9)) END) AS idcg,
        |      sum(CASE WHEN rel > 0 AND rk <= 5 THEN CAST(round(
        |          CAST(cumrel AS DOUBLE) / rk, 9) AS DECIMAL(18,9))
        |        ELSE CAST(0 AS DECIMAL(18,9)) END) AS apsum,
        |      min(CASE WHEN rel > 0 AND rk <= 5 THEN rk END) AS minrk,
        |      max(totrel) AS totrel
        |    FROM r GROUP BY q),
        |  perq AS (SELECT
        |      CAST(CASE WHEN idcg > 0 THEN round(
        |          CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 9)
        |        ELSE 0.0 END AS DECIMAL(18,9)) AS ndcg_q,
        |      CAST(CASE WHEN totrel > 0 THEN round(
        |          CAST(apsum AS DOUBLE) /
        |          CAST(least(totrel, 5) AS DOUBLE), 9)
        |        ELSE 0.0 END AS DECIMAL(18,9)) AS ap_q,
        |      CAST(CASE WHEN minrk IS NOT NULL THEN round(1.0 / minrk, 9)
        |        ELSE 0.0 END AS DECIMAL(18,9)) AS rr_q
        |    FROM per)
        |SELECT count(*) AS n_queries,
        |  round(CAST(sum(ndcg_q) AS DOUBLE) / count(*), 6) AS ndcg,
        |  round(CAST(sum(rr_q) AS DOUBLE) / count(*), 6) AS mrr,
        |  round(CAST(sum(ap_q) AS DOUBLE) / count(*), 6) AS "map"
        |FROM perq""".stripMargin,

    // top-50 by each score with item tiebreak; overlap counted on the
    // bounded depth grid; (1-p)p^(d-1)x/d terms rounded at 9 dp
    "q_rbo" ->
      """WITH ta AS (SELECT p_partkey AS item, row_number() OVER (
        |      ORDER BY CAST(p_retailprice AS DOUBLE) DESC, p_partkey) AS ra
        |    FROM part WHERE p_retailprice IS NOT NULL
        |    ORDER BY CAST(p_retailprice AS DOUBLE) DESC, p_partkey LIMIT 50),
        |  tb AS (SELECT p_partkey AS item, row_number() OVER (
        |      ORDER BY CAST(p_size AS DOUBLE) DESC, p_partkey) AS rb
        |    FROM part WHERE p_size IS NOT NULL
        |    ORDER BY CAST(p_size AS DOUBLE) DESC, p_partkey LIMIT 50),
        |  pairs AS (SELECT ta.ra, tb.rb FROM ta FULL OUTER JOIN tb
        |    ON ta.item = tb.item),
        |  grid AS (SELECT d, CAST(sum(CASE WHEN ra <= d AND rb <= d
        |        THEN 1 ELSE 0 END) AS BIGINT) AS x
        |    FROM pairs CROSS JOIN (SELECT unnest(generate_series(1, 50)) AS d)
        |    GROUP BY d)
        |SELECT round(CAST(sum(CAST(round(
        |    (CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE)) * pow(0.9, d - 1) *
        |    CAST(x AS DOUBLE) / d, 9) AS DECIMAL(18,9))) AS DOUBLE), 6)
        |    AS rbo,
        |  max(CASE WHEN d = 50 THEN round(CAST(x AS DOUBLE) / d, 6) END)
        |    AS overlap_at_depth,
        |  round(pow(0.9, 50), 6) AS residual_p_d,
        |  CAST(50 AS INT) AS depth
        |FROM grid""".stripMargin,

    // rank ties broken by code point; per-term ln products rounded at
    // 9 dp before the decimal fold; slope/intercept/r² closed form
    "q_zipf_fit" ->
      s"""WITH vocab AS (SELECT term, count(*) AS n
        |    FROM (SELECT unnest($toksSql) AS term FROM documents)
        |    GROUP BY term ORDER BY n DESC, term LIMIT 500),
        |  r AS (SELECT n,
        |      row_number() OVER (ORDER BY n DESC, term) AS rank FROM vocab),
        |  q AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
        |      ln(CAST(n AS DOUBLE)) AS y FROM r),
        |  a AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |      CAST(count(*) AS DOUBLE) AS kd,
        |      CAST(sum(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
        |      CAST(sum(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
        |      CAST(sum(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE)
        |        AS sxx,
        |      CAST(sum(CAST(round(y * y, 9) AS DECIMAL(28,9))) AS DOUBLE)
        |        AS syy,
        |      CAST(sum(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE)
        |        AS sxy
        |    FROM q),
        |  f AS (SELECT k, kd, sx, sy,
        |      (kd * sxy - sx * sy) / (kd * sxx - sx * sx) AS slope,
        |      (kd * sxy - sx * sy) /
        |        (sqrt(kd * sxx - sx * sx) * sqrt(kd * syy - sy * sy)) AS rr
        |    FROM a)
        |SELECT k, round(slope, 6) + 0.0 AS zipf_slope,
        |  round((sy - slope * sx) / kd, 6) + 0.0 AS intercept,
        |  round(rr * rr, 6) AS r_squared
        |FROM f""".stripMargin,

    // exact decimal frame sums; NULL until the 14-day frame fills or
    // when either series is constant in-frame
    "q_rolling_corr" ->
      """WITH s AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS DECIMAL(18,0)) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS DECIMAL(18,0)) AS y
        |  FROM events GROUP BY 1),
        |  w AS (SELECT day, x, y,
        |      count(*) OVER f AS cnt,
        |      sum(x) OVER f AS sx, sum(y) OVER f AS sy,
        |      sum(x * x) OVER f AS sxx, sum(y * y) OVER f AS syy,
        |      sum(x * y) OVER f AS sxy
        |    FROM s WINDOW f AS (ORDER BY day
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |  v AS (SELECT day, x, y, cnt,
        |      14.0 * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |      14.0 * CAST(syy AS DOUBLE) -
        |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
        |      14.0 * CAST(sxy AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov
        |    FROM w)
        |SELECT day, CAST(x AS BIGINT) AS clicks, CAST(y AS BIGINT) AS purchases,
        |  CASE WHEN cnt = 14 AND vx > 0 AND vy > 0
        |    THEN round(cov / (sqrt(vx) * sqrt(vy)), 6) END AS rolling_corr
        |FROM v ORDER BY day""".stripMargin,

    // bounded lag×day expansion, one Pearson per lag over the overlap
    "q_ccf" ->
      """WITH s AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS DECIMAL(18,0)) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS DECIMAL(18,0)) AS y
        |  FROM events GROUP BY 1),
        |  l AS (SELECT CAST(u.lag AS INTEGER) AS lag
        |    FROM unnest([-5, -4, -3, -2, -1, 0, 1, 2, 3, 4, 5]) AS u(lag)),
        |  p AS (SELECT l.lag, a.x, b.y FROM s a CROSS JOIN l
        |    JOIN s b ON a.day + l.lag = b.day),
        |  g AS (SELECT lag, count(*) AS n,
        |      CAST(count(*) AS DOUBLE) AS nd,
        |      CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |      CAST(sum(x * x) AS DOUBLE) AS sxx,
        |      CAST(sum(y * y) AS DOUBLE) AS syy,
        |      CAST(sum(x * y) AS DOUBLE) AS sxy
        |    FROM p GROUP BY lag),
        |  v AS (SELECT lag, n, nd * sxx - sx * sx AS vx,
        |      nd * syy - sy * sy AS vy, nd * sxy - sx * sy AS cov
        |    FROM g)
        |SELECT lag, n AS n_overlap,
        |  CASE WHEN vx > 0 AND vy > 0
        |    THEN round(cov / (sqrt(vx) * sqrt(vy)), 6) END AS ccf
        |FROM v ORDER BY lag""".stripMargin,

    // tied blocks contribute v·(c·cumprev + c(c+1)/2) — exact integer
    // rank-weighted sums, one division per group
    "q_gini" ->
      """WITH gv AS (SELECT o_orderpriority AS g,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS v, count(*) AS cnt
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        |    AND o_totalprice >= 0
        |  GROUP BY 1, 2),
        |  w AS (SELECT g, v, cnt,
        |      coalesce(sum(cnt) OVER (PARTITION BY g ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS cumprev
        |    FROM gv),
        |  a AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n,
        |      sum(v * cnt) AS sv,
        |      sum(v * (cnt * cumprev + cnt * (cnt + 1) // 2)) AS srank
        |    FROM w GROUP BY g)
        |SELECT g AS o_orderpriority, n,
        |  CASE WHEN sv > 0 THEN round(
        |    (2.0 * CAST(srank AS DOUBLE) -
        |      CAST(n + 1 AS DOUBLE) * CAST(sv AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sv AS DOUBLE)), 6) END AS gini
        |FROM a ORDER BY o_orderpriority""".stripMargin,

    // Lorenz truth: distinct-value cumulative masses, integer rank
    // targets (// is exact), partial spanning block in exact decimal
    "q_lorenz" ->
      """WITH c AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    count(*) AS cc FROM orders
        |  WHERE o_totalprice IS NOT NULL
        |    AND CAST(o_totalprice AS DECIMAL(18,2)) >= 0
        |  GROUP BY 1),
        |w AS (SELECT v, cc,
        |    SUM(cc) OVER (ORDER BY v) AS cum,
        |    CAST(SUM(CAST(v * cc AS DECIMAL(38,6))) OVER (ORDER BY v)
        |      AS DECIMAL(38,6)) AS cumv,
        |    SUM(cc) OVER () AS n,
        |    CAST(SUM(CAST(v * cc AS DECIMAL(38,6))) OVER ()
        |      AS DECIMAL(38,6)) AS tot
        |  FROM c)
        |SELECT CAST(k AS BIGINT) AS point,
        |  CAST((k * n) // 10 AS BIGINT) AS cum_count,
        |  round(CAST(cumv - CAST(CAST(cum - (k * n) // 10
        |      AS DECIMAL(20,0)) * v AS DECIMAL(38,6)) AS DOUBLE)
        |    / CAST(tot AS DOUBLE), 6) AS cum_share
        |FROM w CROSS JOIN range(1, 11) t(k)
        |WHERE cum - cc < (k * n) // 10 AND (k * n) // 10 <= cum
        |ORDER BY point""".stripMargin,

    // Atkinson truth: per-row sqrt rounded 9 into exact decimal, same
    // fixed-order closing doubles as the operator
    "q_atkinson" ->
      """WITH r AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |p AS (SELECT v FROM r WHERE v > 0),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS s,
        |    sum(CAST(round(sqrt(CAST(v AS DOUBLE)), 9)
        |      AS DECIMAL(28,9))) AS sq FROM p),
        |d AS (SELECT CAST(sum(CASE WHEN v <= 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped FROM r)
        |SELECT n, n_dropped,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
        |  round(CAST(1.0 AS DOUBLE)
        |    - (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS atkinson
        |FROM a, d""".stripMargin,

    // HHI truth: 9-dp-quantized shares, exact decimal share-square sum,
    // normalized form computed from the ROUNDED hhi (operator order)
    "q_hhi" ->
      """WITH c AS (SELECT source AS g, count(*) AS n FROM documents
        |  WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS k FROM c),
        |s AS (SELECT CAST(round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE),
        |    9) AS DECIMAL(10,9)) AS sh, k FROM c, t)
        |SELECT k AS n_groups,
        |  round(CAST(sum(sh * sh) AS DOUBLE), 6) AS hhi,
        |  CASE WHEN k > 1 THEN round(
        |    (round(CAST(sum(sh * sh) AS DOUBLE), 6)
        |      - CAST(1.0 AS DOUBLE) / CAST(k AS DOUBLE))
        |    / (CAST(1.0 AS DOUBLE) - CAST(1.0 AS DOUBLE)
        |      / CAST(k AS DOUBLE)), 6) END AS hhi_normalized
        |FROM s GROUP BY k""".stripMargin,

    // CR_k truth: same (count desc, group asc) cut, one division
    "q_concentration_ratio" ->
      """WITH c AS (SELECT source AS g, count(*) AS n FROM documents
        |  WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS k FROM c),
        |top AS (SELECT CAST(sum(n) AS BIGINT) AS topn FROM (
        |  SELECT n FROM c ORDER BY n DESC, g ASC LIMIT 2))
        |SELECT CAST(2 AS INT) AS k, t.k AS n_groups, tot AS n_total,
        |  topn AS top_n,
        |  round(CAST(topn AS DOUBLE) / CAST(tot AS DOUBLE), 6)
        |    AS top_share
        |FROM top, t""".stripMargin,

    // Durbin-Watson truth: per-day exact integer units, mean-cancelling
    // first differences, one closing double division
    "q_durbin_watson" ->
      """WITH s AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(CAST(sum(CAST(value AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) * 100 AS BIGINT) AS u
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |f AS (SELECT d, u FROM s WHERE d IS NOT NULL AND u IS NOT NULL),
        |l AS (SELECT u, lag(u) OVER (ORDER BY d) AS p FROM f),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(u AS HUGEINT)) AS sm,
        |    sum(CAST(u AS HUGEINT) * u) AS q,
        |    sum(CASE WHEN p IS NOT NULL
        |      THEN CAST(u - p AS HUGEINT) * (u - p) ELSE 0 END) AS d2
        |  FROM l)
        |SELECT n, round(CAST(n * d2 AS DOUBLE)
        |  / CAST(n * q - sm * sm AS DOUBLE), 6) AS dw FROM a""".stripMargin,

    // Page-Hinkley truth: 9dp-quantized deviation cumsum, exact running
    // min, argmax ties to the largest t (the operator's struct-max)
    "q_page_hinkley" ->
      """WITH s AS (SELECT CAST(ts AS DATE) AS t,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |f AS (SELECT t, v FROM s WHERE t IS NOT NULL AND v IS NOT NULL),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
        |  FROM f),
        |w AS (SELECT t, n,
        |    sum(CAST(round(CAST(v AS DOUBLE) - mean
        |      - CAST(0.0 AS DOUBLE), 9) AS DECIMAL(28,9)))
        |      OVER (ORDER BY t) AS m
        |  FROM f, st),
        |p AS (SELECT t, n, CAST(m - min(m) OVER (ORDER BY t)
        |    AS DECIMAL(29,9)) AS ph FROM w),
        |r AS (SELECT n, ph, t, row_number() OVER (
        |    ORDER BY ph DESC, t DESC) AS rk FROM p)
        |SELECT n, round(CAST(ph AS DOUBLE), 6) AS ph_max, t AS t_at_max,
        |  round(CAST(ph AS DOUBLE), 6) > CAST(50.0 AS DOUBLE) AS triggered
        |FROM r WHERE rk = 1""".stripMargin,

    // two lower inverse-CDF medians (value, then |v − med|), exact
    // decimal deviations, one division per row
    "q_robust_scale" ->
      """WITH base AS (SELECT event_id, event_type AS g,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events
        |  WHERE event_id < 2000 AND event_type IS NOT NULL
        |    AND value IS NOT NULL),
        |  gv AS (SELECT g, v, count(*) AS cnt FROM base GROUP BY 1, 2),
        |  c1 AS (SELECT g, v,
        |      sum(cnt) OVER (PARTITION BY g ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      sum(cnt) OVER (PARTITION BY g) AS n FROM gv),
        |  med AS (SELECT g, min(v) AS med FROM c1 WHERE cum * 2 >= n
        |    GROUP BY g),
        |  dev AS (SELECT base.event_id, base.g, base.v,
        |      abs(base.v - med.med) AS ad, med.med
        |    FROM base JOIN med ON base.g = med.g),
        |  av AS (SELECT g, ad, count(*) AS cnt FROM dev GROUP BY 1, 2),
        |  c2 AS (SELECT g, ad,
        |      sum(cnt) OVER (PARTITION BY g ORDER BY ad
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      sum(cnt) OVER (PARTITION BY g) AS n FROM av),
        |  mad AS (SELECT g, min(ad) AS mad FROM c2 WHERE cum * 2 >= n
        |    GROUP BY g)
        |SELECT dev.event_id, dev.g AS event_type,
        |  CAST(dev.v AS DOUBLE) AS value,
        |  CASE WHEN mad.mad > 0 THEN round(
        |    CAST(dev.v - dev.med AS DOUBLE) /
        |    (1.4826 * CAST(mad.mad AS DOUBLE)), 6) END AS robust_z
        |FROM dev JOIN mad ON dev.g = mad.g
        |ORDER BY dev.event_id""".stripMargin
  )
}
