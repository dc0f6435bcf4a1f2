package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, content-addressed sampling for training-data pipelines.
  *
  * Every sampler here keys on [[TextAnalysis.hashBucket]] (md5 of the row
  * key, mod 100) rather than `rand()`: the sample is reproducible across
  * runs, engines, and cluster layouts, rows never migrate between sample
  * and complement on re-runs, and downstream joins against the sample stay
  * consistent. All samplers are narrow per-row filters — no shuffle, fully
  * parallel at any scale, and the filter sits directly above the scan so
  * Catalyst prunes columns beneath it.
  */
object Sampling {

  /** Keep ~`pct`% of rows, selected by the key's hash bucket. */
  def hashSample(df: DataFrame, keyCol: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, "pct must be in [0,100]")
    df.filter(TextAnalysis.hashBucket(col(keyCol)) < pct)
  }

  /** Stratified deterministic sample: per-stratum percentages (strata not
    * listed fall back to `defaultPct`). The rate lookup compiles to a CASE
    * chain — no join, no shuffle; useful for rebalancing a corpus by
    * language/source/domain while keeping the choice content-addressed.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       rates: Map[String, Int], defaultPct: Int = 0): DataFrame = {
    require((rates.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
      "all rates must be in [0,100]")
    val pct: Column = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (k, p)) => when(col(strataCol) === k, lit(p)).otherwise(acc)
    }
    df.filter(TextAnalysis.hashBucket(col(keyCol)) < pct)
  }

  /** Exactly `n` rows per stratum (fewer if the stratum is smaller),
    * chosen by md5-of-key order — a deterministic, content-addressed
    * stand-in for reservoir sampling: stable across runs and layouts,
    * and re-runs pick the same rows. One shuffle on the stratum; the
    * per-group top-n is a window with rank cutoff (no full sort of the
    * stratum beyond the shuffle's local sort). Skewed strata bound the
    * task time; for few huge strata prefer [[stratifiedSample]]'s
    * percentage form, which needs no shuffle at all.
    */
  def exactNPerStratum(df: DataFrame, keyCol: String, strataCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strataCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= n)
      .drop("_rk")
  }

  /** Deterministic weighted sample of exactly `k` rows, inclusion
    * probability proportional to `weightCol` (Efraimidis–Spirakis A-ES):
    * each row gets the key u^(1/w) for a per-row uniform u, and the k
    * largest keys are the sample. We rank by the monotone-equivalent
    * ln(u)/w (same ordering, no pow), with u md5-derived from the row key
    * — so like every sampler here the choice is content-addressed: stable
    * across runs, engines, and layouts, and replayable by any engine with
    * md5 and ln. Rows with weight <= 0 (or null) are never sampled.
    *
    * Scale: the per-row key is a narrow projection; the global top-k
    * compiles to TakeOrderedAndProject (per-partition top-k, driver
    * merge of k-row heads) — no global sort, no single-partition
    * shuffle, O(k) driver memory.
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val u64 = conv(substring(md5(concat(lit("ws:"), col(keyCol).cast("string"))), 1, 16),
      16, 10).cast("double")
    val key = log((u64 + lit(1.0)) / lit(math.scalb(1.0, 64))) / weightCol.cast("double")
    // filter BEFORE the key projection: under ANSI semantics the
    // division must never evaluate on a zero weight
    df.filter(weightCol.cast("double") > 0)
      .withColumn("_wkey", key)
      .orderBy(col("_wkey").desc, col(keyCol))
      .limit(k)
      .drop("_wkey")
  }

  /** Deterministic global shuffle into `nShards` output shards for
    * training-data export: shard = md5-bucket of the row key, in-shard
    * position = rank of the full md5 digest. The permutation is a pure
    * function of (salt, key) — re-runs, re-partitions, and other engines
    * produce the identical shard/seq assignment, so an export can be
    * resumed or replicated byte-for-byte, and changing the salt reshuffles
    * epochs without touching the data.
    *
    * Scale shape: one shuffle keyed on the shard (uniform by
    * construction — md5 buckets are balanced, so no skew regardless of
    * key distribution), then a per-shard sort for `row_number` — the
    * sort is within-shard only, never global. With nShards sized to the
    * cluster (e.g. 10k shards over 100 TB) each shard sorts ~10 GB,
    * spill-safe, all shards in parallel.
    */
  def shuffleShard(df: DataFrame, keyCol: String, nShards: Int,
                   salt: String = "shuf"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    import org.apache.spark.sql.expressions.Window
    val digest = md5(concat(lit(s"$salt:"), col(keyCol).cast("string")))
    // 15 hex chars = 60 bits: always positive in a Long, % is safe
    val shard = conv(substring(digest, 1, 15), 16, 10).cast("long") % nShards
    val w = Window.partitionBy("shard").orderBy(digest, col(keyCol))
    df.withColumn("shard", shard)
      .withColumn("seq", row_number().over(w).cast("long"))
  }

  /** Select the best documents that fit a token budget: rank by
    * (`scoreCol` desc, `idCol` asc — a total order) and keep every doc
    * whose running token total, INCLUDING itself, stays within
    * `budget`. The "curate the top-quality N-token training subset"
    * operation; selection is exact and deterministic, not sampled.
    *
    * Scale shape: the [[PrefixSum.running]] distributed prefix sum on
    * the rank order, NOT a global window (a bare `Window.orderBy`
    * single-partitions the corpus); driver state is one long per
    * partition. Integer token counts make the running totals exact, so
    * an engine replaying the same total order reproduces the selection.
    * A null token count adds 0. Call [[Materialize.release]] on the
    * result after the last action to drop the pinned layout.
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, scoreCol: String,
                        tokensCol: String, budget: Long,
                        nPartitions: Int = 0): DataFrame =
    budgetSelect(df, None, idCol, scoreCol, tokensCol, budget, nPartitions)

  /** Per-domain token-budget cap: within EACH domain, rank by
    * (`scoreCol` desc, `idCol` asc) and keep every row whose running
    * domain-local token total (including itself) stays within `budget`.
    * The mixture-construction primitive ("at most N tokens per source,
    * best quality first") that follows [[temperatureWeights]] when the
    * budget is expressed in tokens rather than rows.
    *
    * Scale shape: [[PrefixSum.running]] reset at each domain, NOT a
    * `Window.partitionBy(domain)` (which would sort an entire domain in
    * ONE task — a 20 TB web crawl domain kills that plan). A domain
    * occupies a contiguous run of partitions, and driver state is one
    * long per (domain, partition). Integer token counts keep the running
    * totals exact and replayable. Release as [[tokenBudgetSelect]].
    */
  def domainBudgetSelect(df: DataFrame, domainCol: String, idCol: String,
                         scoreCol: String, tokensCol: String, budget: Long,
                         nPartitions: Int = 0): DataFrame =
    budgetSelect(df, Some(domainCol), idCol, scoreCol, tokensCol, budget,
      nPartitions)

  /** The rows of [[tokenBudgetSelect]] / [[domainBudgetSelect]]: those
    * whose running total `cum_tokens` is within `budget`.
    */
  private def budgetSelect(df: DataFrame, domainColOpt: Option[String],
                           idCol: String, scoreCol: String,
                           tokensCol: String, budget: Long,
                           nPartitions: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    PrefixSum.running(df.withColumn("_tok", col(tokensCol).cast("long")),
        Seq(col(scoreCol).desc, col(idCol).asc), Seq("_tok" -> "cum_tokens"),
        domainColOpt, nPartitions)
      .rows.filter(col("cum_tokens") <= budget).drop("_tok")
  }

  /** Concat-and-chunk sequence packing: documents concatenate in
    * (`idCol` asc) order into fixed `capacity`-token context windows;
    * each document's placement is the (bin, offset) of its first token
    * plus the last bin it reaches and whether it crosses a window
    * boundary — the layout step that turns a curated corpus into
    * training sequences (GPT-style packing without per-window
    * shuffling; for shuffled packing feed [[shuffleShard]]'s
    * (shard, seq) through as the id). Documents SPLIT across window
    * boundaries here; [[TextAnalysis.packSequences]] is the greedy
    * no-split variant that opens a fresh sequence instead. Zero-token
    * documents drop — they occupy no window.
    *
    * Scale shape: the [[PrefixSum.running]] distributed prefix sum on
    * the id order, then column expressions over each row's exclusive
    * running total. No global window, no single-task sort. Integer
    * token counts keep every placement exact, so an engine replaying the
    * same order reproduces the packing bit-for-bit. Call
    * [[Materialize.release]] on the result after the last action to drop
    * the pinned layout.
    */
  def packWindows(df: DataFrame, idCol: String, tokensCol: String,
                  capacity: Long, nPartitions: Int = 0): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val docs = df.select(col(idCol), col(tokensCol).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0L)
    // a doc's first token sits at `_end - n_tokens`. `div`, not `/`:
    // Spark's Divide returns DOUBLE. `div` and `%` are typed nullable for
    // a zero divisor; capacity > 0, so `coalesce` only keeps them non-null
    def placed(e: String): Column = coalesce(expr(e), lit(0L))
    PrefixSum.running(docs, Seq(col(idCol).asc), Seq("n_tokens" -> "_end"),
        nPartitions = nPartitions)
      .rows.select(col(idCol), col("n_tokens"),
        placed(s"(_end - n_tokens) div ${capacity}L").as("bin"),
        placed(s"(_end - n_tokens) % ${capacity}L").as("offset"),
        placed(s"(_end - 1) div ${capacity}L").as("bin_last"))
      .withColumn("crosses_boundary", col("bin") =!= col("bin_last"))
  }

  /** Temperature-based source mixing (the multi-corpus reweighting used
    * for LLM training mixtures): per-domain weight w_d ∝ n_d^alpha,
    * normalized. alpha = 1 keeps natural proportions, alpha -> 0
    * flattens toward uniform, the usual range is 0.3–0.8 to up-sample
    * small high-quality sources. Returns one row per domain:
    * (domain, n, weight) with weight rounded at 6 dp (pow/sum are the
    * only non-exact ops; both engines round the same value).
    *
    * Shape: one hash aggregation on the domain (map-side combined) to a
    * domain-bounded table; the normalizing sum is a window over that
    * bounded set, not a rescan.
    */
  def temperatureWeights(df: DataFrame, domainCol: String, alpha: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("n"))
    counts
      .withColumn("_w", pow(col("n").cast("double"), alpha))
      .withColumn("weight", round(col("_w") / sum("_w").over(Window.partitionBy()), 6))
      .drop("_w")
  }

  /** Materialize a temperature-mixed corpus of ~`budget` rows: each
    * domain contributes round(budget · weight_d) rows (capped at the
    * domain's size), chosen in md5-of-key order — content-addressed like
    * every sampler here, so the mixture is reproducible anywhere.
    *
    * Shape: the per-domain weights table joins onto the data (AQE
    * broadcasts it when it fits — no forced hint, since the domain
    * vocabulary is data-derived);
    * the per-domain rank is one shuffle on the domain + within-partition
    * sort. Domains are few and possibly skewed: the biggest domain
    * bounds the sort, which is the inherent cost of exact per-domain
    * quotas (for rate-based mixing without a shuffle use
    * [[stratifiedSample]]).
    */
  def temperatureSample(df: DataFrame, domainCol: String, keyCol: String,
                        alpha: Double, budget: Long,
                        salt: String = "tmix"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quota = temperatureWeights(df, domainCol, alpha)
      .withColumn("_take", least(col("n"),
        round(lit(budget.toDouble) * col("weight"), 0).cast("long")))
      .select(col(domainCol), col("_take"))
    val w = Window.partitionBy(domainCol)
      .orderBy(md5(concat(lit(s"$salt:"), col(keyCol).cast("string"))), col(keyCol))
    // quota is one row per DISTINCT DOMAIN — millions at web scale — so
    // no forced broadcast (a hint OOMs the driver instead of degrading);
    // AQE broadcasts it when it measures small
    df.join(quota, domainCol)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= col("_take"))
      .drop("_rk", "_take")
  }

  /** Keep the rows at or above the `q`-quantile of `valueCol`, with the
    * threshold computed EXACTLY as min{v : F(v) >= q} — the right scale
    * shape for the low-cardinality metrics gating pipelines actually
    * filter on (quality scores, star ratings, bucketed lengths): one
    * bounded aggregation on the value (map-side combine collapses each
    * partition to one row per distinct value), a window over that tiny
    * distinct set for the cumulative counts, and a broadcast of the
    * 1-row threshold back over a second scan. Nothing global-sorts the
    * data. For genuinely continuous metrics use
    * `percentile_approx`-style sketches instead; this operator is the
    * exact gate.
    */
  def filterTopQuantile(df: DataFrame, valueCol: String, q: Double): DataFrame = {
    require(q > 0 && q < 1, "q must be in (0, 1)")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("n"))
    val cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = counts
      .withColumn("cum", sum("n").over(cum))
      .withColumn("tot", sum("n").over(Window.partitionBy()))
      .filter(col("cum").cast("double") >= lit(q) * col("tot").cast("double"))
      .agg(min("v").as("_thr"))
    df.join(broadcast(thr), col(valueCol) >= col("_thr")).drop("_thr")
  }

  /** Budget-constrained mixture allocation with per-domain epoch caps —
    * the planning step before [[temperatureMix]]-style sampling: split
    * a token budget across domains by target shares, but never draw
    * more than `maxEpochs` passes over any domain (repeating data past
    * a few epochs hurts; the Chinchilla-style cap), and re-spread the
    * capped domains' unused share over the rest. This is water-filling,
    * and the binding set has a CLOSED FORM — domains cap in ascending
    * cap/share order, so one sorted scan finds the threshold
    * t* = (budget − Σ_capped cap) / Σ_uncapped share and
    * alloc_d = min(share_d·t*, cap_d) — no iteration, fully
    * declarative: windows over the bounded domain table, a broadcast
    * 1-row threshold, nothing corpus-sized after the availability fold
    * the caller already paid for.
    *
    * Input is the PRE-AGGREGATED (domain, available-tokens) table.
    * Domains missing from `shares` allocate 0 (dropped domains are
    * normal in mixing); shares must be positive and are normalized by
    * their own sum. When the budget exceeds total capacity every
    * domain caps and the leftover goes unspent (reported via the
    * epochs column hitting maxEpochs everywhere).
    */
  def allocateBudget(df: DataFrame, domainCol: String, availCol: Column,
                     shares: Map[String, Double], budget: Double,
                     maxEpochs: Double = 4.0): DataFrame = {
    require(shares.nonEmpty && shares.values.forall(_ > 0),
      "shares must be non-empty and positive")
    require(budget > 0 && maxEpochs > 0, "budget and maxEpochs must be positive")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val shareSum = shares.values.sum
    val shareDf = shares.toSeq.sortBy(_._1)
      .map { case (d, s) => (d, s / shareSum) }
      .toDF("_dom", "share")
    val base = df
      .select(col(domainCol).cast("string").as("_dom"),
        availCol.cast("double").as("avail"))
      .join(broadcast(shareDf), Seq("_dom"), "left")
    val zero = base.filter(col("share").isNull)
      .select(col("_dom"), col("avail"), lit(0.0).as("share"),
        (col("avail") * lit(maxEpochs)).as("cap"),
        lit(0.0).as("alloc"))
    val pos = base.filter(col("share").isNotNull)
      .withColumn("cap", col("avail") * lit(maxEpochs))
      .withColumn("_r", col("cap") / col("share"))
    val ord = Window.orderBy(col("_r"), col("_dom"))
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    val scan = pos
      .withColumn("_rn", row_number().over(ord))
      .withColumn("_capBefore", coalesce(sum("cap").over(before), lit(0.0)))
      .withColumn("_shareBefore",
        coalesce(sum("share").over(before), lit(0.0)))
      .withColumn("_shareTot", sum("share").over(Window.partitionBy()))
      // t if the binding set stopped just before this row
      .withColumn("_t", (lit(budget) - col("_capBefore")) /
        (col("_shareTot") - col("_shareBefore")))
    // first row whose candidate t fails to cap it starts the uncapped
    // tail; no such row -> budget exceeds capacity, everything caps
    val tStar = scan.filter(col("_t") < col("_r"))
      .agg(min_by(col("_t"), col("_rn")).as("_tstar"))
    val alloc = scan.crossJoin(broadcast(tStar))
      .withColumn("alloc", when(col("_tstar").isNull, col("cap"))
        .otherwise(least(col("share") * col("_tstar"), col("cap"))))
      .select(col("_dom"), col("avail"), col("share"), col("cap"),
        col("alloc"))
    alloc.unionByName(zero)
      .select(col("_dom").as(domainCol), col("avail").cast("long").as("avail"),
        round(col("share"), 6).as("share"),
        // explicit floor: a bare double->long cast TRUNCATES in Spark
        // but ROUNDS in DuckDB — 4143·1.2 = 4971.599… must be 4971 in
        // both engines
        floor(col("cap")).cast("long").as("cap_tokens"),
        round(col("alloc"), 6).as("alloc_tokens"),
        round(col("alloc") / col("avail"), 6).as("epochs"),
        (col("alloc") >= col("cap")).as("capped"))
  }
}
