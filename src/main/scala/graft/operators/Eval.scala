package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Classifier-score evaluation over a (score, label) pair: calibration
  * tables, the Brier score with its Murphy decomposition, full
  * threshold sweeps, cumulative lift/gains, and weight-of-evidence
  * feature screening. The quality-classifier loop for a training-data
  * pipeline lives here: a fastText-style quality scorer gates documents
  * by score, and these operators answer whether the score can be
  * trusted (calibration), where to put the gate (threshold sweep /
  * lift), and which features leak (WOE/IV).
  *
  * Every operator follows the same scale shape: ONE grouped aggregation
  * collapses the corpus to a BOUNDED table (distinct score levels, bins,
  * or categories — never rows), and all window/join work happens on
  * that bounded table. Determinism follows the repo convention: exact
  * integer/decimal sums, per-term 6–9 dp quantization before any
  * decimal fold, one fixed-order double division at the end.
  */
object Eval {

  /** Calibration table over equal-width score bins: per bin, the mean
    * predicted score vs the empirical positive rate (+ counts). A
    * well-calibrated scorer sits on the diagonal; a confident-but-wrong
    * one bows away — the first plot to draw before gating a corpus on
    * a classifier score.
    *
    * `scoreCol` must be in [0, 1]; bin k covers [k/nBins, (k+1)/nBins)
    * with the top edge closed. One aggregation, bins bounded by
    * construction; the mean score divides exact decimal sums once per
    * bin.
    */
  def calibration(df: DataFrame, scoreCol: String, label: Column,
                  nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, "nBins in [2, 1000]")
    val s = col(scoreCol).cast("decimal(9,6)")
    val bin = least(floor(s * nBins).cast("long"), lit(nBins - 1L))
    df.filter(s.isNotNull)
      .select(bin.as("bin"), s.as("_s"), when(label, 1L).otherwise(0L).as("_y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("_y").as("n_pos"),
        sum("_s").as("_ssum"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("_ssum").cast("double") / col("n").cast("double"), 6)
          .as("mean_score"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate"))
  }

  /** Brier score with the Murphy (1973) three-way decomposition over
    * the [[calibration]] bins:
    * Brier = reliability − resolution + uncertainty, where
    * reliability = Σ n_k(s̄_k − ȳ_k)²/n (how far off the calibration),
    * resolution = Σ n_k(ȳ_k − ȳ)²/n (how much the bins separate), and
    * uncertainty = ȳ(1 − ȳ) (the irreducible base-rate term). The
    * decomposition says WHY a score is bad: uncalibrated (fixable by
    * remapping) vs unresolving (needs a better model).
    *
    * The raw Brier term (s − y)² is an exact decimal square summed
    * exactly; the decomposition folds over the bounded bin table with
    * 9 dp per-bin quantization. Note the bin-discretized decomposition
    * identity holds exactly only when scores are constant within bins;
    * the within-bin variance shows up as the gap column `wb_var`.
    */
  def brierDecomposition(df: DataFrame, scoreCol: String, label: Column,
                         nBins: Int = 10): DataFrame = {
    val s = col(scoreCol).cast("decimal(9,6)")
    val base = df.filter(s.isNotNull)
      .select(s.as("_s"), when(label, 1L).otherwise(0L).as("_y"))
    // (s − y) ∈ [−1, 1] at 6 dp: the DECIMAL(12,6) cast keeps the
    // square at (25,12) — exact in any engine, no precision-adjust
    // rounding (a bare decimal product would exceed 38 digits)
    val diff = (col("_s") - col("_y")).cast("decimal(12,6)")
    val brier = base
      .agg(count(lit(1)).as("_n"), sum("_y").as("_pos"),
        sum(diff * diff).as("_bsum"))
    val bins = calibration(df, scoreCol, label, nBins)
    val nd = col("_n").cast("double")
    val ybar = col("_pos").cast("double") / nd
    val rel = col("n").cast("double") *
      (col("mean_score") - col("pos_rate")) * (col("mean_score") - col("pos_rate"))
    val res = col("n").cast("double") *
      (col("pos_rate") - ybar) * (col("pos_rate") - ybar)
    bins.crossJoin(broadcast(brier))
      .select(
        round(rel / nd, 9).cast("decimal(18,9)").as("_rel"),
        round(res / nd, 9).cast("decimal(18,9)").as("_res"),
        col("_n"), col("_pos"), col("_bsum"))
      .groupBy("_n", "_pos", "_bsum")
      .agg(sum("_rel").cast("double").as("_reliability"),
        sum("_res").cast("double").as("_resolution"))
      .select(col("_n").as("n"),
        round(col("_bsum").cast("double") / col("_n").cast("double"), 6)
          .as("brier"),
        round(col("_reliability"), 6).as("reliability"),
        round(col("_resolution"), 6).as("resolution"),
        round(ybar * (lit(1.0) - ybar), 6).as("uncertainty"),
        // within-bin variance gap: brier − (rel − res + unc)
        round(col("_bsum").cast("double") / col("_n").cast("double") -
          (col("_reliability") - col("_resolution") +
            ybar * (lit(1.0) - ybar)), 6).as("wb_var"))
  }

  /** Full confusion-matrix sweep over a threshold grid: for each
    * threshold t, counts and the derived precision / recall / F1 /
    * accuracy of the rule `score ≥ t`. The gate-placement table: pick
    * the operating point straight off it.
    *
    * Scale shape: the corpus collapses ONCE to the distinct-score-level
    * table (bounded domain — quantized scores), and the sweep is a
    * bounded cross join of score levels × thresholds followed by one
    * aggregation. The raw data is never scanned per threshold.
    */
  def thresholdMetrics(df: DataFrame, scoreCol: String, label: Column,
                       thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val s = col(scoreCol).cast("decimal(9,6)")
    val levels = df.filter(s.isNotNull)
      .select(s.as("_s"), when(label, 1L).otherwise(0L).as("_y"))
      .groupBy("_s").agg(count(lit(1)).as("_n"), sum("_y").as("_pos"))
    val thr = thresholds.map(t => lit(t).cast("decimal(9,6)"))
    val grid = levels.select(col("_s"), col("_n"), col("_pos"),
      explode(array(thr: _*)).as("threshold"))
    val p = col("tp").cast("double") / (col("tp") + col("fp")).cast("double")
    val r = col("tp").cast("double") / (col("tp") + col("fn")).cast("double")
    grid
      .groupBy("threshold")
      .agg(
        sum(when(col("_s") >= col("threshold"), col("_pos")).otherwise(0L)).as("tp"),
        sum(when(col("_s") >= col("threshold"), col("_n") - col("_pos"))
          .otherwise(0L)).as("fp"),
        sum(when(col("_s") < col("threshold"), col("_pos")).otherwise(0L)).as("fn"),
        sum(when(col("_s") < col("threshold"), col("_n") - col("_pos"))
          .otherwise(0L)).as("tn"))
      .select(col("threshold").cast("double").as("threshold"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        round(when(col("tp") + col("fp") > 0, p), 6).as("precision"),
        round(when(col("tp") + col("fn") > 0, r), 6).as("recall"),
        round(when(col("tp") > 0, lit(2.0) * p * r / (p + r))
          .when(col("tp") + col("fp") + col("fn") > 0, lit(0.0)), 6).as("f1"),
        round((col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"), 6)
          .as("accuracy"))
  }

  /** Cumulative gains / lift by descending score level: after taking
    * everything scored ≥ v, what fraction of rows was taken
    * (`depth`), what fraction of all positives was captured (`gain`),
    * and the lift of the captured rate over the base rate. The
    * "how deep do I dig" curve for budgeted selection — the top-k
    * twin of [[thresholdMetrics]].
    *
    * Windows run over the DISTINCT quantized score table (descending),
    * never rows; the three ratios are single divisions of exact counts
    * rounded at 6 dp.
    */
  def liftTable(df: DataFrame, scoreCol: String, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = col(scoreCol).cast("decimal(9,6)")
    val levels = df.filter(s.isNotNull)
      .select(s.as("score"), when(label, 1L).otherwise(0L).as("_y"))
      .groupBy("score").agg(count(lit(1)).as("n"), sum("_y").as("n_pos"))
    val cum = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    levels
      .withColumn("_cn", sum("n").over(cum))
      .withColumn("_cp", sum("n_pos").over(cum))
      .withColumn("_tn", sum("n").over(tot))
      .withColumn("_tp", sum("n_pos").over(tot))
      .select(col("score").cast("double").as("score"), col("n"), col("n_pos"),
        round(col("_cn").cast("double") / col("_tn").cast("double"), 6)
          .as("depth"),
        round(col("_cp").cast("double") / col("_tp").cast("double"), 6)
          .as("gain"),
        round((col("_cp").cast("double") / col("_cn").cast("double")) /
          (col("_tp").cast("double") / col("_tn").cast("double")), 6)
          .as("lift"))
  }

  /** Weight of evidence and information value of a categorical feature
    * against a binary outcome: WOE_i = ln((pos_i/posT)/(neg_i/negT)),
    * IV = Σ (pos_i/posT − neg_i/negT)·WOE_i. The classic univariate
    * screen: IV < 0.02 useless, > 0.5 suspiciously strong (leakage).
    * Categories where either class has zero mass get NULL WOE and are
    * excluded from IV (reported via `n_excluded` so silence can't hide
    * them).
    *
    * One grouped count to the bounded category table; IV folds 9 dp
    * quantized terms through an exact decimal window sum.
    */
  def weightOfEvidence(df: DataFrame, featureCol: String,
                       label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cats = df.filter(col(featureCol).isNotNull)
      .select(col(featureCol).as("category"),
        when(label, 1L).otherwise(0L).as("_y"))
      .groupBy("category")
      .agg(count(lit(1)).as("n"), sum("_y").as("n_pos"))
      .withColumn("n_neg", col("n") - col("n_pos"))
    val tot = Window.partitionBy()
    val pShare = col("n_pos").cast("double") / col("_tp").cast("double")
    val nShare = col("n_neg").cast("double") / col("_tn").cast("double")
    val woe = log(pShare / nShare)
    cats
      .withColumn("_tp", sum("n_pos").over(tot))
      .withColumn("_tn", sum("n_neg").over(tot))
      .withColumn("woe",
        when(col("n_pos") > 0 && col("n_neg") > 0, round(woe, 6)))
      .withColumn("_iv_term",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round((pShare - nShare) * woe, 9))
          .otherwise(lit(0.0)).cast("decimal(18,9)"))
      .withColumn("iv_total",
        round(sum("_iv_term").over(tot).cast("double"), 6))
      .withColumn("n_excluded",
        sum(when(col("woe").isNull, 1L).otherwise(0L)).over(tot))
      .select(col("category"), col("n"), col("n_pos"), col("n_neg"),
        col("woe"), col("iv_total"), col("n_excluded"))
  }

  /** Graded-relevance retrieval metrics in one pass: mean nDCG@k,
    * MRR@k and MAP@k over per-query ranked lists. The ANN / BM25 /
    * reranker acceptance gate: the ranking under test is induced by
    * `scoreCol` (descending, item-id tiebreak so both engines agree),
    * relevance is the integer `relCol` (binary relevance = rel > 0 for
    * MRR/MAP; graded 2^rel − 1 gains for nDCG).
    *
    * Conventions: a query whose list has no relevant item contributes
    * 0 to MRR/MAP (not excluded — silence can't inflate the mean); a
    * query with zero ideal DCG contributes 0 to nDCG; AP divides by
    * min(R, k) (TREC cut convention).
    *
    * Scale shape: ONE hash exchange on the query key serves both the
    * scored and the ideal window (same partitioning, two in-partition
    * sorts), the per-query groupBy reuses that partitioning
    * exchange-free, and the final fold is a single global aggregation
    * of exact decimal sums. Per-query list length is bounded by the
    * retriever's k, so no window partition can be skewed by corpus
    * growth. Per-term quantization at 9 dp before every decimal sum
    * keeps Spark and a SQL oracle bit-identical.
    */
  def retrievalMetrics(df: DataFrame, queryCol: String, itemCol: String,
                       scoreCol: String, relCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && k <= 1000, "k in [1, 1000]")
    val base = df.select(col(queryCol).as("_q"), col(itemCol).as("_item"),
      col(scoreCol).cast("double").as("_s"),
      col(relCol).cast("long").as("_rel"))
      .filter(col("_rel").isNotNull && col("_rel") >= 0 && col("_rel") <= 30)
    val byScore = Window.partitionBy("_q")
      .orderBy(col("_s").desc, col("_item"))
    val byRel = Window.partitionBy("_q")
      .orderBy(col("_rel").desc, col("_item"))
    val gain = pow(lit(2.0), col("_rel")) - lit(1.0)
    val relFlag = when(col("_rel") > 0, 1L).otherwise(0L)
    val dec = "decimal(18,9)"
    val zero = lit(0).cast(dec)
    val ranked = base
      .withColumn("_rk", row_number().over(byScore))
      .withColumn("_irk", row_number().over(byRel))
      .withColumn("_cumrel", sum(relFlag).over(
        byScore.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val per = ranked.groupBy("_q").agg(
      sum(when(col("_rk") <= k,
        round(gain / log2(col("_rk") + 1), 9).cast(dec)).otherwise(zero))
        .as("_dcg"),
      sum(when(col("_irk") <= k,
        round(gain / log2(col("_irk") + 1), 9).cast(dec)).otherwise(zero))
        .as("_idcg"),
      sum(when(col("_rel") > 0 && col("_rk") <= k,
        round(col("_cumrel").cast("double") / col("_rk"), 9).cast(dec))
        .otherwise(zero)).as("_apsum"),
      min(when(col("_rel") > 0 && col("_rk") <= k, col("_rk"))).as("_minrk"),
      sum(relFlag).as("_totrel"))
    val perq = per.select(
      when(col("_idcg") > 0,
        round(col("_dcg").cast("double") / col("_idcg").cast("double"), 9))
        .otherwise(lit(0.0)).cast(dec).as("_ndcg"),
      when(col("_totrel") > 0,
        round(col("_apsum").cast("double") /
          least(col("_totrel"), lit(k.toLong)).cast("double"), 9))
        .otherwise(lit(0.0)).cast(dec).as("_ap"),
      when(col("_minrk").isNotNull,
        round(lit(1.0) / col("_minrk"), 9)).otherwise(lit(0.0)).cast(dec)
        .as("_rr"))
    perq.agg(count(lit(1)).as("n_queries"),
      sum("_ndcg").as("_sn"), sum("_rr").as("_sr"), sum("_ap").as("_sa"))
      .select(col("n_queries"),
        round(col("_sn").cast("double") / col("n_queries").cast("double"), 6)
          .as("ndcg"),
        round(col("_sr").cast("double") / col("n_queries").cast("double"), 6)
          .as("mrr"),
        round(col("_sa").cast("double") / col("n_queries").cast("double"), 6)
          .as("map"))
  }

  /** Rank-biased overlap (Webber et al. 2010) between the two rankings
    * a score pair induces over the same item set, truncated at `depth`:
    * RBO_d = (1 − p) Σ_{i=1..d} p^{i−1} · |A_i ∩ B_i| / i. The
    * ranking-drift meter: unlike Kendall/Spearman over full lists, RBO
    * is top-weighted — disagreement at rank 3 costs more than at rank
    * 40 — which is what you actually care about when a reranker or
    * index rebuild shifts results. Also reports `overlap_at_depth`
    * (plain |A_d ∩ B_d| / d) and the residual mass p^d that truncation
    * leaves unassigned (RBO_ext would distribute it).
    *
    * Scale shape: each side reduces via TakeOrdered (orderBy + limit —
    * no global sort exchange) to its top-`depth` rows; ranks, the
    * outer join and the depth × pair grid all live on those bounded
    * sets. Ties break on item id so both engines rank identically.
    */
  def rankBiasedOverlap(df: DataFrame, itemCol: String, scoreACol: String,
                        scoreBCol: String, depth: Int = 50,
                        p: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(depth >= 1 && depth <= 1000, "depth in [1, 1000]")
    require(p > 0 && p < 1, "p in (0, 1)")
    def top(scoreCol: String, rankName: String): DataFrame = {
      val ordered = df.select(col(itemCol).as("_item"),
        col(scoreCol).cast("double").as("_s"))
        .filter(col("_s").isNotNull)
        .orderBy(col("_s").desc, col("_item")).limit(depth)
      // bounded single-partition window: `depth` rows by construction
      ordered.withColumn(rankName,
        row_number().over(Window.orderBy(col("_s").desc, col("_item"))))
        .drop("_s")
    }
    val pairs = top(scoreACol, "_ra").join(top(scoreBCol, "_rb"),
      Seq("_item"), "full_outer")
    val grid = pairs.select(col("_ra"), col("_rb"),
      explode(sequence(lit(1), lit(depth))).as("_d"))
    grid.groupBy("_d")
      .agg(sum(when(col("_ra") <= col("_d") && col("_rb") <= col("_d"), 1L)
        .otherwise(0L)).as("_x"))
      .select(col("_d"), col("_x"),
        round(lit(1.0 - p) * pow(lit(p), col("_d") - 1) *
          col("_x").cast("double") / col("_d").cast("double"), 9)
          .cast("decimal(18,9)").as("_term"),
        when(col("_d") === depth,
          round(col("_x").cast("double") / col("_d").cast("double"), 6))
          .as("_od"))
      .agg(sum("_term").cast("double").as("_rbo"), max("_od").as("_odm"))
      .select(round(col("_rbo"), 6).as("rbo"),
        col("_odm").as("overlap_at_depth"),
        round(pow(lit(p), lit(depth)), 6).as("residual_p_d"),
        lit(depth).as("depth"))
  }

  /** pass@k — the LLM-eval staple (Chen et al., "Evaluating Large
    * Language Models Trained on Code", 2021, eq. 1): for a problem with
    * n sampled attempts of which c succeeded, the unbiased estimator of
    * "at least one of k random attempts passes" is
    * 1 − C(n−c,k)/C(n,k). Returns one row per (problem, k) — n, c,
    * pass_at_k — plus the per-k corpus mean and problem count, for each
    * k in `ks` over problems with k ≤ n ≤ `maxAttempts`.
    *
    * Exactness at the engine boundary: the binomial ratio reduces to
    * falling factorials, numerator and denominator both products of at
    * most `k` integers ≤ n. With the guards n ≤ 40 and k ≤ 10 the
    * largest product is 40·39·…·31 ≈ 3.0·10^15 < 2^53, so BOTH factors
    * are exactly representable doubles and the single division is
    * bit-identical in any engine — that, not Long overflow, is what the
    * guard bounds (document states it so nobody "just raises it").
    * Per-problem values quantize at 6 dp into an exact decimal sum for
    * the corpus mean. One grouped fold, a bounded k-explode, one window
    * per k partition; nothing corpus-sized ever sorts or collects.
    */
  def passAtK(df: DataFrame, problemCol: String, success: Column,
              ks: Seq[Int], maxAttempts: Int = 40): DataFrame = {
    require(ks.nonEmpty, "ks must be non-empty")
    require(maxAttempts <= 40,
      "passAtK: maxAttempts > 40 breaks the exact-double falling-" +
        "factorial bound (2^53) — subsample attempts per problem instead")
    require(ks.forall(k => k >= 1 && k <= 10),
      "passAtK: k outside [1,10] breaks the exact-double falling-" +
        "factorial bound (2^53)")
    val perProblem = df
      .filter(col(problemCol).isNotNull)
      .groupBy(col(problemCol).as("problem"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("c"))
      .filter(col("n") <= maxAttempts)
    val keyed = perProblem
      .select(col("problem"), col("n"), col("c"),
        explode(lit(ks.distinct.sorted.toArray)).as("k"))
      .filter(col("k") <= col("n"))
    val falling = (top: Column, k: Column) =>
      aggregate(sequence(lit(0), k - 1), lit(1L),
        (acc, i) => acc * (top - i))
    val scored = keyed.withColumn("pass_at_k",
      round(lit(1.0) -
        falling(col("n") - col("c"), col("k")).cast("double") /
          falling(col("n"), col("k")).cast("double"), 6))
    val perK = org.apache.spark.sql.expressions.Window.partitionBy("k")
    scored
      .withColumn("n_problems", count(lit(1)).over(perK))
      .withColumn("mean_pass_at_k",
        round(sum(col("pass_at_k").cast("decimal(18,6)")).over(perK)
          .cast("double") / col("n_problems"), 6))
  }

  /** Isotonic (PAVA) calibration of a score against a binary label:
    * the least-squares NON-DECREASING fit of the positive rate over
    * score levels — what you apply when [[calibration]] shows a
    * monotone-but-warped scorer and you want corrected probabilities
    * without assuming Platt's sigmoid shape. Returns the distinct-score
    * table (score, n, pos, raw_rate, iso_rate), iso_rate the pooled
    * rate of the PAVA block the level landed in.
    *
    * Shape: ONE grouped aggregation collapses the corpus to distinct
    * score levels (guarded by `maxBins` — pre-bin continuous scores,
    * the guard message says how), then pool-adjacent-violators runs on
    * the driver over that bounded table — O(levels), model-sized by
    * construction, the same driver-math class as kendall's cell walk.
    * Block merge decisions compare pooled rates by EXACT cross-
    * multiplication (BigInt), so no double-compare tie hazard exists;
    * each emitted rate is one integer-ratio double division, which any
    * engine replays bit-identically, and equals the minimax
    * max_{j≤i} min_{k≥i} mean(y_j..y_k) characterization an oracle can
    * compute independently.
    */
  def isotonicCalibration(df: DataFrame, scoreCol: Column, label: Column,
                          maxBins: Int = 1024): DataFrame = {
    // the level table is shared by the bound probe and the real collect
    val levels = Materialize.within(df.filter(scoreCol.isNotNull)
      .groupBy(scoreCol.cast("double").as("score"))
      .agg(count(lit(1)).as("n"),
        sum(when(label, 1L).otherwise(0L)).as("pos"))) { levelTable =>
      // bound BEFORE anything corpus-sized reaches the driver: an
      // unbinned continuous score has millions of distinct levels, and
      // collecting them first just to fail the require would itself be
      // the unbounded driver materialization (the friedman k-count /
      // kendall persist discipline)
      val probe = levelTable.limit(maxBins + 1).count()
      require(probe <= maxBins,
        s"isotonicCalibration: more than maxBins=$maxBins distinct " +
          "score levels — bin the score first (quantile_bins or " +
          "floor(score*B)/B) so the PAVA table stays model-sized")
      levelTable.orderBy("score").collect()
    }
    // PAVA with exact rational compares: merge while the previous block
    // rate exceeds the current (pos_p·n_c > pos_c·n_p)
    case class Block(var n: Long, var pos: Long, var upto: Int)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Block]
    levels.zipWithIndex.foreach { case (r, i) =>
      blocks += Block(r.getAs[Long]("n"), r.getAs[Long]("pos"), i)
      while (blocks.length >= 2 && {
        val p = blocks(blocks.length - 2); val c = blocks.last
        BigInt(p.pos) * BigInt(c.n) > BigInt(c.pos) * BigInt(p.n)
      }) {
        val c = blocks.remove(blocks.length - 1)
        val p = blocks.last
        p.n += c.n; p.pos += c.pos; p.upto = c.upto
      }
    }
    def r6(v: Double): Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val iso = new Array[Double](levels.length)
    var lo = 0
    blocks.foreach { b =>
      val rate = r6(b.pos.toDouble / b.n.toDouble)
      (lo to b.upto).foreach(i => iso(i) = rate)
      lo = b.upto + 1
    }
    val spark = df.sparkSession
    import spark.implicits._
    levels.zipWithIndex.map { case (r, i) =>
      (r.getAs[Double]("score"), r.getAs[Long]("n"), r.getAs[Long]("pos"),
        r6(r.getAs[Long]("pos").toDouble / r.getAs[Long]("n").toDouble),
        iso(i))
    }.toSeq.toDF("score", "n", "pos", "raw_rate", "iso_rate")
  }

  /** Expected / Maximum Calibration Error — the scalar the
    * [[calibration]] table rolls up to and the number every model card
    * reports: ECE = Σ_b (n_b/N)·|acc_b − conf_b|, MCE = max_b |·|.
    * Same equal-width bins as [[calibration]]. One grouped fold, the
    * bin gaps quantized at 6 dp into an exact decimal sum, two rounded
    * outputs.
    */
  def expectedCalibrationError(df: DataFrame, scoreCol: String,
                               label: Column,
                               nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, "nBins in [2, 1000]")
    val s = col(scoreCol).cast("decimal(9,6)")
    val bin = least(floor(s * nBins).cast("long"), lit(nBins - 1L))
    val bins = df.filter(s.isNotNull)
      .select(bin.as("bin"), s.as("_s"),
        when(label, 1L).otherwise(0L).as("_y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("_n"), sum("_y").as("_p"), sum("_s").as("_c"))
    val gap = abs(col("_p").cast("double") / col("_n") -
      col("_c").cast("double") / col("_n"))
    bins
      .select(col("_n"), (round(gap * col("_n"), 6))
        .cast("decimal(28,6)").as("_t"), round(gap, 6).as("_g"))
      .agg(sum("_n").cast("long").as("n"),
        count(lit(1)).as("n_bins_used"),
        round(sum("_t").cast("double") / sum("_n"), 6).as("ece"),
        max("_g").as("mce"))
  }

  /** Single-threshold confusion summary: the four cells plus the
    * scalar verdicts a gate decision needs in one row — precision,
    * recall, F1, BALANCED accuracy (immune to class skew), and the
    * Matthews correlation coefficient (the only single number that
    * stays honest when all four cells matter; an MCC near 0 on 95%
    * accuracy means the classifier learned the prior, not the task).
    * [[thresholdMetrics]] sweeps thresholds; this is the committed-
    * threshold readout for the model card. ONE map-side-combined fold
    * to four exact integers; MCC multiplies in doubles (int64 cell
    * products overflow at ~3e9²) in a fixed operation order.
    */
  def confusionStats(df: DataFrame, scoreCol: String, label: Column,
                     threshold: Double): DataFrame = {
    val pred = col(scoreCol).cast("double") >= lit(threshold)
    val agg = df.filter(col(scoreCol).isNotNull)
      .agg(
        sum(when(label && pred, 1L).otherwise(0L)).as("tp"),
        sum(when(!label && pred, 1L).otherwise(0L)).as("fp"),
        sum(when(label && !pred, 1L).otherwise(0L)).as("fn"),
        sum(when(!label && !pred, 1L).otherwise(0L)).as("tn"))
    val tp = col("tp").cast("double"); val fp = col("fp").cast("double")
    val fn = col("fn").cast("double"); val tn = col("tn").cast("double")
    val prec = tp / (tp + fp)
    val rec = tp / (tp + fn)
    val spec_ = tn / (tn + fp)
    val f1 = lit(2.0) * tp / (lit(2.0) * tp + fp + fn)
    val mccDen = sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    val mcc = (tp * tn - fp * fn) / mccDen
    agg.select(col("tp"), col("fp"), col("fn"), col("tn"),
      when(col("tp") + col("fp") > 0, round(prec, 6)).as("precision"),
      when(col("tp") + col("fn") > 0, round(rec, 6)).as("recall"),
      when(col("tp") * 2 + col("fp") + col("fn") > 0, round(f1, 6))
        .as("f1"),
      when(col("tp") + col("fn") > 0 && col("tn") + col("fp") > 0,
        round((rec + spec_) / lit(2.0), 6)).as("balanced_accuracy"),
      when(mccDen > 0, round(mcc, 6)).as("mcc"))
  }

  /** Group-fairness readout for a binary classifier gate: per group the
    * selection rate (demographic parity), base rate, TPR and FPR
    * (equalized odds), the parity gap against the overall selection
    * rate, and the global disparate-impact ratio (min/max selection
    * rate — the four-fifths-rule number). Gating a corpus on a quality
    * score silently reweights languages and sources; this is the table
    * that makes the reweighting visible before training.
    *
    * Shape: ONE grouped aggregation collapses the corpus to per-group
    * integer counts; every rate and both global columns fold from
    * windows over that bounded group table. Rates are single divisions
    * of exact counts rounded at 6 dp; the gap/ratio compute on the
    * UNROUNDED doubles and round once, mirroring what an independent
    * SQL engine does.
    */
  def fairnessGaps(df: DataFrame, groupCol: String, label: Column,
                   pred: Column): DataFrame = {
    val g = df.groupBy(col(groupCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(label, 1L).otherwise(0L)).as("n_label"),
        sum(when(pred, 1L).otherwise(0L)).as("n_pred"),
        sum(when(label && pred, 1L).otherwise(0L)).as("tp"),
        sum(when(!label && pred, 1L).otherwise(0L)).as("fp"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    val rate = col("n_pred").cast("double") / col("n")
    val overall = sum("n_pred").over(all).cast("double") /
      sum("n").over(all)
    g.select(col("grp"), col("n"), col("n_label"), col("n_pred"),
      round(col("n_label").cast("double") / col("n"), 6).as("base_rate"),
      round(rate, 6).as("selection_rate"),
      when(col("n_label") > 0,
        round(col("tp").cast("double") / col("n_label"), 6)).as("tpr"),
      when(col("n") > col("n_label"),
        round(col("fp").cast("double") / (col("n") - col("n_label")), 6))
        .as("fpr"),
      round(rate - overall, 6).as("parity_gap"),
      when(max(rate).over(all) > 0,
        round(min(rate).over(all) / max(rate).over(all), 6))
        .as("di_ratio"))
  }
}
