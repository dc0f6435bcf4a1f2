package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Re-identification-risk audits for curated release data: k-anonymity
  * (every quasi-identifier combination must describe at least k rows)
  * and l-diversity (every quasi-identifier group must contain at least
  * l distinct sensitive values) — the two standard gates a training
  * corpus with user-derived columns must pass before leaving the
  * trusted boundary. Both are pure aggregation shapes: one
  * map-side-combined count over the quasi key, then every later stage
  * runs on the group table (bounded by quasi-combination cardinality,
  * never row count).
  */
object Privacy {

  private def quasi(df: DataFrame, quasiCols: Seq[String]): Seq[Column] =
    quasiCols.map(c => col(c).cast("string").as(c))

  /** k-anonymity audit: one row per VIOLATING quasi-identifier group
    * (group size < k), carrying the group size plus the global risk
    * summary on every row — total groups, violating groups, rows at
    * risk, and the table's anonymity level (the minimum group size,
    * i.e. the largest k the table actually satisfies).
    *
    * NULL quasi values count as a value (an attacker sees the NULL
    * too), so groups are keyed null-safely by the grouped aggregation
    * itself. At 100 TB: one grouped count (map-side combined), one
    * bounded summary aggregate broadcast back — no stage ever carries
    * more than the group table.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs at least one quasi column")
    require(k >= 2, "k must be >= 2 (k = 1 is vacuous)")
    val groups = df.groupBy(quasi(df, quasiCols): _*)
      .agg(count(lit(1)).as("n"))
    val summary = groups.agg(
      count(lit(1)).as("n_groups"),
      sum(when(col("n") < k, 1L).otherwise(0L)).as("n_violating"),
      sum(when(col("n") < k, col("n")).otherwise(0L)).as("rows_at_risk"),
      min("n").as("anonymity"))
    groups.filter(col("n") < k)
      .crossJoin(broadcast(summary))
  }

  /** Keyed deterministic pseudonymization of identifier columns:
    * each value v becomes sha256(salt || ':' || v) — referential
    * integrity survives (the same user pseudonymizes identically in
    * every table sharing the salt, so joins still work), re-running is
    * idempotent, and recovery requires the salt (keep it out of the
    * released data). The GDPR-style pseudonymization step before a
    * corpus leaves the trusted boundary; combine with [[kAnonymity]]
    * on the REMAINING quasi columns — pseudonymizing the key does not
    * anonymize the row.
    *
    * Shape: a pure per-row projection — codegen'd sha2, no shuffle,
    * no state; NULLs stay NULL (there is nothing to hide). At 100 TB
    * this is scan-speed.
    */
  def pseudonymize(df: DataFrame, cols: Seq[String], salt: String): DataFrame = {
    require(cols.nonEmpty, "pseudonymize needs at least one column")
    require(salt.nonEmpty, "an empty salt makes pseudonyms dictionary-attackable")
    val target = cols.toSet
    df.select(df.columns.map { c =>
      if (target(c))
        when(col(c).isNotNull,
          sha2(concat(lit(salt), lit(":"), col(c).cast("string")), 256))
          .as(c)
      else col(c)
    }: _*)
  }

  /** l-diversity audit: one row per quasi-identifier group whose
    * sensitive column takes FEWER than l distinct values (a k-anonymous
    * group with one shared diagnosis still leaks it), with the global
    * summary on every row — total groups, violating groups, rows at
    * risk, and the minimum diversity actually achieved.
    *
    * Shape: one exact distinct-count aggregation keyed on the quasi
    * combination (two-level partial aggregation over (quasi, sensitive)
    * pairs — never a row-level shuffle wider than the pair table), then
    * the bounded group table drives everything else. NULL sensitive
    * values are excluded from the diversity count (a NULL reveals
    * nothing) but still count toward the group's row total.
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversity needs at least one quasi column")
    require(l >= 2, "l must be >= 2 (l = 1 is vacuous)")
    val groups = df.groupBy(quasi(df, quasiCols): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("diversity"))
    val summary = groups.agg(
      count(lit(1)).as("n_groups"),
      sum(when(col("diversity") < l, 1L).otherwise(0L)).as("n_violating"),
      sum(when(col("diversity") < l, col("n")).otherwise(0L)).as("rows_at_risk"),
      min("diversity").as("min_diversity"))
    groups.filter(col("diversity") < l)
      .crossJoin(broadcast(summary))
  }

  /** t-closeness audit (categorical sensitive column): one row per
    * quasi-identifier group whose sensitive-value distribution sits
    * MORE than `t` total-variation distance from the global
    * distribution — the gate after [[lDiversity]] (a group can be
    * diverse yet skewed: 90% one diagnosis where the population has
    * 10% still leaks), with the global summary on every row.
    *
    * TVD(g) = ½ Σ_v |p_g(v) − p(v)|, with the mass of values ABSENT
    * from the group added analytically (Σ_{v∉g} p(v) =
    * 1 − Σ_{v∈g} p(v) — the [[graft.operators.Stats.mutualInfo]]
    * absent-cell policy; enumerating every (group, value) cell would
    * square the cell table for nothing).
    *
    * Exactness: every per-value term is the exact integer
    * |c_gv·n − c_v·n_g| (cross-multiplied — no per-term division),
    * summed in DECIMAL(38,0); ONE double division per group at the
    * end, rounded at 6 dp. NULL sensitive values are excluded from
    * the distributions ([[lDiversity]]'s convention: a NULL reveals
    * nothing).
    *
    * Shape: one (quasi, sensitive) pair count (map-side combined),
    * then every stage runs on the pair/group tables — bounded by
    * quasi×sensitive cardinality, never row count; the value and
    * grand totals attach by broadcast.
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, t: Double): DataFrame = {
    require(quasiCols.nonEmpty, "tCloseness needs at least one quasi column")
    require(t > 0 && t < 1, "t must be in (0, 1)")
    val qCols = quasiCols.map(col)
    val pairs = df.filter(col(sensitiveCol).isNotNull)
      .groupBy(quasi(df, quasiCols) :+
        col(sensitiveCol).cast("string").as("_s"): _*)
      .agg(count(lit(1)).as("_cgv"))
    val groupTot = pairs.groupBy(qCols: _*).agg(sum("_cgv").as("n"))
    val valTot = pairs.groupBy("_s").agg(sum("_cgv").as("_cv"))
    val tot = pairs.agg(sum("_cgv").as("_nn"))
    val dec = "decimal(38,0)"
    val groups = pairs
      .join(broadcast(valTot), "_s")
      .join(groupTot, quasiCols)
      .crossJoin(broadcast(tot))
      .groupBy(qCols: _*)
      .agg(max("n").as("n"), max("_nn").as("_nn"),
        sum(abs(col("_cgv").cast(dec) * col("_nn") -
          col("_cv").cast(dec) * col("n"))).as("_sumabs"),
        sum(col("_cv").cast(dec)).as("_sumcv"))
      .withColumn("tvd", round(
        (col("_sumabs") + col("n").cast(dec) * (col("_nn") - col("_sumcv")))
          .cast("double") /
          (lit(2.0) * col("n") * col("_nn")), 6))
      .select(qCols :+ col("n") :+ col("tvd"): _*)
    val summary = groups.agg(
      count(lit(1)).as("n_groups"),
      sum(when(col("tvd") > t, 1L).otherwise(0L)).as("n_violating"),
      sum(when(col("tvd") > t, col("n")).otherwise(0L)).as("rows_at_risk"),
      max("tvd").as("max_tvd"))
    groups.filter(col("tvd") > t)
      .crossJoin(broadcast(summary))
  }

  /** ε-differentially-private release of per-group counts and a
    * clipped sum (the Laplace mechanism): each group's true count gets
    * Laplace(1/(ε/2)) noise, its sum of per-row values clipped to
    * [0, clip] gets Laplace(clip/(ε/2)) — the even ε split across the
    * two statistics composes to an ε-DP release of both. The noise is
    * CONTENT-ADDRESSED like every sampler in this repo: the Laplace
    * draw inverts a uniform derived from md5(salt:group:stat), so the
    * release is a pure function of (salt, data) — re-runs, engines, and
    * layouts agree bit-for-bit, and publishing twice never spends extra
    * budget by accident (the draws repeat rather than refresh; rotate
    * the salt to spend again). True counts and sums never appear in the
    * output.
    *
    * Contribution bound: the sensitivity argument (Δcount = 1,
    * Δsum = clip) assumes each privacy unit contributes AT MOST ONE ROW
    * — pre-aggregate to one row per user before calling, exactly like
    * the experiment readouts do.
    *
    * `threshold` > 0 enables the stability-based variant for UNKNOWN
    * group domains: groups whose noisy count lands below the threshold
    * are suppressed, so the released group SET no longer reveals rare
    * keys (the presence of a group named by one user's PII is itself a
    * leak); the suppression costs a δ term, making the release
    * (ε, δ)-DP with δ bounded by exp(−ε·(threshold−1)/2)/2.
    *
    * Shape: ONE map-side-combined aggregation to the bounded group
    * table, then per-group scalar noise math — scan-dominated at any
    * scale, no second exchange.
    */
  def dpRelease(df: DataFrame, groupCol: String, valueCol: Column,
                epsilon: Double, clip: Double, salt: String = "dp",
                threshold: Double = 0.0): DataFrame = {
    require(epsilon > 0, "epsilon must be positive")
    require(clip > 0, "clip must be positive (the sum sensitivity)")
    require(salt.nonEmpty, "an empty salt makes the noise guessable")
    val clipped = least(greatest(coalesce(valueCol.cast("double"), lit(0.0)),
      lit(0.0)), lit(clip)).cast("decimal(18,6)")
    val grouped = df
      .groupBy(col(groupCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("_n"), sum(clipped).as("_s"))
    def lap(stat: String, scale: Double): Column =
      laplaceNoise(concat(lit(s"$salt:"), col("grp"), lit(s":$stat")), scale)
    val released = grouped.select(col("grp").as(groupCol),
      round(col("_n").cast("double") + lap("c", 2.0 / epsilon), 6)
        .as("noisy_count"),
      round(col("_s").cast("double") + lap("s", 2.0 * clip / epsilon), 6)
        .as("noisy_sum"))
    if (threshold > 0) released.filter(col("noisy_count") >= threshold)
    else released
  }

  /** Content-addressed Laplace draw: md5(seed) → 60-bit integer →
    * uniform in (−0.5, 0.5) (the +0.5 centers each lattice point, so u
    * is never exactly 0 — sign is defined — and never ±0.5 — the ln
    * stays finite) → inverse-CDF Laplace at `scale`. Shared by the
    * batch and streaming DP releases so their noise is identical for
    * identical seeds.
    */
  private[graft] def laplaceNoise(seed: Column, scale: Double): Column = {
    val u60 = conv(substring(md5(seed), 1, 15), 16, 10).cast("double")
    val u = (u60 + lit(0.5)) / lit(math.scalb(1.0, 60)) - lit(0.5)
    lit(-scale) * signum(u) * log(lit(1.0) - lit(2.0) * abs(u))
  }

  /** ε-DP quantile via the EXPONENTIAL mechanism — the other half of a
    * DP release toolkit ([[dpRelease]] perturbs counts; output
    * perturbation cannot release a quantile, whose sensitivity is the
    * whole data range). Each distinct value v scores
    * u(v) = −|#below(v) − q·n| (how far v sits from the target rank,
    * sensitivity 1), and the released value is
    * argmax_v [ ε/2·u(v) + Gumbel_v ] — the Gumbel-max trick IS the
    * exponential mechanism, with the Gumbel draw content-addressed
    * (md5(salt:v), same contract as [[dpRelease]]: re-runs agree,
    * rotate the salt to spend more budget).
    *
    * The candidate set is the distinct-value table, guarded by
    * `maxBins` (pre-bin continuous columns first — a quantile of
    * binned values is what you want under DP anyway, and the guard
    * names that remedy). One distinct-count aggregation, one window
    * over the bounded value table, one TakeOrdered(1) — never a
    * corpus-sized sort or collect.
    */
  def dpQuantile(df: DataFrame, valueCol: Column, q: Double,
                 epsilon: Double, salt: String = "dpq",
                 maxBins: Long = 100000L): DataFrame = {
    require(q > 0 && q < 1, "q must be in (0, 1)")
    require(epsilon > 0, "epsilon must be positive")
    require(salt.nonEmpty, "an empty salt makes the draw guessable")
    // persist the bounded value table: the guard action and the argmax
    // must not each re-scan the corpus (the kendallTau lesson, r12)
    Materialize.within(df.filter(valueCol.isNotNull)
      .groupBy(valueCol.cast("double").as("v"))
      .agg(count(lit(1)).as("c"))) { vals =>
      val g = vals.agg(count(lit(1)).as("bins"), sum("c").as("n")).head()
      val (bins, n) = (g.getLong(0), g.getLong(1))
      require(bins <= maxBins,
        s"dpQuantile: $bins distinct values > maxBins=$maxBins — the " +
          "candidate table must stay bounded; pre-bin the column " +
          "(quantile_bins / floor(v/width)) and release the bin instead")
      // 1-row materialization so unpersist is safe for the caller
      val win = dpQuantileArgmaxPlan(vals, n, q, epsilon, salt).head()
      val spark = df.sparkSession
      import spark.implicits._
      Seq((win.getDouble(0), n, bins)).toDF("dp_quantile", "n", "n_bins")
    }
  }

  /** The argmax stage of [[dpQuantile]] as an unexecuted plan over the
    * bounded value table `vals(v, c)` — factored out so the plan shape
    * (a TakeOrdered(1), never a global sort) stays auditable after
    * [[dpQuantile]] began materializing its one result row eagerly.
    */
  private[graft] def dpQuantileArgmaxPlan(vals: DataFrame, n: Long,
                                          q: Double, epsilon: Double,
                                          salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // exact-decimal target rank: q·n must not drift off an integer
    // boundary (the bootstrap-CI lesson, NOTES r13)
    val qn = lit(java.math.BigDecimal.valueOf(q)
      .multiply(java.math.BigDecimal.valueOf(n)))
    val below = coalesce(sum("c").over(Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val absdev = abs(below.cast("decimal(28,6)") - qn)
    val u60 = conv(substring(md5(concat(lit(s"$salt:"),
      col("v").cast("string"))), 1, 15), 16, 10).cast("double")
    val unif = (u60 + lit(0.5)) / lit(math.scalb(1.0, 60))
    val gumbel = -log(-log(unif))
    vals
      .withColumn("_score",
        lit(-epsilon / 2.0) * absdev.cast("double") + gumbel)
      .orderBy(col("_score").desc, col("v"))
      .limit(1)
      .select(col("v"))
  }
}
