package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics operators over an event stream: sequential funnels,
  * cohort retention, and exact heavy hitters with an approximate
  * candidate pass. All are classic large-scale event-warehouse queries;
  * each is expressed as declarative aggregations so Catalyst keeps
  * map-side partial aggregation and reuses the user-key partitioning
  * across stages.
  */
object EventAnalytics {

  /** Sequential (ordered) funnel: for each step i > 0 a user counts as
    * converted only if they performed step i at-or-after their earliest
    * completion of step i-1. Returns one row per step:
    * (step_idx, step, users, pct_of_first).
    *
    * Shape: per-step filtered scan → min-timestamp aggregate keyed on
    * the user, then an equi-join to the previous stage's reach — every
    * aggregate and join is keyed on the same user column, so the hash
    * partitioning established by stage 0 is reused down the chain
    * (no re-shuffle of the reach side; AQE broadcasts it once it
    * shrinks below the threshold, which it does monotonically: reach
    * can only lose users per step). The per-step counts are single-row
    * aggregates unioned at the end.
    *
    * For short funnels the whole chain stays lazy: each stage's plan
    * includes its predecessors, so the k counts re-evaluate a
    * triangular number of stages — fine for the practical k ≤ ~6.
    * Beyond `persistThreshold` steps the triangular re-evaluation is
    * killed by materializing each reach (MEMORY_AND_DISK, spillable)
    * via the per-step count the funnel needs anyway, unpersisting the
    * predecessor as soon as its successor is cached — every stage body
    * evaluates exactly once and at most two (monotonically shrinking)
    * reaches are ever cached.
    */
  def funnel(events: DataFrame, steps: Seq[String], userCol: String = "user_id",
             typeCol: String = "event_type", tsCol: String = "ts",
             persistThreshold: Int = 6): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val eager = steps.size > persistThreshold
    def cache(df: DataFrame): DataFrame =
      if (eager) df.persist()
      else df
    var reach = cache(events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol).as("u")).agg(min(col(tsCol)).as("t")))
    val spark = events.sparkSession
    import spark.implicits._
    def countRow(i: Int, r: DataFrame): DataFrame =
      if (eager) Seq((i.toLong, steps(i), r.count())).toDF("step_idx", "step", "users")
      else r.agg(count(lit(1)).as("users"))
        .select(lit(i.toLong).as("step_idx"), lit(steps(i)).as("step"), col("users"))
    val counts = scala.collection.mutable.Buffer[DataFrame](countRow(0, reach))
    for (i <- 1 until steps.size) {
      val prev = reach
      reach = cache(events.filter(col(typeCol) === steps(i))
        .join(prev, col(userCol) === col("u") && col(tsCol) >= col("t"))
        .groupBy(col("u")).agg(min(col(tsCol)).as("t")))
      counts += countRow(i, reach)
      if (eager) prev.unpersist(false)
    }
    if (eager) reach.unpersist(false)
    val all = counts.reduce(_ unionAll _)
    val first = counts.head.select(col("users").as("first_users"))
    all.crossJoin(broadcast(first))
      .select(col("step_idx"), col("step"), col("users"),
        (col("users").cast("double") / col("first_users")).as("pct_of_first"))
  }

  /** Weekly cohort retention: cohort = the user's first active day,
    * week_offset = whole weeks since it, n_users = distinct users from
    * that cohort active in that offset week. Two shuffles — one on the
    * user (first-day aggregate + re-join) and one on
    * (cohort_day, week_offset) — both on well-distributed keys.
    */
  /** Kaplan–Meier survival estimate of user lifetime: for each observed
    * lifetime t (days from a user's first to last activity), the number
    * still at risk, the churn events at t, the right-censored users at
    * t, and the survival probability S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)
    * — the statistically honest retention curve (plain retention
    * percentages understate survival because still-active users haven't
    * churned YET; censoring handles that). A user whose last activity
    * falls within `censorDays` of the observation end is censored
    * (still alive as far as the data can tell), otherwise their
    * lifetime ended in churn.
    *
    * Shape: one grouped min/max per user (map-side combined), one
    * count aggregation to the lifetime table — bounded by distinct
    * lifetimes, i.e. the observation window in days — then windows run
    * only over that bounded table (single partition BY DESIGN). At
    * 100 TB the only full-data pass is the per-user aggregate.
    *
    * Cross-engine exactness: each factor (n_i − d_i)/n_i is one double
    * division rounded at 6 dp, its log rounds at 6 dp, the logs
    * accumulate as an EXACT decimal sum (order-insensitive), and
    * exp(·) rounds at 6 dp — the [[Profile.keySkew]] entropy policy.
    * A zero factor (everyone at risk churns) forces S = 0 from that
    * lifetime on via the running min, not via ln(0).
    */
  def kaplanMeier(events: DataFrame, userCol: String = "user_id",
                  tsCol: String = "ts", censorDays: Int = 5): DataFrame = {
    require(censorDays >= 0, "censorDays must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val users = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(userCol).as("_u"))
      .agg(min(day).as("_first"), max(day).as("_last"))
    val maxDay = users.agg(max("_last").as("_m"))
    val lifetimes = users.crossJoin(broadcast(maxDay))
      .select((col("_last") - col("_first")).as("t"),
        (col("_last") <= col("_m") - censorDays).as("_churned"))
      .groupBy("t")
      .agg(sum(when(col("_churned"), 1L).otherwise(0L)).as("n_events"),
        sum(when(col("_churned"), 0L).otherwise(1L)).as("n_censored"))
    val byT = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    lifetimes
      // at risk at t = everyone whose lifetime reached t: total minus
      // all who left strictly before t
      .withColumn("n_risk",
        sum(col("n_events") + col("n_censored")).over(all) -
          (sum(col("n_events") + col("n_censored")).over(byT) -
            (col("n_events") + col("n_censored"))))
      .withColumn("_factor",
        round((col("n_risk") - col("n_events")).cast("double") /
          col("n_risk"), 6))
      .withColumn("_lnsum",
        sum(when(col("_factor") > 0.0,
          round(log(col("_factor")), 6).cast("decimal(18,6)"))
          .otherwise(lit(java.math.BigDecimal.ZERO.setScale(6)))).over(byT))
      .withColumn("survival",
        when(min("_factor").over(byT) === 0.0, lit(0.0))
          .otherwise(round(exp(col("_lnsum").cast("double")), 6)))
      .select(col("t"), col("n_risk"), col("n_events"), col("n_censored"),
        col("survival"))
  }

  /** Entropy rate of the event-type Markov chain — how PREDICTABLE the
    * next action is given the current one:
    * H = Σ_{a,b} (c_ab/C)·ln(c_a/c_ab) nats over the empirical
    * transition counts (per-user lag pairs), with the perplexity
    * exp(H) as "effective branching factor". Near-zero entropy rate =
    * scripted/robotic flows (the sequence-level cousin of
    * [[botScore]]'s cadence CV); the drop after a product change is a
    * real behavioral shift.
    *
    * Shape: one user-keyed lag window sharing its exchange with the
    * transition fold (bounded |types|² table), per-cell terms
    * quantized at 9 dp into an exact decimal sum.
    */
  def entropyRate(events: DataFrame, userCol: String = "user_id",
                  tsCol: String = "ts", idCol: String = "event_id",
                  typeCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .withColumn("_next", lead(col(typeCol), 1).over(w))
      .filter(col("_next").isNotNull)
      .groupBy(col(typeCol).as("_a"), col("_next").as("_b"))
      .agg(count(lit(1)).as("_cab"))
    val rowTot = pairs.groupBy("_a").agg(sum("_cab").as("_ca"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    val term = round(col("_cab").cast("double") / col("_tot") *
      log(col("_ca").cast("double") / col("_cab")), 9)
      .cast("decimal(28,9)")
    pairs.join(rowTot, "_a")
      .withColumn("_tot", sum("_cab").over(all))
      .select(col("_tot"), term.as("_term"),
        col("_a"), col("_b"))
      .agg(first("_tot").cast("long").as("n_transitions"),
        count(lit(1)).as("n_cells"),
        round(sum("_term").cast("double"), 6).as("entropy_rate_nats"))
      .withColumn("perplexity",
        round(exp(col("entropy_rate_nats")), 6))
  }

  /** Chapman capture–recapture estimate of a population you can only
    * sample twice (Lincoln–Petersen, bias-corrected): split the stream
    * at its midpoint, let n₁/n₂ be the users matching `capture` in each
    * half and m the users in both, then N̂ = (n₁+1)(n₂+1)/(m+1) − 1
    * with Seber's variance. The pipeline use: estimate how many
    * duplicate clusters (or active users, or crawlable hosts) EXIST
    * from two independent sightings — i.e. what a dedup pass is still
    * missing. Returns one row (n1, n2, m, n_hat, se, ci_lo, ci_hi);
    * NULL estimates when m = 0 (no overlap → the method has no
    * information).
    *
    * Shape: one per-user fold (two conditional flags against the
    * broadcast midpoint), one closing 1-row fold — all exact integers
    * until the closing fixed-order doubles.
    */
  def captureRecapture(events: DataFrame, capture: Column,
                       userCol: String = "user_id",
                       tsCol: String = "ts",
                       zCrit: Double = 1.959964): DataFrame = {
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val span = events.filter(col(tsCol).isNotNull)
      .agg(min(day).as("_lo"), max(day).as("_hi"))
    val mid = (col("_lo") + col("_hi")).cast("long") / 2
    val users = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .crossJoin(broadcast(span.select(floor(mid).as("_mid"))))
      .groupBy(col(userCol))
      .agg(max(when(capture && day <= col("_mid"), 1L).otherwise(0L))
        .as("_c1"),
        max(when(capture && day > col("_mid"), 1L).otherwise(0L))
          .as("_c2"))
    val agg = users.agg(
      sum("_c1").as("n1"), sum("_c2").as("n2"),
      sum(col("_c1") * col("_c2")).as("m"))
    val (n1, n2, m) = (col("n1").cast("double"), col("n2").cast("double"),
      col("m").cast("double"))
    val nHat = (n1 + 1) * (n2 + 1) / (m + 1) - lit(1.0)
    val se = sqrt((n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m) /
      ((m + 1) * (m + 1) * (m + 2)))
    agg.select(col("n1"), col("n2"), col("m"),
      when(col("m") > 0, round(nHat, 6)).as("n_hat"),
      when(col("m") > 0, round(se, 6)).as("se"),
      when(col("m") > 0, round(nHat - lit(zCrit) * se, 6)).as("ci_lo"),
      when(col("m") > 0, round(nHat + lit(zCrit) * se, 6)).as("ci_hi"))
  }

  /** Nelson–Aalen cumulative-hazard estimator on the same lifetime
    * construction as [[kaplanMeier]]: H(t) = Σ_{t_j ≤ t} d_j/n_j with
    * Klein's variance Σ d_j/n_j² — the additive companion to KM's
    * multiplicative survival (preferred for small risk sets and as the
    * input to hazard-ratio eyeballing; S(t) ≈ exp(−H(t))). Returns one
    * row per distinct lifetime (t, n_risk, n_events, n_censored,
    * cum_hazard, cum_hazard_var).
    *
    * Shape: identical to [[kaplanMeier]] — one per-user fold, one
    * lifetime cell count, cumulative windows over the bounded lifetime
    * table. Per-time terms are integer ratios rounded at 6 dp into
    * exact decimal running sums, so no engine or partitioning can move
    * a bit.
    */
  def nelsonAalen(events: DataFrame, userCol: String = "user_id",
                  tsCol: String = "ts", censorDays: Int = 5): DataFrame = {
    require(censorDays >= 0, "censorDays must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val users = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(userCol).as("_u"))
      .agg(min(day).as("_first"), max(day).as("_last"))
    val maxDay = users.agg(max("_last").as("_m"))
    val lifetimes = users.crossJoin(broadcast(maxDay))
      .select((col("_last") - col("_first")).as("t"),
        (col("_last") <= col("_m") - censorDays).as("_churned"))
      .groupBy("t")
      .agg(sum(when(col("_churned"), 1L).otherwise(0L)).as("n_events"),
        sum(when(col("_churned"), 0L).otherwise(1L)).as("n_censored"))
    val byT = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val big = (c: Column) => c.cast("decimal(38,0)")
    lifetimes
      .withColumn("n_risk",
        sum(col("n_events") + col("n_censored")).over(all) -
          (sum(col("n_events") + col("n_censored")).over(byT) -
            (col("n_events") + col("n_censored"))))
      .withColumn("_h",
        round(col("n_events").cast("double") / col("n_risk"), 6)
          .cast("decimal(18,6)"))
      .withColumn("_v",
        round(col("n_events").cast("double") /
          (big(col("n_risk")) * big(col("n_risk"))).cast("double"), 6)
          .cast("decimal(18,6)"))
      .select(col("t"), col("n_risk"), col("n_events"), col("n_censored"),
        sum("_h").over(byT).cast("double").as("cum_hazard"),
        sum("_v").over(byT).cast("double").as("cum_hazard_var"))
  }

  /** Two-group log-rank test on the same lifetime construction as
    * [[kaplanMeier]]: do users who ever fired `treatEvent` churn on a
    * different schedule than those who never did? At each distinct
    * lifetime t with d_t total churns, group 1's expected share is
    * d_t·n1_t/n_t of the at-risk sets, and the statistic accumulates
    * O−E and the hypergeometric variance
    * v_t = d_t·n1_t·(n_t−n1_t)·(n_t−d_t) / (n_t²·(n_t−1)) across all
    * event times. Returns one row (users_1, users_0, observed_1,
    * expected_1, variance, z, chi2); NULL z/chi2 when the variance is
    * zero (one group empty or no uncensored churn).
    *
    * Shape: one per-user fold, one per-(lifetime) cell count, two
    * cumulative windows over the bounded lifetime table (max observed
    * lifetime in days bounds it, same as [[kaplanMeier]]), one final
    * fold. Exactness: at-risk counts and every v_t numerator are exact
    * integers (decimal(38,0) products); each per-time term rounds at
    * 6 dp into an exact decimal sum, so partitioning cannot move a bit;
    * the closing z/chi2 are fixed-order double expressions.
    */
  def logRank(events: DataFrame, userCol: String = "user_id",
              tsCol: String = "ts", treatEvent: String = "purchase",
              eventTypeCol: String = "event_type",
              censorDays: Int = 5): DataFrame = {
    require(censorDays >= 0, "censorDays must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val users = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(userCol).as("_u"))
      .agg(min(day).as("_first"), max(day).as("_last"),
        max(when(col(eventTypeCol) === treatEvent, 1L).otherwise(0L))
          .as("_g1"))
    val maxDay = users.agg(max("_last").as("_m"))
    val cells = users.crossJoin(broadcast(maxDay))
      .select((col("_last") - col("_first")).as("t"), col("_g1"),
        when(col("_last") <= col("_m") - censorDays, 1L).otherwise(0L)
          .as("_d"))
      .groupBy("t")
      .agg(sum(col("_g1") * col("_d")).as("d1"),
        sum(col("_d")).as("d"),
        sum(col("_g1")).as("m1"),
        count(lit(1)).as("m"))
    val byT = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val big = (c: Column) => c.cast("decimal(38,0)")
    val withRisk = cells
      .withColumn("n_risk", sum("m").over(all) -
        (sum("m").over(byT) - col("m")))
      .withColumn("n1_risk", sum("m1").over(all) -
        (sum("m1").over(byT) - col("m1")))
    val terms = withRisk
      .withColumn("_e1", when(col("d") > 0,
        round((big(col("d")) * big(col("n1_risk"))).cast("double") /
          col("n_risk"), 6)).otherwise(lit(0.0)).cast("decimal(18,6)"))
      .withColumn("_v", when(col("d") > 0 && col("n_risk") > 1,
        round((big(col("d")) * big(col("n1_risk")) *
          big(col("n_risk") - col("n1_risk")) *
          big(col("n_risk") - col("d"))).cast("double") /
          (big(col("n_risk")) * big(col("n_risk")) *
            big(col("n_risk") - 1)).cast("double"), 6))
        .otherwise(lit(0.0)).cast("decimal(18,6)"))
    val o1 = col("_o1").cast("double")
    val e1 = col("_e1s").cast("double")
    val v = col("_vs").cast("double")
    terms
      .agg(sum("m1").cast("long").as("users_1"),
        (sum("m") - sum("m1")).cast("long").as("users_0"),
        sum(col("d1")).cast("long").as("_o1"),
        sum("_e1").as("_e1s"), sum("_v").as("_vs"))
      .select(col("users_1"), col("users_0"),
        col("_o1").as("observed_1"),
        round(e1, 6).as("expected_1"),
        round(v, 6).as("variance"),
        when(col("_vs") > 0,
          round((o1 - e1) / sqrt(v), 6)).as("z"),
        when(col("_vs") > 0,
          round((o1 - e1) * (o1 - e1) / v, 6)).as("chi2"))
  }

  def retentionCohorts(events: DataFrame, userCol: String = "user_id",
                       tsCol: String = "ts"): DataFrame = {
    val d = events.select(col(userCol).as("u"), to_date(col(tsCol)).as("day"))
    val first = d.groupBy("u").agg(min("day").as("cohort_day"))
    d.join(first, "u")
      .select(col("u"), col("cohort_day"),
        expr("datediff(day, cohort_day) div 7").cast("long").as("week_offset"))
      .distinct()
      .groupBy("cohort_day", "week_offset").agg(count(lit(1)).as("n_users"))
  }

  /** Per-type dwell-time profile: the gap from each event to the SAME
    * user's next event, capped at `capMinutes` (a gap past the cap is a
    * session break, not a dwell), aggregated per event type — how long
    * users linger after each kind of interaction. Timestamps convert to
    * integer epoch-micros BEFORE any arithmetic, so sums are exact and
    * the two rounded outputs (mean, exact interpolated p50) replay
    * bit-for-bit cross-engine.
    *
    * Shape: one user-keyed window (partitioned per user — never
    * global), then a map-side-combined aggregation to the type-bounded
    * output. Two shuffles total, both on natural keys.
    */
  def dwellTimes(events: DataFrame, capMinutes: Int = 30,
                 userCol: String = "user_id", tsCol: String = "ts",
                 typeCol: String = "event_type",
                 idCol: String = "event_id"): DataFrame = {
    require(capMinutes > 0, "capMinutes must be positive")
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    events
      .withColumn("_gap_us",
        unix_micros(lead(col(tsCol), 1).over(w)) - unix_micros(col(tsCol)))
      .filter(col("_gap_us").isNotNull &&
        col("_gap_us") <= capMinutes * 60L * 1000000L)
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n_dwells"),
        round(sum("_gap_us").cast("double") / count(lit(1)) / lit(1e6), 6)
          .as("avg_dwell_sec"),
        round(expr("percentile(_gap_us, 0.5)") / lit(1e6), 6)
          .as("p50_dwell_sec"))
  }

  /** Distinct-users-seen-so-far per day, via the first-appearance
    * trick: cumulative distinct count over time is NOT O(days) distinct
    * scans — a user contributes to the cumulative count from their
    * FIRST active day onward, so one min-day aggregate per user, one
    * count per day, and a running sum over the day-bounded series give
    * (day, new_users, cum_users) exactly. The growth-accounting query
    * every event warehouse runs.
    *
    * Scale shape: one hash aggregate keyed on the user (map-side
    * combined), one tiny aggregate keyed on the day, and the cumulative
    * window runs over the DAY-BOUNDED aggregate (thousands of rows at
    * any data scale), not the events — the single-partition window is
    * deliberate and safe there. With `segmentCols` the whole pipeline
    * keys on (segment, user) instead, and the window partitions by
    * segment: per-segment adoption curves at the same cost.
    */
  def cumulativeDistinctDaily(events: DataFrame, userCol: String = "user_id",
                              tsCol: String = "ts",
                              segmentCols: Seq[String] = Nil): DataFrame = {
    val seg = segmentCols.map(col)
    val firstDay = events
      .select(seg :+ col(userCol).as("u") :+ to_date(col(tsCol)).as("day"): _*)
      .groupBy(seg :+ col("u"): _*).agg(min("day").as("day"))
    val perDay = firstDay.groupBy(seg :+ col("day"): _*)
      .agg(count(lit(1)).as("new_users"))
    val w = Window.partitionBy(seg: _*).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay.withColumn("cum_users", sum("new_users").over(w))
  }

  /** Robust per-group outlier flags via median/MAD (the
    * breakdown-point-0.5 alternative to mean/stddev z-scores, immune to
    * the outliers it is hunting): per `groupCol`, med = exact median of
    * `valueCol`, MAD = exact median of |v - med|, and a row is an
    * outlier when |v - med| > k · 1.4826 · MAD (1.4826 scales MAD to
    * σ-equivalents under normality). Groups with MAD = 0 (constant or
    * half-constant groups) flag nothing — the robust z is undefined
    * there, not infinite.
    *
    * Scale shape: two grouped exact-`percentile` aggregations (the
    * second on the residuals after a join of the group-bounded
    * medians) and one joined filter pass; nothing global-sorts the
    * data, and group count bounds every intermediate. Exact
    * `percentile` holds a value→count map per group in its
    * aggregation buffer, so the percentile INPUT is pre-quantized at
    * 6 dp: the buffer is then bounded by (value range × 10⁶) distinct
    * entries per group — min'd with the group size — instead of one
    * entry per distinct raw double (a single giant group of
    * mostly-distinct doubles would otherwise OOM an executor). The
    * MAD pass inherits the bound: |v − med| is a difference of two
    * 6 dp values. Same invariant as
    * [[graft.operators.Similarity.centroidOutliers]], stated there
    * too. For metrics whose 6 dp-quantized range is still huge, swap
    * `percentile` for `percentile_approx` — same plan shape, bounded
    * state.
    *
    * The table is scanned three times per call and that is the floor
    * for this statistic, not an oversight: MAD needs the median first,
    * and the flag pass needs MAD complete — a two-level dependent
    * aggregation plus scoring cannot fuse below three passes without
    * caching, which stays the caller's call (persist df before calling
    * if the input is remote/expensive).
    */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     k: Double = 3.5): DataFrame = {
    // med and mad are ROUNDED (6 dp) before the z computation: the
    // interpolated medians are the only non-exact inputs, and rounding
    // them first makes the downstream arithmetic replayable bit-for-bit
    // by any engine whose rounded medians agree
    // meds/mads are one row per GROUP — unbounded when groupCol is
    // user-grained — so no forced broadcast hint: AQE broadcasts the
    // dimension when it fits and falls back to a shuffle join keyed on
    // the same groupCol when it doesn't.
    // pre-quantize the percentile inputs at 6 dp (see scaladoc): the
    // exact-percentile buffer is bounded by distinct QUANTIZED values,
    // not distinct raw doubles. The published value column stays raw.
    val meds = df.groupBy(col(groupCol))
      .agg(round(expr(s"percentile(round($valueCol, 6), 0.5)"), 6).as("med"))
    val withMed = df.join(meds, Seq(groupCol))
    val mads = withMed
      .groupBy(col(groupCol), col("med"))
      .agg(round(expr(s"percentile(round(abs(round($valueCol, 6) - med), 6), 0.5)"), 6)
        .as("mad"))
    df.join(mads, Seq(groupCol))
      .withColumn("robust_z",
        when(col("mad") > 0,
          round((col(valueCol) - col("med")) / (lit(1.4826) * col("mad")), 6)))
      .withColumn("is_outlier",
        coalesce(abs(col("robust_z")) > k, lit(false)))
  }

  /** Exact heavy hitters above a relative `support` threshold, found
    * with an approximate candidate pass: `stat.freqItems` (a one-pass
    * distributed Karp/Misra–Gries variant) is GUARANTEED to return a
    * superset of every item with frequency > support, in a driver-side
    * list bounded by ~1/support entries regardless of key cardinality.
    * The exact counting pass then touches only candidate rows — on a
    * heavy-tailed 100 TB key space this shuffles a bounded number of
    * groups instead of one per distinct key — and the final strict
    * `count > support * total` filter removes the candidate pass's
    * false positives, so the result is exactly the brute-force answer.
    */
  def heavyHitters(df: DataFrame, keyCol: String, support: Double): DataFrame = {
    require(support > 0 && support < 1, "support must be in (0, 1)")
    val cands = df.stat.freqItems(Array(keyCol), support)
      .collect()(0).getSeq[Any](0)
    // Exact pass folds the grand total into the same aggregation: rows
    // outside the candidate set (and null keys, which `isin` also
    // excluded before) collapse into a null group, so one scan yields
    // both per-candidate counts and — summed across the <= 1/support + 1
    // groups with a trivial single-partition window — the exact total.
    // Map-side partial agg bounds the shuffle at (#groups x #partitions)
    // rows regardless of input size.
    val grouped = df
      .groupBy(when(col(keyCol).isin(cands: _*), col(keyCol)).as("hh_key"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy()
    grouped.withColumn("total", sum("n").over(w).cast("double"))
      .filter(col("hh_key").isNotNull && col("n") > lit(support) * col("total"))
      .select(col("hh_key").as(keyCol), col("n"),
        (col("n").cast("double") / col("total")).as("share"))
  }

  /** Market-basket pair co-occurrence (frequent-itemset mining at
    * k = 2): for every unordered item pair {a < b}, the number of
    * baskets containing both, kept at `minSupport` baskets or more.
    *
    * Shape: one (basket, item)-distinct aggregation, an Apriori
    * FREQUENT-ITEM PRUNE (an item in a frequent pair is itself
    * frequent, so items below `minSupport` baskets are semi-joined out
    * of the basket lists BEFORE any pairing — on heavy-tailed session
    * baskets the width² expansion would otherwise be paid mostly for
    * items that can never survive), then a self equi-join on the
    * basket — pair amplification is quadratic in PRUNED basket size —
    * and a hash aggregation on the pair with map-side combine. The
    * classic Apriori candidate generation; deterministic, no sampling.
    */
  def coOccurrence(df: DataFrame, basketCol: String, itemCol: String,
                   minSupport: Long): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    val bi = prunedBasketItems(df, basketCol, itemCol, minSupport)
    pairCounts(bi).filter(col("n_baskets") >= minSupport)
  }

  /** Distinct (basket, item) pairs restricted to items appearing in at
    * least `minSupport` baskets — the Apriori frequent-1-itemset prune
    * shared by [[coOccurrence]] and [[frequentTriples]]. The frequent-
    * item set is bounded by total-baskets / minSupport and broadcast
    * into the semi-join, so the prune costs one map-side-combined item
    * count and zero extra shuffles of the basket table.
    */
  private def prunedBasketItems(df: DataFrame, basketCol: String,
                                itemCol: String, minSupport: Long): DataFrame = {
    val bi = df.select(col(basketCol).as("b"), col(itemCol).as("i")).distinct()
    val freq = bi.groupBy("i").agg(count(lit(1)).as("_s"))
      .filter(col("_s") >= minSupport).select("i")
    // materialized ONCE (r18): every consumer reuses this table several
    // times — [[pairCounts]] self-joins it, [[frequentTriples]] reads it
    // five times (pair stage twice, pair-occurrence stage twice, triple
    // extension once). Without the checkpoint each appearance re-embeds
    // the distinct + prune subplan (only leaf exchanges dedupe via
    // reuse), and the triple query's physical plan grows to ~100
    // exchanges. O(distinct basket-item) rows — the narrow projection of
    // the corpus — one eager job, lineage truncated.
    bi.join(broadcast(freq), Seq("i"), "left_semi")
      .localCheckpoint(eager = true)
  }

  /** Unordered within-basket pair counts over an already-pruned
    * (b, i) table.
    */
  private def pairCounts(bi: DataFrame): DataFrame =
    bi.select(col("b"), col("i").as("item1"))
      .join(bi.select(col("b"), col("i").as("item2")), "b")
      .filter(col("item1") < col("item2"))
      .groupBy("item1", "item2").agg(count(lit(1)).as("n_baskets"))

  /** Association rules over the frequent pairs: for every directed rule
    * a → b with pair support ≥ `minSupport`, the three classic metrics —
    * support n_ab/N, confidence n_ab/n_a, lift N·n_ab/(n_a·n_b). Both
    * directions are emitted (confidence is asymmetric). All counts are
    * exact integers from [[coOccurrence]]'s pruned one-shuffle shape;
    * each metric is a single division over those integers (lift's
    * numerator/denominator are Long products — bounded by N·n_ab <
    * 2^63 for any corpus this side of 10^9 baskets × 10^9 support —
    * computed in double to dodge even that). The basket-count side is a
    * hinted one-row broadcast; the item-count dimension joins unhinted
    * (unbounded vocabulary — AQE broadcasts it only when it fits).
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minSupport: Long): DataFrame = {
    val bi = df.select(col(basketCol).as("b"), col(itemCol).as("i")).distinct()
    val nBaskets = bi.agg(countDistinct("b").as("n_total"))
    val itemCounts = bi.groupBy("i").agg(count(lit(1)).as("n_item"))
    val pairs = coOccurrence(df, basketCol, itemCol, minSupport)
    val directed = pairs
      .select(col("item1").as("antecedent"), col("item2").as("consequent"),
        col("n_baskets"))
      .union(pairs.select(col("item2"), col("item1"), col("n_baskets")))
    // itemCounts is one row per DISTINCT ITEM — an unbounded vocabulary
    // at 100× — so no forced broadcast: AQE broadcasts it when it fits,
    // degrades to a shuffle join when it doesn't. (The basket-count side
    // stays hinted: it is one scalar row by construction.)
    directed
      .join(itemCounts.select(col("i").as("antecedent"),
        col("n_item").as("_na")), Seq("antecedent"))
      .join(itemCounts.select(col("i").as("consequent"),
        col("n_item").as("_nc")), Seq("consequent"))
      .crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"), col("n_baskets"),
        round(col("n_baskets").cast("double") /
          col("n_total").cast("double"), 6).as("support"),
        round(col("n_baskets").cast("double") /
          col("_na").cast("double"), 6).as("confidence"),
        round(col("n_total").cast("double") * col("n_baskets").cast("double") /
          (col("_na").cast("double") * col("_nc").cast("double")), 6).as("lift"))
  }

  /** Frequent item TRIPLES by the Apriori principle: every subset of a
    * frequent itemset is frequent, so candidate triples are built ONLY
    * from frequent pairs — (a,b) occurrences extend with items c > b
    * whose (a,c) AND (b,c) pairs are also frequent — never from the
    * k³ item cube. The market-basket step up from [[coOccurrence]]
    * (bundles of three; the next-item recommender's support table).
    *
    * Shape at 100 TB: the distinct (basket, item) projection is
    * frequent-item PRUNED first ([[prunedBasketItems]] — infrequent
    * items never enter any pairing); the pair count reuses
    * [[coOccurrence]]'s one-shuffle shape; the triple stage joins
    * pair-occurrences against the pruned basket item list restricted by
    * TWO broadcast semi-joins on the (bounded, support-filtered)
    * frequent-pair set before any counting — candidate volume is
    * bounded by true frequent-pair co-occurrence, not by basket width
    * cubed. Support is exact (distinct baskets).
    */
  def frequentTriples(df: DataFrame, basketCol: String, itemCol: String,
                      minSupport: Long): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    val bi = prunedBasketItems(df, basketCol, itemCol, minSupport)
    // materialized ONCE (r18): the frequent-pair set gates three
    // downstream semi-joins (pair-occurrence + the two Apriori prunes);
    // each broadcast build would otherwise re-run the quadratic pair
    // aggregation above its (reused) exchange. Support-bounded rows.
    val pairs = pairCounts(bi).filter(col("n_baskets") >= minSupport)
      .select("item1", "item2")
      .localCheckpoint(eager = true)
    // occurrences of frequent (a, b) pairs per basket
    val pairOcc = bi.select(col("b"), col("i").as("item1"))
      .join(bi.select(col("b"), col("i").as("item2")), "b")
      .filter(col("item1") < col("item2"))
      .join(pairs, Seq("item1", "item2"), "left_semi")
    pairOcc
      .join(bi.select(col("b"), col("i").as("item3")), "b")
      .filter(col("item3") > col("item2"))
      // Apriori pruning: (a, c) and (b, c) must both be frequent
      .join(pairs.select(col("item1"), col("item2").as("item3")),
        Seq("item1", "item3"), "left_semi")
      .join(pairs.select(col("item1").as("item2"), col("item2").as("item3")),
        Seq("item2", "item3"), "left_semi")
      .groupBy("item1", "item2", "item3")
      .agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= minSupport)
  }

  /** Exact per-group quantiles (interpolated, SQL `percentile`
    * semantics): one row per group with a column per requested q.
    * One shuffle on the group key; the exact percentile aggregate
    * buffers the group's values — right for grouped analytics where
    * groups are value-bounded (flags, categories). For monster groups
    * use `percentile_approx` (sketched, bounded state) instead.
    */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                       qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1), "qs must be in [0,1]")
    val aggs = qs.map(q =>
      round(expr(s"percentile($valueCol, ${q}D)"), 6)
        .as(s"p${(q * 100).round}"))
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Cohort LTV curve: cumulative purchase revenue per user for each
    * (cohort week-0 day, week offset) cell — the companion curve to
    * [[retentionCohorts]]. Cohort = the user's first ACTIVE day (any
    * event type); revenue accrues from purchase events only.
    *
    * Exactness: revenue sums and the cumulative sum stay in
    * decimal(18,2) end to end, so the running total is exact under ANY
    * evaluation order — window cumulation order differences between
    * engines can't shift a cent. The per-user division casts to double
    * only at the end (one exact IEEE op).
    *
    * Shape: one user-keyed aggregation + re-join for the cohort, one
    * (cohort, week) aggregation, and a window over the per-cohort
    * week sequence (bounded by the observation span in weeks) — same
    * key discipline as retentionCohorts.
    */
  def cohortLtv(events: DataFrame, userCol: String = "user_id",
                tsCol: String = "ts", valueCol: String = "value",
                typeCol: String = "event_type",
                purchaseType: String = "purchase"): DataFrame = {
    val d = events.select(col(userCol).as("u"), to_date(col(tsCol)).as("day"),
      when(col(typeCol) === purchaseType, col(valueCol))
        .otherwise(lit(0)).cast("decimal(18,2)").as("rev"))
    val first = d.groupBy("u").agg(min("day").as("cohort_day"))
    val sizes = first.groupBy("cohort_day").agg(count(lit(1)).as("n_users"))
    val weekly = d.join(first, "u")
      .select(col("cohort_day"),
        expr("datediff(day, cohort_day) div 7").cast("long").as("week_offset"),
        col("rev"))
      .groupBy("cohort_day", "week_offset")
      .agg(sum("rev").as("rev"))
    val cum = Window.partitionBy("cohort_day").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly
      .withColumn("cum_rev", sum("rev").over(cum))
      .join(sizes, "cohort_day")
      .select(col("cohort_day"), col("week_offset"),
        col("rev").cast("double").as("week_rev"),
        col("cum_rev").cast("double").as("cum_rev"),
        col("n_users"),
        (col("cum_rev").cast("double") / col("n_users")).as("ltv_per_user"))
  }

  /** RFM segmentation (recency / frequency / monetary quintiles), the
    * standard customer-value grid. "Now" is the corpus' max event time
    * (deterministic); monetary sums in decimal for cross-engine
    * exactness; quintile scores come from four percentile THRESHOLDS
    * broadcast back over the per-user table — never a global `ntile`
    * sort, which would single-partition the user set at scale.
    * Threshold comparisons are safe cross-engine: an interpolated
    * threshold either equals a grid value exactly (frac = 0) or lies
    * strictly between grid points, so `>` agrees regardless of
    * last-ulp formula differences. R scores invert (recent = 5).
    */
  def rfmSegments(events: DataFrame, userCol: String = "user_id",
                  tsCol: String = "ts", valueCol: String = "value",
                  typeCol: String = "event_type",
                  purchaseType: String = "purchase"): DataFrame = {
    val p = events.filter(col(typeCol) === purchaseType)
    val now = p.agg(max(to_date(col(tsCol))).as("_now"))
    val base = p.groupBy(col(userCol))
      .agg(max(to_date(col(tsCol))).as("_last"),
        count(lit(1)).as("frequency"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("monetary"))
      .crossJoin(broadcast(now))
      .withColumn("recency_days", datediff(col("_now"), col("_last")).cast("long"))
      .drop("_now", "_last")
    val thAggs =
      for (m <- Seq("recency_days", "frequency", "monetary"); q <- Seq(2, 4, 6, 8))
        yield expr(s"percentile($m, 0.${q}D)").as(s"_t_${m}_$q")
    val th = base.agg(thAggs.head, thAggs.tail: _*)
    def scoreUp(m: String) =
      (lit(1) +: Seq(2, 4, 6, 8).map(q =>
        when(col(m) > col(s"_t_${m}_$q"), 1).otherwise(0))).reduce(_ + _)
    base.crossJoin(broadcast(th))
      .withColumn("r_score", lit(6) - scoreUp("recency_days"))
      .withColumn("f_score", scoreUp("frequency"))
      .withColumn("m_score", scoreUp("monetary"))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
      .select(userCol, "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score", "segment")
  }

  /** Top-`k` user paths: the most common prefixes (first `pathLen`
    * event types, in (ts, id) order) across users — the "what do users
    * actually do first" query behind every onboarding analysis.
    *
    * Shape: one hash aggregation on the user collecting (ts, id, type)
    * structs — per-group state bounded by user activity, the natural
    * unit here — sorted per group by the struct's leading fields
    * (deterministic under ties by construction), sliced to the prefix,
    * then a path-keyed count with map-side combine and a TakeOrdered
    * top-k. Two shuffles (user, path), no window sort of the full
    * stream, no driver state.
    */
  def topPaths(events: DataFrame, pathLen: Int = 5, k: Int = 20,
               userCol: String = "user_id", typeCol: String = "event_type",
               tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    require(pathLen >= 1 && k >= 1, "pathLen and k must be positive")
    events
      .groupBy(col(userCol))
      .agg(sort_array(collect_list(
        struct(col(tsCol), col(idCol), col(typeCol).as("t")))).as("evs"))
      .select(concat_ws(">",
        slice(transform(col("evs"), e => e.getField("t")), 1, pathLen)).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(k)
  }

  /** First-order Markov transition matrix of the event-type sequence:
    * for each (from_type, to_type) pair of consecutive events within a
    * user's timeline, the transition count and probability
    * P(to | from) = n / sum_over_to(n).
    *
    * Shape: ONE shuffle on the user key for the `lead` window, then a
    * hash aggregation on (from, to) — a key space bounded by
    * |event types|², tiny regardless of input rows, so map-side partial
    * aggregation collapses each partition to at most |types|² rows
    * before the second (trivial) exchange. The per-`from` denominator
    * is a window over that bounded group set, not a rescan. Ordering
    * inside a user is (ts, idCol) — the id tiebreak makes the pair set
    * deterministic under equal timestamps, so output is reproducible
    * and oracle-able.
    */
  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
                       typeCol: String = "event_type", tsCol: String = "ts",
                       idCol: String = "event_id"): DataFrame = {
    val seq = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .withColumn("to_type", lead(col(typeCol), 1).over(seq))
      .filter(col("to_type").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val perFrom = Window.partitionBy("from_type")
    pairs
      .withColumn("p", round(col("n").cast("double") /
        sum("n").over(perFrom).cast("double"), 6))
      .select("from_type", "to_type", "n", "p")
  }

  /** Daily per-key value series with LINEAR interpolation across
    * unobserved days — the resample primitive for quantities where a
    * missing day means "unobserved", not zero (zero-fill's sibling,
    * [[graft.streaming.EventsOps.dailyGapFill]]). Each key's calendar
    * spans its own min..max observed day, so both endpoints are always
    * observed; an interpolated day takes
    * `prev + (next - prev) * (offset / gap)`, rounded to 6 dp (the
    * division is the single non-exact float op; everything upstream is
    * a decimal-exact daily sum).
    *
    * Shape: one keyed agg to daily sums, a per-key calendar explode,
    * then the four frame scans. Catalyst stacks them into adjacent
    * Window operators sharing ONE (key, day) partitioning + ordering,
    * so the data is exchanged and sorted for the window stage exactly
    * once (plan-audited) — no second exchange.
    */
  def interpolateDaily(events: DataFrame, keyCol: String = "user_id",
                       tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(sum(col(valueCol).cast("decimal(18,4)")).cast("double").as("obs"))
    val calendar = daily.groupBy(keyCol)
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col(keyCol),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy(keyCol).orderBy("day")
    val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("obs").isNotNull, col("day"))
    calendar.join(daily, Seq(keyCol, "day"), "left")
      .withColumn("prev_v", last(col("obs"), ignoreNulls = true).over(back))
      .withColumn("prev_d", last(obsDay, ignoreNulls = true).over(back))
      .withColumn("next_v", first(col("obs"), ignoreNulls = true).over(fwd))
      .withColumn("next_d", first(obsDay, ignoreNulls = true).over(fwd))
      .select(col(keyCol), col("day"),
        when(col("obs").isNotNull, round(col("obs"), 6))
          .otherwise(round(col("prev_v") + (col("next_v") - col("prev_v")) *
            (datediff(col("day"), col("prev_d")).cast("double") /
              datediff(col("next_d"), col("prev_d")).cast("double")), 6))
          .as("value"),
        col("obs").isNull.as("interpolated"))
  }

  /** Rolling z-score anomaly detection: for each row, the mean and
    * sample variance of the PRECEDING `n` values within the key's
    * timeline (ties broken by `idCol` — deterministic), and the z-score
    * of the current value against that trailing window. Rows without a
    * full lookback window or with zero trailing variance get a null z.
    * Returns (key, id, value, z, is_anomaly: |z| > threshold).
    *
    * Shape: one shuffle on the key for the window; mean/variance come
    * from trailing sum and sum-of-squares over a bounded `ROWS BETWEEN
    * n PRECEDING AND 1 PRECEDING` frame — O(1) state per row in the
    * window operator, no per-row re-scan. Exact-arithmetic form
    * (var = (Σx² − n·mean²)/(n−1) from plain double sums folded in
    * frame order) rather than stddev_samp so the oracle replays it
    * engine-identically; z is rounded to 6 dp on both sides (libm sqrt
    * is correctly rounded, sums fold left-to-right in frame order).
    */
  def rollingAnomaly(df: DataFrame, keyCol: String, valueCol: String,
                     tsCol: String = "ts", idCol: String = "event_id",
                     n: Int = 10, threshold: Double = 3.0): DataFrame = {
    require(n >= 2, "lookback window must be at least 2")
    val frame = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
      .rowsBetween(-n, -1)
    val v = col(valueCol).cast("double")
    val out = df
      .withColumn("_cnt", count(v).over(frame))
      .withColumn("_s1", sum(v).over(frame))
      .withColumn("_s2", sum(v * v).over(frame))
      // divisions stay inside the when-branch: a partial frame
      // (cnt < n, possibly 0) must never evaluate them under ANSI
      .withColumn("_mean", when(col("_cnt") === n, col("_s1") / col("_cnt")))
      .withColumn("_var", when(col("_cnt") === n,
        (col("_s2") - col("_cnt") * col("_mean") * col("_mean")) / (col("_cnt") - 1)))
      .withColumn("z",
        when(col("_cnt") === n && col("_var") > 0,
          round((v - col("_mean")) / sqrt(col("_var")), 6)))
    out.select(col(keyCol), col(idCol), v.as("value"), col("z"),
      (col("z").isNotNull && abs(col("z")) > threshold).as("is_anomaly"))
  }

  /** Finite-horizon exponentially-weighted moving average per key:
    * ewma(n) = Σ_{j<h} (1−α)^j·x_{n−j} / Σ_{j<h over present rows} (1−α)^j
    * — the trailing-`horizon` truncation of the classic recursive EWMA,
    * renormalized over the rows actually present so early rows are
    * unbiased (pandas `ewm(adjust=True)` over a bounded window). The
    * smoothing pass behind alerting baselines and rate dashboards.
    *
    * Shape: ONE window pass per key (a `lag` ladder of `horizon`
    * columns over the same frame — one shuffle keyed on `keyCol`, one
    * in-partition sort, then narrow per-row arithmetic). The recursive
    * form would need a sequential scan per key; the truncated form is
    * embarrassingly parallel and differs by at most (1−α)^h·range.
    *
    * Engine replay: the weights (1−α)^j are computed ONCE driver-side
    * and embedded as double literals (both engines parse the shortest
    * round-trip rendering to the identical double); numerator and
    * denominator fold strictly left-to-right, so the whole expression
    * is one fixed sequence of IEEE double ops, rounded at 6 dp.
    */
  def ewmaSmooth(events: DataFrame, keyCol: String, tsCol: String,
                 idCol: String, valueCol: String, alpha: Double = 0.3,
                 horizon: Int = 5): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    require(horizon >= 1, "horizon must be >= 1")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    val v = col(valueCol).cast("double")
    val weights = (0 until horizon).map(j => math.pow(1.0 - alpha, j))
    val lags = (0 until horizon).map(j => if (j == 0) v else lag(v, j).over(w))
    val num = weights.zip(lags).map { case (wt, x) =>
      when(x.isNotNull, x * lit(wt)).otherwise(lit(0.0))
    }.reduce(_ + _)
    val den = weights.zip(lags).map { case (wt, x) =>
      when(x.isNotNull, lit(wt)).otherwise(lit(0.0))
    }.reduce(_ + _)
    events
      .withColumn("ewma", when(den > lit(0.0), round(num / den, 6)))
      .select(col(keyCol), col(idCol), v.as("value"), col("ewma"))
  }

  /** Seasonal-baseline anomaly flags: each event compares against the
    * mean/std of its OWN seasonal slot — (type, epoch-day-of-week,
    * hour) — so a Friday-evening spike is judged against Friday
    * evenings, not the global mean. The standard ops-alerting baseline.
    *
    * Shape: one grouped scan computes exact per-slot moments (count
    * plus three-limb long component sums — the [[graft.operators.Stats.corrMatrix]]
    * accumulation, all on the codegen mutable-buffer fast path), the
    * slot table (≤ types × 7 × 24 rows) reassembles its moments in
    * decimal arithmetic on those bounded rows and broadcasts back over
    * the events. One corpus-sized scan + one broadcast join at any
    * scale; component-sum capacity ~2^41 rows per slot.
    *
    * Engine replay: mean and std round at 6 dp before the z-score and
    * the z rounds at 6 dp after one fixed-order double expression —
    * the [[robustOutliers]] policy. Values canonicalize to
    * DECIMAL(9, scale) for the moments (lossless at 2-dp telemetry).
    */
  /** The (type, dow, hour) slot moment table behind
    * [[seasonalBaseline]]: count + the 8 [[graft.operators.Stats.LimbMoments]]
    * long component sums per slot. Exposed separately because the
    * component sums are PLAIN LONG ADDS, so a maintained slot table
    * merges with a new batch's table by summing components — exact
    * incremental maintenance with no historical rescan (the streaming
    * twin in `StreamingTwinSpec` proves merge-chain equality).
    */
  def seasonalSlotMoments(events: DataFrame, typeCol: String, tsCol: String,
                          valueCol: String, scale: Int = 2): DataFrame = {
    import Stats.LimbMoments
    val withSlot = seasonalSlotted(events, typeCol, tsCol, valueCol, scale)
    val mAggs = LimbMoments.momentAggs(col("_u"))
    withSlot.groupBy(col(typeCol), col("dow"), col("hour"))
      .agg(mAggs.head, mAggs.tail: _*)
  }

  /** Merge two slot moment tables (component-wise long sums). */
  def mergeSlotMoments(a: DataFrame, b: DataFrame, typeCol: String): DataFrame = {
    val comps = Seq("_n", "_s2", "_s1", "_s0", "_p4", "_p3", "_p2", "_p1", "_p0")
    a.unionByName(b).groupBy(col(typeCol), col("dow"), col("hour"))
      .agg(sum(comps.head).as(comps.head),
        comps.tail.map(c => sum(c).as(c)): _*)
  }

  private def seasonalSlotted(events: DataFrame, typeCol: String,
                              tsCol: String, valueCol: String,
                              scale: Int): DataFrame = {
    import Stats.LimbMoments
    events
      .filter(col(typeCol).isNotNull && col(tsCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("dow", datediff(to_date(col(tsCol)), lit("1970-01-01")) % 7)
      .withColumn("hour", hour(col(tsCol)))
      // try_cast + null drop: out-of-domain values exclude listwise
      // (see [[graft.operators.Stats.LimbMoments.units]])
      .withColumn("_u", LimbMoments.units(valueCol, 9, scale))
      .filter(col("_u").isNotNull)
  }

  def seasonalBaseline(events: DataFrame, typeCol: String, tsCol: String,
                       idCol: String, valueCol: String,
                       threshold: Double = 3.0, scale: Int = 2): DataFrame = {
    import Stats.LimbMoments
    val u = "_u"
    val withSlot = seasonalSlotted(events, typeCol, tsCol, valueCol, scale)
    val slots = seasonalSlotMoments(events, typeCol, tsCol, valueCol, scale)
    // moment reassembly on the BOUNDED slot table via the shared
    // column-expression form — mirrors CAST(SUM(decimal) AS DOUBLE)
    val stats = slots.select(col(typeCol), col("dow"), col("hour"),
        col("_n"),
        LimbMoments.sumValueCol(scale).as("_s"),
        LimbMoments.prodValueCol(scale).as("_p"))
      .withColumn("slot_mean", round(col("_s") / col("_n"), 6))
      .withColumn("slot_std", when(col("_n") > 1, round(
        sqrt(greatest(
          (col("_n") * col("_p") - col("_s") * col("_s")) /
            (col("_n") * (col("_n") - 1)).cast("double"),
          lit(0.0))), 6)))
      .select(col(typeCol), col("dow"), col("hour"), col("_n").as("slot_n"),
        col("slot_mean"), col("slot_std"))
    // stats is one row per (type, dow, hour) — the type vocabulary is
    // data-derived and unbounded, so no forced broadcast (AQE sizes it)
    withSlot
      .join(stats, Seq(typeCol, "dow", "hour"))
      .withColumn("z",
        when(col("slot_std") > 0.0,
          round((col(valueCol).cast("double") - col("slot_mean")) / col("slot_std"), 6)))
      .select(col(idCol), col(typeCol), col("dow"), col("hour"),
        col(valueCol).cast("double").as("value"),
        col("slot_mean"), col("slot_std"), col("z"),
        (col("z").isNotNull && abs(col("z")) > threshold).as("is_anomaly"))
  }

  /** Gaps-and-islands: collapse each entity's activity days into maximal
    * runs of CONSECUTIVE days (the classic streak/churn primitive — "how
    * long was each unbroken stretch of activity, and where are the
    * gaps"). The standard row_number anchor trick: for days sorted per
    * entity, `day - row_number` is constant exactly within a consecutive
    * run, so one window plus one groupBy does it — no self-join, no
    * iterative gap walking.
    *
    * Scale shape: one shuffle on the entity key for the window, and the
    * follow-up groupBy keys on (entity, anchor) — a superset of the
    * window's partitioning, so no second wide exchange of comparable
    * size; state per entity is its distinct-day list, never the raw
    * event rows (the distinct collapses first).
    */
  def activityIslands(events: DataFrame, entityCol: String,
                      tsCol: String): DataFrame = {
    val days = events
      .select(col(entityCol).as("entity"), to_date(col(tsCol)).as("day"))
      .distinct()
    val rn = row_number().over(Window.partitionBy("entity").orderBy("day"))
    days
      .withColumn("_anchor", date_sub(col("day"), rn))
      .groupBy("entity", "_anchor")
      .agg(min("day").as("island_start"), max("day").as("island_end"),
        count(lit(1)).as("n_days"))
      .select("entity", "island_start", "island_end", "n_days")
  }

  /** Per-group ROC AUC of a numeric score against a boolean label,
    * computed by the tie-aware rank-sum identity (the Mann-Whitney
    * formulation): with average ranks R over the pooled scores,
    * AUC = (R_pos − n⁺(n⁺+1)/2) / (n⁺·n⁻). Scores collapse to their
    * distinct values first, so the whole thing is two aggregations and
    * one window over the DISTINCT-score table — cardinality bounded by
    * |score domain| per group, not row count. Doubling the rank sum
    * (2·cum_before + cnt + 1 per distinct score) keeps every
    * intermediate an exact integer; the single double division happens
    * once per group at the end, then rounds to 6 dp — so the result is
    * bit-stable under repartitioning.
    */
  def rocAuc(df: DataFrame, groupCol: String, scoreCol: String,
             label: Column): DataFrame = {
    val gr = df
      .groupBy(col(groupCol).as("g"), col(scoreCol).as("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(label, 1L).otherwise(0L)).as("pos"))
    val win = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    gr
      .withColumn("_cumprev", coalesce(sum("cnt").over(win), lit(0L)))
      .groupBy("g")
      .agg(
        sum(col("pos") * (lit(2L) * col("_cumprev") + col("cnt") + lit(1L)))
          .as("_r2"),
        sum("pos").as("n_pos"), sum("cnt").as("_n"))
      .select(col("g").as(groupCol), col("n_pos"),
        (col("_n") - col("n_pos")).as("n_neg"),
        round(
          (col("_r2") - col("n_pos") * (col("n_pos") + lit(1L))).cast("double") /
            (lit(2L) * col("n_pos") * (col("_n") - col("n_pos"))).cast("double"),
          6).as("auc"))
  }

  /** Frequent CONTIGUOUS event-type sequences (PrefixSpan's contiguous
    * special case, Apriori-pruned): every length-2 and length-3 run of
    * consecutive event types that at least `minShare` of users perform,
    * with support counted in DISTINCT users (a user looping a>b ten
    * times is one vote). Ordered sequences are what the unordered
    * basket miners ([[coOccurrence]]) cannot see: a>b frequent with b>a
    * absent is a directed flow, and frequent trigrams are the
    * product's highways.
    *
    * Apriori prune, losslessly: a user exhibiting trigram a>b>c
    * necessarily exhibits bigrams a>b and b>c, so
    * support₃(abc) ≤ min(support₂(ab), support₂(bc)) and discarding
    * trigram candidates whose constituent bigrams are infrequent
    * changes nothing about the result — it only keeps the candidate
    * space bounded. This is the same shape that made the basket miner
    * linear ([[coOccurrence]]'s frequent-1-itemset prune), one level up.
    *
    * Scale: ONE user-key window shuffle per level produces the leads;
    * each candidate level is a distinct-user aggregation over
    * (user, gram) — two-level partial aggregation, map-side combined.
    * The frequent-bigram table is MATERIALIZED once (one collect): it
    * is model-sized by a counting argument — each frequent bigram
    * owns ≥ ceil(minShare·users) of the ≤ totalEvents distinct
    * (user, bigram) votes, so there are at most
    * avgEventsPerUser / minShare frequent bigrams (e.g. 20/0.05 = 400)
    * regardless of corpus size — and without the materialization the
    * bigram subplan (window sort included) would re-execute once per
    * consumer (the two Apriori probes + the result union), which the
    * 10x probe measured as super-linear wall growth. The collected set
    * re-enters the trigram plan as two broadcast semi-join probes, so
    * no corpus-sized stage is ever quadratic.
    */
  def frequentSequences(events: DataFrame, minShare: Double = 0.05,
                        userCol: String = "user_id",
                        typeCol: String = "event_type", tsCol: String = "ts",
                        idCol: String = "event_id"): DataFrame = {
    require(minShare > 0 && minShare <= 1, "minShare must be in (0, 1]")
    val spark = events.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val grams = events
      .withColumn("_t2", lead(col(typeCol), 1).over(w))
      .withColumn("_t3", lead(col(typeCol), 2).over(w))
      .select(col(userCol).as("_u"), col(typeCol).as("_t1"),
        col("_t2"), col("_t3"))
    // one bounded action: the distinct-user count anchoring the threshold
    val nUsers = events.agg(countDistinct(col(userCol))).head().getLong(0)
    val support = math.ceil(minShare * nUsers).toLong
    // one pass: (user, bigram) distinct votes -> frequent bigrams;
    // collect is bounded by avgEventsPerUser/minShare (see scaladoc)
    val bigRows = grams.filter(col("_t2").isNotNull)
      .select("_u", "_t1", "_t2").distinct()
      .groupBy("_t1", "_t2").agg(countDistinct("_u").as("n_users"))
      .filter(col("n_users") >= support)
      .collect()
    val bigLocal = bigRows.toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toDF("_t1", "_t2", "n_users")
    val bigKeys = bigLocal.select("_t1", "_t2")
    val tri = grams.filter(col("_t3").isNotNull)
      // Apriori: both constituent bigrams must be frequent (broadcast of
      // the LOCAL frequent set — no upstream recompute) before any
      // trigram is even counted
      .join(broadcast(bigKeys), Seq("_t1", "_t2"), "left_semi")
      .join(broadcast(bigKeys.select(col("_t1").as("_t2"),
        col("_t2").as("_t3"))), Seq("_t2", "_t3"), "left_semi")
      .select("_u", "_t1", "_t2", "_t3").distinct()
      .groupBy("_t1", "_t2", "_t3").agg(countDistinct("_u").as("n_users"))
      .filter(col("n_users") >= support)
    bigLocal.select(concat_ws(">", col("_t1"), col("_t2")).as("seq"),
        lit(2).as("len"), col("n_users"))
      .unionByName(tri.select(
        concat_ws(">", col("_t1"), col("_t2"), col("_t3")).as("seq"),
        lit(3).as("len"), col("n_users")))
  }

  /** Markov removal-effect attribution (Anderl et al.'s data-driven
    * alternative to last-touch): model each user's pre-conversion
    * touch sequence as a first-order Markov chain over channels with
    * absorbing CONV/NULL states, and credit each channel by how much
    * the overall conversion probability DROPS when that channel is
    * removed (transitions into it redirected to NULL) —
    * removal_effect(c) = (P(conv) − P(conv | no c)) / P(conv), shares
    * normalized over channels, attributed = share × conversions.
    * Last-touch gives the closer channel everything; removal effects
    * pay the assist.
    *
    * Journeys are FIRST-conversion: each user's events strictly before
    * their first `convType` event (the whole timeline when they never
    * convert), ending in CONV or NULL; a user whose first event
    * converts contributes START→CONV directly.
    *
    * Determinism & oracle parity: transition probabilities round at
    * 6 dp; absorption probabilities iterate a FIXED `iters` steps of
    * v(s) ← Σ_t p(s→t)·v(t) with each state's value re-rounded at 9 dp
    * per step (the [[graft.operators.Stats.holtSmooth]] convention), so
    * a recursive-CTE oracle replays the trajectory bit-for-bit — the
    * result is defined as the iterate, not the limit.
    *
    * Scale: journey extraction is two same-key windows over ONE user
    * shuffle plus a bounded (from, to) aggregation; the chain itself is
    * (|channels|+3)² probabilities — model-sized by construction — so
    * the absorption iterations are driver math on the collected matrix,
    * the same bounded-collect contract as the ANN centroid ops.
    */
  def markovAttribution(events: DataFrame, convType: String,
                        userCol: String = "user_id",
                        typeCol: String = "event_type", tsCol: String = "ts",
                        idCol: String = "event_id",
                        iters: Int = 60): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val ranked = events.filter(col(typeCol).isNotNull)
      .withColumn("_rn", row_number().over(w))
    val firstConv = ranked.filter(col(typeCol) === convType)
      .groupBy(col(userCol).as("_cu")).agg(min("_rn").as("_cv"))
    val j = ranked.join(firstConv, col(userCol) === col("_cu"), "left")
      .filter(col("_cv").isNull || col("_rn") < col("_cv"))
      .select(col(userCol).as("_u"), col("_rn"), col(typeCol).as("_t"),
        col("_cv"))
    val wj = Window.partitionBy("_u").orderBy("_rn")
    val mid = j.withColumn("_nxt", lead(col("_t"), 1).over(wj))
    val starts = j.groupBy("_u")
      .agg(min_by(col("_t"), col("_rn")).as("to_state"))
      .select(lit("START").as("from_state"), col("to_state"))
    val mids = mid.filter(col("_nxt").isNotNull)
      .select(col("_t").as("from_state"), col("_nxt").as("to_state"))
    val ends = mid.filter(col("_nxt").isNull)
      .select(col("_t").as("from_state"),
        when(col("_cv").isNotNull, lit("CONV")).otherwise(lit("NULL"))
          .as("to_state"))
    val direct = firstConv.join(j.select(col("_u")).distinct(),
        col("_cu") === col("_u"), "left_anti")
      .select(lit("START").as("from_state"), lit("CONV").as("to_state"))
    val counts = starts.unionByName(mids).unionByName(ends)
      .unionByName(direct)
      .groupBy("from_state", "to_state").agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy("from_state")
    // bounded collect: at most (|channels|+1) × (|channels|+2) rows
    val m = counts
      .withColumn("p", round(col("n").cast("double") /
        sum("n").over(wf).cast("double"), 6))
      .select("from_state", "to_state", "n", "p").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val nConv = m.filter(_._2 == "CONV").map(_._3).sum
    // absorbing self-loops keep CONV pinned at 1 through the iteration
    val trans = (m.map(t => (t._1, t._2, t._4)) ++
      Seq(("CONV", "CONV", 1.0), ("NULL", "NULL", 1.0)))
      .sortBy(t => (t._1, t._2))
    val channels = m.map(_._1)
      .filter(s => s != "START" && s != "CONV" && s != "NULL")
      .distinct.sorted
    def r9(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def absorb(removed: String): Double = {
      var v = Map[String, Double]("CONV" -> 1.0)
      var i = 0
      while (i < iters) {
        v = trans
          // removal semantics: the removed state's value never flows
          // back (transitions into it are losses), i.e. v(removed) ≡ 0
          .flatMap(t => if (t._2 == removed) None
            else v.get(t._2).map(x => (t._1, t._3 * x)))
          .groupBy(_._1)
          .map { case (s, xs) => s -> r9(xs.map(_._2).sum) }
        i += 1
      }
      v.getOrElse("START", 0.0)
    }
    val pNone = absorb("")
    val effs = channels.map(c => c -> (pNone - absorb(c)))
    val sumEff = effs.map(_._2).sum
    def nn(x: Double): java.lang.Double =
      if (x.isNaN || x.isInfinite) null else java.lang.Double.valueOf(x)
    val spark = events.sparkSession
    import spark.implicits._
    val rows: Seq[(String, java.lang.Double, java.lang.Double,
        java.lang.Double, Double, Long)] =
      effs.toSeq.map { case (c, eff) =>
        (c,
          nn(if (pNone > 0) r6(eff / pNone) else Double.NaN),
          nn(if (sumEff != 0) r6(eff / sumEff) else Double.NaN),
          nn(if (sumEff != 0) r6(eff / sumEff * nConv) else Double.NaN),
          r6(pNone), nConv)
      }
    rows.toDF("channel", "removal_effect", "share", "attributed", "p_conv",
      "n_conversions")
  }

  /** Behavioral bot screen over an event stream: per user, the volume,
    * cadence, and diversity features that separate scripted traffic
    * from people — event count, active span, events/minute, the
    * coefficient of variation of inter-event gaps (machines are
    * metronomes: CV → 0), and distinct event types. The verdict column
    * applies the classic heuristic (enough events AND near-constant
    * cadence); the features stay exposed so callers can gate on their
    * own thresholds. Training-data pipelines run this screen before
    * treating engagement events as human preference signal.
    *
    * Shape: one user-keyed exchange shared by the lag window and the
    * fold (the window's partitioning is reused by the groupBy — one
    * shuffle total). Gap moments accumulate as exact integer/decimal
    * sums (gap ≤ span s, gap² ≤ 10^18 held in decimal(38,0)), so the
    * sample variance is engine-replayable; CV and rate are single
    * rounded double expressions.
    */
  def botScore(events: DataFrame, userCol: String = "user_id",
               tsCol: String = "ts", idCol: String = "event_id",
               typeCol: String = "event_type",
               minEvents: Int = 20, cvThreshold: Double = 0.5): DataFrame = {
    require(minEvents >= 3, "minEvents must be >= 3 (variance needs 2 gaps)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val sec = col(tsCol).cast("long")
    val gapped = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .withColumn("_gap", sec - lag(sec, 1).over(w))
    val m = (count(lit(1)) - 1).cast("long")
    val perUser = gapped.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"),
        (max(sec) - min(sec)).as("span_s"),
        sum("_gap").as("_sg"),
        sum(col("_gap").cast("decimal(38,0)") * col("_gap")).as("_sg2"),
        m.as("_m"),
        count_distinct(col(typeCol)).as("n_types"))
    val mD = col("_m").cast("double")
    val mean = col("_sg").cast("double") / mD
    // sample variance from exact sums: (m·Σg² − (Σg)²)/(m·(m−1))
    val varNum = (col("_m") * col("_sg2") -
      col("_sg").cast("decimal(38,0)") * col("_sg")).cast("double")
    val cv = sqrt(varNum / (mD * (mD - lit(1.0)))) / mean
    val cvR = when(col("_m") >= 2 && col("_sg") > 0, round(cv, 6))
    val epm = when(col("span_s") > 0,
      round(col("n_events").cast("double") * 60.0 / col("span_s"), 6))
    perUser.select(col(userCol), col("n_events"), col("span_s"),
      epm.as("events_per_minute"), cvR.as("gap_cv"), col("n_types"),
      (col("n_events") >= minEvents && coalesce(cvR < lit(cvThreshold),
        lit(false))).as("bot_flag"))
  }
}
