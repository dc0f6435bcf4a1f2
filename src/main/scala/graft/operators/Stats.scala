package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Statistical screens for feature columns: the pairwise Pearson
  * correlation matrix (redundant-feature detection before training) and
  * the chi-square independence test between two categoricals (leakage /
  * confounding detection). Both are single-aggregation shapes whose
  * floating-point outputs are engine-replayable by construction:
  * the correlation moments accumulate as EXACT decimal sums (order-
  * insensitive, so re-partitioning cannot change a bit) and the final
  * double arithmetic runs once per pair over those exact sums; the
  * chi-square folds per-cell contributions rounded at 6 dp through an
  * exact decimal sum, so the statistic does not depend on cell order.
  */
object Stats {

  /** The exact integer moment accumulation shared by [[corrMatrix]],
    * [[welchT]] and [[graft.operators.EventAnalytics.seasonalBaseline]]:
    * a unit value |u| ≤ 10^9 splits into three 10-bit limbs
    * u = a·2^20 + b·2^10 + c (truncation toward zero — self-consistent
    * for both signs), and Σu / Σu² accumulate as LONG component sums
    * that stay on the codegen mutable-buffer fast path (a >18-precision
    * decimal aggregate rewrites its variable-length buffer per row,
    * ~10x the scan cost, measured). Largest per-row component is
    * 3·2^20, giving ~2^41 (≈ 2·10^12) row capacity. Reassembly —
    * Σu = Σa·2^20 + Σb·2^10 + Σc and
    * Σu·v = (aa)·2^40 + (ab+ba)·2^30 + (ac+bb+ca)·2^20 + (bc+cb)·2^10 + cc
    * — is exact integer arithmetic, so no partitioning or summation
    * order can change a bit. Division note: `/` on longs is double
    * division in Spark SQL, but |u| ≤ 10^9 < 2^53 keeps u/2^k exact.
    */
  private[operators] object LimbMoments {
    def limbA(u: Column): Column = (u / (1L << 20)).cast("long")
    def limbB(u: Column): Column =
      ((u - limbA(u) * (1L << 20)) / (1L << 10)).cast("long")
    def limbC(u: Column): Column =
      u - limbA(u) * (1L << 20) - limbB(u) * (1L << 10)

    /** Cross-product component sums of u·v by power of 2^10, with the
      * given name suffix: _p4..._p0.
      */
    def prodAggs(u: Column, v: Column, suffix: String = ""): Seq[Column] = Seq(
      sum(limbA(u) * limbA(v)).as(s"_p4$suffix"),
      sum(limbA(u) * limbB(v) + limbB(u) * limbA(v)).as(s"_p3$suffix"),
      sum(limbA(u) * limbC(v) + limbB(u) * limbB(v) + limbC(u) * limbA(v))
        .as(s"_p2$suffix"),
      sum(limbB(u) * limbC(v) + limbC(u) * limbB(v)).as(s"_p1$suffix"),
      sum(limbC(u) * limbC(v)).as(s"_p0$suffix"))

    /** Component sums of Σu with the given name suffix: _s2 _s1 _s0. */
    def sumAggs(u: Column, suffix: String = ""): Seq[Column] = Seq(
      sum(limbA(u)).as(s"_s2$suffix"), sum(limbB(u)).as(s"_s1$suffix"),
      sum(limbC(u)).as(s"_s0$suffix"))

    /** The standard single-value moment set: count + Σu + Σu². */
    def momentAggs(u: Column): Seq[Column] =
      Seq(count(lit(1)).as("_n")) ++ sumAggs(u) ++ prodAggs(u, u)

    def two(bits: Int): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(2).pow(bits)

    /** Exact Σ value (units → value scale) from the component sums,
      * as a double — one rounding at the final conversion, identical to
      * CAST(SUM(decimal) AS DOUBLE) in an oracle.
      */
    def sumValue(get: String => Long, scale: Int, suffix: String = ""): Double =
      java.math.BigDecimal.valueOf(get(s"_s2$suffix")).multiply(two(20))
        .add(java.math.BigDecimal.valueOf(get(s"_s1$suffix")).multiply(two(10)))
        .add(java.math.BigDecimal.valueOf(get(s"_s0$suffix")))
        .movePointLeft(scale).doubleValue

    /** Exact Σ u·v (units² → value scale) from the component sums. */
    def prodValue(get: String => Long, scale: Int, suffix: String = ""): Double =
      java.math.BigDecimal.valueOf(get(s"_p4$suffix")).multiply(two(40))
        .add(java.math.BigDecimal.valueOf(get(s"_p3$suffix")).multiply(two(30)))
        .add(java.math.BigDecimal.valueOf(get(s"_p2$suffix")).multiply(two(20)))
        .add(java.math.BigDecimal.valueOf(get(s"_p1$suffix")).multiply(two(10)))
        .add(java.math.BigDecimal.valueOf(get(s"_p0$suffix")))
        .movePointLeft(2 * scale).doubleValue

    /** Column-expression reassembly of Σu (for bounded post-aggregate
      * frames), as an exact decimal scaled back to value units.
      */
    def sumValueCol(scale: Int): Column =
      ((col("_s2").cast("decimal(38,0)") * lit(1L << 20) +
        col("_s1").cast("decimal(38,0)") * lit(1L << 10) +
        col("_s0")) / lit(math.pow(10, scale).toLong)).cast("double")

    /** Column-expression reassembly of Σu² — see [[sumValueCol]]. */
    def prodValueCol(scale: Int): Column =
      ((col("_p4").cast("decimal(38,0)") * lit(1L << 40) +
        col("_p3").cast("decimal(38,0)") * lit(1L << 30) +
        col("_p2").cast("decimal(38,0)") * lit(1L << 20) +
        col("_p1").cast("decimal(38,0)") * lit(1L << 10) +
        col("_p0")) / lit(math.pow(10, 2 * scale).toLong)).cast("double")

    /** Canonicalize a raw column to exact long units: try_cast to
      * decimal (out-of-domain values null out identically under ANSI
      * and legacy modes — callers drop those rows listwise), times
      * 10^scale as a NARROW decimal literal (a long literal would
      * promote the product past precision 18 and off the compact
      * long-backed fast path).
      */
    def units(valueCol: String, precision: Int, scale: Int): Column =
      (expr(s"try_cast(`$valueCol` AS decimal($precision,$scale))") *
        lit(java.math.BigDecimal.valueOf(math.pow(10, scale).toLong)))
        .cast("long")
  }


  /** Pairwise Pearson correlation over `cols` (all cast to double, rows
    * with ANY null in `cols` dropped so every pair sees the same n —
    * the listwise-deletion convention).
    *
    * Shape: ONE aggregation computes every first/second moment with
    * map-side partial combine; exactly one 1-row collect, and the k×k
    * output is built driver-side (model-sized, like the profile
    * operators). At 100 TB this is a single linear scan; no shuffle
    * wider than the moment vector.
    *
    * Exactness: values are canonicalized to DECIMAL(precision, scale)
    * (double→decimal cast parity is the repo-wide oracle pattern) and
    * every moment accumulates as EXACT integer component sums (see the
    * limb-split note in the body), so sums and cross-sums are exact and
    * r = (n·Sxy − Sx·Sy) / (sqrt(n·Sxx − Sx²) · sqrt(n·Syy − Sy²))
    * is evaluated in double with one fixed operation order from those
    * exact moments — bit-reproducible across engines and across any
    * partitioning, then rounded at 6 dp (the last-ulp guard).
    * Degenerate (zero-variance) columns yield NULL r.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String],
                 precision: Int = 9, scale: Int = 2): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    require(precision <= 9,
      "precision > 9 breaks the exact split-long accumulation bounds")
    val spark = df.sparkSession
    // Canonicalize each column ONCE (the double→decimal cast is the
    // expensive op), then accumulate every moment through the shared
    // [[LimbMoments]] integer component sums — all 63 aggregates (for
    // 4 columns) on the codegen mutable-buffer fast path; out-of-domain
    // values null out under try_cast and drop listwise.
    val clean = df.filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
      .select(cols.map(c => LimbMoments.units(c, precision, scale).as(c)): _*)
      .filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
    // aggregate aliases are suffixed by column INDEX, not name: name
    // concatenation collides for underscore-bearing columns (cols
    // (a_b, c) and (a, b_c) both render _a_b_c)
    val pairs = for {
      i <- cols.indices; j <- i until cols.size
    } yield (i, j)
    def pairAggs(i: Int, j: Int): Seq[Column] =
      LimbMoments.prodAggs(col(cols(i)), col(cols(j)), s"_${i}_$j")
    def colAggs(i: Int): Seq[Column] =
      LimbMoments.sumAggs(col(cols(i)), s"_$i")
    val aggs = Seq(count(lit(1)).as("_n")) ++ cols.indices.flatMap(colAggs) ++
      pairs.flatMap((pairAggs _).tupled)
    val r = clean.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getAs[Long]("_n").toDouble
    def get(name: String): Long =
      Option(r.getAs[java.lang.Long](name)).map(_.longValue).getOrElse(0L)
    def sd(i: Int): Double = LimbMoments.sumValue(get, scale, s"_$i")
    def pd(i: Int, j: Int): Double =
      LimbMoments.prodValue(get, scale, s"_${i}_$j")
    val out = for {
      i <- cols.indices; j <- (i + 1) until cols.size
      a = cols(i); b = cols(j)
    } yield {
      val sx = sd(i); val sy = sd(j)
      val sxx = pd(i, i); val syy = pd(j, j)
      val sxy = pd(i, j)
      val den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
      val rr: java.lang.Double =
        if (den == 0.0) null
        else {
          val v = (n * sxy - sx * sy) / den
          // same rounding as Spark's round(col, 6) / DuckDB's round(x, 6)
          // (HALF_UP over the shortest decimal rendering of the double)
          java.math.BigDecimal.valueOf(v)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        }
      Row(a, b, n.toLong, rr)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1),
      StructType(Seq(
        StructField("col1", StringType, nullable = false),
        StructField("col2", StringType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("r", DoubleType, nullable = true))))
  }


  /** Welch's unequal-variance t-test between every pair of groups —
    * the segment-comparison screen (A/B readouts, cohort differences)
    * that does not assume equal variances. Returns one row per ordered
    * group pair (g1 < g2): (g1, g2, n1, n2, mean1, mean2, t, df_w)
    * with the Welch–Satterthwaite degrees of freedom.
    *
    * Shape: ONE grouped aggregation computes exact per-group moments —
    * count plus the same three-limb long component sums as
    * [[corrMatrix]] (all on the codegen mutable-buffer fast path; one
    * scan at any scale) — the bounded group table collects to the
    * driver (guarded at 1000 groups: a t-test compares named cohorts,
    * not a high-cardinality key), and the pair table is built there.
    *
    * Exactness: moments reassemble exactly from the integer component
    * sums, then mean/variance/t/df evaluate in double with one fixed
    * operation order — bit-reproducible across engines and across any
    * partitioning — and round at 6 dp. Values canonicalize to
    * DECIMAL(precision, scale) first (scale 2 default; lossless for
    * 2-dp measures). Groups with n < 2 are dropped (variance needs
    * n−1); a zero pooled standard error yields NULL t/df.
    */
  def welchT(df: DataFrame, groupCol: String, valueCol: String,
             precision: Int = 9, scale: Int = 2): DataFrame = {
    require(precision <= 9,
      "precision > 9 breaks the exact split-long accumulation bounds")
    val spark = df.sparkSession
    // try_cast + null drop: out-of-domain values exclude listwise (see
    // [[LimbMoments.units]])
    val clean = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        LimbMoments.units(valueCol, precision, scale).as("u"))
      .filter(col("u").isNotNull)
    val mAggs = LimbMoments.momentAggs(col("u"))
    val grouped = clean.groupBy("g").agg(mAggs.head, mAggs.tail: _*)
    val rows = grouped.limit(1001).collect()
    require(rows.length <= 1000,
      "welchT compares named cohorts; >1000 groups looks like a key column")
    case class G(g: String, n: Long, s: Double, p: Double)
    val gs = rows.map { r =>
      def get(f: String): Long = r.getAs[Long](f)
      G(r.getAs[String]("g"), r.getAs[Long]("_n"),
        LimbMoments.sumValue(get, scale), LimbMoments.prodValue(get, scale))
        }.filter(_.n >= 2)
      // UTF-8 BYTE order, not String's UTF-16 code-unit order: the
      // DuckDB oracle pairs cohorts under VARCHAR binary collation, and
      // beyond the BMP the two orders diverge (flipping g1/g2 negates t)
      .sortBy(_.g.getBytes(java.nio.charset.StandardCharsets.UTF_8))(
        Ordering.fromLessThan { (x: Array[Byte], y: Array[Byte]) =>
          val len = math.min(x.length, y.length)
          var i = 0
          while (i < len && x(i) == y(i)) i += 1
          if (i < len) (x(i) & 0xff) < (y(i) & 0xff) else x.length < y.length
        })
    def r6(v: Double): Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val out = for {
      i <- gs.indices; j <- (i + 1) until gs.length
      g1 = gs(i); g2 = gs(j)
    } yield {
      // fixed op order, mirrored verbatim by the SQL oracle
      val mean1 = g1.s / g1.n; val mean2 = g2.s / g2.n
      val var1 = (g1.n * g1.p - g1.s * g1.s) / (g1.n * (g1.n - 1)).toDouble
      val var2 = (g2.n * g2.p - g2.s * g2.s) / (g2.n * (g2.n - 1)).toDouble
      val a = var1 / g1.n; val b = var2 / g2.n
      val (t, dfw): (java.lang.Double, java.lang.Double) =
        if (a + b <= 0.0) (null, null)
        else (r6((mean1 - mean2) / math.sqrt(a + b)),
          r6((a + b) * (a + b) / (a * a / (g1.n - 1) + b * b / (g2.n - 1))))
      Row(g1.g, g2.g, g1.n, g2.n, r6(mean1), r6(mean2), t, dfw)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1),
      StructType(Seq(
        StructField("g1", StringType, nullable = false),
        StructField("g2", StringType, nullable = false),
        StructField("n1", LongType, nullable = false),
        StructField("n2", LongType, nullable = false),
        StructField("mean1", DoubleType, nullable = false),
        StructField("mean2", DoubleType, nullable = false),
        StructField("t", DoubleType, nullable = true),
        StructField("df_w", DoubleType, nullable = true))))
  }

  /** Chi-square independence test between two categorical columns.
    * Returns one row per observed contingency cell —
    * (rowVal, colVal, observed, expected, contrib) — plus the global
    * statistic and degrees of freedom on every row (broadcast 1-row
    * join), so the output is both the test result and the cell-level
    * diagnostic of WHERE the dependence lives.
    *
    * Shape: one hash aggregation to the observed cell table (bounded by
    * category-pair cardinality, map-side combined), two bounded margin
    * aggregates re-joined by broadcast, one decimal total — no shuffle
    * ever carries more than the cell table. Cross-engine exactness:
    * expected = rowTot·colTot/n and the cell contribution
    * (o−e)²/e are double ops in one fixed order, each rounded at 6 dp;
    * the statistic is the EXACT decimal sum of the rounded
    * contributions, so summation order cannot move it. dof counts
    * OBSERVED margins ((R−1)(C−1)) — absent categories don't get rows.
    */
  def chiSquare(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = df.filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol).cast("string").as("row_val"),
        col(colCol).cast("string").as("col_val"))
      .agg(count(lit(1)).as("observed"))
    val rowTot = cells.groupBy("row_val").agg(sum("observed").as("_rt"))
    val colTot = cells.groupBy("col_val").agg(sum("observed").as("_ct"))
    val tot = cells.agg(sum("observed").as("_n"),
      countDistinct("row_val").as("_nr"), countDistinct("col_val").as("_nc"))
    val scored = cells
      .join(broadcast(rowTot), "row_val")
      .join(broadcast(colTot), "col_val")
      .crossJoin(broadcast(tot))
      .withColumn("expected",
        round(col("_rt").cast("double") * col("_ct") / col("_n"), 6))
      // a cell whose expected count rounds to 0 at 6 dp (possible once
      // n > ~2·10^6 with unit margins) would divide by zero — such
      // cells violate the chi-square validity assumption (expected ≥ 5)
      // anyway, so they contribute 0 rather than Infinity/error
      .withColumn("contrib",
        when(col("expected") > 0.0,
          round((col("observed") - col("expected")) *
            (col("observed") - col("expected")) / col("expected"), 6))
          .otherwise(lit(0.0)))
    val stat = scored.agg(
      sum(col("contrib").cast("decimal(18,6)")).cast("double").as("chi2"),
      ((max("_nr") - 1) * (max("_nc") - 1)).as("dof"))
    scored
      .crossJoin(broadcast(stat))
      .select(col("row_val"), col("col_val"), col("observed"),
        col("expected"), col("contrib"), col("chi2"), col("dof"))
  }

  /** Benjamini–Hochberg FDR adjustment over a battery of p-values —
    * the missing step after any per-segment screen ([[ksTestBy]], per-
    * column [[propTest]] sweeps): at 100 segments and α = 0.05, five
    * "drifted" slices are EXPECTED under the null; BH controls the
    * false-discovery rate instead. Appends `p_adj` (the BH-adjusted
    * p-value, monotone step-up) and `reject` (p_adj ≤ alpha) to every
    * input row; rows with a NULL p-value survive with NULL p_adj/reject
    * (skipped test, not a decision) and do not count toward m.
    *
    * Tie-determinism: ranks use the COUNT of p-values ≤ p (the largest
    * index among ties), so equal p-values always share one adjusted
    * value and one decision — no dependence on row order, partitioning,
    * or sort stability. Shape: the rank/step-up windows run over the
    * bounded DISTINCT-p table; rows re-attach by an equi-join on p.
    * Exactness: p_adj = min over larger p of m·p/i is one double
    * division per distinct p, a running min (exact on doubles), and a
    * 6 dp round.
    */
  def bhAdjust(df: DataFrame, pCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0, 1)")
    import org.apache.spark.sql.expressions.Window
    val counts = df.filter(col(pCol).isNotNull)
      .groupBy(col(pCol).cast("double").as("_p"))
      .agg(count(lit(1)).as("_n"))
    val byP = Window.orderBy("_p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fromTop = Window.orderBy(col("_p").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val adj = counts
      .withColumn("_i", sum("_n").over(byP))            // rank = #values <= p
      .withColumn("_m", sum("_n").over(all))
      .withColumn("_raw",
        col("_p") * col("_m").cast("double") / col("_i"))
      .withColumn("p_adj",
        round(least(lit(1.0), min("_raw").over(fromTop)), 6))
      .select(col("_p"), col("p_adj"))
    // NULL-p rows (a test that could not run) pass through with NULL
    // p_adj/reject rather than vanishing — they carry no evidence but
    // the caller must still see the row to know the test was skipped.
    // m (the battery size) counts only non-null p, per standard BH.
    // adj is one row per DISTINCT p-value — hypothesis-table-sized in
    // practice but data-derived, so no forced broadcast (AQE sizes it)
    df.join(adj, col(pCol).cast("double") === col("_p"), "left")
      .drop("_p")
      .withColumn("reject",
        when(col("p_adj").isNotNull, col("p_adj") <= alpha))
  }

  /** Mutual information between two categorical columns, with its
    * normalized form (NMI ∈ [0,1], geometric-mean normalization) and
    * Cramér's V — the "how much does knowing X tell you about Y"
    * trio behind feature-redundancy screens and leakage detection
    * ([[chiSquare]] answers "is there ANY dependence"; these answer
    * "how strong"). Returns one row: (n, mi, nmi, cramers_v).
    *
    * Shape: one map-side-combined count to the cell table (bounded by
    * category-pair cardinality), broadcast margins, then every
    * statistic folds over the cell table as an EXACT decimal sum of
    * 6 dp-rounded per-cell terms (the [[Profile.keySkew]] entropy
    * policy — summation order cannot move a bit). Degenerate cases:
    * a constant column has zero entropy → NMI is NULL; V is NULL when
    * min(R,C) = 1.
    */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("_a"),
        col(bCol).cast("string").as("_b"))
      .agg(count(lit(1)).as("_nab"))
    val aTot = cells.groupBy("_a").agg(sum("_nab").as("_na"))
    val bTot = cells.groupBy("_b").agg(sum("_nab").as("_nb"))
    val tot = cells.agg(sum("_nab").as("_n"),
      countDistinct("_a").as("_ra"), countDistinct("_b").as("_rb"))
    def dec6(c: Column): Column = round(c, 6).cast("decimal(18,6)")
    val scored = cells
      .join(broadcast(aTot), "_a").join(broadcast(bTot), "_b")
      .crossJoin(broadcast(tot))
      .withColumn("_mi_t", dec6((col("_nab").cast("double") / col("_n")) *
        log(col("_n").cast("double") * col("_nab") /
          (col("_na").cast("double") * col("_nb")))))
      .withColumn("_e", round(col("_na").cast("double") * col("_nb")
        / col("_n"), 6))
      .withColumn("_x2_t", when(col("_e") > 0.0,
        dec6((col("_nab") - col("_e")) * (col("_nab") - col("_e"))
          / col("_e"))).otherwise(lit(java.math.BigDecimal.ZERO.setScale(6))))
    val ha = aTot.crossJoin(broadcast(tot)).agg(
      sum(dec6(-(col("_na").cast("double") / col("_n")) *
        log(col("_na").cast("double") / col("_n")))).cast("double").as("_ha"))
    val hb = bTot.crossJoin(broadcast(tot)).agg(
      sum(dec6(-(col("_nb").cast("double") / col("_n")) *
        log(col("_nb").cast("double") / col("_n")))).cast("double").as("_hb"))
    scored.agg(
        max("_n").as("n"), max("_ra").as("_ra"), max("_rb").as("_rb"),
        sum("_mi_t").cast("double").as("mi"),
        sum("_x2_t").as("_x2_obs"),
        sum(col("_e").cast("decimal(18,6)")).as("_e_obs"))
      // ABSENT cells (observed 0) each contribute (0-e)^2/e = e to
      // chi2, and Σ_all e = n — so their mass is n − Σ_observed e,
      // added in exact decimal (a perfect bijection would otherwise
      // read V = √(3/4), not 1)
      .withColumn("_x2",
        (col("_x2_obs").cast("decimal(30,6)") +
          (col("n") - col("_e_obs")).cast("decimal(30,6)")).cast("double"))
      .crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
      .select(col("n"), round(col("mi"), 6).as("mi"),
        when(col("_ha") > 0.0 && col("_hb") > 0.0,
          round(col("mi") / sqrt(col("_ha") * col("_hb")), 6)).as("nmi"),
        when(least(col("_ra"), col("_rb")) > 1,
          round(sqrt(col("_x2") / (col("n") *
            (least(col("_ra"), col("_rb")) - 1))), 6)).as("cramers_v"))
  }

  /** Two-sample Kolmogorov–Smirnov test between cohorts `g1` and `g2`
    * of `groupCol`: D = max |F1(v) − F2(v)| over the pooled empirical
    * CDFs — the standard nonparametric "did the DISTRIBUTION drift"
    * check (PSI's bin-free sibling; sensitive anywhere on the CDF, not
    * just where the bins are).
    *
    * Shape: one grouped count per distinct value (map-side combined,
    * bounded by value cardinality under the DECIMAL(precision,scale)
    * canonicalization), one cumulative window over that bounded
    * distinct-value table (single partition BY DESIGN — it never holds
    * more rows than distinct values), one max. At 100 TB the only
    * full-data pass is the first count.
    *
    * Exactness: the max runs over the INTEGER cross-scaled gap
    * |cum1·n2 − cum2·n1| (DECIMAL(38,0) products — no overflow before
    * ~10^18 rows per side), so ties and order cannot move it; D divides
    * once and rounds at 6 dp. The asymptotic p-value
    * 2·exp(−2·D²·n1n2/(n1+n2)) (one-term Kolmogorov bound, clipped to
    * 1) is computed FROM THE ROUNDED D so both engines feed exp the
    * same double, then rounds at 6 dp.
    */
  /** The shared cohort-count skeleton of [[ksTest]] / [[ksTestBy]] /
    * [[qqTable]] / [[mannWhitneyU]]: filter to the two cohorts,
    * canonicalize values to exact integer units, and count per distinct
    * value with one conditional sum per cohort (map-side combined;
    * bounded by value cardinality). Extra leading key columns (e.g. a
    * segment) group alongside the value.
    */
  private def cohortCounts(df: DataFrame, groupCol: String, valueCol: String,
                           g1: String, g2: String, precision: Int, scale: Int,
                           keyCols: Seq[Column] = Nil,
                           keyNames: Seq[String] = Nil): DataFrame = {
    val g = col(groupCol).cast("string")
    df.filter((g === g1 || g === g2) && col(valueCol).isNotNull)
      .select(keyCols.zip(keyNames).map { case (c, n) => c.as(n) } ++
        Seq(g.as("_g"),
          LimbMoments.units(valueCol, precision, scale).as("_v")): _*)
      .filter(col("_v").isNotNull)
      .groupBy(keyNames.map(col) :+ col("_v"): _*)
      .agg(
        sum(when(col("_g") === g1, 1L).otherwise(0L)).as("_c1"),
        sum(when(col("_g") === g2, 1L).otherwise(0L)).as("_c2"))
  }

  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
             g1: String, g2: String,
             precision: Int = 9, scale: Int = 2): DataFrame = {
    val counts = cohortCounts(df, groupCol, valueCol, g1, g2, precision, scale)
    val cum = org.apache.spark.sql.expressions.Window.orderBy("_v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = counts.agg(sum("_c1").as("_n1"), sum("_c2").as("_n2"))
    val gap = counts
      .withColumn("_cum1", sum("_c1").over(cum))
      .withColumn("_cum2", sum("_c2").over(cum))
      .crossJoin(broadcast(tot))
      .agg(max(abs(col("_cum1").cast("decimal(38,0)") * col("_n2") -
        col("_cum2").cast("decimal(38,0)") * col("_n1"))).as("_dn"),
        max("_n1").as("n1"), max("_n2").as("n2"))
    // total on empty cohorts: n coalesces to 0 and d/p are NULL (no
    // distribution to compare) rather than a NaN from 0.0/0.0 — callers
    // gating on d decide what "undefined" means ([[Expectations]] treats
    // it as maximal drift)
    gap.select(coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"), col("_dn"))
      .select(col("n1"), col("n2"),
        when(col("n1") > 0 && col("n2") > 0,
          round(col("_dn").cast("double") /
            (col("n1").cast("double") * col("n2")), 6)).as("d"))
      .withColumn("p_approx",
        round(least(lit(1.0), lit(2.0) * exp(lit(-2.0) * col("d") * col("d") *
          (col("n1").cast("double") * col("n2") /
            (col("n1") + col("n2"))))), 6))
  }

  /** [[ksTest]] of one column across two FRAMES (current vs reference)
    * — the stacking idiom shared by [[Expectations.Drift]] and the
    * `ks` CLI: tag each side, union, run the cohort machinery.
    */
  def ksTestFrames(cur: DataFrame, ref: DataFrame, valueCol: String,
                   precision: Int = 9, scale: Int = 2): DataFrame = {
    val stacked = cur.select(col(valueCol)).withColumn("_side", lit("cur"))
      .unionByName(ref.select(col(valueCol)).withColumn("_side", lit("ref")))
    ksTest(stacked, "_side", valueCol, "cur", "ref", precision, scale)
  }

  /** [[ksTest]] per segment: one KS drift statistic per value of
    * `segCol` (per-language length drift, per-source score drift — the
    * "WHICH slice moved" follow-up to a corpus-level alarm). Same
    * bounded-table shape with every window partitioned by segment;
    * one row per segment (unordered — `.orderBy(desc("d"))` to lead
    * with the drifted slices); segments missing a cohort are excluded.
    */
  def ksTestBy(df: DataFrame, segCol: String, groupCol: String,
               valueCol: String, g1: String, g2: String,
               precision: Int = 9, scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = cohortCounts(df.filter(col(segCol).isNotNull),
      groupCol, valueCol, g1, g2, precision, scale,
      Seq(col(segCol).cast("string")), Seq("segment"))
    val cum = Window.partitionBy("segment").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("segment")
    counts
      .withColumn("_cum1", sum("_c1").over(cum))
      .withColumn("_cum2", sum("_c2").over(cum))
      .withColumn("_n1", sum("_c1").over(tot))
      .withColumn("_n2", sum("_c2").over(tot))
      .groupBy("segment")
      .agg(max(abs(col("_cum1").cast("decimal(38,0)") * col("_n2") -
        col("_cum2").cast("decimal(38,0)") * col("_n1"))).as("_dn"),
        max("_n1").as("n1"), max("_n2").as("n2"))
      // a segment missing one cohort has no CDF to compare
      .filter(col("n1") > 0 && col("n2") > 0)
      .select(col("segment"), col("n1"), col("n2"),
        round(col("_dn").cast("double") /
          (col("n1").cast("double") * col("n2")), 6).as("d"))
      .withColumn("p_approx",
        round(least(lit(1.0), lit(2.0) * exp(lit(-2.0) * col("d") * col("d") *
          (col("n1").cast("double") * col("n2") /
            (col("n1") + col("n2"))))), 6))
  }

  /** Q–Q comparison table between cohorts `g1` and `g2`: the
    * inverted-CDF quantile of each cohort at every percentile 1..99 —
    * the "WHERE in the distribution did it move" diagnostic that a
    * single KS statistic compresses away (tail drift vs median shift
    * look identical in d). Integer-exact quantile selection (smallest
    * value whose cumulative count reaches ⌈p·n/100⌉-equivalent mass via
    * cross-scaled compares), values reported at the original scale.
    *
    * Shape: the same one-count-then-bounded-windows skeleton as
    * [[ksTest]]; the percentile expansion joins the bounded distinct-
    * value CDF against a broadcast 99-row probe list.
    */
  def qqTable(df: DataFrame, groupCol: String, valueCol: String,
              g1: String, g2: String,
              precision: Int = 9, scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val counts = cohortCounts(df, groupCol, valueCol, g1, g2, precision, scale)
    val cum = Window.orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val cdf = counts
      .withColumn("_cum1", sum("_c1").over(cum).cast("decimal(38,0)"))
      .withColumn("_cum2", sum("_c2").over(cum).cast("decimal(38,0)"))
      .withColumn("_n1", sum("_c1").over(all).cast("decimal(38,0)"))
      .withColumn("_n2", sum("_c2").over(all).cast("decimal(38,0)"))
    val probes = spark.range(1, 100).select(col("id").as("p"))
    val unitsPerValue = math.pow(10, scale)
    // an EMPTY cohort (typo'd group name) must yield NULL quantiles, not
    // fabricated ones: with _n1 = 0 the probe condition degenerates to
    // 0 >= 0 and min() would return the global minimum for every
    // percentile — same guard class as ksTest's NULL d
    cdf.crossJoin(broadcast(probes))
      .groupBy("p")
      .agg(
        (min(when(col("_n1") > 0 &&
            col("_cum1") * 100 >= col("_n1") * col("p"), col("_v")))
          .cast("double") / unitsPerValue).as("q1"),
        (min(when(col("_n2") > 0 &&
            col("_cum2") * 100 >= col("_n2") * col("p"), col("_v")))
          .cast("double") / unitsPerValue).as("q2"))
      .withColumn("gap", round(col("q2") - col("q1"), 6))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) test between cohorts `g1` and
    * `g2`: the rank-based "is one cohort stochastically larger" check —
    * the t-test's outlier-robust sibling (medians, not means; no
    * normality assumption). Returns one row:
    * (g1, g2, n1, n2, u1, u2, z) with the tie-corrected normal
    * approximation z.
    *
    * Shape: identical to [[ksTest]] — one grouped count per distinct
    * canonical value, one cumulative window over the bounded
    * distinct-value table, one bounded aggregate. The rank sum
    * accumulates as the EXACT integer 2·R1 = Σ c1·(2·before + t + 1)
    * (midranks scaled by 2 stay integral; DECIMAL(38,0) — exact to
    * ~10^18 rows), as does the tie term Σ(t³−t) — the cube bounds THAT
    * term to ~4.6e12 tied rows per distinct value (t³ ≤ 10^38); beyond
    * it the overflow is detected and reported, never silently wrong.
    * u/z evaluate in double with one fixed operation order from those
    * exact integers and round at 6 dp.
    */
  def mannWhitneyU(df: DataFrame, groupCol: String, valueCol: String,
                   g1: String, g2: String,
                   precision: Int = 9, scale: Int = 2): DataFrame = {
    val counts = cohortCounts(df, groupCol, valueCol, g1, g2, precision, scale)
    val cum = org.apache.spark.sql.expressions.Window.orderBy("_v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val t = (col("_c1") + col("_c2")).cast("decimal(38,0)")
    val agg = counts
      .withColumn("_before",
        sum(col("_c1") + col("_c2")).over(cum) - (col("_c1") + col("_c2")))
      .agg(
        sum(col("_c1").cast("decimal(38,0)") *
          (col("_before").cast("decimal(38,0)") * 2 + t + 1)).as("_2r1"),
        sum(t * t * t - t).as("_ties"),
        sum("_c1").as("n1"), sum("_c2").as("n2"))
      .head()
    val n1 = agg.getAs[Long]("n1"); val n2 = agg.getAs[Long]("n2")
    require(n1 > 0 && n2 > 0, s"mannWhitneyU: empty cohort ($g1: $n1, $g2: $n2)")
    val twoR1 = agg.getAs[java.math.BigDecimal]("_2r1")
    // the tie cube t³−t overflows DECIMAL(38,0) → NULL (non-ANSI) once a
    // single value has more than ~4.6e12 tied rows (t³ > 10^38); 2·R1
    // itself stays exact to ~10^18 rows. Fail fast with the bound rather
    // than NPE on ties.doubleValue
    val ties = Option(agg.getAs[java.math.BigDecimal]("_ties")).getOrElse(
      throw new IllegalArgumentException(
        "mannWhitneyU: tie term t^3-t overflowed decimal(38,0) — some " +
          "value has more than ~4.6e12 tied rows; bucket the values first"))
    val n = n1 + n2
    // 2·U1 = 2·R1 − n1(n1+1); exact integers until the final doubles
    val twoU1 = twoR1.subtract(java.math.BigDecimal.valueOf(n1)
      .multiply(java.math.BigDecimal.valueOf(n1 + 1)))
    val u1 = twoU1.doubleValue / 2.0
    val u2 = n1.toDouble * n2 - u1
    def r6(v: Double): java.lang.Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    // tie-corrected variance: n1·n2/12 · ((n+1) − Σ(t³−t)/(n(n−1)))
    val sigma2 = n1.toDouble * n2 / 12.0 *
      ((n + 1).toDouble - ties.doubleValue / (n.toDouble * (n - 1)))
    val z: java.lang.Double =
      if (sigma2 <= 0.0) null
      else r6((u1 - n1.toDouble * n2 / 2.0) / math.sqrt(sigma2))
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(g1, g2, n1, n2, r6(u1).doubleValue,
        r6(u2).doubleValue, z)), 1),
      StructType(Seq(
        StructField("g1", StringType, nullable = false),
        StructField("g2", StringType, nullable = false),
        StructField("n1", LongType, nullable = false),
        StructField("n2", LongType, nullable = false),
        StructField("u1", DoubleType, nullable = false),
        StructField("u2", DoubleType, nullable = false),
        StructField("z", DoubleType, nullable = true))))
  }

  /** Benford first-significant-digit audit of a positive-valued
    * measure: observed digit counts 1..9 vs the Benford expectation
    * n·log10(1+1/d), with per-digit chi-square contributions and the
    * total statistic — the classic fabricated-data / broken-upstream
    * screen for financial-style columns.
    *
    * Shape: one map-side-combined count over the 9-way digit key, then
    * everything runs on the 9-row table (the digit frame is a
    * broadcast-joined `spark.range(1, 10)` so absent digits still get
    * their expected-count row). The first digit is extracted from the
    * DECIMAL(18,6) canonical rendering (both engines render full
    * scale), never from double formatting or log10 of the value —
    * exact for every representable input, no boundary-ulp hazard at
    * powers of ten.
    *
    * Exactness: expected and contribution are double ops in one fixed
    * order, each rounded at 6 dp; chi2 is the exact decimal sum of the
    * rounded contributions (order-insensitive).
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val digit = regexp_extract(
      expr(s"try_cast(`$valueCol` AS decimal(18,6))").cast("string"),
      "[1-9]", 0)
    val counts = df
      .select(digit.as("_d"))
      .filter(col("_d") =!= "")
      .groupBy(col("_d").cast("int").as("digit"))
      .agg(count(lit(1)).as("observed"))
    val tot = counts.agg(sum("observed").as("_n"))
    val spark = df.sparkSession
    val digits = spark.range(1, 10).select(col("id").cast("int").as("digit"))
    val scored = digits
      .join(broadcast(counts), Seq("digit"), "left")
      .na.fill(0L, Seq("observed"))
      .crossJoin(broadcast(tot))
      .withColumn("expected",
        round(col("_n").cast("double") *
          log10(lit(1.0) + lit(1.0) / col("digit")), 6))
      .withColumn("contrib",
        when(col("expected") > 0.0,
          round((col("observed") - col("expected")) *
            (col("observed") - col("expected")) / col("expected"), 6))
          .otherwise(lit(0.0)))
    val stat = scored.agg(
      sum(col("contrib").cast("decimal(18,6)")).cast("double").as("chi2"))
    scored.crossJoin(broadcast(stat))
      .select(col("digit"), col("observed"), col("expected"), col("contrib"),
        col("chi2"))
  }

  /** Sample autocorrelation function of a regular series at lags
    * 1..`maxLag`: r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)² — the
    * seasonality / trend detector behind "is this daily metric weekly-
    * periodic" (a spike at lag 7) and the independence check before
    * control-chart thresholds ([[EventAnalytics.seasonalBaseline]]'s
    * diagnostic sibling). `tCol` is the integer time index (epoch day
    * for a daily series); gaps simply contribute no pairs at the lags
    * they break.
    *
    * Shape: ONE equi-join builds every lag's pair set — the series
    * cross-joined with the broadcast 1..maxLag lag list on the shifted
    * index (cost maxLag × series, the honest pair count) — then one
    * grouped aggregation per lag accumulates the exact limb-sum cross
    * moments; global moments come from one more single-row aggregate,
    * and the maxLag-row result assembles driver-side ([[welchT]]
    * pattern). Exactness: every Σ is an exact integer reassembly;
    * mean/numerator/denominator evaluate in double with one fixed
    * operation order, r_k rounds at 6 dp.
    */
  def acf(df: DataFrame, tCol: String, valueCol: String, maxLag: Int,
          precision: Int = 9, scale: Int = 2): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val spark = df.sparkSession
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(tCol).cast("long").as("_t"),
        LimbMoments.units(valueCol, precision, scale).as("_u"))
      .filter(col("_u").isNotNull)
    val gAggs = LimbMoments.momentAggs(col("_u"))
    val g = series.agg(gAggs.head, gAggs.tail: _*).head()
    def gGet(f: String): Long = g.getAs[Long](f)
    val n = g.getAs[Long]("_n")
    require(n >= 2, "acf needs at least 2 points")
    val s = LimbMoments.sumValue(gGet, scale)
    val p = LimbMoments.prodValue(gGet, scale)
    val xbar = s / n
    val den = p - s * s / n
    val lags = spark.range(1, maxLag + 1L).select(col("id").as("_k"))
    val head = series.crossJoin(broadcast(lags))
      .select(col("_k"), (col("_t") + col("_k")).as("_tj"), col("_u").as("_ua"))
    val tail = series.select(col("_t").as("_tj"), col("_u").as("_ub"))
    val lagAggs = Seq(count(lit(1)).as("_m")) ++
      LimbMoments.sumAggs(col("_ua"), "_a") ++
      LimbMoments.sumAggs(col("_ub"), "_b") ++
      LimbMoments.prodAggs(col("_ua"), col("_ub"))
    val perLag = head.join(tail, "_tj")
      .groupBy("_k")
      .agg(lagAggs.head, lagAggs.tail: _*)
      .collect()
    def r6(v: Double): java.lang.Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val byLag = perLag.map { r =>
      def get(f: String): Long =
        Option(r.getAs[java.lang.Long](f)).map(_.longValue).getOrElse(0L)
      val m = r.getAs[Long]("_m")
      val sa = LimbMoments.sumValue(get, scale, "_a")
      val sb = LimbMoments.sumValue(get, scale, "_b")
      val pp = LimbMoments.prodValue(get, scale)
      (r.getAs[Long]("_k"), m, pp - xbar * (sa + sb) + m * xbar * xbar)
    }.map { case (k, m, num) =>
      Row(k, m, if (den > 0.0 && m > 0) r6(num / den) else null)
    }.sortBy(_.getLong(0))
    spark.createDataFrame(
      spark.sparkContext.parallelize(byLag.toSeq, 1),
      StructType(Seq(
        StructField("lag", LongType, nullable = false),
        StructField("n_pairs", LongType, nullable = false),
        StructField("r", DoubleType, nullable = true))))
  }

  /** Theil–Sen robust trend estimate of a regular series: slope =
    * median of all pairwise slopes (u_j−u_i)/(t_j−t_i), intercept =
    * median of the residuals u_i − slope·t_i — the trend line a 29%
    * outlier fraction cannot move (least squares breaks at one), the
    * right "is this metric drifting" screen for noisy dailies.
    *
    * Shape: a SERIES operator — the input is an already-aggregated
    * metric (bounded by the observation window). The O(n²/2) pair
    * self-join is a nested-loop plan, so the series length is HARD
    * capped (`maxN`, default 10 000 → ≤ 5·10⁷ pairs): feeding raw rows
    * fails fast with an actionable message instead of silently
    * attempting n²/2 slopes — the same misuse class [[welchT]] guards
    * with its 1000-group require. Medians use the repo's inverted-CDF
    * convention (smallest value whose cumulative count reaches half) —
    * always an observed value, no cross-engine midpoint-average float
    * hazard — computed DISTRIBUTED: a [[PrefixSum.running]] count over
    * the distinct values, then the smallest value whose running count
    * reaches half; no global single-task window anywhere in the plan.
    *
    * Exactness: values canonicalize to exact integer units; each slope
    * is ONE double division of exact integers rounded at 6 dp; the
    * median picks among those rounded values by integer-exact rank;
    * residuals are one fixed-order double expression rounded at 6 dp.
    */
  def theilSen(df: DataFrame, tCol: String, valueCol: String,
               precision: Int = 9, scale: Int = 2,
               maxN: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    // the bounded series feeds four actions (count, both sides of the
    // pair self-join, residuals): persist so the upstream scan /
    // aggregation producing the series runs once.
    Materialize.within(df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(tCol).cast("long").as("_t"),
        LimbMoments.units(valueCol, precision, scale).as("_u"))
      .filter(col("_u").isNotNull)) { series =>
    val n = series.count()
    require(n >= 2, s"theilSen needs at least 2 points, got $n")
    require(n <= maxN,
      s"theilSen: $n points > maxN=$maxN — this is a SERIES operator " +
        "(the pair stage is O(n^2/2)); aggregate to a bounded series " +
        "(e.g. daily metric) first, or raise maxN deliberately")
    val a = series.select(col("_t").as("_t1"), col("_u").as("_u1"))
    val b = series.select(col("_t").as("_t2"), col("_u").as("_u2"))
    val unitsPerValue = math.pow(10, scale)
    val slopes = a.join(b, col("_t2") > col("_t1"))
      .select(round(((col("_u2") - col("_u1")).cast("double") / unitsPerValue)
        / (col("_t2") - col("_t1")), 6).as("_s"))
    // inverted-CDF median: the smallest distinct value whose running
    // count reaches half the total
    def invCdfMedian(vals: DataFrame, c: String): Double = {
      val scan = PrefixSum.running(vals.groupBy(col(c)).agg(count(lit(1)).as("_n")),
        Seq(col(c).asc), Seq("_n" -> "_cum"))
      // a top-1, not `agg(min)`: it collects in one job, with no exchange
      try scan.rows.filter(col("_cum") * 2L >= scan.totals.getLong(0))
        .orderBy(col(c)).select(col(c).cast("double")).head().getDouble(0)
      finally Materialize.release(scan.rows)
    }
    val slope = invCdfMedian(slopes.withColumnRenamed("_s", "slope"), "slope")
    val resid = series
      .select(round(col("_u").cast("double") / unitsPerValue -
        lit(slope) * col("_t"), 6).as("intercept"))
    val intercept = invCdfMedian(resid, "intercept")
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(n, n * (n - 1) / 2, slope, intercept)), 1),
      StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("n_pairs", LongType, nullable = false),
        StructField("slope", DoubleType, nullable = false),
        StructField("intercept", DoubleType, nullable = false))))
    }
  }

  /** Spearman rank correlation between two numeric columns — the
    * monotone-association screen ([[corrMatrix]]'s Pearson sees only
    * LINEAR association and one outlier can saturate it; Spearman on
    * midranks has the same robustness as [[mannWhitneyU]]). Returns one
    * row (n, rho) with tie-aware midranks; NULL rho when either column
    * is constant (zero rank variance).
    *
    * Shape: one grouped count per column's DISTINCT canonical values,
    * a cumulative window over each bounded distinct-value table (the
    * [[ksTest]] convention — never a window over raw rows), two
    * equi-joins attaching the 2×-scaled integral midranks back, and
    * ONE aggregation of five exact DECIMAL(38,0) sums. 2·midrank =
    * 2·(#less) + #equal + 1 stays integral, so ΣxΣy/Σx²/Σxy are exact
    * to ~10^12 rows (4n³ ≤ 10^38); rho is one fixed-order double
    * expression from those exact integers, rounded at 6 dp.
    */
  def spearman(df: DataFrame, aCol: String, bCol: String,
               precision: Int = 9, scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df
      .select(LimbMoments.units(aCol, precision, scale).as("_a"),
        LimbMoments.units(bCol, precision, scale).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull)
    def ranks(c: String, out: String): DataFrame = {
      val counts = rows.groupBy(col(c)).agg(count(lit(1)).as("_n"))
      val cum = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts
        .withColumn("_less", sum("_n").over(cum) - col("_n"))
        .select(col(c), (col("_less") * 2 + col("_n") + 1).as(out))
    }
    val dec = "decimal(38,0)"
    val agg = rows
      .join(ranks("_a", "_rx"), "_a")
      .join(ranks("_b", "_ry"), "_b")
      .agg(count(lit(1)).as("n"),
        sum(col("_rx").cast(dec)).as("_sx"),
        sum(col("_ry").cast(dec)).as("_sy"),
        sum(col("_rx").cast(dec) * col("_rx")).as("_sxx"),
        sum(col("_ry").cast(dec) * col("_ry")).as("_syy"),
        sum(col("_rx").cast(dec) * col("_ry")).as("_sxy"))
      .head()
    val n = agg.getAs[Long]("n")
    require(n >= 2, s"spearman needs at least 2 complete rows, got $n")
    def bd(f: String): java.math.BigDecimal =
      agg.getAs[java.math.BigDecimal](f)
    val nB = java.math.BigDecimal.valueOf(n)
    val num = nB.multiply(bd("_sxy")).subtract(bd("_sx").multiply(bd("_sy")))
    val d1 = nB.multiply(bd("_sxx")).subtract(bd("_sx").multiply(bd("_sx")))
    val d2 = nB.multiply(bd("_syy")).subtract(bd("_sy").multiply(bd("_sy")))
    def r6(v: Double): java.lang.Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val rho: java.lang.Double =
      if (d1.signum <= 0 || d2.signum <= 0) null
      else r6(num.doubleValue /
        (math.sqrt(d1.doubleValue) * math.sqrt(d2.doubleValue)))
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(n, rho)), 1),
      StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("rho", DoubleType, nullable = true))))
  }

  /** Population Stability Index between a REFERENCE and a CURRENT
    * sample of one numeric column — the scorecard-monitoring drift
    * number ([[ksTest]] answers "did it move" with a sup-distance;
    * PSI weights movement by log-odds, the convention risk teams
    * threshold at 0.1/0.25). The fixed-grid driver-side sibling is
    * [[graft.operators.Distribution.psiFromCounts]] (known range, counts
    * already in hand); THIS operator owns the quantile-binned
    * distributed path. Bins are the reference's `nBins`
    * quantile edges (inverted-CDF, integer-exact selection — always
    * observed values, duplicate edges collapse so heavy ties co-bin);
    * a value equal to an edge falls in the LOWER bin. Returns one row
    * per bin: (bin, ref_n, cur_n, ref_share, cur_share, term) with the
    * total `psi` on every row.
    *
    * Empty-bin convention: shares are clamped at 1e-6 inside the
    * formula (the standard epsilon treatment — an empty current bin is
    * strong drift evidence, not an infinity), stated here because PSI
    * implementations differ and silent divergence from the monitoring
    * system's number would be a false alarm factory.
    *
    * Shape: the edge derivation runs on the bounded distinct-value
    * table ([[qqTable]]'s skeleton); bin assignment is a per-row fold
    * over the broadcast ≤ nBins−1 edge list; shares come from ONE
    * map-side-combined count per side. Exactness: integer-exact edge
    * ranks; shares rounded at 6 dp; term = (pc−pr)·ln(pc/pr) in one
    * fixed double order rounded at 6 dp; psi is the exact decimal sum
    * of rounded terms.
    */
  def psi(ref: DataFrame, cur: DataFrame, valueCol: String, nBins: Int = 10,
          precision: Int = 9, scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBins >= 2 && nBins <= 1000, "nBins in [2, 1000]")
    def units(df: DataFrame): DataFrame = df
      .select(LimbMoments.units(valueCol, precision, scale).as("_u"))
      .filter(col("_u").isNotNull)
    val refU = units(ref); val curU = units(cur)
    val counts = refU.groupBy("_u").agg(count(lit(1)).as("_n"))
    val cum = Window.orderBy("_u")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val probes = ref.sparkSession.range(1, nBins).select(col("id").as("_k"))
    val edges = counts
      .withColumn("_cum", sum("_n").over(cum).cast("decimal(38,0)"))
      .withColumn("_tot",
        sum("_n").over(Window.partitionBy()).cast("decimal(38,0)"))
      .crossJoin(broadcast(probes))
      .groupBy("_k")
      .agg(min(when(col("_cum") * nBins >= col("_tot") * col("_k"),
        col("_u"))).as("_e"))
      .agg(array_sort(array_distinct(collect_list("_e"))).as("_edges"))
    def binned(df: DataFrame, out: String): DataFrame = df
      .crossJoin(broadcast(edges))
      .select(aggregate(col("_edges"), lit(0),
        (acc, e) => acc + when(col("_u") > e, 1).otherwise(0)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as(out))
    val joined = binned(refU, "ref_n")
      .join(binned(curU, "cur_n"), Seq("bin"), "full_outer")
      .na.fill(0L, Seq("ref_n", "cur_n"))
    val totals = joined.agg(sum("ref_n").as("_rt"), sum("cur_n").as("_ct"))
    val scored = joined.crossJoin(broadcast(totals))
      .withColumn("ref_share",
        round(col("ref_n").cast("double") / col("_rt"), 6))
      .withColumn("cur_share",
        round(col("cur_n").cast("double") / col("_ct"), 6))
      .withColumn("_pc", greatest(col("cur_share"), lit(1e-6)))
      .withColumn("_pr", greatest(col("ref_share"), lit(1e-6)))
      .withColumn("term",
        round((col("_pc") - col("_pr")) * log(col("_pc") / col("_pr")), 6))
    val tot = scored.agg(
      sum(col("term").cast("decimal(18,6)")).cast("double").as("psi"))
    scored.crossJoin(broadcast(tot))
      .select("bin", "ref_n", "cur_n", "ref_share", "cur_share", "term", "psi")
  }

  /** Cohen's κ agreement between two categorical columns (raters,
    * model-vs-model labels, annotator-vs-heuristic): observed agreement
    * corrected for the agreement two independent raters with these
    * margins would reach by chance — the label-quality gate before
    * training on auto-labeled data. Returns one row
    * (n, po, pe, kappa); NULL κ when pe = 1 (both raters constant and
    * identical — agreement is vacuous).
    *
    * Shape: ONE map-side-combined cell count; margins and the two
    * shares fold from the bounded cell table. Exactness: po and pe
    * derive from exact integer counts (pe's cross terms as exact
    * decimal products over the margin tables), each rounded at 6 dp;
    * κ is one fixed-order double expression rounded at 6 dp.
    */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // two reductions (n/agree, margin cross term) read the cell table:
    // persist so the raw-row scan + groupBy runs once, not twice
    Materialize.within(df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("_a"),
        col(bCol).cast("string").as("_b"))
      .agg(count(lit(1)).as("_c"))) { cells =>
    val agg = cells.agg(sum("_c").as("_n"),
      sum(when(col("_a") === col("_b"), col("_c")).otherwise(0L)).as("_agree"))
      .head()
    val n = agg.getAs[Long]("_n")
    require(n >= 1, "cohensKappa needs at least 1 complete row")
    val agree = agg.getAs[Long]("_agree")
    val dec = "decimal(38,0)"
    // Σ_k rowMargin(k)·colMargin(k) as one exact decimal integer
    val ra = cells.groupBy("_a").agg(sum("_c").as("_ma"))
    val rb = cells.groupBy("_b").agg(sum("_c").as("_mb"))
    val cross = ra.join(rb, col("_a") === col("_b"))
      .agg(sum(col("_ma").cast(dec) * col("_mb")).as("_x")).head()
    val x = Option(cross.getAs[java.math.BigDecimal]("_x"))
      .getOrElse(java.math.BigDecimal.ZERO)
    def r6(v: Double): java.lang.Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val po = r6(agree.toDouble / n)
    val pe = r6(x.doubleValue / (n.toDouble * n))
    val kappa: java.lang.Double =
      if (pe >= 1.0) null else r6((po - pe) / (1.0 - pe))
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(n, po.doubleValue, pe.doubleValue, kappa)), 1),
      StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("po", DoubleType, nullable = false),
        StructField("pe", DoubleType, nullable = false),
        StructField("kappa", DoubleType, nullable = true))))
    }
  }

  /** Poisson-bootstrap confidence interval for a column mean — the
    * uncertainty attached to any sampled-corpus metric ("is this 0.3%
    * quality drop real"). Classic resampling is impossible distributed
    * (a bootstrap replicate needs global sampling WITH replacement);
    * the Poisson bootstrap (Hanley & MacGibbon 2006) replaces each
    * row's replicate multiplicity with an independent Poisson(1) draw —
    * here a SEEDED md5-derived draw, so every engine and every re-run
    * reproduces the same replicates bit-for-bit. Returns one row
    * (n, mean, lo, hi, n_replicates) with the inverted-CDF percentile
    * bounds of the replicate means at `level` coverage.
    *
    * Shape: one explode ×R into a (replicate)-keyed aggregation —
    * map-side combine bounds the shuffle at R × partitions rows; the R
    * replicate means come to the driver (R doubles). ONE md5 per ROW
    * (not per (row, replicate)): the 60-bit per-row seed expands into
    * the r-th replicate's draw through a splitmix-style
    * xorshift-multiply chain in overflow-proof wide arithmetic
    * ([[BootstrapThresholds.drawColumn]]) — ~10 integer ops where the
    * old scheme paid a full md5, which was ~the entire bootstrap CPU.
    * Exactness: the Poisson inverse-CDF compares the 60-bit draw
    * INTEGER against precomputed integer thresholds (floor(cdf·2^60) —
    * no float in the draw at all); Σw·x folds in exact decimal from
    * canonical units; each replicate mean is one double division
    * rounded at 6 dp.
    */
  def bootstrapMeanCI(df: DataFrame, idCol: String, valueCol: String,
                      nReplicates: Int = 200, level: Double = 0.95,
                      precision: Int = 9, scale: Int = 2): DataFrame = {
    require(nReplicates >= 20 && nReplicates <= 10000,
      "nReplicates in [20, 10000]")
    require(level > 0 && level < 1, "level in (0, 1)")
    val rows = df
      .select(col(idCol).cast("string").as("_id"),
        LimbMoments.units(valueCol, precision, scale).as("_u"))
      .filter(col("_u").isNotNull)
    val unitsPerValue = math.pow(10, scale)
    // ONE md5 per row, BEFORE the ×R explode; each replicate's draw
    // expands from the seed in ~10 integer ops (drawColumn) — the
    // per-(row, replicate) md5 was ~the entire bootstrap CPU
    // persisted across its two consumers (replicate fold + point
    // estimate) so the upstream scan/aggregation runs once
    Materialize.within(rows.select(col("_u"),
      conv(substring(md5(col("_id")), 1, 15), 16, 10)
        .cast("decimal(20,0)").cast("long").as("_seed"))) { seeded =>
      val reps = seeded
        .select(col("_seed"), col("_u"),
          explode(sequence(lit(1), lit(nReplicates))).as("_r"))
        .withColumn("_w", BootstrapThresholds.weightColumn(
          BootstrapThresholds.drawColumn(col("_seed"), col("_r"))))
        .groupBy("_r")
        .agg(sum(col("_w").cast("decimal(38,0)") * col("_u")).as("_swx"),
          sum(col("_w").cast("decimal(38,0)")).as("_sw"))
        .collect()
      def r6(v: Double): Double = java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      val means = reps.flatMap { r =>
        val sw = r.getAs[java.math.BigDecimal]("_sw")
        // a replicate where every Poisson draw was 0 carries no sample
        if (sw.signum == 0) None
        else Some(r6(r.getAs[java.math.BigDecimal]("_swx").doubleValue /
          (sw.doubleValue * unitsPerValue)))
      }.sorted
      require(means.nonEmpty, "bootstrapMeanCI: no non-empty replicates (empty input?)")
      val rCount = means.length
      // inverted CDF: smallest mean whose rank reaches the percentile
      // mass. The rank computes in EXACT decimal: the double product
      // 0.025 * 200 is 5.000000000000004 and ceils to rank 6 while the
      // oracle's decimal arithmetic ceils the exact 5.000 to rank 5 —
      // a one-rank CI shift whenever alpha * R lands on an integer.
      def pick(p: BigDecimal): Double =
        means(math.max(0, (p * rCount).setScale(0, BigDecimal.RoundingMode.CEILING).toInt - 1))
      val alpha = (BigDecimal(1) - BigDecimal.valueOf(level)) / 2
      val base = seeded.agg(count(lit(1)).as("_n"),
        sum(col("_u").cast("decimal(38,0)")).as("_su")).head()
      val n = base.getAs[Long]("_n")
      require(n >= 1, "bootstrapMeanCI needs at least 1 row")
      val mean = r6(base.getAs[java.math.BigDecimal]("_su").doubleValue /
        (n.toDouble * unitsPerValue))
      val spark = df.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(n, mean,
          pick(alpha), pick(BigDecimal(1) - alpha), rCount.toLong)), 1),
        StructType(Seq(
          StructField("n", LongType, nullable = false),
          StructField("mean", DoubleType, nullable = false),
          StructField("lo", DoubleType, nullable = false),
          StructField("hi", DoubleType, nullable = false),
          StructField("n_replicates", LongType, nullable = false))))
    }
  }

  /** Poisson-bootstrap CI on the DIFFERENCE of two arm means — the CI
    * companion to the point readouts in [[Experiment]]: each replicate
    * redraws every unit with the same seeded integer-threshold
    * Poisson(1) weight [[bootstrapMeanCI]] uses (one md5 per UNIT
    * expanded per replicate — a unit's weight is shared by whichever
    * arm it belongs to, and the two arm means are re-formed per
    * replicate),
    * then the delta distribution's inverted CDF gives the interval. No
    * normality assumption, no delta-method linearization — the honest
    * CI when the metric is lumpy.
    *
    * Scale shape identical to [[bootstrapMeanCI]]: the corpus explodes
    * ×R but collapses in one (replicate, arm)-keyed map-side-combined
    * aggregation to ≤ 2R rows; only those collect, and the per-arm
    * totals pair up driver-side. The seeded input is persisted across
    * the replicate fold and the point-estimate fold so the upstream
    * per-unit aggregation runs once. Replicates where either arm drew
    * zero total weight are dropped (the delta is undefined there) and
    * the published replicate count reflects it.
    */
  def bootstrapDeltaCI(df: DataFrame, idCol: String, armCol: String,
                       valueCol: String, armA: String, armB: String,
                       nReplicates: Int = 200, level: Double = 0.95,
                       precision: Int = 9, scale: Int = 2): DataFrame = {
    require(nReplicates >= 20 && nReplicates <= 10000,
      "nReplicates in [20, 10000]")
    require(level > 0 && level < 1, "level in (0, 1)")
    val arm = col(armCol).cast("string")
    val rows = df.filter(arm.isin(armA, armB))
      .select(col(idCol).cast("string").as("_id"), arm.as("_arm"),
        LimbMoments.units(valueCol, precision, scale).as("_u"))
      .filter(col("_u").isNotNull)
    val unitsPerValue = math.pow(10, scale)
    // same one-md5-per-row discipline as bootstrapMeanCI: seed before
    // the explode, expand per replicate with integer ops. The seeded
    // frame is PERSISTED across its two consumers (the ×R replicate
    // fold and the point-estimate base fold) — the input here is
    // usually itself an aggregation (per-unit outcomes), and without
    // the cache that upstream shuffle runs twice.
    Materialize.within(rows.select(col("_arm"), col("_u"),
      conv(substring(md5(col("_id")), 1, 15), 16, 10)
        .cast("decimal(20,0)").cast("long").as("_seed"))) { seeded =>
      // (replicate, arm)-keyed fold — two UNCONDITIONAL exact-decimal
      // sums instead of four per-row when(arm)-guarded ones (the r14
      // shape): half the decimal work per exploded row, and the
      // map-side combine still bounds the shuffle at 2R × partitions
      // rows. Driver-side pairing of the ≤ 2R collected rows replays
      // the exact same per-arm decimal totals (decimal sums are
      // order-independent), so the published interval is unchanged.
      val reps = seeded
        .select(col("_seed"), col("_arm"), col("_u"),
          explode(sequence(lit(1), lit(nReplicates))).as("_r"))
        .withColumn("_w", BootstrapThresholds.weightColumn(
          BootstrapThresholds.drawColumn(col("_seed"), col("_r"))))
        .groupBy("_r", "_arm")
        .agg(sum(col("_w").cast("decimal(38,0)") * col("_u")).as("_swx"),
          sum(col("_w").cast("decimal(38,0)")).as("_sw"))
        .collect()
      def r6(v: Double): Double = java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      val byRep = reps.groupBy(_.getAs[Int]("_r"))
      val deltas = byRep.values.flatMap { rows =>
        def armOf(a: String) = rows.find(_.getAs[String]("_arm") == a)
        (armOf(armA), armOf(armB)) match {
          case (Some(ra), Some(rb))
              if ra.getAs[java.math.BigDecimal]("_sw").signum != 0 &&
                rb.getAs[java.math.BigDecimal]("_sw").signum != 0 =>
            Some(r6(
              ra.getAs[java.math.BigDecimal]("_swx").doubleValue /
                (ra.getAs[java.math.BigDecimal]("_sw").doubleValue * unitsPerValue) -
              rb.getAs[java.math.BigDecimal]("_swx").doubleValue /
                (rb.getAs[java.math.BigDecimal]("_sw").doubleValue * unitsPerValue)))
          case _ => None
        }
      }.toArray.sorted
      require(deltas.nonEmpty,
        "bootstrapDeltaCI: no replicate drew both arms (empty arm?)")
      val rCount = deltas.length
      // exact-decimal rank, same boundary fix as bootstrapMeanCI: the
      // double 0.025 * 200 ceils to 6, the oracle's exact 5.000 to 5
      def pick(p: BigDecimal): Double =
        deltas(math.max(0, (p * rCount).setScale(0, BigDecimal.RoundingMode.CEILING).toInt - 1))
      val alpha = (BigDecimal(1) - BigDecimal.valueOf(level)) / 2
      val dec0 = lit(0).cast("decimal(38,0)")
      val base = seeded.agg(
        sum(when(col("_arm") === armA, 1L).otherwise(0L)).as("_na"),
        sum(when(col("_arm") === armA, col("_u").cast("decimal(38,0)"))
          .otherwise(dec0)).as("_sua"),
        sum(when(col("_arm") === armB, 1L).otherwise(0L)).as("_nb"),
        sum(when(col("_arm") === armB, col("_u").cast("decimal(38,0)"))
          .otherwise(dec0)).as("_sub")).head()
      val nA = base.getAs[Long]("_na"); val nB = base.getAs[Long]("_nb")
      require(nA >= 1 && nB >= 1, "bootstrapDeltaCI needs rows in both arms")
      val delta = r6(
        base.getAs[java.math.BigDecimal]("_sua").doubleValue /
          (nA.toDouble * unitsPerValue) -
        base.getAs[java.math.BigDecimal]("_sub").doubleValue /
          (nB.toDouble * unitsPerValue))
      val spark = df.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(nA, nB, delta,
          pick(alpha), pick(BigDecimal(1) - alpha), rCount.toLong)), 1),
        StructType(Seq(
          StructField("n_a", LongType, nullable = false),
          StructField("n_b", LongType, nullable = false),
          StructField("delta", DoubleType, nullable = false),
          StructField("lo", DoubleType, nullable = false),
          StructField("hi", DoubleType, nullable = false),
          StructField("n_replicates", LongType, nullable = false))))
    }
  }

  /** Integer Poisson(1) inverse-CDF thresholds at 60-bit precision —
    * shared verbatim by the Spark draw and the oracle SQL (the draw is
    * an INTEGER comparison; no float ever enters it).
    */
  private[graft] object BootstrapThresholds {
    val max: Long = 1L << 60
    // cumulative Poisson(1) probabilities, k = 0..6; mass beyond 7 is
    // ~1e-5 and maps to weight 7 (bounded multiplicity keeps Σw·x exact)
    val t: Seq[Long] = {
      var cum = 0.0; var fact = 1.0
      (0 to 6).map { k =>
        if (k > 0) fact *= k
        cum += math.exp(-1.0) / fact
        math.floor(cum * max).toLong
      }
    }
    def weightColumn(hash60: Column): Column =
      t.zipWithIndex.foldRight(lit(7L): Column) { case ((thr, k), els) =>
        when(hash60 < thr, k.toLong).otherwise(els)
      }
    /** The same thresholds as SQL CASE text for the oracle. */
    def sqlCase(hashExpr: String): String =
      t.zipWithIndex.map { case (thr, k) =>
        s"WHEN $hashExpr < $thr THEN $k"
      }.mkString("CASE ", " ", " ELSE 7 END")

    // splitmix64's xorshift-multiply constants reduced mod 2^60 (all
    // odd, so each multiply is a bijection of Z/2^60). One md5 per ROW
    // seeds a Weyl sequence the chain scrambles per replicate; both
    // engines expand it with overflow-proof wide arithmetic
    // (decimal(38,0) here, HUGEINT in the oracle — every product stays
    // < 2^120 < 10^38). Measured draw quality: mean 1.0007 / variance
    // 1.003 over 20k draws against the Poisson(1) thresholds.
    val weylStep: Long = 0xE3779B97F4A7C15L
    val mix1: Long = 0xF58476D1CE4E5B9L
    val mix2: Long = 0x4D049BB133111EBL

    private val mask60 = max - 1 // 2^60 − 1
    private val mask30 = (1L << 30) - 1
    // x·k mod 2^60 in pure overflow-safe Long ops (whole-stage-codegen
    // primitives — the first cut used decimal(38,0) % and the decimal
    // object math dominated the bootstrap): split both factors into
    // 30-bit limbs; x·k = 2^60·(xh·kh) + 2^30·(xh·kl + xl·kh) + xl·kl,
    // so mod 2^60 only the cross term mod 2^30 and the low product
    // survive. Every intermediate stays < 2^61 — no Long overflow, so
    // ANSI mode never fires.
    private def mulMod60(x: Column, k: Long): Column = {
      val kh = k >>> 30; val kl = k & mask30
      val xh = shiftright(x, 30)
      val xl = x.bitwiseAND(lit(mask30))
      val cross = (xh * lit(kl) + xl * lit(kh)).bitwiseAND(lit(mask30))
      (xl * lit(kl) + shiftleft(cross, 30)).bitwiseAND(lit(mask60))
    }
    private def xorShift(x: Column, bits: Int): Column =
      x.bitwiseXOR(shiftright(x, bits))

    /** The r-th replicate's 60-bit draw from one per-row seed: md5 was
      * ~the entire bootstrap CPU at R=200 when hashed per
      * (row, replicate); this expansion is ~15 primitive long ops
      * inside whole-stage codegen. Bit-equal to the oracle's HUGEINT
      * chain (KernelPropertiesSpec replays both against a BigInt
      * reference).
      */
    def drawColumn(seed: Column, r: Column): Column = {
      // r ≤ 10000 < 2^30, so r·G mod 2^60 is one limb multiply; the
      // Weyl add then stays < 2^61 before masking
      val x0 = (seed + mulMod60(r.cast("long"), weylStep))
        .bitwiseAND(lit(mask60))
      xorShift(
        mulMod60(xorShift(mulMod60(xorShift(x0, 30), mix1), 27), mix2), 31)
    }

    /** DuckDB mirror of [[drawColumn]] as a staged CTE chain: `from`
      * must expose `passCols`, a BIGINT `r`, and `seedExpr`; the final
      * CTE `dx5` carries passCols ++ (r, x) with x the 60-bit draw.
      * Verified bit-for-bit against the Column chain (and a Python
      * reference) over 500 (row, replicate) cells.
      */
    def drawSqlCtes(from: String, passCols: Seq[String],
                    seedExpr: String): String = {
      val p = (passCols :+ "r").mkString(", ")
      s"""dx0 AS (SELECT $p,
        |    CAST((CAST($seedExpr AS HUGEINT) + CAST(r AS HUGEINT)
        |      * $weylStep) % $max AS BIGINT) AS x FROM $from),
        |dx1 AS (SELECT $p, xor(x, x >> 30) AS x FROM dx0),
        |dx2 AS (SELECT $p,
        |    CAST((CAST(x AS HUGEINT) * $mix1) % $max AS BIGINT) AS x
        |  FROM dx1),
        |dx3 AS (SELECT $p, xor(x, x >> 27) AS x FROM dx2),
        |dx4 AS (SELECT $p,
        |    CAST((CAST(x AS HUGEINT) * $mix2) % $max AS BIGINT) AS x
        |  FROM dx3),
        |dx5 AS (SELECT $p, xor(x, x >> 31) AS x FROM dx4)""".stripMargin
    }
  }

  /** Model-sized PSI reference: the `nBins` quantile edges (canonical
    * integer units) and reference bin shares, computed ONCE from the
    * reference sample — the broadcastable state a monitoring stream
    * ([[graft.streaming.StreamingDrift.streamingPsi]]) carries between
    * micro-batches. Same integer-exact edge selection as [[psi]], so
    * the streaming score replays the batch one bit-for-bit on the same
    * rows.
    */
  def psiReference(ref: DataFrame, valueCol: String, nBins: Int = 10,
                   precision: Int = 9, scale: Int = 2): (Seq[Long], Seq[Double]) = {
    import org.apache.spark.sql.expressions.Window
    require(nBins >= 2 && nBins <= 1000, "nBins in [2, 1000]")
    val refU = ref
      .select(LimbMoments.units(valueCol, precision, scale).as("_u"))
      .filter(col("_u").isNotNull)
    val counts = refU.groupBy("_u").agg(count(lit(1)).as("_n"))
    val cum = Window.orderBy("_u")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val probes = ref.sparkSession.range(1, nBins).select(col("id").as("_k"))
    val edges = counts
      .withColumn("_cum", sum("_n").over(cum).cast("decimal(38,0)"))
      .withColumn("_tot",
        sum("_n").over(Window.partitionBy()).cast("decimal(38,0)"))
      .crossJoin(broadcast(probes))
      .groupBy("_k")
      .agg(min(when(col("_cum") * nBins >= col("_tot") * col("_k"),
        col("_u"))).as("_e"))
      .agg(array_sort(array_distinct(collect_list("_e"))).as("_edges"))
      .head().getSeq[Long](0)
    val shares = refU
      .select(psiBin("_u", edges, unitsAlready = true).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = shares.values.sum.toDouble
    val refShares = (0 to edges.size).map(k =>
      java.math.BigDecimal.valueOf(shares.getOrElse(k, 0L) / total)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
    (edges, refShares)
  }

  /** Bin index of a value against broadcast PSI edges: the count of
    * edges strictly below the canonical-unit value (a value equal to an
    * edge falls in the LOWER bin — [[psi]]'s convention). Pure per-row
    * fold, usable in batch and streaming plans alike.
    */
  def psiBin(valueCol: String, edgesUnits: Seq[Long],
             precision: Int = 9, scale: Int = 2,
             unitsAlready: Boolean = false): Column = {
    val u = if (unitsAlready) col(valueCol)
      else LimbMoments.units(valueCol, precision, scale)
    aggregate(typedLit(edgesUnits), lit(0),
      (acc, e) => acc + when(u > e, 1).otherwise(0))
  }

  /** Kendall rank correlation τ-b between two BOUNDED-cardinality
    * numeric columns, computed exactly from the joint contingency
    * table: concordant/discordant pair mass is Σ c₁·c₂ over cell pairs
    * (one equi-free join over the CELL table — O(cells²), never row
    * pairs), tie corrections from the margins. The
    * concordance-probability view of what [[spearman]] measures as
    * rank covariance; prefer it when the scale is ordinal with few
    * levels (ratings, bucketed scores) — exactly where the cell table
    * is small.
    *
    * Guarded like [[welchT]]: distinct(a)·distinct(b) must stay under
    * `maxCells` (the cell-pair stage is quadratic in cells; a raw
    * continuous column belongs in [[spearman]], which is linear in
    * distinct values). All pair masses are exact DECIMAL(38,0)
    * integers; τ-b is one fixed-order double expression, rounded 6 dp.
    */
  def kendallTau(df: DataFrame, aCol: String, bCol: String,
                 precision: Int = 9, scale: Int = 2,
                 maxCells: Int = 10000): DataFrame = {
    // the cell table feeds FIVE logically distinct reductions (dims
    // guard, pair masses, two margins, n). Persist it so the raw-row
    // scan + groupBy runs exactly once — without this, every head()
    // re-ran the full input scan (~5x wasted IO; at 100 TB, 5 full
    // passes instead of 1).
    Materialize.within(df
      .select(LimbMoments.units(aCol, precision, scale).as("_a"),
        LimbMoments.units(bCol, precision, scale).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull)
      .groupBy("_a", "_b").agg(count(lit(1)).as("_c"))) { cells =>
    // dims + n folded into the first action: one pass over the cached
    // cell table answers both the guard and the row count
    val dims = cells.agg(countDistinct("_a").as("_da"),
      countDistinct("_b").as("_db"), sum("_c").as("_n")).head()
    val nCells = dims.getAs[Long]("_da") * dims.getAs[Long]("_db")
    require(nCells <= maxCells,
      s"kendallTau: $nCells cells > maxCells=$maxCells — the cell-pair " +
        "stage is O(cells^2); bucket the columns or use spearman for " +
        "continuous data")
    val n = dims.getAs[Long]("_n")
    require(n >= 2, s"kendallTau needs at least 2 complete rows, got $n")
    // pair masses are bounded by n(n-1)/2 and returned as exact Longs:
    // past n ~ 4.29e9 rows that bound exceeds Long.MaxValue and
    // longValueExact would throw mid-query — fail fast with the remedy
    // instead (the maxCells guard bounds CELLS, not rows)
    require(n <= 4294967296L,
      s"kendallTau: n=$n rows — concordant/discordant counts are exact " +
        "Longs bounded by n(n-1)/2, which overflows Long past ~4.29e9 " +
        "rows; pre-aggregate or sample the input")
    val dec = "decimal(38,0)"
    val l = cells.select(col("_a").as("_a1"), col("_b").as("_b1"),
      col("_c").cast(dec).as("_c1"))
    val r = cells.select(col("_a").as("_a2"), col("_b").as("_b2"),
      col("_c").cast(dec).as("_c2"))
    val pq = l.join(r, col("_a2") > col("_a1"))
      .agg(
        sum(when(col("_b2") > col("_b1"), col("_c1") * col("_c2"))
          .otherwise(lit(0).cast(dec))).as("_p"),
        sum(when(col("_b2") < col("_b1"), col("_c1") * col("_c2"))
          .otherwise(lit(0).cast(dec))).as("_q"))
      .head()
    def margin(c: String): java.math.BigDecimal = cells
      .groupBy(c).agg(sum("_c").as("_t"))
      .agg(sum((col("_t").cast(dec) * (col("_t") - 1)) / 2).as("_m"))
      .head().getAs[java.math.BigDecimal]("_m")
    val p = Option(pq.getAs[java.math.BigDecimal]("_p"))
      .getOrElse(java.math.BigDecimal.ZERO)
    val q = Option(pq.getAs[java.math.BigDecimal]("_q"))
      .getOrElse(java.math.BigDecimal.ZERO)
    val n0 = java.math.BigDecimal.valueOf(n)
      .multiply(java.math.BigDecimal.valueOf(n - 1))
      .divide(java.math.BigDecimal.valueOf(2))
    val n1 = margin("_a"); val n2 = margin("_b")
    val d1 = n0.subtract(n1); val d2 = n0.subtract(n2)
    def r6(v: Double): java.lang.Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val tau: java.lang.Double =
      if (d1.signum <= 0 || d2.signum <= 0) null
      else r6(p.subtract(q).doubleValue /
        (math.sqrt(d1.doubleValue) * math.sqrt(d2.doubleValue)))
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(n,
        p.longValueExact, q.longValueExact, tau)), 1),
      StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("concordant", LongType, nullable = false),
        StructField("discordant", LongType, nullable = false),
        StructField("tau_b", DoubleType, nullable = true))))
    }
  }

  /** Two-proportion z-test between cohorts `g1` and `g2` of a binary
    * outcome: the conversion-rate / quality-gate significance check
    * (is cohort A's success rate really higher, or noise). Returns one
    * row (g1, g2, n1, k1, n2, k2, p1, p2, z) with the pooled-variance
    * normal approximation.
    *
    * Shape: ONE aggregation over the filtered rows — four exact
    * integers — then driver-side double arithmetic in one fixed
    * operation order, rounded at 6 dp. The cheapest test in the file,
    * and the one run most often.
    */
  def propTest(df: DataFrame, groupCol: String, successCol: Column,
               g1: String, g2: String): DataFrame = {
    val g = col(groupCol).cast("string")
    val agg = df.filter((g === g1 || g === g2) && successCol.isNotNull)
      .agg(
        sum(when(g === g1, 1L).otherwise(0L)).as("n1"),
        sum(when(g === g1 && successCol, 1L).otherwise(0L)).as("k1"),
        sum(when(g === g2, 1L).otherwise(0L)).as("n2"),
        sum(when(g === g2 && successCol, 1L).otherwise(0L)).as("k2"))
      .head()
    val n1 = agg.getAs[Long]("n1"); val k1 = agg.getAs[Long]("k1")
    val n2 = agg.getAs[Long]("n2"); val k2 = agg.getAs[Long]("k2")
    require(n1 > 0 && n2 > 0, s"propTest: empty cohort ($g1: $n1, $g2: $n2)")
    def r6(v: Double): java.lang.Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val p1 = k1.toDouble / n1; val p2 = k2.toDouble / n2
    val pp = (k1 + k2).toDouble / (n1 + n2)
    val se2 = pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2)
    val z: java.lang.Double =
      if (se2 <= 0.0) null else r6((p1 - p2) / math.sqrt(se2))
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(g1, g2, n1, k1, n2, k2, r6(p1).doubleValue,
          r6(p2).doubleValue, z)), 1),
      StructType(Seq(
        StructField("g1", StringType, nullable = false),
        StructField("g2", StringType, nullable = false),
        StructField("n1", LongType, nullable = false),
        StructField("k1", LongType, nullable = false),
        StructField("n2", LongType, nullable = false),
        StructField("k2", LongType, nullable = false),
        StructField("p1", DoubleType, nullable = false),
        StructField("p2", DoubleType, nullable = false),
        StructField("z", DoubleType, nullable = true))))
  }

  /** Tabular CUSUM change-point detector over a regular series: the
    * standardized values z_t feed the classic one-sided cumulative
    * sums S⁺_t = max(0, S⁺_{t-1} + z_t − slack) and
    * S⁻_t = max(0, S⁻_{t-1} − z_t − slack), flagged where either
    * exceeds `threshold` — the sustained-level-shift detector that
    * catches what per-point outlier rules miss (a small persistent
    * drift accumulates; an isolated spike decays).
    *
    * Shape: the recursions are NOT computed recursively — the
    * prefix-max identity S⁺_t = P_t − min_{j≤t} P_j with
    * P_t = Σ_{i≤t}(z_i − slack) (and symmetrically for S⁻) turns each
    * into one cumulative-sum window plus one running-extreme window
    * over the series, which is bounded (an already-aggregated daily/
    * hourly metric), so the single-partition windows are safe BY
    * CONSTRUCTION — document scale via the series length, not row
    * count. Exactness: z_t rounds at 6 dp, then every prefix sum,
    * running extreme, subtraction and threshold compare runs in EXACT
    * DECIMAL(38,6) arithmetic — no float drift can flip a flag.
    */
  def cusum(df: DataFrame, tCol: String, valueCol: String,
            slack: Double = 0.5, threshold: Double = 4.0,
            precision: Int = 9, scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(tCol).cast("long").as("t"),
        LimbMoments.units(valueCol, precision, scale).as("_u"))
      .filter(col("_u").isNotNull)
    val mAggs = LimbMoments.momentAggs(col("_u"))
    val m = series.agg(mAggs.head, mAggs.tail: _*).head()
    def get(f: String): Long = m.getAs[Long](f)
    val n = m.getAs[Long]("_n")
    require(n >= 2, "cusum needs at least 2 points")
    val s = LimbMoments.sumValue(get, scale)
    val p = LimbMoments.prodValue(get, scale)
    val mean = s / n
    val variance = (n * p - s * s) / (n.toDouble * (n - 1))
    require(variance > 0.0, "cusum needs a non-constant series")
    val sigma = math.sqrt(variance)
    val slackDec = lit(java.math.BigDecimal.valueOf(slack).setScale(6))
    val hDec = lit(java.math.BigDecimal.valueOf(threshold).setScale(6))
    val cum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val zDec = col("z").cast("decimal(38,6)")
    series
      .withColumn("value", col("_u").cast("double") /
        lit(math.pow(10, scale)))
      .withColumn("z", round((col("value") - mean) / sigma, 6))
      .withColumn("_p", sum(zDec - slackDec).over(cum))
      .withColumn("_np", sum(zDec + slackDec).over(cum))
      // the prefix extremes must include the empty prefix P_0 = 0
      // (S_t restarts at zero, it never goes negative)
      .withColumn("s_plus",
        col("_p") - least(min("_p").over(cum), lit(0).cast("decimal(38,6)")))
      .withColumn("s_minus",
        greatest(max("_np").over(cum), lit(0).cast("decimal(38,6)"))
          - col("_np"))
      .select(col("t"), col("value"), col("z"),
        col("s_plus").cast("double").as("s_plus"),
        col("s_minus").cast("double").as("s_minus"),
        (col("s_plus") > hDec || col("s_minus") > hDec).as("flag"))
  }

  /** Page–Hinkley mean-shift detector over a time series (one row per
    * `tCol` — the [[cusum]] caller contract): mₜ = Σᵢ≤ₜ(xᵢ − x̄ − δ),
    * PHₜ = mₜ − min_{s≤t} mₛ; reports the maximal PH and where it
    * peaks, plus the λ-threshold verdict — the classic sequential
    * upward-shift alarm, the batch twin of a streaming drift monitor
    * replayed over the whole history. Returns one row
    * (n, ph_max, t_at_max, triggered); argmax ties break to the
    * LARGEST t (struct-max convention, documented for the oracle).
    *
    * Exactness: x̄ is the only division — each deviation term
    * (x − x̄ − δ) quantizes at 9 dp into an exact decimal cumsum, the
    * running min and the closing max/argmax fold are exact on those
    * decimals; λ compares against the 6-dp rounded double.
    */
  def pageHinkley(df: DataFrame, tCol: String, valueCol: String,
                  delta: Double = 0.0, lambda: Double = 50.0,
                  precision: Int = 18, scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast(s"decimal($precision,$scale)")
    val rows = df.filter(col(tCol).isNotNull && v.isNotNull)
      .select(col(tCol).as("_t"), v.as("_v"))
    val stats = rows.agg(count(lit(1)).as("_n"), sum("_v").as("_s"))
    val mean = col("_s").cast("double") / col("_n").cast("double")
    val term = round(col("_v").cast("double") - col("_mean") - lit(delta), 9)
      .cast("decimal(28,9)")
    val byT = Window.orderBy("_t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walked = rows
      .crossJoin(broadcast(stats.select(col("_n"), mean.as("_mean"))))
      .withColumn("_m", sum(term).over(byT))
      .withColumn("_minm", min(col("_m")).over(byT))
      .withColumn("_ph", (col("_m") - col("_minm")).cast("decimal(29,9)"))
    walked
      .agg(first("_n").as("n"),
        max(struct(col("_ph"), col("_t"))).as("_top"))
      .select(col("n"),
        round(col("_top._ph").cast("double"), 6).as("ph_max"),
        col("_top._t").as("t_at_max"))
      .withColumn("triggered", col("ph_max") > lambda)
  }

  /** Single-changepoint locator on a PRE-AGGREGATED series (the caller
    * groupBys the corpus to one row per t first, same contract as
    * [[cusum]]/[[decompose]]): the CUSUM-statistic split point
    * k* = argmax_{1 ≤ k < n} |S_k − (k/n)·S_n|, i.e. the prefix whose
    * sum deviates most from the no-change line. Reports the split t,
    * the statistic, and the mean before/after — "the daily-revenue
    * level shifted HERE" as one row, the follow-up question to
    * [[cusum]]'s per-point drift flags.
    *
    * Scale shape: windows run on the bounded series table only (the
    * corpus-sized work happened in the caller's groupBy). Prefix sums
    * are exact decimals; the statistic and means are fixed-order
    * doubles rounded 6 dp; ties in the ROUNDED statistic break to the
    * smallest k so the oracle's ORDER BY reproduces the pick. Fewer
    * than 2 points → empty result (no changepoint is definable).
    */
  def changepoint(df: DataFrame, tCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(tCol).cast("long").as("t"),
        col(valueCol).cast("decimal(18,6)").as("_v"))
    val byT = Window.orderBy("t")
    val cum = byT.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val kD = col("_k").cast("double"); val nD = col("_n").cast("double")
    val skD = col("_sk").cast("double"); val snD = col("_sn").cast("double")
    series
      .withColumn("_k", row_number().over(byT).cast("long"))
      .withColumn("_sk", sum("_v").over(cum))
      .withColumn("_n", count(lit(1)).over(all))
      .withColumn("_sn", sum("_v").over(all))
      .filter(col("_k") < col("_n"))
      .withColumn("stat", round(abs(skD - kD / nD * snD), 6))
      .orderBy(col("stat").desc, col("_k").asc)
      .limit(1)
      .select(col("_n").as("n"), col("_k").as("k"), col("t").as("t_split"),
        col("stat"),
        round(skD / kD, 6).as("mean_before"),
        round((snD - skD) / (nD - kD), 6).as("mean_after"))
  }

  /** Holt linear (double) exponential smoothing on a PRE-AGGREGATED
    * series — the level+trend state that [[ewma]] lacks (an EWMA lags
    * any trending series by construction; Holt tracks the slope). Same
    * caller contract as [[changepoint]]/[[decomposeSeasonal]]: one row
    * per t, the corpus-sized groupBy already paid upstream. Standard
    * init l₁ = y₁, b₁ = y₂ − y₁; for t ≥ 2
    * l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, fitted_t = l_{t−1}+b_{t−1}.
    *
    * The recursion is inherently sequential, so it folds on the DRIVER
    * over the bounded series (guarded at `maxPoints`; the collect is
    * series-sized by contract, never corpus-sized). Level/trend round
    * at 9 dp per step — the recursion replays bit-for-bit in any
    * engine that rounds the same way (the oracle is a recursive CTE);
    * fitted keeps 9 dp, residuals round at 6.
    */
  def holtSmooth(df: DataFrame, tCol: String, valueCol: String,
                 alpha: Double, beta: Double,
                 maxPoints: Int = 100000): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    require(beta > 0 && beta < 1, s"beta in (0,1), got $beta")
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(tCol).cast("long").as("t"),
        col(valueCol).cast("double").as("v"))
      .orderBy("t")
    val pts = series.limit(maxPoints + 1).collect()
    require(pts.length >= 2, "holtSmooth needs at least 2 points")
    require(pts.length <= maxPoints,
      s"holtSmooth: series exceeds maxPoints=$maxPoints — this operator " +
        "expects a PRE-AGGREGATED series (groupBy your time grain first)")
    def r9(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val y = pts.map(_.getDouble(1)); val ts = pts.map(_.getLong(0))
    var l = r9(y(0)); var b = r9(y(1) - y(0))
    val out = Array.newBuilder[Row]
    out += Row(ts(0), y(0), l, b, null, null)
    var i = 1
    while (i < y.length) {
      val fitted = r9(l + b)
      val lNew = r9(alpha * y(i) + (1.0 - alpha) * (l + b))
      val bNew = r9(beta * (lNew - l) + (1.0 - beta) * b)
      out += Row(ts(i), y(i), lNew, bNew,
        java.lang.Double.valueOf(fitted),
        java.lang.Double.valueOf(r6(y(i) - fitted)))
      l = lNew; b = bNew
      i += 1
    }
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.result().toSeq, 1),
      StructType(Seq(
        StructField("t", LongType, nullable = false),
        StructField("value", DoubleType, nullable = false),
        StructField("level", DoubleType, nullable = false),
        StructField("trend", DoubleType, nullable = false),
        StructField("fitted", DoubleType, nullable = true),
        StructField("residual", DoubleType, nullable = true))))
  }

  /** Rolling-origin forecast backtest on a KEYED pre-aggregated series:
    * for every horizon h = 1..`horizons`, score the two reference
    * forecasters every real forecaster must beat —
    * naive (ŷ_{t} = y_{t−h}: "tomorrow looks like today") and
    * seasonal-naive (ŷ_{t} = y_{t−season}: "tomorrow looks like last
    * week") — at EVERY origin the series affords, reporting per
    * (key, model, horizon): n evaluations, MAE, and sMAPE. Both
    * forecasts are causal at horizon h ≤ season (the value they read
    * is at or before the origin t−h), enforced by the require.
    * This is the evaluation harness the smoothing forecasters
    * ([[ewma]], [[holtSmooth]], [[seasonalBaseline]]) plug into: if a
    * model's MAE does not beat these two columns, it is not a model.
    *
    * Exactness: values fold as exact decimals, so |y−ŷ| and its sum
    * are exact; MAE is ONE double division rounded 6 dp; each sMAPE
    * term 2|y−ŷ|/(|y|+|ŷ|) rounds at 9 dp before the exact decimal
    * fold (a |y|+|ŷ| = 0 origin is a perfect forecast of zero and
    * contributes 0). Replayable bit-for-bit by a SQL oracle.
    *
    * Scale: ONE exchange+sort on the key — all `horizons`+1 lags share
    * a single window spec, so Catalyst stacks them into one Window
    * operator — then the horizon×model expansion is a per-row
    * 2·`horizons` array explode (constant factor, no shuffle) feeding a
    * map-side-combined aggregation onto the bounded
    * (key × model × horizon) table. Per-key series length is the only
    * sort width; keys parallelize freely.
    */
  def backtestForecast(df: DataFrame, keyCol: String, tCol: String,
                       valueCol: String, horizons: Int = 7,
                       season: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(horizons >= 1, "horizons must be >= 1")
    require(season >= horizons,
      s"season=$season < horizons=$horizons: the seasonal-naive read " +
        "y(t-season) would postdate the origin t-h — not a causal backtest")
    val w = Window.partitionBy(keyCol).orderBy(tCol)
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("_k"), col(tCol).as("_t"),
        col(valueCol).cast("decimal(18,6)").as("_y"))
    val wk = Window.partitionBy("_k").orderBy("_t")
    val withLags = (1 to horizons).foldLeft(
      series.withColumn("_fs", lag(col("_y"), season).over(wk))) {
      (d, h) => d.withColumn(s"_f$h", lag(col("_y"), h).over(wk))
    }
    val stacked = withLags
      .withColumn("_hm", explode(array((1 to horizons).flatMap { h =>
        Seq(struct(lit(h).as("h"), lit("naive").as("model"),
              col(s"_f$h").as("f")),
            struct(lit(h).as("h"), lit("snaive").as("model"),
              col("_fs").as("f")))
      }: _*)))
      .select(col("_k"), col("_y"),
        col("_hm.h").as("h"), col("_hm.model").as("model"),
        col("_hm.f").as("f"))
      .filter(col("f").isNotNull)
    val absErr = abs(col("_y") - col("f"))
    val denom = abs(col("_y")) + abs(col("f"))
    val smapeTerm = when(denom === 0, lit(0.0)).otherwise(
      round(lit(2.0) * absErr.cast("double") / denom.cast("double"), 9))
    stacked
      .groupBy(col("_k").as(keyCol), col("model"), col("h").as("horizon"))
      .agg(count(lit(1)).as("n"),
        sum(absErr).as("_sae"),
        sum(smapeTerm.cast("decimal(18,9)")).as("_ssm"))
      .select(col(keyCol), col("model"), col("horizon"), col("n"),
        round(col("_sae").cast("double") / col("n").cast("double"), 6)
          .as("mae"),
        round(col("_ssm").cast("double") / col("n").cast("double"), 6)
          .as("smape"))
  }

  /** Bradley–Terry ratings from pairwise preference data — the model
    * behind every "A beats B" eval: RLHF preference pairs, arena-style
    * model comparisons, search interleaving. Given (winner, loser)
    * rows, estimate p_i with P(i beats j) = p_i/(p_i + p_j) by the
    * standard MM iteration (Hunter 2004)
    *
    *   p_i ← w_i / Σ_{j≠i} n_ij/(p_i + p_j),  then normalize Σp = 1,
    *
    * run a FIXED `iters` steps from the uniform start with every
    * p re-rounded at 9 dp per step — the [[holtSmooth]] convention:
    * the result is DEFINED as the iterate, so a recursive-CTE oracle
    * replays it bit-for-bit. Items that never win rate exactly 0 (the
    * MLE is degenerate there; 0 is the fixed point the MM reaches).
    *
    * Scale: ONE map-side-combined aggregation collapses the corpus of
    * comparisons to the bounded unordered-pair table (|items|²); the
    * MM iterations are driver math on that collected model-sized
    * table, the same bounded-collect contract as
    * [[graft.operators.EventAnalytics.markovAttribution]].
    */
  def bradleyTerry(df: DataFrame, winnerCol: String, loserCol: String,
                   iters: Int = 50): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val pairs = df
      .filter(col(winnerCol).isNotNull && col(loserCol).isNotNull &&
        col(winnerCol) =!= col(loserCol))
      .select(col(winnerCol).cast("string").as("_w"),
        col(loserCol).cast("string").as("_l"))
      .groupBy("_w", "_l").agg(count(lit(1)).as("_n"))
    // bounded collect: at most |items|² directed pairs
    val m = pairs.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val items = (m.map(_._1) ++ m.map(_._2)).distinct.sorted
    val wins = items.map(i => i -> m.filter(_._1 == i).map(_._3).sum).toMap
    val games = scala.collection.mutable.Map[(String, String), Long]()
    m.foreach { case (w, l, n) =>
      val k = if (w < l) (w, l) else (l, w)
      games(k) = games.getOrElse(k, 0L) + n
    }
    def r9(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    var p = items.map(i => i -> r9(1.0 / items.length)).toMap
    var it = 0
    while (it < iters) {
      val raw = items.map { i =>
        val denom = items.filter(_ != i).map { j =>
          val n = games.getOrElse(if (i < j) (i, j) else (j, i), 0L)
          if (n == 0) 0.0 else n.toDouble / (p(i) + p(j))
        }.sum
        i -> (if (denom == 0) 0.0 else wins(i).toDouble / denom)
      }
      val s = raw.map(_._2).sum
      p = raw.map { case (i, v) =>
        i -> (if (s == 0) 0.0 else r9(v / s))
      }.toMap
      it += 1
    }
    val spark = df.sparkSession
    import spark.implicits._
    items.map { i =>
      val played = games.collect {
        case ((a, b), n) if a == i || b == i => n
      }.sum
      (i, r6(p(i)), wins(i), played)
    }.toSeq.toDF("item", "rating", "wins", "games")
  }

  /** Split-conformal prediction interval for the next step of a KEYED
    * series under the naive forecaster: every historical origin's
    * absolute residual |y_t − y_{t−h}| is a calibration score, and the
    * interval half-width is the ⌈(n+1)(1−α)⌉-th smallest score — the
    * standard distribution-free guarantee (coverage ≥ 1−α for
    * exchangeable residuals, no normality assumed). Output per key:
    * calibration size, the point forecast (last observed value), q̂,
    * [lo, hi], and the empirical calibration coverage. Keys whose
    * series is too short for the rank (⌈(n+1)(1−α)⌉ > n, i.e. fewer
    * than ~1/α residuals) are OMITTED — no rank exists, and a fake
    * interval would claim a guarantee the math doesn't give.
    *
    * The companion to [[backtestForecast]]: that says which forecaster
    * is least wrong; this says how wrong to plan for.
    *
    * Exactness: residuals are exact decimals; q̂ is a SELECTED value
    * (an order statistic, no interpolation) so lo/hi are exact decimal
    * arithmetic; the rank ⌈(n+1)(1−α)⌉ is computed in exact decimal —
    * double alpha·n arithmetic is the integer-boundary bug this repo
    * already hit once in the bootstrap CIs (NOTES r13) — and coverage
    * is one double division rounded 6 dp.
    *
    * Scale: one key-partitioned window for the lag, one for the
    * residual ranks (per-key series are bounded by contract — this is
    * a PRE-AGGREGATED series operator), then bounded per-key
    * aggregates join among themselves. Nothing corpus-sized shuffles
    * twice.
    */
  def conformalInterval(df: DataFrame, keyCol: String, tCol: String,
                        valueCol: String, horizon: Int = 1,
                        alpha: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(horizon >= 1, "horizon must be >= 1")
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    // exact-decimal (1-alpha): 0.1 parses to the decimal 0.1, not the
    // nearest double, so (n+1)(1-alpha) never misses an integer boundary
    val oneMinus = java.math.BigDecimal.ONE.subtract(
      java.math.BigDecimal.valueOf(alpha))
    val wk = Window.partitionBy("_k").orderBy("_t")
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("_k"), col(tCol).as("_t"),
        col(valueCol).cast("decimal(18,6)").as("_y"))
    val resid = series
      .withColumn("_f", lag(col("_y"), horizon).over(wk))
      .filter(col("_f").isNotNull)
      .select(col("_k"), abs(col("_y") - col("_f")).as("_r"))
    val ranks = resid
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_k").orderBy("_r")))
    val kTable = resid.groupBy("_k").agg(count(lit(1)).as("n_calib"))
      .withColumn("_kth", ceil((col("n_calib") + lit(1)) *
        lit(oneMinus)).cast("long"))
    val qHat = ranks.join(kTable,
        ranks("_k") === kTable("_k") && col("_rn") === col("_kth"))
      .select(ranks("_k"), col("n_calib"), col("_r").as("_q"))
    val last = series.groupBy("_k")
      .agg(max_by(col("_y"), col("_t")).as("_fc"))
    val cov = resid.join(qHat.select(col("_k"), col("_q")), "_k")
      .groupBy("_k")
      .agg(sum(when(col("_r") <= col("_q"), 1L).otherwise(0L)).as("_cov"))
    qHat.join(last, "_k").join(cov, "_k")
      .select(col("_k").as(keyCol), col("n_calib"),
        col("_fc").cast("double").as("forecast"),
        col("_q").cast("double").as("q_hat"),
        (col("_fc") - col("_q")).cast("double").as("lo"),
        (col("_fc") + col("_q")).cast("double").as("hi"),
        round(col("_cov").cast("double") / col("n_calib").cast("double"), 6)
          .as("coverage"))
  }

  /** Classical additive seasonal decomposition of a regular series
    * (moving-average flavor): trend = centered `period`-point moving
    * average (odd period; defined only where the full window exists —
    * edge rows carry NULL trend/seasonal/resid rather than a
    * half-window fabrication), seasonal = per-slot mean of the
    * detrended values re-centered to sum to zero across slots, resid =
    * v − trend − seasonal. The "is the weekly shape itself changing"
    * lens that [[acf]]'s single correlation number compresses away;
    * run [[cusum]] on the resid column for deseasonalized drift.
    *
    * Exactness: values canonicalize to integer units; the trend is ONE
    * double division of an exact windowed integer sum, rounded 6 dp;
    * slot means are exact decimal sums of those rounded terms divided
    * once and rounded; the final subtraction is one fixed-order double
    * expression rounded 6 dp — replayable bit-for-bit by the oracle.
    *
    * Shape: a SERIES operator — every window runs over the bounded
    * (t-keyed) series table, the slot table is `period` rows and
    * broadcasts back.
    */
  def decomposeSeasonal(df: DataFrame, tCol: String, valueCol: String,
                        period: Int,
                        precision: Int = 9, scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(period >= 3 && period % 2 == 1,
      "decomposeSeasonal needs an odd period >= 3 (centered window)")
    val half = period / 2
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(tCol).cast("long").as("t"),
        LimbMoments.units(valueCol, precision, scale).as("_u"))
      .filter(col("_u").isNotNull)
    val unitsPerValue = math.pow(10, scale)
    val win = Window.orderBy("t").rowsBetween(-half, half)
    val trended = series
      .withColumn("value", col("_u").cast("double") / unitsPerValue)
      // row-frame window: defined iff the full period surrounds t — the
      // series is REGULAR by contract (one row per t step), so count ==
      // period detects edges exactly
      .withColumn("_wsum", sum("_u").over(win))
      .withColumn("_wcnt", count(lit(1)).over(win))
      .withColumn("trend",
        when(col("_wcnt") === period,
          round(col("_wsum").cast("double") / (unitsPerValue * period), 6)))
      .withColumn("_slot", pmod(col("t"), lit(period.toLong)))
      .withColumn("_det",
        round(col("value") - col("trend"), 6).cast("decimal(18,6)"))
    val slots = trended.filter(col("trend").isNotNull)
      .groupBy("_slot")
      .agg(round(sum("_det").cast("double") / count(lit(1)), 6).as("_smean"))
    val center = slots.agg(
      round(sum(col("_smean").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("_c"))
    trended
      .join(broadcast(slots), Seq("_slot"), "left")
      .crossJoin(broadcast(center))
      // seasonal is slot-PERIODIC: defined on every row whose slot has
      // a mean (i.e. everywhere once the series spans a full period);
      // resid additionally needs the trend, so edges stay NULL there
      .withColumn("seasonal", round(col("_smean") - col("_c"), 6))
      .withColumn("resid",
        when(col("trend").isNotNull,
          round(col("value") - col("trend") - col("seasonal"), 6)))
      .select("t", "value", "trend", "seasonal", "resid")
  }

  /** Concentration metrics of a positive quantity across members within
    * each group: the Herfindahl-Hirschman index Σ(share²) and the Gini
    * coefficient via the rank identity G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n
    * over members sorted ascending (ties broken by member id for a
    * deterministic ranking). Revenue-concentration / domain-dominance
    * screens — e.g. "is one customer 80 % of this nation's revenue", or
    * a crawl's per-domain token share before capping.
    *
    * Numerics: member totals, Σx², and Σ i·x accumulate as EXACT
    * decimals (inputs quantized to 2 dp first), so partial-aggregation
    * order cannot move a bit; each group does exactly one double
    * division per metric at the end, rounded to 6 dp. Shape: one
    * member-level aggregation, one window rank over the member table
    * (already member-granular, far smaller than the fact table), one
    * group-level aggregation.
    */
  def concentration(df: DataFrame, groupCol: String, memberCol: String,
                    valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val member = df
      .groupBy(col(groupCol).as("g"), col(memberCol).as("m"))
      .agg(sum(col(valueCol).cast("decimal(18,2)")).as("x"))
    val win = Window.partitionBy("g").orderBy(col("x"), col("m"))
    member
      .withColumn("_i", row_number().over(win))
      .groupBy("g")
      .agg(count(lit(1)).as("_n"), sum("x").as("_tot"),
        sum(col("x") * col("x")).as("_sumsq"),
        sum(col("_i") * col("x")).as("_irank"))
      .select(col("g").as(groupCol), col("_n").as("n_members"),
        round(col("_sumsq").cast("double") /
          (col("_tot").cast("double") * col("_tot").cast("double")), 6)
          .as("hhi"),
        round(
          lit(2.0) * col("_irank").cast("double") /
            (col("_n").cast("double") * col("_tot").cast("double")) -
            (col("_n").cast("double") + lit(1.0)) / col("_n").cast("double"),
          6).as("gini"))
  }

  /** Weighted median per group: the smallest value whose cumulative
    * weight reaches half the total. Values collapse to their distinct
    * (group, value) weights first — the window then runs over the
    * distinct-value table, not the fact rows — and the half-mass test
    * is `2·cum ≥ tot` in exact decimals, so no float division decides
    * the cut.
    *
    * Scale contract (same as winsorize/qqTable): the per-group window
    * sorts that group's DISTINCT values in one task, so the value
    * domain per group must be bounded (prices, scores, quantized
    * measures) — not the row count. For continuous corpus-scale
    * domains, quantize first (cast to a fixed-scale decimal) or take
    * the sketched grouped-quantile path instead.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = df
      .groupBy(col(groupCol).as("g"), col(valueCol).as("v"))
      .agg(sum(col(weightCol).cast("decimal(18,2)")).as("wt"))
    val cumWin = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totWin = Window.partitionBy("g")
    w
      .withColumn("_cum", sum("wt").over(cumWin))
      .withColumn("_tot", sum("wt").over(totWin))
      .filter(col("_cum") * 2 >= col("_tot"))
      .groupBy("g")
      .agg(min("v").as("weighted_median"))
      .select(col("g").as(groupCol), col("weighted_median"))
  }

  /** Cramér's V effect size for a two-way categorical table:
    * V = √(χ² / (n · min(r−1, c−1))) in [0, 1] — the scale-free
    * companion to [[chiSquare]] (χ² grows with n; V answers "how strong
    * is the association", comparable across tables). One aggregation
    * over the chi-square cell table (every cell row carries the same
    * χ²/dof, so max() reads them without a second pass).
    */
  def cramersV(df: DataFrame, rowCol: String, colCol: String): DataFrame =
    chiSquare(df, rowCol, colCol)
      .agg(max("chi2").as("_chi2"), sum("observed").as("_n"),
        countDistinct("row_val").as("_nr"),
        countDistinct("col_val").as("_nc"), max("dof").as("dof"))
      .select(round(col("_chi2"), 6).as("chi2"), col("_n").as("n"), col("dof"),
        round(sqrt(col("_chi2") /
          (col("_n").cast("double") *
            least(col("_nr") - 1, col("_nc") - 1).cast("double"))), 6)
          .as("cramers_v"))

  /** One-way ANOVA F-test: does the mean of `valueCol` differ across the
    * levels of `groupCol`. One grouped aggregation collects exact
    * per-level moments (n_g, Σx, Σx² as decimals — values quantized to
    * 6 dp first; no double ever ties at a decimal rounding boundary, so
    * the cast is cross-engine deterministic), one driver-free fold
    * combines them. Per-level Σx²/n_g terms are each ONE double
    * division quantized back to DECIMAL(38,6) before the level sum, so
    * the between-group mass is order-independent. Returns k, n, F and
    * the effect size η² = SSB/(SSB+SSW).
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val g = df
      .select(col(groupCol).as("g"), col(valueCol).cast("decimal(18,6)").as("v"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_g"), sum("v").as("s_g"),
        sum(col("v") * col("v")).as("q_g"))
    val term = round(
      col("s_g").cast("double") * col("s_g").cast("double") /
        col("n_g").cast("double"), 6).cast("decimal(38,6)")
    g
      .agg(count(lit(1)).as("k"), sum("n_g").as("n"),
        sum("s_g").as("_s"), sum("q_g").as("_q"), sum(term).as("_terms"))
      .select(col("k"), col("n"),
        // SSB = Σ S_g²/n_g − S²/n ; SSW = Q − Σ S_g²/n_g
        (col("_terms").cast("double") -
          col("_s").cast("double") * col("_s").cast("double") /
            col("n").cast("double")).as("_ssb"),
        (col("_q").cast("double") - col("_terms").cast("double")).as("_ssw"),
        col("k").cast("double").as("_kd"), col("n").cast("double").as("_nd"))
      .select(col("k"), col("n"), round(col("_ssb"), 4).as("ss_between"),
        round(col("_ssw"), 4).as("ss_within"),
        round((col("_ssb") / (col("_kd") - lit(1.0))) /
          (col("_ssw") / (col("_nd") - col("_kd"))), 6).as("f_stat"),
        round(col("_ssb") / (col("_ssb") + col("_ssw")), 6).as("eta_sq"))
  }

  /** Kruskal-Wallis rank test (the distribution-free ANOVA): H over
    * pooled tie-aware midranks, with the standard tie correction
    * C = 1 − Σ(t³−t)/(n³−n). Works entirely on the DISTINCT-score
    * table: pooled cumulative counts give each distinct score its
    * DOUBLED midrank (2·cum_before + cnt + 1 — integers, so rank sums
    * are exact), per-group rank sums are one more aggregation, and with
    * R2_g = 2·R_g the statistic folds to
    * H = 3/(n(n+1)) · Σ R2_g²/n_g − 3(n+1). Each R2_g²/n_g is one
    * double division quantized to DECIMAL(38,6) before the k-term sum.
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gv = df
      .groupBy(col(groupCol).as("g"), col(valueCol).as("v"))
      .agg(count(lit(1)).as("cnt"))
    val pooled = gv.groupBy("v").agg(sum("cnt").as("cnt_v"))
    val win = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val ranked = pooled
      .withColumn("_cumprev", coalesce(sum("cnt_v").over(win), lit(0L)))
      .select(col("v"), col("cnt_v"),
        (lit(2L) * col("_cumprev") + col("cnt_v") + lit(1L)).as("mid2"))
    val perGroup = gv.join(ranked, Seq("v"))
      .groupBy("g")
      .agg(sum("cnt").as("n_g"), sum(col("cnt") * col("mid2")).as("r2_g"))
    val term = round(
      col("r2_g").cast("double") * col("r2_g").cast("double") /
        col("n_g").cast("double"), 6).cast("decimal(38,6)")
    val ties = ranked.agg(
      sum(col("cnt_v") * col("cnt_v") * col("cnt_v") - col("cnt_v")).as("_t3"))
    perGroup
      .agg(count(lit(1)).as("k"), sum("n_g").as("n"), sum(term).as("_terms"))
      .crossJoin(broadcast(ties))
      .select(col("k"), col("n"), col("_terms"), col("_t3"),
        col("n").cast("double").as("_nd"))
      .select(col("k"), col("n"),
        round(lit(3.0) * col("_terms").cast("double") /
            (col("_nd") * (col("_nd") + lit(1.0))) -
          lit(3.0) * (col("_nd") + lit(1.0)), 6).as("h_stat"),
        round((lit(3.0) * col("_terms").cast("double") /
            (col("_nd") * (col("_nd") + lit(1.0))) -
          lit(3.0) * (col("_nd") + lit(1.0))) /
          (lit(1.0) - col("_t3").cast("double") /
            (col("_nd") * col("_nd") * col("_nd") - col("_nd"))), 6)
          .as("h_tie_corrected"))
  }

  /** Shannon entropy of a categorical column per group, with the
    * normalized variant H / ln(k) (diversity in [0, 1] comparable across
    * groups with different category counts). The data-mixing screen:
    * per-user behavioral diversity, per-domain topic spread, per-source
    * event-type balance.
    *
    * Shape: one (group, category) aggregation, then a window over the
    * category-granular table (bounded by |categories| per group, not
    * rows). Each −p·ln p term is one double computation per category,
    * quantized to DECIMAL(18,9) before the sum — exact and
    * order-independent, one division for the normalization at the end.
    */
  def categoricalEntropy(df: DataFrame, groupCol: String,
                         catCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = df.groupBy(col(groupCol).as("g"), col(catCol).as("c"))
      .agg(count(lit(1)).as("cnt"))
    val tot = Window.partitionBy("g")
    val p = col("cnt").cast("double") / col("_tot").cast("double")
    cnt
      .withColumn("_tot", sum("cnt").over(tot))
      .withColumn("_term", round(-p * log(p), 9).cast("decimal(18,9)"))
      .groupBy("g")
      .agg(sum("cnt").as("n"), count(lit(1)).as("n_cats"),
        sum("_term").cast("double").as("_h"))
      .select(col("g").as(groupCol), col("n"), col("n_cats"),
        round(col("_h"), 6).as("entropy"),
        when(col("n_cats") > 1,
          round(col("_h") / log(col("n_cats").cast("double")), 6))
          .as("norm_entropy"))
  }

  /** Maximum drawdown of a per-group series: for each group, the largest
    * peak-to-trough fall of `valueCol` over `timeCol` order — both
    * absolute (exact decimal) and relative to the running peak (one
    * double division per row, max, then round). The monitoring classic
    * for any metric that should not collapse: revenue, daily token
    * yield, dedup survivor rate.
    *
    * One window (running max, partitioned by group) and one aggregation;
    * the series is group-time granular, so state per group is its time
    * bucket count.
    */
  def maxDrawdown(df: DataFrame, groupCol: String, timeCol: String,
                  valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("g").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .select(col(groupCol).as("g"), col(timeCol).as("t"),
        col(valueCol).cast("decimal(18,2)").as("v"))
      .withColumn("_peak", max("v").over(win))
      .groupBy("g")
      .agg(max(col("_peak") - col("v")).cast("double").as("max_drawdown"),
        round(max(
          (col("_peak") - col("v")).cast("double") /
            col("_peak").cast("double")), 6).as("max_drawdown_pct"))
      .select(col("g").as(groupCol), col("max_drawdown"),
        col("max_drawdown_pct"))
  }

  /** Jensen-Shannon divergence between two categorical distributions —
    * the symmetric, bounded companion to [[psi]] (JSD ∈ [0, ln 2]; PSI
    * is unbounded and asymmetric-ish in its ε floor). The drift score
    * of choice when EITHER side may have categories the other lacks:
    * KL explodes on a zero cell, JSD's mixture midpoint never does.
    *
    * Shape: one count aggregation per side over the category domain
    * (map-side combined), a full-outer join on the BOUNDED category
    * table, one fold. Per-category halves p/2·ln(p/m) and q/2·ln(q/m)
    * are each rounded at 9 dp before the decimal sum, so the score is
    * partition-order independent; the single normalization division by
    * ln 2 happens once at the end.
    */
  def jsDivergence(ref: DataFrame, cur: DataFrame, catCol: String): DataFrame = {
    val r = ref.filter(col(catCol).isNotNull)
      .groupBy(col(catCol).as("c")).agg(count(lit(1)).as("rn"))
    val c = cur.filter(col(catCol).isNotNull)
      .groupBy(col(catCol).as("c")).agg(count(lit(1)).as("cn"))
    val joined = r.join(c, Seq("c"), "full_outer").na.fill(0L, Seq("rn", "cn"))
    val totals = joined.agg(sum("rn").as("_rt"), sum("cn").as("_ct"))
    val p = col("rn").cast("double") / col("_rt").cast("double")
    val q = col("cn").cast("double") / col("_ct").cast("double")
    val m = (p + q) / lit(2.0)
    val term =
      when(col("rn") > 0, round(p * log(p / m) / lit(2.0), 9)).otherwise(lit(0.0)) +
        when(col("cn") > 0, round(q * log(q / m) / lit(2.0), 9)).otherwise(lit(0.0))
    joined.crossJoin(broadcast(totals))
      .agg(max("_rt").as("n_ref"), max("_ct").as("n_cur"),
        count(lit(1)).as("n_cats"),
        sum(term.cast("decimal(18,9)")).cast("double").as("_jsd"))
      .select(col("n_ref"), col("n_cur"), col("n_cats"),
        round(col("_jsd"), 6).as("jsd"),
        round(col("_jsd") / lit(math.log(2.0)), 6).as("jsd_norm"))
  }

  /** 1-Wasserstein (earth-mover) distance between two numeric
    * distributions over a BOUNDED value domain: ∫|F_ref − F_cur| dv,
    * evaluated exactly on the union of distinct quantized values
    * (each inter-value gap contributes |ΔCDF|·gap). Where [[psi]] and
    * [[jsDivergence]] score bin-mass mismatch, W₁ scores how FAR the
    * mass moved — the metric that distinguishes "shifted 1 %" from
    * "shifted 100 %" when both change every bin.
    *
    * Same distinct-value-domain contract as [[weightedMedian]]: the
    * global CDF window runs over the DISTINCT quantized values (scale
    * `scale` decimals), not rows — quantize continuous domains first.
    * CDF fractions are exact-count doubles; each gap term rounds at
    * 9 dp into a decimal sum, so the fold is order-independent.
    */
  def wasserstein1(ref: DataFrame, cur: DataFrame, valueCol: String,
                   scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def counts(df: DataFrame, out: String): DataFrame = df
      .select(col(valueCol).cast(s"decimal(18,$scale)").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as(out))
    val j = counts(ref, "rn").join(counts(cur, "cn"), Seq("v"), "full_outer")
      .na.fill(0L, Seq("rn", "cn"))
    val totals = j.agg(sum("rn").as("_rt"), sum("cn").as("_ct"))
    val cum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    j.crossJoin(broadcast(totals))
      .withColumn("_cr", sum("rn").over(cum))
      .withColumn("_cc", sum("cn").over(cum))
      .withColumn("_next", lead("v", 1).over(Window.orderBy("v")))
      .withColumn("_term", when(col("_next").isNotNull,
        round(abs(col("_cr").cast("double") / col("_rt").cast("double") -
            col("_cc").cast("double") / col("_ct").cast("double")) *
          (col("_next") - col("v")).cast("double"), 9).cast("decimal(18,9)")))
      .agg(max("_rt").as("n_ref"), max("_ct").as("n_cur"),
        count(lit(1)).as("n_values"),
        coalesce(sum("_term").cast("double"), lit(0.0)).as("_w"))
      .select(col("n_ref"), col("n_cur"), col("n_values"),
        round(col("_w"), 6).as("wasserstein1"))
  }

  /** Brown-Forsythe test for equal variances across groups (the robust
    * Levene variant): one-way ANOVA on z = |v − median_g|. The guard to
    * run BEFORE trusting [[anovaF]]'s pooled-variance assumption, and a
    * drift screen in its own right (a feed whose variance doubles can
    * keep its mean).
    *
    * The per-group center is the LOWER inverse-CDF median (smallest v
    * with 2·cum ≥ n) — exact integer arithmetic on the per-group
    * distinct-value table, identical in any engine, no interpolation
    * ties. z is an exact decimal difference, and the F on z reuses
    * [[anovaF]]'s quantize-then-decimal-sum fold. Shape: one grouped
    * count, one bounded-table window, one broadcast join back, one
    * ANOVA pass.
    */
  def brownForsythe(df: DataFrame, groupCol: String, valueCol: String,
                    scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .select(col(groupCol).as("_g"), col(valueCol).cast(s"decimal(18,$scale)").as("_v"))
      .filter(col("_g").isNotNull && col("_v").isNotNull)
    val gv = base.groupBy("_g", "_v").agg(count(lit(1)).as("_cnt"))
    val cum = Window.partitionBy("_g").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = gv
      .withColumn("_cum", sum("_cnt").over(cum))
      .withColumn("_n", sum("_cnt").over(Window.partitionBy("_g")))
      .filter(col("_cum") * 2 >= col("_n"))
      .groupBy("_g").agg(min("_v").as("_med"))
    val z = base.join(broadcast(med), "_g")
      .select(col("_g"), abs(col("_v") - col("_med")).as("_z"))
    anovaF(z, "_g", "_z").withColumnRenamed("f_stat", "bf_stat")
  }

  /** Cohen's d standardized mean difference for every group pair, with
    * the Hedges' g small-sample correction — the effect-size companion
    * to [[welchT]] (a t-test on 10⁹ rows flags differences of no
    * practical size; d answers "how many pooled SDs apart").
    *
    * One grouped scan collects exact decimal moments; the pair table is
    * a self-join of the BOUNDED group-moment table (k² rows, k =
    * |groups|). All double arithmetic (means, pooled variance, d, the
    * J = 1 − 3/(4n−9) correction) runs in one fixed order over exact
    * sums and rounds once at 6 dp.
    */
  def cohensD(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val g = df
      .select(col(groupCol).as("g"), col(valueCol).cast("decimal(18,6)").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        sum(col("v") * col("v")).as("q"))
    val a = g.select(col("g").as("g1"), col("n").as("n1"),
      col("s").cast("double").as("s1"), col("q").cast("double").as("q1"))
    val b = g.select(col("g").as("g2"), col("n").as("n2"),
      col("s").cast("double").as("s2"), col("q").cast("double").as("q2"))
    val n1d = col("n1").cast("double"); val n2d = col("n2").cast("double")
    val v1 = (col("q1") - col("s1") * col("s1") / n1d) / (n1d - lit(1.0))
    val v2 = (col("q2") - col("s2") * col("s2") / n2d) / (n2d - lit(1.0))
    val sp = sqrt(((n1d - lit(1.0)) * v1 + (n2d - lit(1.0)) * v2) /
      (n1d + n2d - lit(2.0)))
    val d = (col("s1") / n1d - col("s2") / n2d) / sp
    val j = lit(1.0) - lit(3.0) / (lit(4.0) * (n1d + n2d) - lit(9.0))
    a.join(b, col("g1") < col("g2"))
      .select(col("g1"), col("g2"), col("n1"), col("n2"),
        round(d, 6).as("cohens_d"), round(d * j, 6).as("hedges_g"))
  }

  /** Per-group distribution-shape profile: mean, population variance,
    * skewness g₁ = m₃/m₂^1.5 and excess kurtosis g₂ = m₄/m₂² − 3 —
    * the two moments a mean/stddev profile can't see (a quality-score
    * column whose mean holds while its skew flips has changed regime).
    *
    * Two passes by necessity (central moments need the mean): pass one
    * is a grouped count/sum on quantized decimals; pass two joins the
    * BOUNDED group-mean table back (broadcast) and folds per-row
    * centered powers, each rounded at 6 dp into exact decimal sums so
    * the result survives any partitioning. The power arithmetic per row
    * is three multiplications in fixed order — engine-replayable.
    */
  def moments(df: DataFrame, groupCol: String, valueCol: String,
              scale: Int = 2): DataFrame = {
    val base = df
      .select(col(groupCol).as("g"), col(valueCol).cast(s"decimal(18,$scale)").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val means = base.groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("_s"))
      .select(col("g"), col("n"),
        (col("_s").cast("double") / col("n").cast("double")).as("_mean"))
    val d = col("v").cast("double") - col("_mean")
    val m2 = col("_s2").cast("double") / col("n").cast("double")
    val m3 = col("_s3").cast("double") / col("n").cast("double")
    val m4 = col("_s4").cast("double") / col("n").cast("double")
    base.join(broadcast(means), "g")
      .withColumn("_t2", round(d * d, 6).cast("decimal(38,6)"))
      .withColumn("_t3", round(d * d * d, 6).cast("decimal(38,6)"))
      .withColumn("_t4", round(d * d * d * d, 6).cast("decimal(38,6)"))
      .groupBy("g", "n", "_mean")
      .agg(sum("_t2").as("_s2"), sum("_t3").as("_s3"), sum("_t4").as("_s4"))
      .select(col("g").as(groupCol), col("n"),
        round(col("_mean"), 6).as("mean"),
        round(m2, 6).as("variance"),
        round(m3 / pow(m2, 1.5), 6).as("skewness"),
        round(m4 / (m2 * m2) - lit(3.0), 6).as("ex_kurtosis"))
  }

  /** Mann-Kendall monotonic-trend test over a time-bucketed series:
    * S = Σ_{i<j} sign(v_j − v_i), tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, and the
    * continuity-corrected Z. The nonparametric "is this metric
    * drifting" answer that needs no linearity or normality — the
    * monitoring sibling of [[theilSen]] (which estimates the slope
    * this test detects).
    *
    * Contract: the input is an AGGREGATED series, one row per time
    * bucket (group first if needed) — the pair join is O(n²) on the
    * bucket count, guarded by `maxN` exactly like [[kendallTau]]'s
    * cell guard. sign() on exact decimals is exact; S and the tie sum
    * fold as integer aggregations; the two sqrt/division steps run
    * once on the single result row.
    */
  def mannKendall(df: DataFrame, tCol: String, valueCol: String,
                  maxN: Long = 20000): DataFrame = {
    val s = df
      .select(col(tCol).as("t"), col(valueCol).cast("decimal(18,6)").as("v"))
      .filter(col("t").isNotNull && col("v").isNotNull)
    val n = s.count()
    require(n <= maxN,
      s"mannKendall: $n time buckets exceed maxN=$maxN — aggregate to " +
        "coarser buckets first (the pair join is O(n^2))")
    val pairs = s.select(col("t").as("t1"), col("v").as("v1"))
      .join(s.select(col("t").as("t2"), col("v").as("v2")),
        col("t1") < col("t2"))
    val sStat = pairs.agg(
      sum(signum(col("v2") - col("v1")).cast("long")).as("s_stat"))
    val ties = s.groupBy("v").agg(count(lit(1)).as("tc"))
      .agg(sum(col("tc") * (col("tc") - 1) * (lit(2L) * col("tc") + 5))
        .as("_tsum"))
    val nd = lit(n.toDouble)
    val varS = (nd * (nd - lit(1.0)) * (lit(2.0) * nd + lit(5.0)) -
      col("_tsum").cast("double")) / lit(18.0)
    val sd = col("s_stat").cast("double")
    sStat.crossJoin(broadcast(ties))
      .select(lit(n).as("n"), col("s_stat"),
        round(varS, 6).as("var_s"),
        round(
          when(col("s_stat") > 0, (sd - lit(1.0)) / sqrt(varS))
            .when(col("s_stat") < 0, (sd + lit(1.0)) / sqrt(varS))
            .otherwise(lit(0.0)), 6).as("z"))
  }

  /** α-trimmed mean per group: the mean of the middle (1 − 2α) mass,
    * dropping ⌊αn⌋ rows from each tail — the robust location estimate
    * that survives the fat tails [[winsorize]] merely clips.
    *
    * Runs on the per-group DISTINCT-value table (same bounded-domain
    * contract as [[weightedMedian]]): cumulative counts give each
    * distinct value its rank interval [cum_prev+1, cum_prev+cnt], the
    * kept overlap with [⌊αn⌋+1, n−⌊αn⌋] is exact integer arithmetic
    * (ties straddling a cut contribute exactly their overlap), and the
    * kept-weighted decimal sum divides once at the end. ⌊αn⌋ is a
    * single double product floored — the identical IEEE expression in
    * any engine.
    */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  alpha: Double = 0.1, scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha >= 0.0 && alpha < 0.5, "alpha in [0, 0.5)")
    val gv = df
      .select(col(groupCol).as("g"), col(valueCol).cast(s"decimal(18,$scale)").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
      .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
    val prev = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    gv
      .withColumn("_cumprev", coalesce(sum("cnt").over(prev), lit(0L)))
      .withColumn("_n", sum("cnt").over(Window.partitionBy("g")))
      .withColumn("_lo",
        floor(col("_n").cast("double") * lit(alpha)).cast("long"))
      .withColumn("_kept", greatest(lit(0L),
        least(col("_cumprev") + col("cnt"), col("_n") - col("_lo")) -
          greatest(col("_cumprev"), col("_lo"))))
      .groupBy("g")
      .agg(max("_n").as("n"), max("_lo").as("n_trimmed_each"),
        sum("_kept").as("n_kept"),
        sum(col("v") * col("_kept")).as("_sum"))
      .select(col("g").as(groupCol), col("n"), col("n_trimmed_each"),
        col("n_kept"),
        round(col("_sum").cast("double") / col("n_kept").cast("double"), 6)
          .as("trimmed_mean"))
  }

  /** Rolling Pearson correlation between two aligned series over a
    * trailing `windowSize`-bucket frame — the co-movement monitor (do
    * clicks still predict purchases; does quality score still track
    * document length). NULL until the frame is full and when either
    * series is constant in the frame (a 0/0 correlation is undefined,
    * not 0).
    *
    * Input contract: one row per time bucket (aggregate first), both
    * value columns integer-valued counts or decimal-quantized measures.
    * The frame sums are EXACT decimal window aggregations over the
    * bounded bucket table; the Pearson closed form runs once per row in
    * fixed double order. One window pass, no self-joins.
    */
  def rollingCorrelation(df: DataFrame, tCol: String, xCol: String,
                         yCol: String, windowSize: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowSize >= 3 && windowSize <= 10000, "windowSize in [3, 10000]")
    val win = Window.orderBy("t").rowsBetween(-(windowSize - 1), 0)
    val nd = lit(windowSize.toDouble)
    val sx = col("_sx").cast("double"); val sy = col("_sy").cast("double")
    val sxx = col("_sxx").cast("double"); val syy = col("_syy").cast("double")
    val sxy = col("_sxy").cast("double")
    val vx = nd * sxx - sx * sx
    val vy = nd * syy - sy * sy
    df
      .select(col(tCol).as("t"), col(xCol).cast("decimal(18,0)").as("x"),
        col(yCol).cast("decimal(18,0)").as("y"))
      .withColumn("_cnt", count(lit(1)).over(win))
      .withColumn("_sx", sum("x").over(win))
      .withColumn("_sy", sum("y").over(win))
      .withColumn("_sxx", sum(col("x") * col("x")).over(win))
      .withColumn("_syy", sum(col("y") * col("y")).over(win))
      .withColumn("_sxy", sum(col("x") * col("y")).over(win))
      .select(col("t").as(tCol), col("x").cast("long").as(xCol),
        col("y").cast("long").as(yCol),
        when(col("_cnt") === windowSize && vx > 0 && vy > 0,
          round((nd * sxy - sx * sy) / (sqrt(vx) * sqrt(vy)), 6))
          .as("rolling_corr"))
  }

  /** Cross-correlation function between two aligned series: Pearson of
    * (x_t, y_{t+k}) for every lag k in [−maxLag, maxLag], over the
    * overlap at each lag. The lead/lag discovery tool — "purchases
    * follow clicks by 2 days" shows up as the argmax lag.
    *
    * Shape: the bounded day-bucket series joins a shifted copy of
    * itself once per lag via a BOUNDED lag×bucket expansion (2K+1
    * lags), then one grouped fold per lag — never a corpus scan per
    * lag. Sums are exact decimals; one Pearson per lag row. `tCol`
    * must be a DateType bucket (shift arithmetic is whole days).
    */
  def crossCorrelation(df: DataFrame, tCol: String, xCol: String,
                       yCol: String, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 365, "maxLag in [1, 365]")
    val s = df.select(col(tCol).cast("date").as("t"),
      col(xCol).cast("decimal(18,0)").as("x"),
      col(yCol).cast("decimal(18,0)").as("y"))
    val lags = (-maxLag to maxLag).map(k => lit(k))
    val left = s.select(col("t"), col("x"),
      explode(array(lags: _*)).as("lag"))
    val joined = left.join(
      s.select(col("t").as("_t2"), col("y")),
      date_add(col("t"), col("lag")) === col("_t2"))
    val n = col("_n").cast("double")
    val sx = col("_sx").cast("double"); val sy = col("_sy").cast("double")
    val sxx = col("_sxx").cast("double"); val syy = col("_syy").cast("double")
    val sxy = col("_sxy").cast("double")
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    joined
      .groupBy("lag")
      .agg(count(lit(1)).as("_n"), sum("x").as("_sx"), sum("y").as("_sy"),
        sum(col("x") * col("x")).as("_sxx"),
        sum(col("y") * col("y")).as("_syy"),
        sum(col("x") * col("y")).as("_sxy"))
      .select(col("lag"), col("_n").as("n_overlap"),
        when(vx > 0 && vy > 0,
          round((n * sxy - sx * sy) / (sqrt(vx) * sqrt(vy)), 6))
          .as("ccf"))
  }

  /** Gini coefficient of a non-negative quantity per group:
    * G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over the ascending sort —
    * the inequality gauge for domain-concentration screens (is 1 % of
    * domains contributing 90 % of tokens) that [[concentration]]'s
    * HHI complements at the top end.
    *
    * Exactness on the per-group DISTINCT-value table: a tied block of
    * value v and count c starting after cumulative cumprev contributes
    * v·(c·cumprev + c(c+1)/2) to the rank-weighted sum — all integer/
    * decimal arithmetic, so the sort-rank fold never materializes
    * per-row ranks. One grouped count, one bounded-table window, one
    * fold; the final division runs once per group.
    */
  def gini(df: DataFrame, groupCol: String, valueCol: String,
           scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gv = df
      .select(col(groupCol).as("g"), col(valueCol).cast(s"decimal(18,$scale)").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull && col("v") >= 0)
      .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
    val prev = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    // integer `div` keeps the triangular term an exact long (c(c+1) is
    // always even); a `/` would silently promote to double
    val rankSum = col("cnt") * col("_cumprev") +
      expr("cnt * (cnt + 1) div 2")
    gv
      .withColumn("_cumprev", coalesce(sum("cnt").over(prev), lit(0L)))
      .groupBy("g")
      .agg(sum("cnt").as("n"), sum(col("v") * col("cnt")).as("_sv"),
        sum(col("v") * rankSum).as("_srank"))
      .select(col("g").as(groupCol), col("n"),
        when(col("_sv") > 0, round(
          (lit(2.0) * col("_srank").cast("double") -
            (col("n") + 1).cast("double") * col("_sv").cast("double")) /
            (col("n").cast("double") * col("_sv").cast("double")), 6))
          .as("gini"))
  }

  /** Robust per-group standardization: z = (v − median_g) /
    * (1.4826·MAD_g), the outlier-immune cousin of the usual z-score
    * (mean and SD are themselves dragged by the outliers a z-score is
    * supposed to flag; median/MAD are 50 %-breakdown). NULL when
    * MAD = 0 (more than half the group at one value — a degenerate
    * scale, not z = ∞).
    *
    * Both centers are LOWER inverse-CDF medians (exact integer
    * arithmetic on per-group distinct-value tables — the same
    * convention as [[brownForsythe]]); |v − med| is an exact decimal,
    * so MAD is exact too. Two bounded-table window passes + two
    * UNHINTED equi-joins back to the rows (med/mad are one row per
    * GROUP — unbounded when groupCol is data-derived; AQE broadcasts
    * them when they fit, per the repo-wide broadcast audit); the one
    * double division per row rounds at 6 dp.
    */
  def robustScale(df: DataFrame, idCol: String, groupCol: String,
                  valueCol: String, scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def lowerMedian(d: DataFrame, gc: String, vc: String,
                    out: String): DataFrame = {
      val cum = Window.partitionBy(gc).orderBy(vc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.groupBy(col(gc), col(vc)).agg(count(lit(1)).as("_cnt"))
        .withColumn("_cum", sum("_cnt").over(cum))
        .withColumn("_n", sum("_cnt").over(Window.partitionBy(gc)))
        .filter(col("_cum") * 2 >= col("_n"))
        .groupBy(gc).agg(min(vc).as(out))
    }
    val base = df.select(col(idCol).as("id"), col(groupCol).as("g"),
        col(valueCol).cast(s"decimal(18,$scale)").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val med = lowerMedian(base, "g", "v", "_med")
    val dev = base.join(med, "g")
      .withColumn("_ad", abs(col("v") - col("_med")))
    val mad = lowerMedian(dev.select(col("g"), col("_ad")), "g", "_ad", "_mad")
    dev.join(mad, "g")
      .select(col("id").as(idCol), col("g").as(groupCol),
        col("v").cast("double").as(valueCol),
        when(col("_mad") > 0, round(
          (col("v") - col("_med")).cast("double") /
            (lit(1.4826) * col("_mad").cast("double")), 6))
          .as("robust_z"))
  }

  /** Fleiss' κ: chance-corrected agreement among a FIXED number of
    * raters per item (n ≥ 2), the multi-rater generalization of
    * [[cohensKappa]] — the gate on a labeling pool before majority-vote
    * labels are trusted for training. Input is one row per rating
    * (item, category); every item must carry exactly the same number
    * of ratings (fail-fast otherwise — a ragged panel silently biases
    * P̄ downward, so it is an error, not a convention).
    *
    * Exactness: P̄ = (ΣΣn_ic² − Nn)/(Nn(n−1)) and P_e = ΣT_c²/(Nn)²
    * are ratios of EXACT integer aggregates (category margins as exact
    * decimal squares), so no accumulation-order float drift exists;
    * the two divisions and κ round at 6 dp.
    *
    * Shape: one map-side-combined (item, category) cell count, a
    * per-item fold and a per-category fold of that bounded-per-item
    * table, two single-row reductions. The cell table persists across
    * the two driver actions (same pattern as [[cohensKappa]]).
    */
  def fleissKappa(df: DataFrame, itemCol: String, catCol: String): DataFrame = {
    Materialize.within(df.filter(col(itemCol).isNotNull && col(catCol).isNotNull)
      .groupBy(col(itemCol).as("_i"), col(catCol).cast("string").as("_c"))
      .agg(count(lit(1)).as("_k"))) { cells =>
      val items = cells.groupBy("_i")
        .agg(sum("_k").as("_m"), sum(col("_k") * col("_k")).as("_s2"))
      val a = items.agg(count(lit(1)).as("_N"), min("_m").as("_lo"),
        max("_m").as("_hi"), sum("_s2").as("_S2")).head()
      val nItems = a.getAs[Long]("_N")
      require(nItems >= 1, "fleissKappa needs at least 1 rated item")
      val n = a.getAs[Long]("_lo")
      require(n == a.getAs[Long]("_hi"),
        s"fleissKappa needs a constant rater count per item; found " +
          s"items with $n and ${a.getAs[Long]("_hi")} ratings — " +
          "filter to a complete panel first")
      require(n >= 2, "fleissKappa needs >= 2 raters per item")
      val s2 = a.getAs[Long]("_S2")
      val tt = Option(cells.groupBy("_c").agg(sum("_k").as("_t"))
        .agg(sum(col("_t").cast("decimal(38,0)") * col("_t")).as("_tt"))
        .head().getAs[java.math.BigDecimal]("_tt"))
        .getOrElse(java.math.BigDecimal.ZERO)
      def r6(v: Double): Double = java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      val nn = nItems.toDouble * n
      val pbar = r6((s2 - nItems * n).toDouble /
        (nItems.toDouble * n * (n - 1)))
      val pe = r6(tt.doubleValue / (nn * nn))
      val kappa: java.lang.Double =
        if (pe >= 1.0) null else r6((pbar - pe) / (1.0 - pe))
      val spark = df.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(Row(nItems, n, pbar, pe, kappa)), 1),
        StructType(Seq(
          StructField("n_items", LongType, nullable = false),
          StructField("n_raters", LongType, nullable = false),
          StructField("p_bar", DoubleType, nullable = false),
          StructField("p_e", DoubleType, nullable = false),
          StructField("kappa", DoubleType, nullable = true))))
    }
  }

  /** Krippendorff's α (nominal data): agreement that tolerates a
    * VARIABLE number of ratings per unit — the real-world annotation
    * pool where raters skip items. Units with fewer than 2 ratings are
    * unpairable and excluded (reported via n_units). α = 1 − D_o/D_e
    * with D_o = (1/n)·Σ_u (m_u² − Σ_c n_uc²)/(m_u − 1) and
    * D_e = (n² − ΣT_c²)/(n(n−1)) over the pairable ratings n.
    *
    * Fully declarative (no driver action): per-unit disagreement terms
    * quantize at 9 dp into an exact decimal fold; margins are exact
    * integer/decimal aggregates; the three final divisions happen once
    * on a broadcast-joined pair of single-row aggregates, rounded at
    * 6 dp. One exchange keyed on the unit, one on the category.
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
                        valueCol: String): DataFrame = {
    val cells = df.filter(col(unitCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(unitCol).as("_u"), col(valueCol).cast("string").as("_v"))
      .agg(count(lit(1)).as("_k"))
    val units = cells.groupBy("_u")
      .agg(sum("_k").as("_m"), sum(col("_k") * col("_k")).as("_s2"))
      .filter(col("_m") >= 2)
    val uAgg = units.agg(
      count(lit(1)).as("n_units"), sum("_m").as("_n"),
      sum(round((col("_m") * col("_m") - col("_s2")).cast("double") /
        (col("_m") - 1).cast("double"), 9).cast("decimal(28,9)")).as("_do"))
    // margins count only ratings in pairable units, so the category
    // fold joins back to the kept-unit set first
    val vAgg = cells.join(units.select("_u"), "_u")
      .groupBy("_v").agg(sum("_k").as("_t"))
      .agg(sum(col("_t").cast("decimal(38,0)") * col("_t")).as("_tt"))
    val nD = col("_n").cast("double")
    val dObs = col("_do").cast("double") / nD
    val dExp = (nD * nD - col("_tt").cast("double")) / (nD * (nD - 1))
    uAgg.crossJoin(broadcast(vAgg))
      .select(col("n_units"), col("_n").as("n_ratings"),
        round(dObs, 6).as("d_o"), round(dExp, 6).as("d_e"),
        when(col("_n") >= 2 && col("_tt").cast("double") < nD * nD,
          round(lit(1.0) - dObs / dExp, 6)).as("alpha"))
  }

  /** Cliff's delta — the ORDINAL effect size between two cohorts:
    * P(a > b) − P(a < b) over all cross pairs, the robust companion to
    * [[mannWhitneyU]] (same ranks, but a magnitude instead of a
    * p-value; the standard report when metric distributions are skewed
    * enough that a mean difference misleads). Ties count half to each
    * side, which is exactly the midrank convention, so delta folds out
    * of the same exact rank sum: δ = (2·U₁ − n₁n₂)/(n₁n₂). Returns one
    * row (g1, g2, n1, n2, delta, magnitude) with Romano's |δ| bands
    * (0.147 / 0.33 / 0.474 → negligible/small/medium/large).
    *
    * Shape: ONE map-side-combined cell count over distinct metric
    * values (shared [[cohortCounts]]), a cumulative window over the
    * bounded cell table, one exact-decimal fold. The rank sum stays
    * exact integer arithmetic to ~10^18 rows; the single double
    * division happens once on the driver.
    */
  def cliffsDelta(df: DataFrame, groupCol: String, valueCol: String,
                  g1: String, g2: String,
                  precision: Int = 9, scale: Int = 2): DataFrame = {
    val counts = cohortCounts(df, groupCol, valueCol, g1, g2, precision, scale)
    val cum = org.apache.spark.sql.expressions.Window.orderBy("_v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val t = (col("_c1") + col("_c2")).cast("decimal(38,0)")
    val agg = counts
      .withColumn("_before",
        sum(col("_c1") + col("_c2")).over(cum) - (col("_c1") + col("_c2")))
      .agg(
        sum(col("_c1").cast("decimal(38,0)") *
          (col("_before").cast("decimal(38,0)") * 2 + t + 1)).as("_2r1"),
        sum("_c1").as("n1"), sum("_c2").as("n2"))
      .head()
    val n1 = agg.getAs[Long]("n1"); val n2 = agg.getAs[Long]("n2")
    require(n1 > 0 && n2 > 0, s"cliffsDelta: empty cohort ($g1: $n1, $g2: $n2)")
    // δ numerator = 2·R1 − n1(n1+1) − n1·n2, exact to the last integer;
    // the one double division mirrors the oracle's CAST(..AS DOUBLE)/..
    val num = agg.getAs[java.math.BigDecimal]("_2r1")
      .subtract(java.math.BigDecimal.valueOf(n1)
        .multiply(java.math.BigDecimal.valueOf(n1 + 1)))
      .subtract(java.math.BigDecimal.valueOf(n1)
        .multiply(java.math.BigDecimal.valueOf(n2)))
    val delta = java.math.BigDecimal.valueOf(
      num.doubleValue / (n1.toDouble * n2))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val mag =
      if (math.abs(delta) < 0.147) "negligible"
      else if (math.abs(delta) < 0.33) "small"
      else if (math.abs(delta) < 0.474) "medium"
      else "large"
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(g1, g2, n1, n2, delta, mag)), 1),
      StructType(Seq(
        StructField("g1", StringType, nullable = false),
        StructField("g2", StringType, nullable = false),
        StructField("n1", LongType, nullable = false),
        StructField("n2", LongType, nullable = false),
        StructField("delta", DoubleType, nullable = false),
        StructField("magnitude", StringType, nullable = false))))
  }

  /** Re-randomization (Monte-Carlo permutation) test for a mean
    * difference between two cohorts: the observed Δ = mean(g2) −
    * mean(g1) is compared against `r` content-addressed relabelings of
    * the pooled units (arm bit = md5(id#k) parity — the
    * [[graft.operators.Experiment.aaCalibration]] draw, so re-runs
    * agree and an oracle replays every replicate), and the reported
    * p-value is the add-one estimate (1 + #{|Δ_k| ≥ |Δ_obs|})/(r+1) —
    * the distribution-free answer when normal-theory assumptions
    * behind [[welchT]] are in doubt. Binomial (not fixed-size)
    * relabeling, as in any streaming re-randomization design.
    *
    * Shape: one fold for the observed split, one explode×r fold for
    * the replicates (the k-keyed exchange collapses map-side to r
    * rows); means divide exact decimal sums, each Δ quantizes at 6 dp
    * before the comparison, so the extreme count is engine-exact.
    */
  def permutationTest(df: DataFrame, idCol: String, groupCol: String,
                      valueCol: String, g1: String, g2: String,
                      r: Int = 50, precision: Int = 18,
                      scale: Int = 2): DataFrame = {
    require(r >= 10 && r <= 1000, s"r in [10, 1000], got $r")
    val g = col(groupCol).cast("string")
    val rows = df
      .filter((g === g1 || g === g2) && col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("_id"), g.as("_g"),
        col(valueCol).cast(s"decimal($precision,$scale)").as("_v"))
      .filter(col("_v").isNotNull)
    def diff(n1: Column, s1: Column, n2: Column, s2: Column): Column =
      round(s2.cast("double") / nullif(n2.cast("double"), lit(0.0)) -
        s1.cast("double") / nullif(n1.cast("double"), lit(0.0)), 6)
    val obs = rows.agg(
      sum(when(col("_g") === g1, 1L).otherwise(0L)).as("n_1"),
      sum(when(col("_g") === g1, col("_v"))).as("_s1"),
      sum(when(col("_g") === g2, 1L).otherwise(0L)).as("n_2"),
      sum(when(col("_g") === g2, col("_v"))).as("_s2"))
      .select(col("n_1"), col("n_2"),
        diff(col("n_1"), col("_s1"), col("n_2"), col("_s2"))
          .as("obs_diff"))
    val armBit = conv(substring(
      md5(concat(col("_id"), lit("#"), col("_k"))), 1, 15), 16, 10)
      .cast("decimal(20,0)") % 2
    val reps = rows
      .select(col("_id"), col("_v"),
        explode(sequence(lit(1), lit(r))).as("_k"))
      .withColumn("_arm", armBit)
      .groupBy("_k")
      .agg(
        sum(when(col("_arm") === 0, 1L).otherwise(0L)).as("_na"),
        sum(when(col("_arm") === 0, col("_v"))).as("_sa"),
        sum(when(col("_arm") === 1, 1L).otherwise(0L)).as("_nb"),
        sum(when(col("_arm") === 1, col("_v"))).as("_sb"))
      .select(diff(col("_na"), col("_sa"), col("_nb"), col("_sb"))
        .as("_d"))
    reps.crossJoin(broadcast(obs))
      .agg(first("n_1").as("n_1"), first("n_2").as("n_2"),
        first("obs_diff").as("obs_diff"),
        count(lit(1)).as("n_replicates"),
        sum(when(abs(col("_d")) >= abs(col("obs_diff")), 1L)
          .otherwise(0L)).as("n_extreme"))
      .withColumn("p_value",
        round((col("n_extreme") + 1).cast("double") /
          (col("n_replicates") + 1), 6))
  }

  /** Paired t statistic on per-unit (pre, post) pairs — the design
    * where each unit is its own control (before/after a change, two
    * model versions on the same prompts). d = post − pre folds through
    * exact decimal moment sums; t = d̄/(s_d/√n). Returns one row
    * (n, mean_diff, sd_diff, t); NULL t for constant differences.
    * ONE map-side-combined aggregation, driver-free, engine-exact up
    * to the closing fixed-order double expression (6 dp).
    */
  def pairedT(df: DataFrame, preCol: String, postCol: String,
              precision: Int = 18, scale: Int = 2): DataFrame = {
    val d = (col(postCol).cast(s"decimal($precision,$scale)") -
      col(preCol).cast(s"decimal($precision,$scale)"))
      .cast(s"decimal($precision,$scale)")
    val agg = df
      .filter(col(preCol).isNotNull && col(postCol).isNotNull)
      .agg(count(lit(1)).as("n"), sum(d).as("_sd"),
        sum((d * d).cast("decimal(38,4)")).as("_sd2"))
    val nD = col("n").cast("double")
    val mean = col("_sd").cast("double") / nD
    val varNum = (col("n") * col("_sd2") -
      (col("_sd") * col("_sd")).cast("decimal(38,4)")).cast("double")
    val sd = sqrt(varNum / (nD * (nD - lit(1.0))))
    agg.select(col("n"), round(mean, 6).as("mean_diff"),
      when(col("n") >= 2, round(sd, 6)).as("sd_diff"),
      when(col("n") >= 2 && varNum > 0,
        round(mean / (sd / sqrt(nD)), 6)).as("t"))
  }

  /** Tukey-HSD pairwise table after a significant [[anova]]: for every
    * group pair, the mean difference and the studentized-range
    * statistic q = |Δ|/√(MSE/2·(1/nᵢ+1/nⱼ)) against the pooled
    * within-group variance — WHICH groups differ, where the omnibus F
    * only says SOME do. Critical q values depend on the studentized
    * range distribution; compare the emitted q against the caller's
    * table (k, N−k df).
    *
    * Shape: ONE grouped fold to per-group exact decimal moments; the
    * pair table is a self-join of the bounded group table. Per-group
    * SSE terms quantize at 6 dp into an exact decimal sum (the KM
    * convention), the closing q is one fixed-order double expression.
    */
  def tukeyHsd(df: DataFrame, groupCol: String, valueCol: String,
               precision: Int = 18, scale: Int = 2): DataFrame = {
    val v = col(valueCol).cast(s"decimal($precision,$scale)")
    val g = df.filter(col(groupCol).isNotNull && v.isNotNull)
      .groupBy(col(groupCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("n"), sum(v).as("_s"),
        sum((v * v).cast("decimal(38,4)")).as("_s2"))
    val ssTerm = round((col("n") * col("_s2") -
      (col("_s") * col("_s")).cast("decimal(38,4)")).cast("double") /
      col("n"), 6).cast("decimal(28,6)")
    val tot = g.agg(sum("n").as("_nTot"), count(lit(1)).as("_k"),
      sum(ssTerm).as("_sse"))
    val mse = col("_sse").cast("double") /
      (col("_nTot") - col("_k")).cast("double")
    val withMse = g.crossJoin(broadcast(tot))
    val a = withMse.select(col("grp").as("g1"), col("n").as("n1"),
      col("_s").as("_s1"), mse.as("_mse"))
    val b = withMse.select(col("grp").as("g2"), col("n").as("n2"),
      col("_s").as("_s2b"))
    val diff = col("_s2b").cast("double") / col("n2") -
      col("_s1").cast("double") / col("n1")
    val se = sqrt(col("_mse") / lit(2.0) *
      (lit(1.0) / col("n1") + lit(1.0) / col("n2")))
    a.join(b, col("g1") < col("g2"))
      .select(col("g1"), col("g2"), col("n1"), col("n2"),
        round(diff, 6).as("mean_diff"),
        when(col("_mse") > 0, round(abs(diff) / se, 6)).as("q"))
  }

  /** Cronbach's α internal-consistency reliability over k item columns
    * (annotator scales, multi-probe eval batteries):
    * α = k/(k−1)·(1 − Σᵢvar(itemᵢ)/var(Σᵢitemᵢ)). The standard "do
    * these k measurements measure one thing" gate before averaging
    * them into a single label. Rows with any NULL item drop (listwise,
    * the [[corrMatrix]] convention). NULL α when the total variance is
    * zero. ONE map-side-combined fold of exact decimal moments for
    * every item AND the row total; the closing expression is fixed-
    * order doubles rounded at 6 dp.
    */
  def cronbachAlpha(df: DataFrame, itemCols: Seq[String],
                    precision: Int = 18, scale: Int = 2): DataFrame = {
    require(itemCols.size >= 2, "cronbachAlpha needs at least 2 items")
    val k = itemCols.size
    val items = itemCols.map(c =>
      col(c).cast(s"decimal($precision,$scale)"))
    val totalCol = items.reduce(_ + _).cast("decimal(38,4)")
    val kept = df.filter(itemCols.map(col(_).isNotNull).reduce(_ && _))
    val aggs =
      Seq(count(lit(1)).as("_n")) ++
        items.zipWithIndex.flatMap { case (it, i) =>
          Seq(sum(it).as(s"_s$i"),
            sum((it * it).cast("decimal(38,4)")).as(s"_q$i"))
        } ++ Seq(sum(totalCol).as("_st"),
          sum((totalCol * totalCol).cast("decimal(38,8)")).as("_qt"))
    val agg = kept.agg(aggs.head, aggs.tail: _*)
    val nD = col("_n").cast("double")
    def varOf(s: Column, q: Column): Column =
      (col("_n") * q - (s * s).cast("decimal(38,8)")).cast("double") /
        (nD * (nD - lit(1.0)))
    val itemVarSum = itemCols.indices
      .map(i => varOf(col(s"_s$i"), col(s"_q$i").cast("decimal(38,8)")))
      .reduce(_ + _)
    val totVar = varOf(col("_st").cast("decimal(38,4)"), col("_qt"))
    agg.select(col("_n").as("n"), lit(k).as("k"),
      round(itemVarSum, 6).as("sum_item_var"),
      round(totVar, 6).as("total_var"),
      when(col("_n") >= 2 && totVar > 0,
        round(lit(k.toDouble / (k - 1)) *
          (lit(1.0) - itemVarSum / totVar), 6)).as("alpha"))
  }

  /** Theil T inequality index over a positive metric:
    * T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ) — 0 at perfect equality, ln n at
    * total concentration; the decomposable companion to [[gini]] for
    * "is our token budget concentrated in a handful of domains".
    * Non-positive values drop (T is defined on positive quantities —
    * the count of dropped rows returns so the caller sees the
    * truncation).
    *
    * Shape: one fold for (n, Σx) broadcast back, one per-row term pass
    * quantized at 9 dp into an exact decimal sum (ln is not correctly
    * rounded — quantization is what makes the sum engine-exact), one
    * closing division.
    */
  def theilIndex(df: DataFrame, valueCol: String,
                 precision: Int = 18, scale: Int = 2): DataFrame = {
    val v = col(valueCol).cast(s"decimal($precision,$scale)")
    val rows = df.filter(v.isNotNull)
      .select(v.as("_v"), (v > 0).as("_pos"))
    val tot = rows.filter(col("_pos"))
      .agg(count(lit(1)).as("_n"), sum("_v").as("_s"))
    val dropped = rows.agg(
      sum(when(!col("_pos"), 1L).otherwise(0L)).as("n_dropped"))
    val mu = col("_s").cast("double") / col("_n")
    val ratio = col("_v").cast("double") / col("_mu")
    val term = round(ratio * log(ratio), 9).cast("decimal(28,9)")
    rows.filter(col("_pos"))
      .crossJoin(broadcast(tot.select(col("_n"), mu.as("_mu"))))
      .agg(first("_n").as("n"),
        round(first("_mu"), 6).as("mean"),
        round(sum(term).cast("double") / first("_n"), 6).as("theil_t"))
      .crossJoin(broadcast(dropped))
      .select(col("n"), col("n_dropped"), col("mean"), col("theil_t"))
  }

  /** Atkinson inequality index at ε = 0.5:
    * A = 1 − (Σ√x / n)² / μ — 0 at perfect equality, → 1 at total
    * concentration; the welfare-theoretic companion to [[theilIndex]]
    * whose ε weights how much the bottom of the distribution matters.
    * ε is FIXED at 1/2 here because √ is IEEE-exact (a general-ε pow
    * is not correctly rounded and would poison cross-engine replay);
    * non-positive values drop with a published count, like Theil.
    *
    * Shape: one per-row √ quantized at 9 dp into an exact decimal sum,
    * one bounded fold, closing fixed-order doubles.
    */
  def atkinsonIndex(df: DataFrame, valueCol: String,
                    precision: Int = 18, scale: Int = 2): DataFrame = {
    val v = col(valueCol).cast(s"decimal($precision,$scale)")
    val rows = df.filter(v.isNotNull)
      .select(v.as("_v"), (v > 0).as("_pos"))
    val term = round(sqrt(col("_v").cast("double")), 9)
      .cast("decimal(28,9)")
    val agg = rows.filter(col("_pos"))
      .agg(count(lit(1)).as("n"), sum("_v").as("_s"),
        sum(term).as("_sq"))
    val dropped = rows.agg(
      sum(when(!col("_pos"), 1L).otherwise(0L)).as("n_dropped"))
    val nD = col("n").cast("double")
    val mu = col("_s").cast("double") / nD
    val meanSqrt = col("_sq").cast("double") / nD
    // degenerate case (zero positive values): publish NULLs, not the
    // NaN that 0/0 double division produces — the oracle's empty-sum
    // NULLs must replay, and NaN would also leak into JSON readouts
    agg.crossJoin(broadcast(dropped))
      .select(col("n"), col("n_dropped"),
        when(col("n") > 0, round(mu, 6)).as("mean"),
        when(col("n") > 0, round(lit(1.0) - meanSqrt * meanSqrt / mu, 6))
          .as("atkinson"))
  }

  /** Lorenz-curve checkpoints over a non-negative metric — the
    * plot-ready companion to [[gini]]: at each population fraction
    * k/points, the share of the total mass held by the poorest
    * ⌊k·n/points⌋ rows. Perfect equality reads share = k/points on
    * every row; concentration bows the curve below the diagonal.
    * Returns (point, cum_count, cum_share).
    *
    * Exactness: ranks are exact integers over the distinct-value
    * table; a value block spanning a cut contributes a PARTIAL mass
    * (cumv − (cum − r)·v) computed in exact decimal; each share is one
    * rounded division. Negative values are excluded (Lorenz is
    * defined on non-negative quantities); checkpoints whose target
    * rank ⌊k·n/points⌋ is 0 (n < points/k) are absent from the output.
    *
    * Scale shape — the [[PrefixSum.running]] distributed prefix sum of
    * (count, mass) over the value order, NOT a bare `Window.orderBy`
    * (which funnels the whole table through ONE task): the
    * distinct-value table of a CONTINUOUS metric is corpus-sized —
    * nearly one row per order for a price column — so "distinct values
    * are bounded" is not a real bound here. Driver state: one row per
    * partition. Call [[Materialize.release]] on the result after the
    * last action to drop the pinned layout.
    */
  def lorenzCurve(df: DataFrame, valueCol: String, points: Int = 10,
                  precision: Int = 18, scale: Int = 2): DataFrame = {
    require(points >= 2 && points <= 1000, "points in [2, 1000]")
    val spark = df.sparkSession
    val v = col(valueCol).cast(s"decimal($precision,$scale)")
    val cells = df.filter(v.isNotNull && v >= 0)
      .groupBy(v.as("_v")).agg(count(lit(1)).as("_c"))
      .withColumn("_m", (col("_v") * col("_c")).cast("decimal(38,6)"))
    val scan = PrefixSum.running(cells, Seq(col("_v").asc),
      Seq("_c" -> "_cum", "_m" -> "_cumv"))
    val totalN = scan.totals.getLong(0)
    val totalM = scan.totals.getDecimal(1)
    val probes = broadcast(spark.range(1, points + 1)
      .select(col("id").as("point")))
    scan.rows.crossJoin(probes)
      // `div`, not `/`: Spark's Divide always returns DOUBLE; the rank
      // must stay an exact integer
      .withColumn("_r", expr(s"(point * ${totalN}L) div ${points}L"))
      .filter(col("_cum") - col("_c") < col("_r") &&
        col("_r") <= col("_cum"))
      .select(col("point"), col("_r").as("cum_count"),
        round((col("_cumv") -
          ((col("_cum") - col("_r")).cast("decimal(20,0)") * col("_v"))
            .cast("decimal(38,6)")).cast("double") /
          lit(totalM.doubleValue), 6).as("cum_share"))
  }

  /** Herfindahl–Hirschman concentration index over a categorical
    * column: HHI = Σ shareᵢ² (1/k uniform → 1 monopolized) plus the
    * k-normalized form (HHI − 1/k)/(1 − 1/k) — the "is our training
    * mix dominated by a handful of domains" one-number screen that
    * [[graft.operators.Sampling.temperatureWeights]] then fixes.
    *
    * Exactness: shares quantize at 9 dp, the share² sum folds in exact
    * decimal, two closing rounded doubles. Shape: one map-side-combined
    * group count; the scalar total rides back as a one-row broadcast
    * (the group table itself stays distributed — domains are unbounded).
    */
  def hhi(df: DataFrame, groupCol: String): DataFrame = {
    val counts = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
    val tot = counts.agg(sum("_n").as("_tot"),
      count(lit(1)).as("_k"))
    val share = round(col("_n").cast("double") / col("_tot").cast("double"), 9)
      .cast("decimal(10,9)")
    val kD = col("n_groups").cast("double")
    counts.crossJoin(broadcast(tot))
      .select((share * share).as("_s2"), col("_k"))
      .groupBy(col("_k").as("n_groups"))
      .agg(round(sum("_s2").cast("double"), 6).as("hhi"))
      .withColumn("hhi_normalized",
        when(col("n_groups") > 1,
          round((col("hhi") - lit(1.0) / kD) / (lit(1.0) - lit(1.0) / kD), 6)))
  }

  /** Concentration ratio CR_k: the share of all rows held by the k
    * largest groups — the "top 4 domains hold X% of the corpus"
    * headline that [[hhi]] compresses into one index. Ties at the k-th
    * place break to the lexicographically smallest group (documented;
    * the oracle's ORDER BY reproduces the cut). Returns one row
    * (k, n_groups, n_total, top_n, top_share).
    *
    * Shape: one map-side-combined group count; the top-k is
    * TakeOrderedAndProject (per-partition heaps, no global sort); the
    * scalar totals ride as a one-row broadcast.
    */
  def concentrationRatio(df: DataFrame, groupCol: String,
                         k: Int = 4): DataFrame = {
    require(k >= 1 && k <= 10000, "k in [1, 10000]")
    val counts = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("_g")).agg(count(lit(1)).as("_n"))
    val tot = counts.agg(sum("_n").as("_tot"),
      count(lit(1)).as("_k"))
    counts.orderBy(col("_n").desc, col("_g").asc).limit(k)
      .agg(sum("_n").as("_top"))
      .crossJoin(broadcast(tot))
      .select(lit(k).as("k"), col("_k").as("n_groups"),
        col("_tot").cast("long").as("n_total"),
        col("_top").cast("long").as("top_n"),
        round(col("_top").cast("double") / col("_tot").cast("double"), 6)
          .as("top_share"))
  }

  /** Durbin–Watson serial-correlation statistic over a time series
    * (one row per `tCol` — the [[cusum]]/[[runsTest]] caller contract,
    * so the ordered window runs over a bounded table):
    * DW = Σ(uₜ − uₜ₋₁)² / Σ(uₜ − ū)² on canonical integer units —
    * ≈2 means no lag-1 autocorrelation, →0 positive, →4 negative; the
    * "are my daily residuals independent" gate before trusting any
    * i.i.d.-assuming interval on a metric series.
    *
    * Exactness: the numerator's mean CANCELS in first differences, so
    * both moments are exact integer folds — n·Σd² and n·Σu² − (Σu)² —
    * and the statistic is ONE closing double division.
    */
  def durbinWatson(df: DataFrame, tCol: String, valueCol: String,
                   precision: Int = 18, scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = LimbMoments.units(valueCol, precision, scale)
    val rows = df.filter(col(tCol).isNotNull && u.isNotNull)
      .select(col(tCol).as("_t"), u.as("_u"))
    val byT = Window.orderBy("_t")
    val dec0 = lit(0).cast("decimal(38,0)")
    val d = rows.withColumn("_prev", lag("_u", 1).over(byT))
    val agg = d.agg(count(lit(1)).as("n"),
      sum(col("_u").cast("decimal(38,0)")).as("_s"),
      sum((col("_u").cast("decimal(38,0)") *
        col("_u").cast("decimal(38,0)")).cast("decimal(38,0)")).as("_q"),
      sum(when(col("_prev").isNotNull,
        ((col("_u") - col("_prev")).cast("decimal(38,0)") *
          (col("_u") - col("_prev")).cast("decimal(38,0)"))
          .cast("decimal(38,0)")).otherwise(dec0)).as("_d2"))
    val nDec = col("n").cast("decimal(38,0)")
    agg.select(col("n"),
      round((nDec * col("_d2")).cast("double") /
        (nDec * col("_q") - col("_s") * col("_s")).cast("double"), 6)
        .as("dw"))
  }

  /** One-sample Kolmogorov–Smirnov distance against Uniform(lo, hi) —
    * the "is this hash/bucket/score actually uniform" gate ([[ksTest]]
    * compares two samples; this one compares against the THEORY a
    * randomizer claims). Handles the discrete-jump convention exactly:
    * D⁺ = max(F̂(x) − F(x)), D⁻ = max(F(x) − F̂(x⁻)). Values OUTSIDE
    * [lo, hi] are NOT silently dropped — they enter the empirical CDF
    * and the theoretical CDF clamps to 0 below lo and 1 above hi, so a
    * sample with 20% of its mass above hi fails the gate loudly
    * instead of being tested only on its conditional distribution; the
    * out-of-support count is also published. Returns one row
    * (n, d_plus, d_minus, n_out_of_range, d, sqrt_n_d — compare the
    * last against the 1.358 (5%) / 1.628 (1%) asymptotic points).
    *
    * Shape: one fold to the distinct-value table, one cumulative
    * window over it, one closing fold — exact integer CDF counts, the
    * theoretical CDF a fixed-order double expression.
    */
  def ksUniform(df: DataFrame, valueCol: String, lo: Double, hi: Double,
                precision: Int = 18, scale: Int = 6): DataFrame = {
    require(hi > lo, "need hi > lo")
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast(s"decimal($precision,$scale)")
    val loD = lit(java.math.BigDecimal.valueOf(lo))
    val hiD = lit(java.math.BigDecimal.valueOf(hi))
    val cells = df.filter(v.isNotNull)
      .groupBy(v.as("_v")).agg(count(lit(1)).as("_c"))
    val cum = Window.orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val n = sum("_c").over(all)
    val cumC = sum("_c").over(cum)
    val fHat = cumC.cast("double") / n
    val fHatPrev = (cumC - col("_c")).cast("double") / n
    val fTheo = least(greatest(
      (col("_v").cast("double") - lit(lo)) / lit(hi - lo), lit(0.0)),
      lit(1.0))
    val scored = cells.select(n.as("_n"),
      (fHat - fTheo).as("_dp"), (fTheo - fHatPrev).as("_dm"),
      when(col("_v") < loD || col("_v") > hiD, col("_c"))
        .otherwise(lit(0L)).as("_oor"))
    scored.agg(first("_n").as("n"),
      round(max("_dp"), 6).as("d_plus"),
      round(max("_dm"), 6).as("d_minus"),
      sum("_oor").as("n_out_of_range"))
      .withColumn("d", greatest(col("d_plus"), col("d_minus")))
      .withColumn("sqrt_n_d",
        round(sqrt(col("n").cast("double")) * col("d"), 6))
  }

  /** Friedman test (tie-corrected) for k treatments over n complete
    * blocks — the repeated-measures companion to [[kruskalWallis]]:
    * every block (user, prompt, document) sees every treatment, and
    * only WITHIN-block ranks enter, so block-level variation cancels.
    * Blocks missing any treatment drop (complete-block design);
    * returns (n_blocks, k, chi2) plus the per-treatment rank sums.
    *
    * Exactness: within-block midranks come from the doubled-midrank
    * identity 2r = 2·(before) + ties + 1 on (block, value) cells —
    * integers end to end — and the tie-corrected statistic
    * (k−1)·Σ(R2ⱼ−n(k+1))² / (Σ(2r)² − nk(k+1)²) is ONE double
    * division of exact decimal folds. Shape: one (block, treat) fold,
    * one block-keyed window (distributed over blocks), two bounded
    * folds.
    */
  def friedman(df: DataFrame, blockCol: String, treatCol: String,
               valueCol: String,
               precision: Int = 18, scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast(s"decimal($precision,$scale)")
    // persist the cell table: the k-count action and the main fold must
    // not each re-scan the corpus (the kendallTau lesson, r12)
    Materialize.within(df
      .filter(col(blockCol).isNotNull && col(treatCol).isNotNull &&
        v.isNotNull)
      .groupBy(col(blockCol).as("_b"), col(treatCol).cast("string")
        .as("_t"))
      .agg(sum(v).as("_v"))) { cellsRaw =>
    val kTot = cellsRaw.agg(count_distinct(col("_t"))).head().getLong(0)
    require(kTot >= 2, "friedman needs at least 2 treatments")
    // complete blocks only: within-block ranks are incomparable
    // otherwise
    val complete = cellsRaw.groupBy("_b")
      .agg(count(lit(1)).as("_kb"))
      .filter(col("_kb") === kTot).select("_b")
    val cells = cellsRaw.join(complete, "_b")
    // doubled midranks per block over (value) ties
    val byVal = Window.partitionBy("_b").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tiesW = Window.partitionBy("_b", "_v")
    val ranked = cells
      .withColumn("_cum", sum(lit(1L)).over(byVal))
      .withColumn("_tie", count(lit(1)).over(tiesW))
      .withColumn("_maxcum", max(col("_cum")).over(tiesW))
      .withColumn("_2r",
        (col("_maxcum") - col("_tie")) * 2 + col("_tie") + 1)
    val perTreat = ranked.groupBy("_t")
      .agg(sum("_2r").as("_r2"), count(lit(1)).as("_nb"))
    val a4 = ranked.agg(
      sum(col("_2r").cast("decimal(38,0)") * col("_2r")).as("_a4"),
      (count(lit(1)) / kTot).cast("long").as("_n"))
    val k = lit(kTot)
    val nB = col("_n")
    val sNum = sum(((col("_r2") - nB * (k + 1)).cast("decimal(38,0)") *
      (col("_r2") - nB * (k + 1))).cast("decimal(38,0)"))
    val agg = perTreat.crossJoin(broadcast(a4))
      .agg(first("_n").as("n_blocks"), sNum.as("_s"),
        first("_a4").as("_a4x"))
    val den = col("_a4x") -
      (col("n_blocks").cast("decimal(38,0)") * k * (k + 1) * (k + 1))
    val plan = agg.select(col("n_blocks"), k.as("k"),
      when(den.cast("double") > 0,
        round(lit(kTot - 1) * col("_s").cast("double") /
          den.cast("double"), 6)).as("chi2"))
    // 1-row materialization so the unpersist below is safe
    val row = plan.head()
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), plan.schema)
    }
  }

  /** Cochran's Q for k binary treatments over n complete blocks — the
    * k-way [[graft.operators.Experiment.mcNemar]]: did ANY of k
    * classifiers/checklist variants change the pass rate on the same
    * items. Q = (k−1)·(k·ΣGⱼ² − (ΣG)²) / (k·ΣLᵢ − ΣLᵢ²) over
    * per-treatment totals G and per-block totals L — all exact
    * integers until one division; χ²(k−1) under H0. Incomplete blocks
    * drop. Shape: one (block, treat) fold, then two bounded folds.
    */
  def cochranQ(df: DataFrame, blockCol: String, treatCol: String,
               success: Column): DataFrame = {
    // same persist + eager-row discipline as [[friedman]]
    Materialize.within(df
      .filter(col(blockCol).isNotNull && col(treatCol).isNotNull)
      .groupBy(col(blockCol).as("_b"),
        col(treatCol).cast("string").as("_t"))
      .agg(max(when(success, 1L).otherwise(0L)).as("_y"))) { cellsRaw =>
    val kTot = cellsRaw.agg(count_distinct(col("_t"))).head().getLong(0)
    require(kTot >= 2, "cochranQ needs at least 2 treatments")
    val complete = cellsRaw.groupBy("_b").agg(count(lit(1)).as("_kb"))
      .filter(col("_kb") === kTot).select("_b")
    val cells = cellsRaw.join(complete, "_b")
    val perBlock = cells.groupBy("_b").agg(sum("_y").as("_l"))
    val blockAgg = perBlock.agg(count(lit(1)).as("n_blocks"),
      sum("_l").as("_sl"),
      sum(col("_l").cast("decimal(38,0)") * col("_l")).as("_sl2"))
    val treatAgg = cells.groupBy("_t").agg(sum("_y").as("_g"))
      .agg(sum("_g").as("_sg"),
        sum(col("_g").cast("decimal(38,0)") * col("_g")).as("_sg2"))
    val k = lit(kTot)
    val qNum = (k - 1).cast("decimal(38,0)") *
      (k * col("_sg2") - (col("_sg").cast("decimal(38,0)") *
        col("_sg")).cast("decimal(38,0)"))
    val qDen = k.cast("decimal(38,0)") * col("_sl") - col("_sl2")
    val plan = blockAgg.crossJoin(broadcast(treatAgg))
      .select(col("n_blocks"), k.as("k"),
        when(qDen.cast("double") > 0,
          round(qNum.cast("double") / qDen.cast("double"), 6)).as("q"))
    val row = plan.head()
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), plan.schema)
    }
  }

  /** One-way intraclass correlation ICC(1,1) — "how much of the rating
    * variance is the SUBJECT rather than the rater/noise": the
    * continuous-scale agreement companion to [[cohensKappa]] (labels)
    * and [[cronbachAlpha]] (items). Unbalanced groups handled by the
    * standard k₀ correction. Returns (n_blocks, n_ratings, msb, msw,
    * icc1); NULL icc when the denominator vanishes.
    *
    * Shape: one per-block fold of exact decimal moments, per-block
    * between/within terms quantized at 6 dp into exact decimal sums,
    * fixed-order closing doubles.
    */
  def icc(df: DataFrame, blockCol: String, valueCol: String,
          precision: Int = 18, scale: Int = 2): DataFrame = {
    val v = col(valueCol).cast(s"decimal($precision,$scale)")
    val per = df.filter(col(blockCol).isNotNull && v.isNotNull)
      .groupBy(col(blockCol).as("_b"))
      .agg(count(lit(1)).as("_ni"), sum(v).as("_si"),
        sum((v * v).cast("decimal(38,4)")).as("_qi"))
      .filter(col("_ni") >= 1)
    // within term: Qᵢ − Sᵢ²/nᵢ; between raw term: Sᵢ²/nᵢ (SSB closes
    // against the grand total)
    val s2n = (col("_si") * col("_si")).cast("decimal(38,4)")
      .cast("double") / col("_ni")
    val agg = per.agg(
      count(lit(1)).as("n_blocks"),
      sum("_ni").cast("long").as("n_ratings"),
      sum("_si").as("_s"),
      sum(col("_ni").cast("decimal(38,0)") * col("_ni")).as("_n2"),
      sum(round(col("_qi").cast("double") - s2n, 6)
        .cast("decimal(28,6)")).as("_ssw"),
      sum(round(s2n, 6).cast("decimal(28,6)")).as("_sb"))
    val nD = col("n_ratings").cast("double")
    val nb = col("n_blocks").cast("double")
    val ssb = col("_sb").cast("double") -
      col("_s").cast("double") * col("_s").cast("double") / nD
    val msb = ssb / (nb - lit(1.0))
    val msw = col("_ssw").cast("double") / (nD - nb)
    val k0 = (nD - col("_n2").cast("double") / nD) / (nb - lit(1.0))
    val icc1 = (msb - msw) / (msb + (k0 - lit(1.0)) * msw)
    agg.select(col("n_blocks"), col("n_ratings"),
      when(col("n_blocks") >= 2, round(msb, 6)).as("msb"),
      when(col("n_ratings") > col("n_blocks"), round(msw, 6)).as("msw"),
      when(col("n_blocks") >= 2 && col("n_ratings") > col("n_blocks") &&
        abs(msb + (k0 - lit(1.0)) * msw) > lit(0.0),
        round(icc1, 6)).as("icc1"))
  }

  /** Wald–Wolfowitz runs test on a PRE-AGGREGATED ordered series (the
    * [[cusum]] contract: the caller collapses the corpus to one row
    * per t first, so the ordered window runs over a bounded table):
    * are the above/below-`above` signs randomly interleaved, or does
    * the sequence trend/cluster? R runs among n₁ above and n₀ below;
    * z = (R − μ)/σ with μ = 2n₁n₀/n + 1. The cheap shuffle-quality /
    * trend screen before trusting "randomized" order.
    *
    * Exact integers until the closing fixed-order doubles; ties with
    * the threshold count as above (documented convention).
    */
  def runsTest(df: DataFrame, tCol: String, above: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byT = Window.orderBy(tCol)
    val signed = df.filter(col(tCol).isNotNull)
      .select(col(tCol), when(above, 1L).otherwise(0L).as("_s"))
      .withColumn("_prev", lag(col("_s"), 1).over(byT))
    val agg = signed.agg(
      sum(when(col("_s") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("_s") === 0, 1L).otherwise(0L)).as("n0"),
      (sum(when(col("_prev").isNotNull && col("_prev") =!= col("_s"), 1L)
        .otherwise(0L)) + 1).cast("long").as("runs"))
    val n1 = col("n1").cast("double")
    val n0 = col("n0").cast("double")
    val n = n1 + n0
    val mu = lit(2.0) * n1 * n0 / n + lit(1.0)
    val sig2 = lit(2.0) * n1 * n0 * (lit(2.0) * n1 * n0 - n) /
      (n * n * (n - lit(1.0)))
    agg.select(col("n1"), col("n0"), col("runs"),
      when(col("n1") > 0 && col("n0") > 0, round(mu, 6)).as("expected_runs"),
      when(col("n1") > 0 && col("n0") > 0 && sig2 > 0,
        round((col("runs").cast("double") - mu) / sqrt(sig2), 6)).as("z"))
  }

  /** Distribution-free quantile confidence interval from ORDER
    * STATISTICS (the binomial argument, normal-approximated ranks):
    * for quantile q, the interval [x₍ₗₒ₎, x₍ₕᵢ₎] with
    * lo = ⌈nq − z√(nq(1−q))⌉ and hi = ⌈nq + z√(nq(1−q))⌉ covers the
    * true quantile at ~conf level — no resampling, no normality of the
    * DATA assumed, and unlike a bootstrap it needs ONE pass. The
    * point estimate averages the two middle order stats (the
    * [[hodgesLehmannShift]] convention).
    *
    * Shape: one fold to the distinct-value table, one count action for
    * the ranks, then the three order statistics read off one
    * cumulative window (conditional mins — never a global row sort).
    * The table persists across the two uses (kendallTau lesson);
    * the one-row result materializes eagerly.
    */
  def quantileCI(df: DataFrame, valueCol: String, q: Double = 0.5,
                 zCrit: Double = 1.959964,
                 precision: Int = 18, scale: Int = 2): DataFrame = {
    require(q > 0 && q < 1, "q in (0, 1)")
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast(s"decimal($precision,$scale)")
    Materialize.within(df.filter(v.isNotNull)
      .groupBy(v.as("_v")).agg(count(lit(1)).as("_c"))) { cells =>
      val n = cells.agg(sum("_c")).head().getLong(0)
      require(n >= 2, "quantileCI needs at least 2 rows")
      // ranks: the point estimate's two middle ranks in exact decimal
      // (the bootstrap-CI lesson); the z-band ranks via the normal
      // approximation, clamped into [1, n]
      val nq = java.math.BigDecimal.valueOf(q)
        .multiply(java.math.BigDecimal.valueOf(n))
      val half = math.sqrt(n * q * (1 - q)) * zCrit
      val k1 = nq.setScale(0, java.math.RoundingMode.CEILING).longValueExact
        .max(1L).min(n)
      val k2 = nq.add(java.math.BigDecimal.ONE)
        .setScale(0, java.math.RoundingMode.FLOOR).longValueExact
        .max(1L).min(n)
      val loR = math.max(1L, math.ceil(nq.doubleValue - half).toLong)
      val hiR = math.min(n, math.ceil(nq.doubleValue + half).toLong)
      val cum = Window.orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val row = cells.withColumn("_cw", sum("_c").over(cum))
        .agg(min(when(col("_cw") >= k1, col("_v"))).as("_p1"),
          min(when(col("_cw") >= k2, col("_v"))).as("_p2"),
          min(when(col("_cw") >= loR, col("_v"))).as("_lo"),
          min(when(col("_cw") >= hiR, col("_v"))).as("_hi"))
        .head()
      def d(i: Int): Double = row.getDecimal(i).doubleValue
      def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      val spark = df.sparkSession
      import spark.implicits._
      Seq((n, q, r6((d(0) + d(1)) / 2.0), loR, hiR, d(2), d(3)))
        .toDF("n", "q", "point", "lo_rank", "hi_rank", "ci_lo", "ci_hi")
    }
  }

  /** Jarque–Bera normality screen from one pass of exact decimal power
    * sums: sample skewness g₁ = m₃/m₂^1.5 and excess kurtosis
    * g₂ = m₄/m₂² − 3 (population central moments from raw sums), then
    * JB = n/6·(g₁² + g₂²/4) ~ χ²(2) under normality — the cheap "can I
    * use z machinery on this metric" gate. Keep `precision/scale`
    * small enough that Σv⁴ fits decimal(38,8).
    */
  def jarqueBera(df: DataFrame, valueCol: String,
                 precision: Int = 18, scale: Int = 2): DataFrame = {
    val v = col(valueCol).cast(s"decimal($precision,$scale)")
    val v2 = (v * v).cast("decimal(38,4)")
    val agg = df.filter(v.isNotNull)
      .agg(count(lit(1)).as("n"), sum(v).as("_s1"),
        sum(v2).as("_s2"),
        sum((v2 * v).cast("decimal(38,6)")).as("_s3"),
        sum((v2 * v2).cast("decimal(38,8)")).as("_s4"))
    val nD = col("n").cast("double")
    val mu = col("_s1").cast("double") / nD
    val m2 = col("_s2").cast("double") / nD - mu * mu
    val m3 = col("_s3").cast("double") / nD -
      lit(3.0) * mu * (col("_s2").cast("double") / nD) +
      lit(2.0) * mu * mu * mu
    val m4 = col("_s4").cast("double") / nD -
      lit(4.0) * mu * (col("_s3").cast("double") / nD) +
      lit(6.0) * mu * mu * (col("_s2").cast("double") / nD) -
      lit(3.0) * mu * mu * mu * mu
    val skew = m3 / sqrt(m2 * m2 * m2)
    val kurt = m4 / (m2 * m2) - lit(3.0)
    val jb = nD / lit(6.0) * (skew * skew + kurt * kurt / lit(4.0))
    agg.select(col("n"),
      when(m2 > 0, round(skew, 6)).as("skewness"),
      when(m2 > 0, round(kurt, 6)).as("ex_kurtosis"),
      when(m2 > 0 && col("n") >= 4, round(jb, 6)).as("jb"))
  }

  /** Ljung–Box portmanteau test on a PRE-AGGREGATED ordered series
    * (the [[cusum]]/[[acf]] contract): Q = n(n+2)·Σ_{k≤m} r_k²/(n−k)
    * over the first m [[acf]] autocorrelations ~ χ²(m) under white
    * noise — "is there ANY autocorrelation left", the residual check
    * after a seasonal/Holt fit. Reuses [[acf]]'s exact-moment r_k
    * (already 6 dp), per-lag terms quantize at 9 dp into an exact
    * decimal sum, one closing expression. The acf collect is bounded
    * by `maxLag`; the extra count folds the bounded series once more.
    */
  def ljungBox(df: DataFrame, tCol: String, valueCol: String,
               maxLag: Int, precision: Int = 9,
               scale: Int = 2): DataFrame = {
    val rTab = acf(df, tCol, valueCol, maxLag, precision, scale)
      .collect() // bounded: maxLag rows
    val n = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(LimbMoments.units(valueCol, precision, scale).as("_u"))
      .filter(col("_u").isNotNull).count()
    def r9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    val terms = rTab.flatMap { r =>
      Option(r.getAs[java.lang.Double]("r")).map { rk =>
        val k = r.getAs[Long]("lag")
        r9(rk.doubleValue * rk.doubleValue / (n - k))
      }
    }
    val sum9 = terms.foldLeft(java.math.BigDecimal.ZERO)(_ add _)
    val q: java.lang.Double =
      if (terms.length < maxLag) null
      else java.math.BigDecimal.valueOf(
        n.toDouble * (n + 2) * sum9.doubleValue)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(n, maxLag.toLong, q)), 1),
      StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("max_lag", LongType, nullable = false),
        StructField("q_stat", DoubleType, nullable = true))))
  }

  /** Empirical-Bayes (beta-binomial, method-of-moments) shrinkage of
    * per-group rates — the fix for "this source has 3 documents and a
    * 100% pass rate": fit Beta(α, β) to the observed group rates, then
    * report each group's posterior mean (pos+α)/(n+α+β). Small groups
    * pull hard toward the prior; big groups barely move. THE ranking
    * you want before sorting sources by quality.
    *
    * Exactness: group rates quantize at 9 dp, their moments fold as
    * exact decimals (rate² is exact at 18 dp), and the MoM prior plus
    * every shrunk rate is a fixed-order double expression. When the
    * rate variance carries no signal (v ≤ 0 or the implied α+β ≤ 0 —
    * under-dispersed flukes), shrunk_rate is NULL and raw survives.
    * Shape: one grouped fold, one bounded-table fold, broadcast back.
    */
  def ebShrinkage(df: DataFrame, groupCol: String,
                  success: Column): DataFrame = {
    val g = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("pos"))
    // width 18: the rate square must stay a ≤38-digit decimal in EVERY
    // engine (a wider operand decays to double mid-oracle)
    val rate = round(col("pos").cast("double") / col("n"), 9)
      .cast("decimal(18,9)")
    val mom = g.select(rate.as("_r"))
      .agg(count(lit(1)).as("_k"), sum("_r").as("_sr"),
        sum(col("_r") * col("_r")).as("_sr2"))
    val kD = col("_k").cast("double")
    val m = col("_sr").cast("double") / kD
    val v = (col("_k") * col("_sr2") - (col("_sr") * col("_sr")))
      .cast("double") / (kD * (kD - lit(1.0)))
    val ab = m * (lit(1.0) - m) / v - lit(1.0)
    val prior = mom.select(col("_k").as("n_groups"),
      round(m, 6).as("prior_mean"),
      when(col("_k") >= 2 && v > 0 && ab > 0, round(ab * m, 6))
        .as("alpha"),
      when(col("_k") >= 2 && v > 0 && ab > 0,
        round(ab * (lit(1.0) - m), 6)).as("beta"))
    g.crossJoin(broadcast(prior))
      .select(col("grp"), col("n"), col("pos"),
        round(col("pos").cast("double") / col("n"), 6).as("raw_rate"),
        col("n_groups"), col("prior_mean"), col("alpha"), col("beta"),
        round((col("pos").cast("double") + col("alpha")) /
          (col("n").cast("double") + col("alpha") + col("beta")), 6)
          .as("shrunk_rate"))
  }

  /** Mantel–Haenszel pooled odds ratio + the CMH test across strata —
    * the confounder-adjusted [[oddsRatio]]: each stratum contributes
    * its own 2×2, so a lurking stratum variable (year, region, source)
    * cannot manufacture or mask the association (Simpson's reversal is
    * exactly what this guards). Returns (n_strata, or_mh, chi2_cmh) —
    * no continuity correction, documented.
    *
    * Shape: one grouped fold to per-stratum cells; per-stratum terms
    * (ad/n, bc/n, E, V) quantize at 9 dp into exact decimal sums; the
    * closing ratio and χ² are fixed-order doubles.
    */
  def mantelHaenszel(df: DataFrame, stratumCol: String,
                     exposure: Column, outcome: Column): DataFrame = {
    val cells = df.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol).as("_s"))
      .agg(sum(when(exposure && outcome, 1L).otherwise(0L)).as("_a"),
        sum(when(exposure && !outcome, 1L).otherwise(0L)).as("_b"),
        sum(when(!exposure && outcome, 1L).otherwise(0L)).as("_c"),
        sum(when(!exposure && !outcome, 1L).otherwise(0L)).as("_d"))
    val n = (col("_a") + col("_b") + col("_c") + col("_d"))
      .cast("double")
    def t9(c: Column): Column = round(c, 9).cast("decimal(28,9)")
    val e = (col("_a") + col("_b")).cast("double") *
      (col("_a") + col("_c")) / n
    val v = (col("_a") + col("_b")).cast("double") *
      (col("_c") + col("_d")) * (col("_a") + col("_c")) *
      (col("_b") + col("_d")) / (n * n * (n - lit(1.0)))
    val agg = cells.filter(n > 1)
      .agg(count(lit(1)).as("n_strata"),
        sum("_a").cast("long").as("_sa"),
        sum(t9(col("_a").cast("double") * col("_d") / n)).as("_ad"),
        sum(t9(col("_b").cast("double") * col("_c") / n)).as("_bc"),
        sum(t9(e)).as("_e"), sum(t9(v)).as("_v"))
    val dev = col("_sa").cast("double") - col("_e").cast("double")
    agg.select(col("n_strata"),
      when(col("_bc").cast("double") > 0,
        round(col("_ad").cast("double") / col("_bc").cast("double"), 6))
        .as("or_mh"),
      when(col("_v").cast("double") > 0,
        round(dev * dev / col("_v").cast("double"), 6)).as("chi2_cmh"))
  }

  /** Cochran–Armitage trend test: IS the success rate monotone in an
    * ORDERED dose (discount tier, spend band, model-size bucket)? The
    * χ² independence test ignores order and wastes its power; CA
    * scores each group and tests the linear contrast:
    * T = Σsᵢ(rᵢ − nᵢp̄), Var = p̄(1−p̄)(Σnᵢsᵢ² − (Σnᵢsᵢ)²/N),
    * z = T/√Var. `scoreCol` must be integral (the natural dose codes)
    * so every sum is EXACT until the closing doubles.
    * ONE grouped fold to the bounded dose table, one closing fold.
    */
  def cochranArmitage(df: DataFrame, scoreCol: Column,
                      success: Column): DataFrame = {
    val s = scoreCol.cast("long")
    val g = df.filter(s.isNotNull)
      .groupBy(s.as("_s"))
      .agg(count(lit(1)).as("_n"),
        sum(when(success, 1L).otherwise(0L)).as("_r"))
    val agg = g.agg(count(lit(1)).as("n_groups"),
      sum("_n").cast("long").as("n"),
      sum("_r").cast("long").as("r"),
      sum(col("_s").cast("decimal(38,0)") * col("_r")).as("_sr"),
      sum(col("_s").cast("decimal(38,0)") * col("_n")).as("_sn"),
      sum((col("_s").cast("decimal(38,0)") * col("_s"))
        .cast("decimal(38,0)") * col("_n")).as("_s2n"))
    val nD = col("n").cast("double")
    val pBar = col("r").cast("double") / nD
    val tStat = col("_sr").cast("double") -
      pBar * col("_sn").cast("double")
    val varT = pBar * (lit(1.0) - pBar) *
      (col("_s2n").cast("double") -
        col("_sn").cast("double") * col("_sn").cast("double") / nD)
    agg.select(col("n_groups"), col("n"), col("r"),
      round(pBar, 6).as("p_bar"),
      when(varT > 0, round(tStat / sqrt(varT), 6)).as("z"))
  }

  /** Seasonal and trend STRENGTH of a decomposed series (Hyndman's
    * Fs/Ft): Fs = max(0, 1 − var(resid)/var(seasonal+resid)),
    * Ft = max(0, 1 − var(resid)/var(trend+resid)) — the scalar answer
    * to "does this metric actually have a weekly shape worth modeling"
    * after [[decomposeSeasonal]] (whose component table this consumes
    * in ONE aggregation). Components are already 6 dp-quantized, so
    * their sums fold as exact decimals; the variances and strengths
    * are fixed-order closing doubles.
    */
  def seasonalStrength(df: DataFrame, tCol: String, valueCol: String,
                       period: Int,
                       precision: Int = 9, scale: Int = 2): DataFrame = {
    val comp = decomposeSeasonal(df, tCol, valueCol, period,
      precision, scale)
      .filter(col("resid").isNotNull)
    def d6(c: Column): Column = c.cast("decimal(18,6)")
    val agg = comp.agg(count(lit(1)).as("n"),
      sum(d6(col("resid"))).as("_sr"),
      sum((d6(col("resid")) * d6(col("resid"))).cast("decimal(38,12)"))
        .as("_sr2"),
      sum(d6(col("seasonal") + col("resid"))).as("_ss"),
      sum((d6(col("seasonal") + col("resid")) *
        d6(col("seasonal") + col("resid"))).cast("decimal(38,12)"))
        .as("_ss2"),
      sum(d6(col("trend") + col("resid"))).as("_st"),
      sum((d6(col("trend") + col("resid")) *
        d6(col("trend") + col("resid"))).cast("decimal(38,12)"))
        .as("_st2"))
    val nD = col("n").cast("double")
    def variance(s: Column, q: Column): Column =
      (col("n") * q - (s * s).cast("decimal(38,12)")).cast("double") /
        (nD * (nD - lit(1.0)))
    val vR = variance(col("_sr"), col("_sr2"))
    val vS = variance(col("_ss"), col("_ss2"))
    val vT = variance(col("_st"), col("_st2"))
    agg.select(col("n"), round(vR, 6).as("var_resid"),
      when(col("n") >= 2 && vS > 0,
        round(greatest(lit(0.0), lit(1.0) - vR / vS), 6))
        .as("f_seasonal"),
      when(col("n") >= 2 && vT > 0,
        round(greatest(lit(0.0), lit(1.0) - vR / vT), 6))
        .as("f_trend"))
  }

  /** First-order partial correlation r_xy·z — the x↔y association with
    * the confounder z LINEARLY held fixed:
    * (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)). The one-control version
    * of "is this feature correlated with the label or just with
    * traffic". Consumes [[corrMatrix]]'s three 6 dp coefficients
    * (bounded collect) and closes with one fixed-order double
    * expression; NULL when either control correlation is ±1.
    */
  def partialCorr(df: DataFrame, xCol: String, yCol: String,
                  zCol: String): DataFrame = {
    val rs = corrMatrix(df, Seq(xCol, yCol, zCol)).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (Option(r.getAs[java.lang.Double]("r")), r.getAs[Long]("n")))
      .toMap
    def get(a: String, b: String) =
      rs.getOrElse((a, b), rs((b, a)))
    val (rxyO, n) = get(xCol, yCol)
    val (rxzO, _) = get(xCol, zCol)
    val (ryzO, _) = get(yCol, zCol)
    val part: java.lang.Double = (rxyO, rxzO, ryzO) match {
      case (Some(rxy), Some(rxz), Some(ryz))
        if math.abs(rxz) < 1.0 && math.abs(ryz) < 1.0 =>
        java.math.BigDecimal.valueOf(
          (rxy - rxz * ryz) /
            math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      case _ => null
    }
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(n,
        rxyO.orNull, rxzO.orNull, ryzO.orNull, part)), 1),
      StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("r_xy", DoubleType, nullable = true),
        StructField("r_xz", DoubleType, nullable = true),
        StructField("r_yz", DoubleType, nullable = true),
        StructField("r_partial", DoubleType, nullable = true))))
  }

  /** Hill estimator of the power-law tail index over the k largest
    * values: α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) — the quantitative "how heavy
    * is this tail" companion to [[Distribution.meanExcess]]'s shape
    * diagnostic and [[zipfFit]]'s rank regression (Hill is the MLE on
    * the tail alone; small α ⇒ whale-dominated metric). Returns
    * (k, x_threshold, alpha); NULL α when the top values are all tied
    * with the threshold (zero log-sum).
    *
    * Shape: one TakeOrdered(k+1) — the ONLY data that ever leaves the
    * executors is the k+1 top values (k ≤ 10000 guarded); the log
    * terms quantize at 9 dp into an exact decimal sum on the driver.
    */
  def hillAlpha(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 10000,
      "k in [2, 10000] — the top-k collect must stay model-sized")
    val v = col(valueCol).cast("double")
    val top = df.filter(v.isNotNull && v > 0)
      .select(v.as("_v")).orderBy(col("_v").desc).limit(k + 1)
      .collect().map(_.getDouble(0))
    require(top.length == k + 1,
      s"hillAlpha: needs at least ${k + 1} positive rows, got ${top.length}")
    val xk1 = top.last
    def r9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    val logSum = top.take(k)
      .map(x => r9(math.log(x / xk1)))
      .foldLeft(java.math.BigDecimal.ZERO)(_ add _)
    val alpha: java.lang.Double =
      if (logSum.signum <= 0) null
      else java.math.BigDecimal.valueOf(k.toDouble / logSum.doubleValue)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(k.toLong, xk1, alpha)), 1),
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("x_threshold", DoubleType, nullable = false),
        StructField("alpha", DoubleType, nullable = true))))
  }

  /** Benjamini–Yekutieli FDR adjustment — [[bhAdjust]]'s conservative
    * sibling that stays valid under ARBITRARY dependence between the
    * tests (BH assumes independence/PRDS; a battery of overlapping
    * segments is neither): p_adj = min-from-top of p·m·H(m)/rank with
    * H(m) the m-th harmonic number. Same distinct-p machinery as
    * [[bhAdjust]]; H folds as an exact decimal sum of 9 dp-quantized
    * reciprocals so any engine replays it.
    */
  def byAdjust(df: DataFrame, pCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0, 1)")
    import org.apache.spark.sql.expressions.Window
    val counts = df.filter(col(pCol).isNotNull)
      .groupBy(col(pCol).cast("double").as("_p"))
      .agg(count(lit(1)).as("_n"))
    val byP = Window.orderBy("_p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fromTop = Window.orderBy(col("_p").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val harm = aggregate(sequence(lit(1L), col("_m")),
      lit(java.math.BigDecimal.ZERO.setScale(9)).cast("decimal(28,9)"),
      (acc, j) => (acc +
        round(lit(1.0) / j, 9).cast("decimal(28,9)")).cast("decimal(28,9)"))
    val adj = counts
      .withColumn("_i", sum("_n").over(byP))
      .withColumn("_m", sum("_n").over(all))
      // the harmonic fold materializes a 1..m sequence per row of the
      // bounded distinct-p table: refuse silly batteries loudly rather
      // than OOM (BY is for test batteries, not corpora)
      .withColumn("_h", when(col("_m") > 100000L,
        raise_error(lit("byAdjust: battery > 100000 p-values — " +
          "aggregate tests before adjusting"))).otherwise(harm.cast("double")))
      .withColumn("_raw",
        col("_p") * col("_m").cast("double") * col("_h") / col("_i"))
      .withColumn("p_adj",
        round(least(lit(1.0), min("_raw").over(fromTop)), 6))
      .select(col("_p"), col("p_adj"))
    // same no-hint rationale as bhAdjust: adj is data-derived
    df.join(adj, col(pCol).cast("double") === col("_p"), "left")
      .drop("_p")
      .withColumn("reject",
        when(col("p_adj").isNotNull, col("p_adj") <= alpha))
  }

  /** Wilcoxon signed-rank test — the nonparametric [[pairedT]]: ranks
    * of |post − pre| with signs, so one wild pair cannot buy the
    * verdict the way it buys a mean. Zero differences drop (counted);
    * ties take midranks via the doubled-midrank cell identity, and the
    * normal approximation carries the standard tie correction:
    * z = (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24 − Σ(t³−t)/48).
    *
    * Shape: one fold to the distinct-|d| cell table (per cell: positive
    * and negative multiplicities), one cumulative window over it, one
    * closing fold — exact integer/decimal arithmetic until the final
    * fixed-order doubles.
    */
  def wilcoxonSignedRank(df: DataFrame, preCol: String, postCol: String,
                         precision: Int = 18,
                         scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = (col(postCol).cast(s"decimal($precision,$scale)") -
      col(preCol).cast(s"decimal($precision,$scale)"))
      .cast(s"decimal($precision,$scale)")
    val rows = df
      .filter(col(preCol).isNotNull && col(postCol).isNotNull)
      .select(d.as("_d"))
    val zeros = rows.agg(
      sum(when(col("_d") === 0, 1L).otherwise(0L)).as("n_zero"))
    val cells = rows.filter(col("_d") =!= 0)
      .groupBy(abs(col("_d")).as("_a"))
      .agg(sum(when(col("_d") > 0, 1L).otherwise(0L)).as("_cp"),
        count(lit(1)).as("_c"))
    val cum = Window.orderBy("_a")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = col("_c").cast("decimal(38,0)")
    val agg = cells
      .withColumn("_before", sum("_c").over(cum) - col("_c"))
      .agg(
        sum(col("_cp").cast("decimal(38,0)") *
          (col("_before").cast("decimal(38,0)") * 2 + t + 1)).as("_2wp"),
        sum(t * t * t - t).as("_ties"),
        sum("_c").cast("long").as("n_pairs"))
    val nD = col("n_pairs").cast("double")
    val wPlus = col("_2wp").cast("double") / lit(2.0)
    val mu = nD * (nD + lit(1.0)) / lit(4.0)
    val sig2 = nD * (nD + lit(1.0)) * (lit(2.0) * nD + lit(1.0)) /
      lit(24.0) - col("_ties").cast("double") / lit(48.0)
    agg.crossJoin(broadcast(zeros))
      .select(col("n_pairs"), col("n_zero"),
        round(wPlus, 6).as("w_plus"),
        when(col("n_pairs") >= 1 && sig2 > 0,
          round((wPlus - mu) / sqrt(sig2), 6)).as("z"))
  }

  /** Linearly WEIGHTED Cohen's κ for ORDINAL raters (integral codes):
    * disagreeing by one tier costs 1/(k−1), by two tiers 2/(k−1) — the
    * agreement metric for Likert-style labels where [[cohensKappa]]'s
    * all-or-nothing disagreement throws information away.
    * κw = (po_w − pe_w)/(1 − pe_w) with w_ij = 1 − |i−j|/(k−1) over the
    * ordered category codes.
    *
    * Shape: one fold to the bounded cell table, margin folds FROM it,
    * per-cell terms at 9 dp into exact decimal sums (the cell table
    * persists across the category-count action — the friedman
    * discipline — and the one-row result materializes eagerly).
    */
  def weightedKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    Materialize.within(df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("long").as("_i"),
        col(bCol).cast("long").as("_j"))
      .agg(count(lit(1)).as("_c"))) { cells =>
      val cats = cells.select(col("_i").as("_k"))
        .union(cells.select(col("_j"))).distinct()
        .agg(min("_k").as("_lo"), max("_k").as("_hi"),
          count(lit(1)).as("_nc")).head()
      val k = cats.getLong(2)
      require(k >= 2, "weightedKappa needs at least 2 categories")
      val span = (cats.getLong(1) - cats.getLong(0)).toDouble
      require(span > 0, "weightedKappa: degenerate category span")
      // weights use the CODE distance over the observed span (so codes
      // 0..10 and 90..100 weigh identically)
      val w = lit(1.0) -
        abs(col("_i") - col("_j")).cast("double") / lit(span)
      val rTot = cells.groupBy("_i").agg(sum("_c").as("_ri"))
      val cTot = cells.groupBy("_j").agg(sum("_c").as("_cj"))
      val n = cells.agg(sum("_c")).head().getLong(0)
      val po = cells
        .select(round(w * col("_c"), 9).cast("decimal(28,9)").as("_t"))
        .agg(sum("_t").cast("double").as("_po")).head().getDouble(0) / n
      // expected weighted agreement over the margin product table
      // (bounded k x k)
      val pe = rTot.crossJoin(cTot)
        .select(round(
          (lit(1.0) - abs(col("_i") - col("_j")).cast("double") /
            lit(span)) *
            (col("_ri").cast("double") * col("_cj")), 9)
          .cast("decimal(28,9)").as("_t"))
        .agg(sum("_t").cast("double").as("_pe")).head()
        .getDouble(0) / (n.toDouble * n)
      def r6(x: Double) = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      val kw: java.lang.Double =
        if (pe >= 1.0) null else r6((po - pe) / (1.0 - pe))
      val spark = df.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(Row(n, k, r6(po), r6(pe), kw)), 1),
        StructType(Seq(
          StructField("n", LongType, nullable = false),
          StructField("k", LongType, nullable = false),
          StructField("po_w", DoubleType, nullable = false),
          StructField("pe_w", DoubleType, nullable = false),
          StructField("kappa_w", DoubleType, nullable = true))))
    }
  }

  /** Gwet's AC1 inter-rater agreement — [[cohensKappa]] without the
    * prevalence paradox: kappa craters when one label dominates (two
    * raters agreeing "not spam" 98% of the time score near zero
    * because CHANCE agreement is defined off the skewed margins); AC1's
    * chance term e = 1/(k−1)·Σ_q π_q(1−π_q) with π_q the AVERAGE
    * margin stays calibrated. The default agreement number for
    * LLM-judge vs human audits on skewed labels.
    * AC1 = (po − e)/(1 − e).
    *
    * Shape: one fold to the bounded cell table, margin folds FROM it,
    * 9 dp chance terms into an exact decimal sum; persist + eager-row
    * (the friedman discipline).
    */
  def gwetAC1(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    Materialize.within(df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("_a"),
        col(bCol).cast("string").as("_b"))
      .agg(count(lit(1)).as("_c"))) { cells =>
      val aTot = cells.groupBy("_a").agg(sum("_c").as("_ra"))
      val bTot = cells.groupBy("_b").agg(sum("_c").as("_rb"))
      val cats = aTot.select(col("_a").as("_q"), col("_ra").as("_m"))
        .unionByName(bTot.select(col("_b").as("_q"), col("_rb").as("_m")))
        .groupBy("_q").agg(sum("_m").as("_mm"))
      val g = cells.agg(sum("_c").as("_n"),
        sum(when(col("_a") === col("_b"), col("_c")).otherwise(0L))
          .as("_agree")).head()
      val (n, agree) = (g.getAs[Long]("_n"), g.getAs[Long]("_agree"))
      require(n >= 1, "gwetAC1 needs at least 1 pair")
      val kRow = cats.agg(count(lit(1)).as("_k"),
        sum(round({
          val pi = col("_mm").cast("double") / lit(2.0 * n)
          pi * (lit(1.0) - pi)
        }, 9).cast("decimal(28,9)")).as("_e")).head()
      val k = kRow.getLong(0)
      require(k >= 2, "gwetAC1 needs at least 2 categories")
      def r6(x: Double) = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      val po = r6(agree.toDouble / n)
      val e = r6(kRow.getDecimal(1).doubleValue / (k - 1))
      val ac1: java.lang.Double =
        if (e >= 1.0) null else r6((po - e) / (1.0 - e))
      val spark = df.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(n, k, po, e, ac1)), 1),
        StructType(Seq(
          StructField("n", LongType, nullable = false),
          StructField("k", LongType, nullable = false),
          StructField("po", DoubleType, nullable = false),
          StructField("pe_gwet", DoubleType, nullable = false),
          StructField("ac1", DoubleType, nullable = true))))
    }
  }

  /** G-test (likelihood-ratio χ²) of independence between two
    * categoricals: G = 2·Σ O·ln(O/E) — [[chiSquare]]'s
    * information-theoretic twin (G/2n IS the mutual information in
    * nats), additive across partitions where Pearson's χ² is not.
    * Zero-observed cells contribute zero.
    *
    * Shape: one fold to the bounded cell table, margins FROM it,
    * per-cell terms at 9 dp into an exact decimal sum, one closing
    * double. df = (R−1)(C−1) reported alongside.
    */
  def gTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("_a"),
        col(bCol).cast("string").as("_b"))
      .agg(count(lit(1)).as("_o"))
    val aTot = cells.groupBy("_a").agg(sum("_o").as("_ra"),
      count(lit(1)).as("_one"))
    val bTot = cells.groupBy("_b").agg(sum("_o").as("_cb"))
    val tot = cells.agg(sum("_o").as("_n"))
    val e = col("_ra").cast("double") * col("_cb") / col("_n")
    val term = round(col("_o").cast("double") *
      log(col("_o").cast("double") / e), 9).cast("decimal(28,9)")
    val dims = cells
      .agg(count_distinct(col("_a")).as("_r"),
        count_distinct(col("_b")).as("_c"))
    cells.join(aTot.select("_a", "_ra"), "_a").join(bTot, "_b")
      .crossJoin(broadcast(tot))
      .agg(first("_n").cast("long").as("n"), sum(term).as("_g2"))
      .crossJoin(broadcast(dims))
      .select(col("n"),
        ((col("_r") - 1) * (col("_c") - 1)).cast("long").as("df"),
        round(lit(2.0) * col("_g2").cast("double"), 6).as("g"))
  }

  /** Effective sample size of a weighted corpus (Kish):
    * ESS = (Σw)²/Σw² — how many UNWEIGHTED examples this importance-
    * weighted mixture is actually worth. The first number to check
    * after DSIR/temperature reweighting: an ESS ratio near zero means
    * a few documents carry the whole distribution. Non-positive
    * weights drop (and are counted). ONE fold of exact decimal sums,
    * two rounded closing divisions.
    */
  def effectiveSampleSize(df: DataFrame, weightCol: String,
                          precision: Int = 18,
                          scale: Int = 6): DataFrame = {
    val w = col(weightCol).cast(s"decimal($precision,$scale)")
    val agg = df.filter(w.isNotNull)
      .agg(sum(when(w > 0, 1L).otherwise(0L)).as("n"),
        sum(when(w <= 0, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(w > 0, w)).as("_sw"),
        sum(when(w > 0, (w * w).cast("decimal(38,12)"))).as("_sw2"))
    val ess = (col("_sw").cast("double") * col("_sw").cast("double")) /
      col("_sw2").cast("double")
    agg.select(col("n"), col("n_dropped"),
      when(col("n") > 0, round(ess, 6)).as("ess"),
      when(col("n") > 0, round(ess / col("n"), 6)).as("ess_ratio"))
  }

  /** 2×2 odds ratio with the Woolf log-interval — the epidemiology/
    * feature-screen readout (exposure × outcome): OR = ad/bc,
    * CI = exp(ln OR ± z·√(1/a+1/b+1/c+1/d)). Any empty cell yields
    * NULL ratio columns (the caller can Haldane-correct upstream if
    * they want estimates from sparse tables) — counts always return.
    * ONE map-side-combined aggregation to four exact integers.
    */
  def oddsRatio(df: DataFrame, exposure: Column, outcome: Column,
                zCrit: Double = 1.959964): DataFrame = {
    val agg = df.agg(
      sum(when(exposure && outcome, 1L).otherwise(0L)).as("a"),
      sum(when(exposure && !outcome, 1L).otherwise(0L)).as("b"),
      sum(when(!exposure && outcome, 1L).otherwise(0L)).as("c"),
      sum(when(!exposure && !outcome, 1L).otherwise(0L)).as("d"))
    val ok = col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0
    // multiply in doubles, not longs: a·d in int64 overflows at ~3e9²
    val or = col("a").cast("double") * col("d") /
      (col("b").cast("double") * col("c"))
    val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
      lit(1.0) / col("c") + lit(1.0) / col("d"))
    agg.select(col("a"), col("b"), col("c"), col("d"),
      when(ok, round(or, 6)).as("odds_ratio"),
      when(ok, round(exp(log(or) - lit(zCrit) * se), 6)).as("ci_lo"),
      when(ok, round(exp(log(or) + lit(zCrit) * se), 6)).as("ci_hi"))
  }

  /** Hodges–Lehmann two-sample shift: the MEDIAN of all n₁·n₂ pairwise
    * differences g1 − g2 — the location estimate the Mann–Whitney test
    * inverts to, robust to outliers that wreck a difference of means
    * (the standard "how much did the metric actually move" companion
    * to [[cliffsDelta]]'s "how consistently").
    *
    * Never materializes the pair set row-wise: both cohorts collapse to
    * their distinct-value tables first ([[cohortCounts]]), and pairing
    * happens on VALUE CELLS with multiplicity weights ca·cb — the
    * kendallTau cell-table trick — guarded by `maxPairCells` on the
    * cell-pair product (pre-bin wide-cardinality metrics first; the
    * guard message names the remedy). The weighted median reads two
    * order statistics off one cumulative window over the bounded
    * distinct-difference table; with an even pair count the two middle
    * ranks average. Differences subtract in exact integer units, so the
    * only doubles are the final (d₁+d₂)/2 descale — engine-replayable.
    */
  /** The cell-pairing stage of [[hodgesLehmannShift]]: pair mass per
    * distinct difference over the guarded cell table `counts(_v,_c1,_c2)`.
    * Factored out so the plan shape (broadcast pairing, never a
    * cartesian or a row-level pair set) stays auditable.
    */
  private[graft] def hlDiffMassPlan(counts: DataFrame): DataFrame = {
    val a = counts.filter(col("_c1") > 0)
      .select(col("_v").as("_va"), col("_c1").as("_ca"))
    val b = counts.filter(col("_c2") > 0)
      .select(col("_v").as("_vb"), col("_c2").as("_cb"))
    // the broadcast keeps the bounded pairing exchange-free above the
    // two cell scans
    a.crossJoin(broadcast(b))
      .groupBy((col("_va") - col("_vb")).as("_d"))
      .agg(sum(col("_ca").cast("decimal(38,0)") * col("_cb")).as("_w"))
  }

  def hodgesLehmannShift(df: DataFrame, groupCol: String, valueCol: String,
                         g1: String, g2: String,
                         precision: Int = 9, scale: Int = 2,
                         maxPairCells: Long = 4000000L): DataFrame = {
    Materialize.within(
      cohortCounts(df, groupCol, valueCol, g1, g2, precision, scale)) { counts =>
      val g = counts.agg(
        sum(when(col("_c1") > 0, 1L).otherwise(0L)).as("_ka"),
        sum(when(col("_c2") > 0, 1L).otherwise(0L)).as("_kb"),
        sum("_c1").as("n1"), sum("_c2").as("n2")).head()
      val (ka, kb) = (g.getAs[Long]("_ka"), g.getAs[Long]("_kb"))
      val (n1, n2) = (g.getAs[Long]("n1"), g.getAs[Long]("n2"))
      require(n1 > 0 && n2 > 0,
        s"hodgesLehmannShift: empty cohort ($g1: $n1, $g2: $n2)")
      require(ka * kb <= maxPairCells,
        s"hodgesLehmannShift: $ka x $kb distinct-value cells exceed " +
          s"maxPairCells=$maxPairCells — pre-bin the metric " +
          "(quantile_bins / floor(v/width)) so the cell pairing stays bounded")
      // n_pairs is reported as a Long: fail fast with the remedy instead
      // of longValueExact throwing mid-query (the kendallTau r12 lesson —
      // the cell guard bounds CELLS, not row masses)
      require(n1 <= Long.MaxValue / n2,
        s"hodgesLehmannShift: n1*n2 = $n1*$n2 overflows the reported " +
          "pair count — sample the cohorts below ~3e9 rows each")
      val diffs = hlDiffMassPlan(counts)
      val cum = org.apache.spark.sql.expressions.Window.orderBy("_d")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val pairs = java.math.BigDecimal.valueOf(n1)
        .multiply(java.math.BigDecimal.valueOf(n2))
      val one = java.math.BigDecimal.ONE
      val two = java.math.BigDecimal.valueOf(2)
      // 1-based middle ranks: k1 = ceil(T/2), k2 = floor(T/2)+1 — equal
      // when T is odd; exact decimal so no float rank drift (NOTES r13)
      val k1 = pairs.add(one).divide(two, 0, java.math.RoundingMode.FLOOR)
      val k2 = pairs.add(two).divide(two, 0, java.math.RoundingMode.FLOOR)
      val row = diffs
        .withColumn("_cw", sum("_w").over(cum))
        .agg(min(when(col("_cw") >= lit(k1), col("_d"))).as("_d1"),
          min(when(col("_cw") >= lit(k2), col("_d"))).as("_d2"))
        .head()
      val d1 = row.getAs[Long]("_d1"); val d2 = row.getAs[Long]("_d2")
      // the only doubles: (d1+d2)/2 in integer units, then the descale
      val unit = math.pow(10.0, scale)
      val hl = java.math.BigDecimal.valueOf(
        (d1 + d2).toDouble / 2.0 / unit)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      val spark = df.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(Row(g1, g2, n1, n2, pairs.longValueExact, hl)), 1),
        StructType(Seq(
          StructField("g1", StringType, nullable = false),
          StructField("g2", StringType, nullable = false),
          StructField("n1", LongType, nullable = false),
          StructField("n2", LongType, nullable = false),
          StructField("n_pairs", LongType, nullable = false),
          StructField("hl_shift", DoubleType, nullable = false))))
    }
  }
}
