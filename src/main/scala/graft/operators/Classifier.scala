package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Linear quality classifier trained with distributed batch gradient
  * descent — the "small linear model over cheap features, applied to
  * everything" pattern behind fastText-style corpus quality filters
  * (features from [[TextAnalysis.qualityFeatures]], weak labels from a
  * curated seed set), rebuilt Spark-first.
  *
  * Same design point as [[Similarity.kmeansFitDistributed]]: the MODEL
  * (a dim+1 weight vector) lives on the driver, the DATA never leaves
  * the cluster. The projected feature frame (features + label only, not
  * the source rows) is persisted MEMORY_AND_DISK across iterations —
  * the standard iterative-training layout (MLlib warns when its GD input
  * is uncached); at 100 TB the projection is the narrow slice actually
  * trained on and spills to local disk rather than re-reading the
  * source. Each GD iteration is ONE pass: for moderate dims the
  * gradient is dim+1 column sums in a single two-stage (partial/final)
  * 1-row aggregate — no explode, no keyed shuffle; past `WideAggMaxDim`
  * it falls back to exploding feature positions into a
  * map-side-combined aggregation with at most dim+1 groups. Either way
  * the reduction is model-sized at any corpus size. Prediction is a
  * narrow codegen'd pass (the weight vector rides in the
  * [[graft.functions.DotProduct]] kernel's plan).
  *
  * Deterministic given the data up to float-sum order (~1e-13 in the
  * gradient); predictions are stable wherever |w.x| exceeds that, so a
  * margin-filtered evaluation is layout-independent.
  */
object Classifier {

  /** Augment features with the leading 1.0 bias term (codegen'd array
    * cast, no interpreted HOF lambda in the per-row path).
    */
  private def augmented(vec: Column): Column =
    concat(array(lit(1.0)), vec.cast("array<double>"))

  /** w rides as ONE array literal (a codegen reference object), not
    * dim+1 inlined scalar literals: the generated source is then
    * byte-identical across GD iterations, so the codegen cache reuses
    * the compiled class instead of paying a Janino compile per step.
    */
  private def marginCol(vec: Column, w: Array[Double]): Column =
    graft.functions.DotProduct(augmented(vec), typedlit(w.toSeq))

  /** Fit logistic weights (bias first) by full-batch GD: up to `iters`
    * passes at learning rate `lr` (scaled by 1/n), stopping early when
    * the mean-gradient norm drops under `tol` (each pass is a full
    * corpus scan — not spending passes after convergence matters at
    * 100 TB). `labelCol` must be 0/1.
    */
  /** Past this dimension, one agg row of dim+1 sum columns stops being
    * the cheap plan (codegen width, row size) and the exploded
    * model-sized groupBy takes over.
    */
  val WideAggMaxDim = 256

  def fitLogistic(df: DataFrame, vecCol: String, labelCol: String,
                  iters: Int = 30, lr: Double = 5.0,
                  tol: Double = 1e-4): Array[Double] = {
    require(iters >= 1 && lr > 0, "iters >= 1, lr > 0")
    Materialize.within(df
      .select(col(vecCol).cast("array<double>").as("_x"),
        col(labelCol).cast("double").as("_y"))) { feats =>
      val dim = feats.select(size(col("_x"))).head().getInt(0)
      var w = new Array[Double](dim + 1)
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        val resid = (lit(1.0) / (lit(1.0) + exp(-marginCol(col("_x"), w)))) -
          col("_y")
        // per-iteration gradient, accumulated (g_0..g_dim, n) on the driver
        val grads = new Array[Double](dim + 1)
        var n = 0.0
        if (dim + 1 <= WideAggMaxDim) {
          // single 1-row aggregate: g_i = sum(r * x_i), bias x_0 = 1
          val sums = sum(col("_r")).as("_g0") +:
            (1 to dim).map(i =>
              sum(col("_r") * element_at(col("_x"), i)).as(s"_g$i")) :+
            count(lit(1)).as("_n")
          val row = feats.select(resid.as("_r"), col("_x"))
            .agg(sums.head, sums.tail: _*).head()
          n = row.getAs[Long]("_n").toDouble
          var i = 0
          while (i <= dim) { grads(i) = row.getDouble(i); i += 1 }
        } else {
          val stats = feats
            .select(resid.as("r"), posexplode(augmented(col("_x"))).as(Seq("i", "x")))
            .groupBy("i").agg(sum(col("r") * col("x")).as("g"), count(lit(1)).as("n"))
            .collect() // dim+1 rows: model-sized, never corpus-sized
          n = stats.head.getAs[Long]("n").toDouble
          stats.foreach(row => grads(row.getInt(0)) = row.getAs[Double]("g"))
        }
        var gNorm2 = 0.0
        var i = 0
        while (i <= dim) {
          val gi = grads(i) / n
          w(i) -= lr * gi
          gNorm2 += gi * gi
          i += 1
        }
        converged = math.sqrt(gNorm2) < tol
        it += 1
      }
      w
    }
  }

  /** Narrow scoring pass: (idCol, margin, pred) with pred = margin > 0. */
  def predictLogistic(df: DataFrame, idCol: String, vecCol: String,
                      w: Array[Double]): DataFrame =
    df.select(col(idCol), marginCol(col(vecCol), w).as("margin"),
      (marginCol(col(vecCol), w) > 0).as("pred"))

  /** Best single split of a numeric feature against a binary label —
    * the CART stump / feature-screening primitive: over every distinct
    * feature value v, the weighted Gini impurity of the partition
    * (x ≤ v | x > v), returning the argmin split with both the split
    * and baseline impurities (their gap is the feature's one-split
    * usefulness).
    *
    * Shape: one fold to the distinct-value table, cumulative
    * pos/count windows over it, a TakeOrdered(1) argmin — the corpus
    * never sorts, candidates = distinct values (pre-bin wide-
    * cardinality features; the guard names it). Impurities quantize at
    * 9 dp so the argmin tie-breaks identically (then toward the
    * smaller split) in any engine.
    */
  def bestSplit(df: DataFrame, featureCol: String, label: Column,
                maxCandidates: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(featureCol).cast("double")
    Materialize.within(df.filter(v.isNotNull)
      .groupBy(v.as("_v"))
      .agg(count(lit(1)).as("_c"),
        sum(when(label, 1L).otherwise(0L)).as("_p"))) { cells =>
      val g = cells.agg(count(lit(1)).as("k"), sum("_c").as("n"),
        sum("_p").as("p")).head()
      val (k, n, p) = (g.getLong(0), g.getLong(1), g.getLong(2))
      require(k <= maxCandidates,
        s"bestSplit: $k distinct values > maxCandidates=$maxCandidates " +
          "— bin the feature first (quantile_bins / floor(v/width))")
      require(k >= 2, "bestSplit needs at least 2 distinct values")
      val cum = Window.orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def gini(pos: Column, cnt: Column): Column = {
        val pr = pos.cast("double") / cnt
        lit(1.0) - pr * pr - (lit(1.0) - pr) * (lit(1.0) - pr)
      }
      val nl = sum("_c").over(cum)
      val pl = sum("_p").over(cum)
      val nr = lit(n) - nl
      val pr = lit(p) - pl
      val weighted = round(
        nl.cast("double") / lit(n.toDouble) * gini(pl, nl) +
          nr.cast("double") / lit(n.toDouble) * gini(pr, nr), 9)
      val base = java.math.BigDecimal.valueOf {
        val q = p.toDouble / n
        1.0 - q * q - (1.0 - q) * (1.0 - q)
      }.setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
      val row = cells
        .withColumn("_nl", nl).withColumn("_gini", weighted)
        .filter(col("_nl") < n) // the empty right partition is no split
        .orderBy(col("_gini"), col("_v"))
        .limit(1)
        .select(col("_v"), col("_nl"), col("_gini"))
        .head()
      val spark = df.sparkSession
      import spark.implicits._
      Seq((row.getDouble(0), row.getLong(1), n - row.getLong(1),
        row.getDouble(2), base,
        java.math.BigDecimal.valueOf(base - row.getDouble(2))
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue))
        .toDF("split_value", "n_left", "n_right", "gini_split",
          "gini_base", "gini_gain")
    }
  }

  /** Multinomial Naive Bayes over word tokens — fit. The categorical
    * sibling of [[fitLogistic]] and the actual shape of fastText-style
    * language-ID / quality filters: per-class token log-likelihoods
    * with Laplace smoothing, P(term|label) = (c + α)/(N_label + α·V).
    * Returns the MODEL as one DataFrame: seen rows (label, term, logp)
    * plus one default row per label (term NULL) carrying the
    * unseen-token log-probability and the label's log-prior. The model
    * is vocab×labels-sized — it stays distributed (localCheckpoint'ed,
    * never collected); release with [[Materialize.release]] when done.
    *
    * Engine replay: every log quantizes at 9 dp; counts, the vocabulary
    * size, and doc totals are exact integers riding as one-row
    * broadcasts, so an oracle replays the model bit-for-bit. The
    * (label, term) count table is persisted across its three derived
    * folds (the kneser-ney discipline — without it this is a 3× corpus
    * scan).
    */
  def naiveBayesFit(df: DataFrame, textCol: String, labelCol: String,
                    alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    val base = df.filter(col(labelCol).isNotNull && col(textCol).isNotNull)
      .select(col(labelCol).cast("string").as("label"),
        col(textCol).as("_txt"))
    Materialize.within(base
      .select(col("label"), explode(TextAnalysis.tokens(col("_txt"))).as("term"))
      .groupBy("label", "term").agg(count(lit(1)).as("_c"))) { tc =>
      val nl = tc.groupBy("label").agg(sum("_c").as("_n"))
      val vc = tc.agg(countDistinct(col("term")).as("_v"))
      val priors = base.groupBy("label").agg(count(lit(1)).as("_docs"))
      val tot = priors.agg(sum("_docs").as("_tot"))
      val aV = lit(alpha) * col("_v").cast("double")
      val seen = tc.join(nl, "label").crossJoin(broadcast(vc))
        .select(col("label"), col("term"),
          round(log((col("_c").cast("double") + lit(alpha)) /
            (col("_n").cast("double") + aV)), 9).as("logp"),
          lit(null).cast("double").as("log_prior"))
      // defaults derive from PRIORS (every labeled doc counts), not
      // from token totals: a label whose training docs all tokenize to
      // zero tokens has no nl row, and an inner join here would
      // silently drop its prior — making that class unpredictable
      // forever. Left-join token totals and coalesce N_label to 0 so
      // the label keeps its prior and its unseen-token default.
      val defaults = priors
        .join(nl, Seq("label"), "left")
        .withColumn("_n", coalesce(col("_n"), lit(0L)))
        .crossJoin(broadcast(vc)).crossJoin(broadcast(tot))
        .select(col("label"), lit(null).cast("string").as("term"),
          round(log(lit(alpha) /
            (col("_n").cast("double") + aV)), 9).as("logp"),
          round(log(col("_docs").cast("double") /
            col("_tot").cast("double")), 9).as("log_prior"))
      seen.unionByName(defaults).localCheckpoint(eager = true)
    }
  }

  /** Multinomial Naive Bayes — score + argmax. Each document's class
    * score is log-prior + Σ per-token log-likelihood (unseen tokens
    * take the label's default); the winner is the max score with ties
    * to the lexicographically LARGEST label (documented convention —
    * one struct-max aggregation, no per-doc window). Emits
    * (id, predicted, score). Documents with no tokens drop.
    *
    * Shape: explode tokens ×|labels| (the label alphabet is a one-row-
    * per-class design table — broadcast is cardinality-safe), one left
    * join against the seen-term model on (label, term), per-(doc,
    * label) exact decimal sum of 9-dp log terms, one struct-max fold.
    */
  def naiveBayesScore(model: DataFrame, docs: DataFrame,
                      textCol: String, idCol: String): DataFrame = {
    val labels = model.filter(col("term").isNull)
      .select(col("label"), col("logp").as("_def"), col("log_prior"))
    val seen = model.filter(col("term").isNotNull)
      .select(col("label"), col("term"), col("logp"))
    val toks = docs.filter(col(textCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))
    toks.crossJoin(broadcast(labels))
      .join(seen, Seq("label", "term"), "left")
      .select(col(idCol), col("label"), col("log_prior"),
        coalesce(col("logp"), col("_def")).cast("decimal(28,9)").as("_lp"))
      .groupBy(col(idCol), col("label"), col("log_prior"))
      .agg(sum("_lp").as("_s"))
      .select(col(idCol), col("label"),
        round(col("_s").cast("double") + col("log_prior"), 6).as("_score"))
      .groupBy(col(idCol))
      .agg(max(struct(col("_score"), col("label"))).as("_m"))
      .select(col(idCol), col("_m.label").as("predicted"),
        col("_m._score").as("score"))
  }
}
