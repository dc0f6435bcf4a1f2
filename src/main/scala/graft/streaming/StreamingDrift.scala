package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CanonicalRowHash

/** Streaming twin of the engine's core operator: continuous row drift of
  * an incoming stream against a STATIC reference side (reference:
  * lotad/db_compare.py's data drift, one direction of it — the batch
  * [[graft.operators.DriftCompare.dataDrift]] run-scan needs both sides
  * complete, so only the "arriving side not in reference" half has a
  * well-defined continuous meaning; the reference-only half is a batch
  * question by nature, answerable any time the monitor is snapshotted).
  *
  * Mechanics: both sides are canonically hashed with the SAME
  * [[CanonicalRowHash]] the batch diff uses, the stream is exact-deduped
  * on the hash (set semantics, matching the batch operator), and a
  * stream-static LEFT ANTI join emits each previously-unseen row that
  * the reference does not contain — a stateless join per micro-batch
  * against the one-time-hashed static side.
  *
  * Scale: reference state is its distinct hash set (16 bytes/row,
  * prunable to the join's hash column only); dedup state grows with the
  * stream's distinct row count — cap it with
  * `withWatermark + dropDuplicatesWithinWatermark` upstream when the
  * monitored feed is time-ordered (same trade the other streaming twins
  * document).
  */
object StreamingDrift {

  /** A running drift monitor: the drift stream plus ownership of the
    * persisted reference hash-set plan. Call [[unpersist]] when the
    * monitor stops — it frees exactly THIS monitor's cached reference,
    * so restarting monitors in a long-lived session never accumulates
    * cache entries (the old guidance, `spark.catalog.clearCache()`, was
    * a global hammer that also nuked every unrelated cached plan).
    */
  final case class Monitor(drift: DataFrame, referenceHashes: DataFrame) {
    def unpersist(): Unit = { referenceHashes.unpersist(); () }
  }

  /** Streaming PSI: the Population Stability Index of each event-time
    * window against a STATIC reference — continuous distribution-drift
    * monitoring (the streaming twin of [[graft.operators.Stats.psi]];
    * [[monitor]] watches row-level novelty, this watches the SHAPE of a
    * numeric column). The reference collapses to model-sized state via
    * [[graft.operators.Stats.psiReference]] (edges + shares, computed
    * once, broadcast as literals); each event folds to its bin per-row,
    * ONE windowed aggregation accumulates the nBins counts
    * incrementally (bounded state: nBins longs per open window), and
    * the PSI formula evaluates in the projection above it. Emits one
    * row per closed window: (window_start, window_end, n, psi) —
    * bit-identical to the batch [[graft.operators.Stats.psi]] total on
    * the same rows and reference (spec-proven).
    */
  def streamingPsi(events: DataFrame, tsCol: String, valueCol: String,
                   edgesUnits: Seq[Long], refShares: Seq[Double],
                   windowDuration: String, lateness: String = "1 hour",
                   precision: Int = 9, scale: Int = 2): DataFrame = {
    val nB = edgesUnits.size + 1
    require(refShares.size == nB,
      s"refShares must have ${nB} entries (edges + 1), got ${refShares.size}")
    val binCounts = (0 until nB).map(k =>
      sum(when(col("_bin") === k, 1L).otherwise(0L)).as(s"_b$k"))
    val total = (0 until nB).map(k => col(s"_b$k")).reduce(_ + _)
    def term(k: Int): Column = {
      val cur = greatest(round(col(s"_b$k").cast("double") / col("n"), 6),
        lit(1e-6))
      val ref = lit(math.max(refShares(k), 1e-6))
      round((cur - ref) * log(cur / ref), 6).cast("decimal(18,6)")
    }
    events
      .filter(col(valueCol).isNotNull)
      .withColumn("_bin",
        graft.operators.Stats.psiBin(valueCol, edgesUnits, precision, scale))
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(binCounts.head, binCounts.tail: _*)
      .withColumn("n", total)
      .withColumn("psi",
        (0 until nB).map(term).reduce(_ + _).cast("double"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"), col("psi"))
  }

  /** Streaming categorical-mix drift: Shannon entropy of `catCol` per
    * event-time window, with the delta against a static reference
    * entropy (the streaming twin of
    * [[graft.operators.Stats.categoricalEntropy]] — a collapsing or
    * exploding category mix moves entropy long before any single count
    * alarm fires). Same bounded-state trade as [[streamingPsi]]: the
    * category list is FIXED from the reference (one counter per
    * category + one "other" bucket per open window — never a dynamic
    * (window, category) state row), unseen categories fold into
    * "other", and the entropy formula evaluates in the projection above
    * the single windowed aggregation. Per-category −p·ln p terms are
    * quantized to DECIMAL(18,9) exactly like the batch operator, so a
    * closed window's entropy is bit-identical to
    * `categoricalEntropy` run on the same rows with the same category
    * collapsing.
    */
  def streamingEntropy(events: DataFrame, tsCol: String, catCol: String,
                       categories: Seq[String], refEntropy: Double,
                       windowDuration: String,
                       lateness: String = "1 hour"): DataFrame = {
    require(categories.nonEmpty, "categories must be non-empty")
    val nC = categories.size + 1 // + "other"
    val counts = categories.zipWithIndex.map { case (c, k) =>
      sum(when(col(catCol) === c, 1L).otherwise(0L)).as(s"_c$k")
    } :+ sum(when(col(catCol).isin(categories: _*), 0L).otherwise(1L))
      .as(s"_c${categories.size}")
    val total = (0 until nC).map(k => col(s"_c$k")).reduce(_ + _)
    def term(k: Int): Column = {
      val p = col(s"_c$k").cast("double") / col("n").cast("double")
      when(col(s"_c$k") > 0, round(-p * log(p), 9).cast("decimal(18,9)"))
        .otherwise(lit(0).cast("decimal(18,9)"))
    }
    events
      .filter(col(catCol).isNotNull)
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(counts.head, counts.tail: _*)
      .withColumn("n", total)
      .withColumn("entropy",
        round((0 until nC).map(term).reduce(_ + _).cast("double"), 6))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"),
        col("entropy"),
        round(col("entropy") - lit(refEntropy), 6).as("entropy_delta"))
  }

  /** Streaming Jensen-Shannon divergence of the categorical mix per
    * event-time window against FIXED reference shares — the streaming
    * twin of [[graft.operators.Stats.jsDivergence]] with the reference
    * side frozen (shares passed in, not recomputed per batch). Unlike
    * [[streamingPsi]]'s ε-floored KL-ish score, JSD stays finite when a
    * window contains a category the reference lacks (it folds into
    * "other" with reference share 0 — the q-half contributes
    * (q/2)·ln 2, never ∞).
    *
    * State contract mirrors [[streamingEntropy]]: one counter per
    * reference category + "other" per open window (bounded by
    * construction), the divergence evaluates in the projection above
    * the single windowed aggregation, and per-category halves quantize
    * to DECIMAL(18,9) exactly like the batch operator — a closed
    * window's jsd is bit-identical to the batch fold over the same
    * rows with the same share constants.
    */
  def streamingJsDivergence(events: DataFrame, tsCol: String, catCol: String,
                            refShares: Map[String, Double],
                            windowDuration: String,
                            lateness: String = "1 hour"): DataFrame = {
    require(refShares.nonEmpty, "refShares must be non-empty")
    require(refShares.valuesIterator.forall(s => s > 0 && s <= 1),
      "reference shares must be in (0, 1]")
    // "other" carries reference share 0, so the named categories must
    // hold ALL the reference mass — otherwise this would score against
    // a sub-distribution and the zero-drift window would not read 0
    require(math.abs(refShares.valuesIterator.sum - 1.0) < 1e-9,
      "refShares must sum to 1 (list every reference category)")
    val cats = refShares.keys.toSeq.sorted
    val nC = cats.size + 1 // + "other" (reference share 0)
    val counts = cats.zipWithIndex.map { case (c, k) =>
      sum(when(col(catCol) === c, 1L).otherwise(0L)).as(s"_c$k")
    } :+ sum(when(col(catCol).isin(cats: _*), 0L).otherwise(1L))
      .as(s"_c${cats.size}")
    val total = (0 until nC).map(k => col(s"_c$k")).reduce(_ + _)
    def term(k: Int): Column = {
      val p = if (k < cats.size) lit(refShares(cats(k))) else lit(0.0)
      val q = col(s"_c$k").cast("double") / col("n").cast("double")
      val m = (p + q) / lit(2.0)
      val pHalf =
        if (k < cats.size) round(p * log(p / m) / lit(2.0), 9) else lit(0.0)
      val qHalf = when(col(s"_c$k") > 0, round(q * log(q / m) / lit(2.0), 9))
        .otherwise(lit(0.0))
      (pHalf + qHalf).cast("decimal(18,9)")
    }
    events
      .filter(col(catCol).isNotNull)
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(counts.head, counts.tail: _*)
      .withColumn("n", total)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"),
        round((0 until nC).map(term).reduce(_ + _).cast("double"), 6)
          .as("jsd"))
  }

  /** Streaming sample-ratio-mismatch monitor: the χ² goodness-of-fit of
    * each event-time window's arm counts against the DESIGNED split —
    * the streaming twin of [[graft.operators.Experiment.srmCheck]],
    * catching a broken bucketing hash within one window of the
    * regression shipping instead of at the end-of-week readout. Arms
    * outside the design fold into an `n_unknown` column (the batch
    * operator fails fast; a monitor must keep emitting and SHOW the
    * contamination instead).
    *
    * State contract matches [[streamingEntropy]]: one counter per
    * designed arm + one unknown counter per open window, χ² evaluates
    * in the projection above the single windowed aggregation, and
    * per-arm (O−E)²/E contributions round at 6 dp into exact decimals
    * exactly like the batch operator — a closed window's chi2 is
    * bit-identical to `srmCheck` run on the same rows.
    */
  def streamingSrm(events: DataFrame, tsCol: String, armCol: String,
                   expected: Map[String, Double], windowDuration: String,
                   lateness: String = "1 hour",
                   chi2Critical: Double = 3.841459): DataFrame = {
    require(expected.nonEmpty, "expected shares must be non-empty")
    require(math.abs(expected.values.sum - 1.0) < 1e-9,
      s"expected shares must sum to 1, got ${expected.values.sum}")
    require(expected.values.forall(_ > 0),
      "expected shares must all be positive")
    val arms = expected.keys.toSeq.sorted
    val counts = arms.zipWithIndex.map { case (a, k) =>
      sum(when(col(armCol).cast("string") === a, 1L).otherwise(0L))
        .as(s"_a$k")
    } :+ sum(when(col(armCol).cast("string").isin(arms: _*), 0L)
      .otherwise(1L)).as("_unk")
    val total = arms.indices.map(k => col(s"_a$k")).reduce(_ + _)
    def contrib(k: Int): Column = {
      val e = col("n").cast("double") * lit(expected(arms(k)))
      round((col(s"_a$k").cast("double") - e) *
        (col(s"_a$k").cast("double") - e) / e, 6).cast("decimal(18,6)")
    }
    events
      .filter(col(armCol).isNotNull)
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(counts.head, counts.tail: _*)
      .withColumn("n", total)
      .withColumn("chi2",
        when(col("n") > 0,
          arms.indices.map(contrib).reduce(_ + _).cast("double")))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"),
        col("_unk").as("n_unknown"), col("chi2"),
        lit(arms.size - 1).as("dof"),
        (col("chi2") > chi2Critical).as("srm_flag"))
  }

  /** Start a drift monitor of `stream` against `reference`. The two must
    * share the (already normalized) column set — the caller aligns
    * projections the same way [[graft.operators.DriftCompare]] does for
    * batch sides.
    */
  def monitor(stream: DataFrame, reference: DataFrame): Monitor = {
    require(stream.columns.toSet == reference.columns.toSet,
      s"aligned projections required; stream-only: " +
        s"${stream.columns.toSet.diff(reference.columns.toSet)}, " +
        s"reference-only: ${reference.columns.toSet.diff(stream.columns.toSet)}")
    val cols = stream.columns.toSeq
    // stream-static joins re-evaluate the static plan EVERY micro-batch;
    // persist the hashed reference so batch 2+ reads the 16-byte hash set
    // from cache instead of rescanning + rehashing the reference table.
    // The returned Monitor owns the lifetime (Monitor.unpersist()).
    val refHashes = reference
      .select(CanonicalRowHash(struct(cols.map(c => col(s"`$c`")): _*)).as("hashed_row"))
      .distinct()
      .persist()
    val drift = stream
      .withColumn("hashed_row",
        CanonicalRowHash(struct(cols.map(c => col(s"`$c`")): _*)))
      .dropDuplicates("hashed_row")
      .join(refHashes, Seq("hashed_row"), "left_anti")
    Monitor(drift, refHashes)
  }

  /** Streaming cell-mass drift: each event-time window's embeddings are
    * assigned to a FIXED coarse quantizer and every cell reports its
    * windowed mass, share and PSI contribution against static reference
    * shares — the streaming twin of
    * [[graft.operators.Similarity.cellMassDrift]], and the localization
    * companion to [[streamingMmd]]'s single-number alarm. Completes the
    * monitor suite: row novelty ([[monitor]]), numeric shape
    * ([[streamingPsi]]), categorical mix ([[streamingEntropy]] /
    * [[streamingJsDivergence]]), embedding global ([[streamingMmd]]),
    * embedding localized (this).
    *
    * State contract mirrors [[streamingPsi]]: the centroid matrix rides
    * as a kernel reference object and the reference shares as plan
    * literals (model-sized, computed once from the reference corpus —
    * e.g. the `share1` column of a batch `cellMassDrift(ref, ref)`);
    * ONE windowed aggregation holds nCells counters per open window;
    * shares and the ε-floored 6-dp PSI terms evaluate in the
    * projection above it, matching the batch operator's arithmetic on
    * the same rows (spec-proven, PSI terms being symmetric in their
    * two arguments).
    *
    * Parity note (the precise claim): per closed window the PSI term of
    * every cell the batch operator EMITS is bit-identical to
    * `cellMassDrift(windowRows, ref)`. Coverage differs on empty cells:
    * this operator explodes ALL nC configured cells each window, while
    * the batch full-outer join omits cells absent from both sides — so
    * a cell with zero window mass and zero reference share shows up
    * here as an (ε vs ε, psi 0) row with no batch counterpart.
    *
    * Emits one row per (closed window, cell):
    * (window_start, window_end, cell, n, share, psi_term).
    */
  def streamingCellDrift(vecs: DataFrame, tsCol: String, vecCol: String,
                         centroids: Array[Array[Double]],
                         refShares: Seq[Double], windowDuration: String,
                         lateness: String = "1 hour",
                         eps: Double = 1e-6): DataFrame = {
    val nC = centroids.length
    require(refShares.size == nC,
      s"refShares must have one entry per centroid ($nC), got ${refShares.size}")
    require(eps > 0, "eps must be positive")
    val counts = (0 until nC).map(k =>
      sum(when(col("_cell") === k, 1L).otherwise(0L)).as(s"_c$k"))
    val total = (0 until nC).map(k => col(s"_c$k")).reduce(_ + _)
    val cellRows = array((0 until nC).map(k =>
      struct(lit(k.toLong).as("cell"), col(s"_c$k").as("n"),
        lit(math.max(refShares(k), eps)).as("_ref"))): _*)
    vecs
      .filter(col(vecCol).isNotNull)
      .withColumn("_cell", element_at(
        graft.functions.NearestCells(
          graft.operators.Similarity.asDouble(col(vecCol)), centroids, 1), 1)
        .cast("long"))
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(counts.head, counts.tail: _*)
      .withColumn("_n", total)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("_n"),
        explode(cellRows).as("_c"))
      .withColumn("share",
        round(col("_c.n").cast("double") / col("_n").cast("double"), 6))
      .withColumn("psi_term",
        round((greatest(col("share"), lit(eps)) - col("_c._ref")) *
          log(greatest(col("share"), lit(eps)) / col("_c._ref")), 6))
      .select(col("window_start"), col("window_end"),
        col("_c.cell").as("cell"), col("_c.n").as("n"),
        col("share"), col("psi_term"))
  }

  /** Streaming PQ codebook staleness: per-window per-subspace mean
    * reconstruction error of the embedding stream under a STATIC
    * codebook — the streaming twin of
    * [[graft.operators.Pq.reconstructionDrift]], watching the ANN
    * index's compression layer go stale in flight (error rises before
    * recall visibly degrades; the subspace split localizes which
    * dimensions moved).
    *
    * State contract mirrors [[streamingMmd]]: one
    * [[graft.functions.PqSubspaceErrors]] codegen projection per row
    * (the codebook rides as a kernel reference object), ONE windowed
    * aggregation holding m exact decimal sums + a count per open
    * window, and the mean evaluates in the projection above it with
    * the batch operator's exact arithmetic (9-dp per-row errors,
    * decimal(28,9) folds, one double division) — a closed window's
    * mse is bit-identical to `reconstructionDrift(windowRows,
    * codebooks)` on the same rows (spec-proven).
    *
    * Emits one row per (closed window, subspace):
    * (window_start, window_end, subspace, n, mse).
    */
  def streamingPqStaleness(vecs: DataFrame, tsCol: String, vecCol: String,
                           codebooks: Array[Array[Array[Double]]],
                           windowDuration: String,
                           lateness: String = "1 hour"): DataFrame = {
    val m = codebooks.length
    val errs = graft.functions.PqSubspaceErrors(col(vecCol), codebooks)
    val aggs = count(lit(1)).as("n") +: (0 until m).map(j =>
      sum(round(element_at(col("_e"), j + 1), 9).cast("decimal(28,9)"))
        .as(s"_s$j"))
    val rows = array((0 until m).map(j =>
      struct(lit(j.toLong).as("subspace"),
        (col(s"_s$j").cast("double") / col("n").cast("double"))
          .as("mse"))): _*)
    vecs
      .filter(col(vecCol).isNotNull)
      .withColumn("_e", errs)
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"),
        explode(rows).as("_r"))
      .select(col("window_start"), col("window_end"),
        col("_r.subspace").as("subspace"), col("n"),
        round(col("_r.mse"), 9).as("mse"))
  }

  /** Streaming RFF-MMD drift: the kernel two-sample statistic of each
    * event-time window's embeddings against a STATIC reference — the
    * streaming twin of [[graft.operators.Similarity.mmdDrift]], with
    * the reference collapsed to model-sized state via
    * [[graft.operators.Similarity.rffMeans]] (nFeatures doubles,
    * computed once, riding as plan literals — the psiReference
    * discipline).
    *
    * State contract mirrors [[streamingPsi]]: one
    * [[graft.functions.RffFeatures]] projection per row, ONE windowed
    * aggregation holding nFeatures exact decimal sums + a count per
    * open window (bounded by construction — never per-vector state),
    * and the MMD² formula evaluates in the projection above it with
    * the batch operator's exact arithmetic (6-dp z, decimal sums,
    * decimal(22,12) gap² fold — the under-38 precision rule). A closed
    * window's mmd2 is bit-identical to
    * `mmdDrift(windowRows, reference)` on the same rows (spec-proven).
    *
    * Emits one row per closed window:
    * (window_start, window_end, n, mmd2).
    */
  def streamingMmd(vecs: DataFrame, tsCol: String, vecCol: String, dim: Int,
                   refMeans: Seq[Double], windowDuration: String,
                   lateness: String = "1 hour", nFeatures: Int = 16,
                   sigma: Double = 1.0, seed: Long = 7L): DataFrame = {
    require(refMeans.size == nFeatures,
      s"refMeans must have $nFeatures entries, got ${refMeans.size}")
    val (ws, bs) = graft.operators.Similarity.rffParams(dim, nFeatures, sigma, seed)
    val z = graft.functions.RffFeatures(col(vecCol), ws, bs)
    val zq = transform(z, x => round(x, 6).cast("decimal(20,6)"))
    val sums = (0 until nFeatures).map(j =>
      sum(element_at(col("_z"), j + 1)).as(s"_s$j"))
    val terms = (0 until nFeatures).map { j =>
      val gap = col(s"_s$j").cast("double") / col("n").cast("double") -
        lit(refMeans(j))
      round(gap * gap, 12).cast("decimal(22,12)")
    }
    val aggs = count(lit(1)).as("n") +: sums
    vecs
      .filter(col(vecCol).isNotNull)
      .withColumn("_z", zq)
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("mmd2",
        terms.reduce(_ + _).cast("double") * lit(2.0 / nFeatures))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"), col("mmd2"))
  }
}
