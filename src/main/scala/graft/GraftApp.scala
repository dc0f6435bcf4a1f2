package graft

import scala.collection.immutable.ListMap

import graft.RootFormat._
import graft.config.{GraftConfig, SideDetails}
import graft.operators.{DriftCompare, DriftOutput, Materialize}
import graft.sources.Side

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** CLI entry point, mirroring the reference's `lotad run` / `lotad setup`
  * surface (reference: lotad/cli.py:25-108):
  *
  * {{{
  * graft.GraftApp run --config cfg.yaml
  * graft.GraftApp run --db1 /data/side1 --db2 /data/side2 [--output DIR]
  *     [--ignore-dates] [--target-tables re1,re2] [--ignore-tables re1,re2]
  * graft.GraftApp suggest-ignores --db1 ... --db2 ...   # wizard analog
  * }}}
  */
object GraftApp {

  private val flagArgs =
    Set("--ignore-dates", "--apply", "--validate", "--join", "--match-cells",
      "--pairs-symmetric", "--ingest")

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.stripPrefix("--") -> v
    }.toMap ++ args.filter(flagArgs).map(a => a.stripPrefix("--") -> "true").toMap

  private def buildSession(): SparkSession = {
    val cpus = GraftSession.cpus
    GraftSession.builder("graft", cpus)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      // tolerate TIMESTAMP(NANOS) parquet (read as nanos-since-epoch long)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
  }

  /** The `graft embdrift` body, session passed in so specs can drive it:
    * writes embdrift.parquet (MMD² next to its null floor) and
    * cell_drift.parquet (db1-fit quantizer localization); with
    * `matchCells` also fits an independent db2 quantizer, writes the
    * cellMatching alignment and appends the clusterAgreement ARI/NMI.
    * Returns the summary line main() prints.
    */
  def runEmbdrift(spark: SparkSession, in1: String, in2: String, out: String,
                  nFeat: Int = 16, sigma: Double = 1.0,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  nCells: Int = 8, matchCells: Boolean = false,
                  pqCodebooks: Option[String] = None): String = {
    import org.apache.spark.sql.functions._
    val db1 = Tables.t(spark, in1, "embeddings")
    val db2 = Tables.t(spark, in2, "embeddings")
    // an empty side is mmdDrift's documented degenerate case (NULL
    // mmd2): say so up front instead of throwing from head()/getDouble
    val dimProbe = db1.select(size(col(vecCol))).limit(1).collect()
    if (dimProbe.isEmpty)
      sys.error(s"embdrift: --db1 corpus at $in1 is empty — nothing to compare")
    if (db2.limit(1).collect().isEmpty)
      sys.error(s"embdrift: --db2 corpus at $in2 is empty — nothing to compare")
    val dim = dimProbe.head.getInt(0)
    val drift = graft.operators.Similarity
      .mmdDrift(db1, db2, vecCol, dim, nFeat, sigma)
      .select(lit("db1-vs-db2").as("pair"), col("n1"), col("n2"), col("mmd2"))
    val floor = graft.operators.Similarity
      .mmdDrift(db1.filter(col(idCol) % 2 === 0),
        db1.filter(col(idCol) % 2 === 1), vecCol, dim, nFeat, sigma)
      .select(lit("db1-null-split").as("pair"), col("n1"), col("n2"), col("mmd2"))
    drift.unionByName(floor)
      .write.mode("overwrite").parquet(s"$out/embdrift.parquet")
    // localization: fit a small coarse quantizer ON DB1 (first-k
    // deterministic init, two Lloyd rounds) and report per-cell mass
    // drift — WHERE the distribution moved, next to THAT it moved
    // NULL embeddings among the first nCells rows would NPE the seed
    // collect — filter before limiting (both quantizer paths)
    val init = db1.filter(col(vecCol).isNotNull).orderBy(idCol).limit(nCells)
      .select(graft.operators.Similarity.asDouble(col(vecCol)).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    val cents = graft.operators.Similarity
      .kmeansFitDistributed(db1.select(col(vecCol)), vecCol, init, iters = 2)
    graft.operators.Similarity.cellMassDrift(db1, db2, vecCol, cents)
      .write.mode("overwrite").parquet(s"$out/cell_drift.parquet")
    val topCells = spark.read.parquet(s"$out/cell_drift.parquet")
      .orderBy(col("psi_term").desc).limit(3).collect()
      .map(r => rf"cell=${r.getLong(0)} psi=${r.getDouble(5)}%.6f")
    // --match-cells: the independent-quantizer path — fit a SECOND
    // quantizer on db2 alone, align the two codebooks
    // (Similarity.cellMatching) and score how much the partition
    // itself moved (Similarity.clusterAgreement on db1's points)
    val matchLine = if (!matchCells) "" else {
      val init2 = db2.filter(col(vecCol).isNotNull).orderBy(idCol)
        .limit(nCells)
        .select(graft.operators.Similarity.asDouble(col(vecCol)).as("v"))
        .collect().map(_.getSeq[Double](0).toArray)
      val cents2 = graft.operators.Similarity
        .kmeansFitDistributed(db2.select(col(vecCol)), vecCol, init2, iters = 2)
      graft.operators.Similarity.cellMatching(db1, db2, vecCol, cents, cents2)
        .write.mode("overwrite").parquet(s"$out/cell_matching.parquet")
      val agree = graft.operators.Similarity
        .clusterAgreement(db1, vecCol, cents, cents2).head()
      val fmt = (i: Int) =>
        if (agree.isNullAt(i)) "null" else rf"${agree.getDouble(i)}%.6f"
      s" cell_match_ari=${fmt(1)} cell_match_nmi=${fmt(2)}"
    }
    // --pq-codebooks: the compression-layer axis — per-subspace mean
    // reconstruction error of BOTH snapshots under the same saved
    // codebook (Pq.reconstructionDrift); the db2/db1 ratio per
    // subspace is the staleness (rises before ANN recall visibly
    // degrades), so one embdrift run covers every drift axis
    val pqLine = pqCodebooks.fold("") { path =>
      val books = graft.operators.Pq.loadCodebooks(spark, path)
      val base = graft.operators.Pq.reconstructionDrift(db1, vecCol, books)
        .select(lit("db1").as("side"), col("subspace"), col("n"), col("mse"))
      val cur = graft.operators.Pq.reconstructionDrift(db2, vecCol, books)
        .select(lit("db2").as("side"), col("subspace"), col("n"), col("mse"))
      base.unionByName(cur)
        .write.mode("overwrite").parquet(s"$out/pq_recon.parquet")
      val mse = spark.read.parquet(s"$out/pq_recon.parquet").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
      // keys is a SET — collect straight off it would dedupe equal
      // ratios (identical corpora -> all exactly 1.0 -> one element)
      val ratios = mse.keys.toSeq.collect { case ("db2", j) =>
        val b = mse(("db1", j))
        val c = mse(("db2", j))
        // an exactly-zero baseline (codebook == the data) is stale only
        // if db2 actually moved off it
        if (b > 0) c / b
        else if (c == 0) 1.0
        else Double.PositiveInfinity
      }
      rf" pq_stale_max=${ratios.max}%.3f pq_subspaces=${ratios.length}"
    }
    // NULL mmd2 can still reach here via a degenerate null split
    // (single-row db1 -> one split side empty): render NaN, not a throw
    val rows = spark.read.parquet(s"$out/embdrift.parquet").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
      .toMap
    val (n1, n2, m) = rows("db1-vs-db2")
    val (_, _, f) = rows("db1-null-split")
    rf"embdrift: mmd2=$m%.9f null_floor=$f%.9f " +
      rf"ratio=${if (f > 0) m / f else Double.PositiveInfinity}%.1f " +
      s"n1=$n1 n2=$n2 features=$nFeat sigma=$sigma " +
      s"top_cells=[${topCells.mkString(", ")}]$matchLine$pqLine -> $out"
  }

  /** The `graft semdiff` body, session passed in so specs can drive it:
    * diff mode writes semantic_diff.parquet (rows with no near-neighbor
    * on the other side), `--join` mode writes semantic_join.parquet
    * (best db1 match per db2 probe row) — the alignment half of the
    * semantic pair. Returns the summary line main() prints.
    */
  def runSemdiff(spark: SparkSession, in1: String, in2: String, out: String,
                 minCos: Double = 0.9, idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 doJoin: Boolean = false): String = {
    import org.apache.spark.sql.functions._
    val db1 = Tables.t(spark, in1, "embeddings")
    val db2 = Tables.t(spark, in2, "embeddings")
    // clear empty-corpus message instead of an opaque head() throw
    val dimProbe = db1.select(size(col(vecCol))).limit(1).collect()
    if (dimProbe.isEmpty)
      sys.error(s"semdiff: --db1 corpus at $in1 is empty — nothing to compare")
    if (db2.limit(1).collect().isEmpty)
      sys.error(s"semdiff: --db2 corpus at $in2 is empty — nothing to compare")
    val dim = dimProbe.head.getInt(0)
    if (doJoin) {
      val joined = graft.operators.Similarity
        .semanticJoin(db1, db2, idCol, vecCol, minCos, dim)
      joined.write.mode("overwrite").parquet(s"$out/semantic_join.parquet")
      val nMatched = spark.read.parquet(s"$out/semantic_join.parquet").count()
      val nProbe = db2.count()
      s"semdiff --join (cos >= $minCos): matched=$nMatched of probe=$nProbe -> $out"
    } else {
      val diff = graft.operators.Similarity
        .semanticDiff(db1, db2, idCol, vecCol, minCos, dim)
      diff.write.mode("overwrite").parquet(s"$out/semantic_diff.parquet")
      val counts = spark.read.parquet(s"$out/semantic_diff.parquet")
        .groupBy("observed_in").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      s"semdiff (cos >= $minCos): db1-only=${counts.getOrElse("db1", 0L)} " +
        s"db2-only=${counts.getOrElse("db2", 0L)} -> $out"
    }
  }

  /** The `graft semdedup` body, session passed in so specs can drive
    * it: the semantic-dedup stage of a training pipeline as one command
    * ([[graft.operators.Similarity.semanticDedupLsh]] — banded
    * hyperplane-LSH pairs → connected components → min-id survivor).
    * Writes the surviving rows (schema unchanged) to
    * `deduped.parquet` and returns the summary line main() prints.
    */
  def runSemdedup(spark: SparkSession, in: String, out: String,
                  minCos: Double = 0.95, idCol: String = "vec_id",
                  vecCol: String = "embedding"): String = {
    import org.apache.spark.sql.functions._
    val corpus = Tables.t(spark, in, "embeddings")
    // probe only NON-NULL vectors: a NULL first embedding would yield a
    // nonsense dim (the runEmbdrift quantizer-seed lesson) — fail with a
    // clear message instead of a confusing downstream error
    val dimProbe = corpus.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).limit(1).collect()
    if (dimProbe.isEmpty)
      sys.error(s"semdedup: corpus at $in has no non-null '$vecCol' " +
        "vectors — nothing to dedup")
    val dim = dimProbe.head.getInt(0)
    val kept = graft.operators.Similarity
      .semanticDedupLsh(corpus, idCol, vecCol, minCos, dim)
    kept.write.mode("overwrite").parquet(s"$out/deduped.parquet")
    val nKept = spark.read.parquet(s"$out/deduped.parquet").count()
    val nIn = corpus.count()
    rf"semdedup (cos >= $minCos): kept=$nKept of $nIn " +
      rf"(dropped=${nIn - nKept}, ${100.0 * (nIn - nKept) / math.max(nIn, 1L)}%.2f%%) -> $out"
  }

  /** The `graft semindex` body, session passed in so specs can drive
    * it ([[graft.operators.SemanticIndex]]): `build` seeds the
    * persisted index, `append` folds new vectors in (retry-idempotent,
    * then re-tightens the refinement — meta-only), `dedup` classifies a
    * batch against the saved index at batch-sized cost and writes the
    * survivors to `deduped.parquet` (with `ingest = true` it also
    * appends them, completing one micro-batch of the streaming shape).
    */
  def runSemIndex(spark: SparkSession, mode: String, in: String,
                  index: String, out: String, minCos: Double = 0.95,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  nBits: Int = 8, nTables: Int = 16, maxBucket: Int = 64,
                  ingest: Boolean = false): String = {
    // named imports, not the wildcard: functions.mode would shadow the
    // `mode` parameter
    import org.apache.spark.sql.functions.{col, size}
    import graft.operators.SemanticIndex
    val corpus = Tables.t(spark, in, "embeddings")
    val dimProbe = corpus.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).limit(1).collect()
    if (dimProbe.isEmpty)
      sys.error(s"semindex: corpus at $in has no non-null '$vecCol' " +
        "vectors — nothing to index")
    val dim = dimProbe.head.getInt(0)
    mode match {
      case "build" =>
        SemanticIndex.build(corpus, idCol, vecCol, dim, index,
          nBits = nBits, nTables = nTables, maxBucket = maxBucket)
        val m = SemanticIndex.loadMeta(spark, index)
        val n = corpus.count()
        s"semindex build: $n vectors (dim $dim) -> $index " +
          s"[nBits=${m.nBits} nTables=${m.nTables} refineBits=${m.refineBits}]"
      case "append" =>
        val n = corpus.count()
        SemanticIndex.append(corpus, idCol, vecCol, index)
        val rb = SemanticIndex.refreshRefineBits(spark, index)
        s"semindex append: $n candidate vectors folded into $index " +
          s"(ids already present skipped; refineBits now $rb)"
      case "dedup" =>
        val kept = SemanticIndex.dedupAgainstIndex(corpus, idCol, vecCol,
          minCos, index)
        kept.write.mode("overwrite").parquet(s"$out/deduped.parquet")
        val nKept = spark.read.parquet(s"$out/deduped.parquet").count()
        val nIn = corpus.count()
        if (ingest)
          SemanticIndex.append(
            spark.read.parquet(s"$out/deduped.parquet"), idCol, vecCol, index)
        rf"semindex dedup (cos >= $minCos): kept=$nKept of $nIn " +
          rf"(dropped=${nIn - nKept})" +
          (if (ingest) s", survivors ingested into $index" else "") +
          s" -> $out"
      case other =>
        sys.error(s"semindex: unknown --mode '$other' (build|append|dedup)")
    }
  }

  /** The `evalcard` subcommand body, factored for direct spec drive:
    * fit the deterministic logistic probe on the embeddings table
    * (x = first 8 dims, y = sign of dim 1 — the q_quality_classifier
    * construction), score with the calibrated sigmoid, then write the
    * full model card: calibration bins, threshold sweep, per-class
    * fairness gaps, isotonic remap, and an `evalcard.json` manifest
    * with the scalars (n, auc, ece, mce, di_ratio). Every piece is one
    * of the oracle-gated Eval operators — this just composes them and
    * persists the evidence.
    */
  def runEvalCard(spark: SparkSession, input: String,
                  out: String): Map[String, String] = {
    import org.apache.spark.sql.functions._
    val emb = Tables.t(spark, input, "embeddings")
      .filter(abs(element_at(col("embedding"), 1)) > 0.1f)
      .select(col("vec_id"),
        col("label").cast("string").as("group"),
        slice(col("embedding"), 1, 8).cast("array<double>").as("x"),
        (element_at(col("embedding"), 1) > 0f).cast("double").as("y"))
    val w = graft.operators.Classifier.fitLogistic(emb, "x", "y",
      iters = 30, lr = 5.0)
    Materialize.within(graft.operators.Classifier
      .predictLogistic(emb, "vec_id", "x", w)
      .join(emb.select(col("vec_id"), col("group"), col("y")), "vec_id")
      .select(col("vec_id"), col("group"), col("y"),
        round(lit(1.0) / (lit(1.0) + exp(-col("margin"))), 6).as("score"))) { scored =>
      scored.count()
      val label = col("y") === 1.0
      graft.operators.Eval.calibration(scored, "score", label)
        .write.mode("overwrite").parquet(s"$out/calibration.parquet")
      graft.operators.Eval.thresholdMetrics(scored, "score", label,
          (1 to 9).map(_ / 10.0))
        .write.mode("overwrite").parquet(s"$out/thresholds.parquet")
      graft.operators.Eval.fairnessGaps(scored, "group", label,
          col("score") >= 0.5)
        .write.mode("overwrite").parquet(s"$out/fairness.parquet")
      graft.operators.Eval.isotonicCalibration(scored, col("score"), label)
        .write.mode("overwrite").parquet(s"$out/isotonic.parquet")
      val ece = graft.operators.Eval
        .expectedCalibrationError(scored, "score", label).head()
      val auc = graft.operators.EventAnalytics.rocAuc(
        scored.withColumn("_g", lit("all")), "_g", "score", label)
        .head().getAs[Double]("auc")
      val di = spark.read.parquet(s"$out/fairness.parquet")
        .select("di_ratio").head().getAs[Double]("di_ratio")
      val manifest = Map(
        "n" -> ece.getAs[Long]("n").toString,
        "auc" -> auc.toString,
        "ece" -> ece.getAs[Double]("ece").toString,
        "mce" -> ece.getAs[Double]("mce").toString,
        "di_ratio" -> di.toString)
      // NaN/Infinity are not JSON: a degenerate drop (single-class
      // labels, empty bins) must yield `null`, not an unparseable file
      def jsonNum(v: String): String =
        if (v == "NaN" || v.endsWith("Infinity")) "null" else v
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/evalcard.json"),
        manifest.map { case (k, v) => s"""  "$k": ${jsonNum(v)}""" }
          .mkString("{\n", ",\n", "\n}\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      manifest
    }
  }

  /** The `classify` subcommand body, factored for direct spec drive:
    * fit [[graft.operators.Classifier.naiveBayesFit]] on the rows with
    * a non-null `labelCol`, score the WHOLE corpus, write
    * `predictions.parquet` (doc_id, predicted, score) and
    * `class_summary.parquet` (predicted, n), and return the summary
    * scalars. The model frame is released before returning.
    */
  def runClassify(spark: SparkSession, input: String, out: String,
                  labelCol: String = "lang"): Map[String, String] = {
    import org.apache.spark.sql.functions._
    val docs = Tables.t(spark, input, "documents")
    val model = graft.operators.Classifier.naiveBayesFit(
      docs.filter(col(labelCol).isNotNull), "text", labelCol)
    try {
      val preds = graft.operators.Classifier
        .naiveBayesScore(model, docs, "text", "doc_id")
      preds.write.mode("overwrite").parquet(s"$out/predictions.parquet")
      val summary = spark.read.parquet(s"$out/predictions.parquet")
        .groupBy("predicted").agg(count(lit(1)).as("n"))
      summary.write.mode("overwrite").parquet(s"$out/class_summary.parquet")
      val rows = summary.collect() // bounded: one row per class
      Map("n_scored" -> rows.map(_.getAs[Long]("n")).sum.toString,
        "n_classes" -> rows.length.toString)
    } finally Materialize.release(model)
  }

  /** A subcommand: parses its options first, so a missing one fails
    * before any session exists, then runs against the one session
    * [[main]] builds for it.
    */
  private type Command = Map[String, String] => SparkSession => Unit

  /** The two-sided commands: sides and diff rules come from `--config`
    * or `--db1`/`--db2`, with the CLI flags overriding the file.
    */
  private def onSides(
      body: (SparkSession, Side, Side, GraftConfig, Map[String, String]) => Unit): Command =
    opts => {
      val config = loadConfig(opts)
      spark => body(spark, config.db1Details.toSide(spark, "db1"),
        config.db2Details.toSide(spark, "db2"), config, opts)
    }

  private def loadConfig(opts: Map[String, String]): GraftConfig =
    opts.get("config") match {
      case Some(path) =>
        val base = GraftConfig.load(path)
        base.copy(
          ignoreDates = opts.get("ignore-dates").map(_.toBoolean).getOrElse(base.ignoreDates),
          targetTables = opts.get("target-tables").map(_.split(",").toSeq).getOrElse(base.targetTables),
          ignoreTables = opts.get("ignore-tables").map(_.split(",").toSeq).getOrElse(base.ignoreTables),
          outputPath = opts.getOrElse("output", base.outputPath))
      case None =>
        GraftConfig(
          db1Details = SideDetails("parquet", opts.getOrElse("db1",
            sys.error("--config or --db1/--db2 required"))),
          db2Details = SideDetails("parquet", opts.getOrElse("db2",
            sys.error("--db2 required"))),
          outputPath = opts.getOrElse("output", "drift_analysis"),
          targetTables = opts.get("target-tables").map(_.split(",").toSeq).getOrElse(Seq.empty),
          ignoreTables = opts.get("ignore-tables").map(_.split(",").toSeq).getOrElse(Seq.empty),
          ignoreDates = opts.get("ignore-dates").exists(_.toBoolean))
    }

  private val commands = ListMap[String, Command](
    "setup" -> { opts =>
      // the config may not exist yet — the wizard's create flow handles it
      val path = opts.getOrElse("config", sys.error("setup requires --config <path>"))
      spark => {
        val io = new graft.config.ConsoleIO
        val cfg = graft.config.ConfigWizard.loadOrCreate(io, path)
        val wizard = new graft.config.ConfigWizard(spark, io, path, cfg)
        if (opts.contains("apply")) {
          wizard.generateIgnoredColumns()
          GraftConfig.write(wizard.current, path)
          println(s"config updated: $path")
        } else wizard.run()
      }
    },
    "curate-append" -> { opts =>
      // incremental daily-batch curation against a persisted LSH index:
      // quality gate -> within-batch dedup -> asymmetric index screen ->
      // idempotent index append (see operators.Curation.incremental)
      val input = opts.getOrElse("input",
        sys.error("curate-append requires --input <dir containing documents.parquet>"))
      val index = opts.getOrElse("index",
        sys.error("curate-append requires --index <lsh index path>"))
      val out = opts.getOrElse("output", "curation_append_out")
      val p = graft.operators.Curation.Params(
        minQuality = opts.get("min-quality").map(_.toDouble).getOrElse(0.8),
        lang = opts.getOrElse("lang", "en"),
        dedupThreshold = opts.get("dedup-threshold").map(_.toDouble).getOrElse(0.8))
      spark => {
        val docs = Tables.t(spark, input, "documents")
        val res = graft.operators.Curation.incremental(docs, index, p)
        res.stages.foreach { s =>
          println(rf"${s.stage}%-20s in=${s.rowsIn}%-8d out=${s.rowsOut}%-8d " +
            s"dropped=${s.dropped}")
        }
        println(if (res.bootstrapped) s"bootstrapped new index at $index"
          else s"appended novel docs to index at $index")
        graft.operators.Curation.writeIncrementalOutputs(res, p, out)
        println(s"novel docs + manifest in $out")
      }
    },
    "curate" -> { opts =>
      // end-to-end corpus curation: quality gate -> dedup -> benchmark
      // decontamination -> per-domain token budget -> sequence packing,
      // with a per-stage drop manifest (see operators.Curation)
      val input = opts.getOrElse("input",
        sys.error("curate requires --input <dir containing documents.parquet>"))
      val out = opts.getOrElse("output", "curation_out")
      val p = graft.operators.Curation.Params(
        minQuality = opts.get("min-quality").map(_.toDouble).getOrElse(0.8),
        lang = opts.getOrElse("lang", "en"),
        dedupThreshold = opts.get("dedup-threshold").map(_.toDouble).getOrElse(0.8),
        benchmarkMod = opts.get("benchmark-mod").map(_.toLong).getOrElse(20L),
        minShared = opts.get("min-shared").map(_.toLong).getOrElse(1L),
        domainBudgetTokens = opts.get("domain-budget").map(_.toLong).getOrElse(50000L),
        maxSeqTokens = opts.get("max-seq-tokens").map(_.toInt).getOrElse(512))
      spark => {
        val docs = Tables.t(spark, input, "documents")
        val res = graft.operators.Curation.run(docs, p)
        res.stages.foreach { s =>
          println(rf"${s.stage}%-20s in=${s.rowsIn}%-8d out=${s.rowsOut}%-8d " +
            s"dropped=${s.dropped}")
        }
        println(s"packed into ${res.nSequences} sequences of <= ${p.maxSeqTokens} tokens")
        graft.operators.Curation.writeOutputs(res, p, out)
        println(s"curated corpus, packed sequences and manifest in $out")
      }
    },
    "screen" -> { opts =>
      // governance screen over a document corpus: credential/secret
      // detection, canary sweep, and an ε-DP release of per-language
      // corpus counts — the three gates a corpus passes before leaving
      // the trusted boundary (see operators.TextAnalysis.detectSecrets,
      // findCanaries; operators.Privacy.dpRelease)
      val input = opts.getOrElse("input",
        sys.error("screen requires --input <dir containing documents.parquet>"))
      val out = opts.getOrElse("output", "screen_out")
      val canaries = opts.get("canaries").map(_.split(",").toSeq)
        .getOrElse(Nil)
      val eps = opts.get("epsilon").map(_.toDouble).getOrElse(1.0)
      spark => {
        val docs = Tables.t(spark, input, "documents")
        val secrets = graft.operators.TextAnalysis.detectSecrets(docs)
        secrets.write.mode("overwrite").parquet(s"$out/secrets.parquet")
        val nSecrets = spark.read.parquet(s"$out/secrets.parquet").count()
        val nCanary = if (canaries.nonEmpty) {
          val hits = graft.operators.TextAnalysis.findCanaries(docs, canaries)
          hits.write.mode("overwrite").parquet(s"$out/canaries.parquet")
          spark.read.parquet(s"$out/canaries.parquet").count()
        } else 0L
        // DP corpus stats: one row per privacy unit (doc) per group
        val perDoc = docs.groupBy(col("doc_id"), col("lang"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("one"))
        graft.operators.Privacy.dpRelease(perDoc, "lang", lit(1.0),
            epsilon = eps, clip = 1.0)
          .write.mode("overwrite").parquet(s"$out/dp_lang_counts.parquet")
        val manifest =
          s"""{
             |  "secrets_flagged": $nSecrets,
             |  "canary_hits": $nCanary,
             |  "dp_epsilon": $eps
             |}""".stripMargin
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$out/screen.json"),
          manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"secrets=$nSecrets canary_hits=$nCanary -> $out")
      }
    },
    "evalcard" -> { opts =>
      // model-card readout for a classifier over the embeddings table:
      // fit the logistic probe, then calibration table + ECE/MCE,
      // threshold sweep, per-class fairness gaps, isotonic remap, AUC —
      // everything a score gate should publish before it gates anything
      val input = opts.getOrElse("input",
        sys.error("evalcard requires --input <dir containing embeddings.parquet>"))
      val out = opts.getOrElse("output", "evalcard_out")
      spark => {
        val m = runEvalCard(spark, input, out)
        println(s"evalcard: ${m.map { case (k, v) => s"$k=$v" }.mkString(" ")} -> $out")
      }
    },
    "classify" -> { opts =>
      // Naive-Bayes corpus classification: fit on the rows whose label
      // column is set, score EVERY row, write predictions + a per-class
      // summary — the "propagate the seed labels over the whole corpus"
      // step (language-ID backfill, weak-label quality tiers)
      val input = opts.getOrElse("input",
        sys.error("classify requires --input <dir containing documents.parquet>"))
      val out = opts.getOrElse("output", "classify_out")
      val labelCol = opts.getOrElse("label-col", "lang")
      spark => {
        val m = runClassify(spark, input, out, labelCol)
        println(s"classify: ${m.map { case (k, v) => s"$k=$v" }.mkString(" ")} -> $out")
      }
    },
    "semdiff" -> { opts =>
      // semantic drift diff between two embedding snapshots: rows with
      // no near-neighbor (cosine >= threshold) on the other side — the
      // tabular diff's anti-join generalized to embedding space (see
      // operators.Similarity.semanticDiff). Prints per-side counts in
      // the diff-summary spirit and writes the (id, observed_in) table.
      val in1 = opts.getOrElse("db1",
        sys.error("semdiff requires --db1 <dir containing embeddings.parquet>"))
      val in2 = opts.getOrElse("db2",
        sys.error("semdiff requires --db2 <dir containing embeddings.parquet>"))
      val out = opts.getOrElse("output", "semdiff_out")
      val minCos = opts.get("min-cosine").map(_.toDouble).getOrElse(0.9)
      val idCol = opts.getOrElse("id-col", "vec_id")
      val vecCol = opts.getOrElse("vec-col", "embedding")
      val doJoin = opts.contains("join")
      spark => println(runSemdiff(spark, in1, in2, out, minCos, idCol, vecCol, doJoin))
    },
    "semdedup" -> { opts =>
      // the semantic-dedup pipeline stage as one command: keep one
      // representative per near-dup embedding cluster
      // (operators.Similarity.semanticDedupLsh), write the survivors
      val in = opts.getOrElse("input",
        sys.error("semdedup requires --input <dir containing embeddings.parquet>"))
      val out = opts.getOrElse("output", "semdedup_out")
      val minCos = opts.get("min-cosine").map(_.toDouble).getOrElse(0.95)
      val idCol = opts.getOrElse("id-col", "vec_id")
      val vecCol = opts.getOrElse("vec-col", "embedding")
      spark => println(runSemdedup(spark, in, out, minCos, idCol, vecCol))
    },
    "semindex" -> { opts =>
      // the persisted-hyperplane-LSH-index lifecycle as one command
      // (operators.SemanticIndex): --mode build seeds the index from a
      // corpus; --mode append folds new vectors in (retry-idempotent);
      // --mode dedup classifies a batch against the SAVED index at
      // batch-sized cost and writes the survivors — with --ingest it
      // also appends them (the streaming micro-batch step, run once)
      val mode = opts.getOrElse("mode",
        sys.error("semindex requires --mode build|append|dedup"))
      val in = opts.getOrElse("input",
        sys.error("semindex requires --input <dir containing embeddings.parquet>"))
      val index = opts.getOrElse("index",
        sys.error("semindex requires --index <path>"))
      val out = opts.getOrElse("output", "semindex_out")
      val minCos = opts.get("min-cosine").map(_.toDouble).getOrElse(0.95)
      val idCol = opts.getOrElse("id-col", "vec_id")
      val vecCol = opts.getOrElse("vec-col", "embedding")
      val nBits = opts.get("nbits").map(_.toInt).getOrElse(8)
      val nTables = opts.get("ntables").map(_.toInt).getOrElse(16)
      val maxBucket = opts.get("max-bucket").map(_.toInt).getOrElse(64)
      val ingest = opts.contains("ingest")
      spark => println(runSemIndex(spark, mode, in, index, out, minCos, idCol,
        vecCol, nBits, nTables, maxBucket, ingest))
    },
    "embdrift" -> { opts =>
      // kernel two-sample drift between two embedding snapshots
      // (operators.Similarity.mmdDrift): prints the statistic NEXT TO its
      // null floor — the same-size even/odd split of db1, which is what
      // "no drift" actually scores (the plug-in MMD² estimate is a
      // squared norm, so comparing against zero always alarms).
      val in1 = opts.getOrElse("db1",
        sys.error("embdrift requires --db1 <dir containing embeddings.parquet>"))
      val in2 = opts.getOrElse("db2",
        sys.error("embdrift requires --db2 <dir containing embeddings.parquet>"))
      val out = opts.getOrElse("output", "embdrift_out")
      val nFeat = opts.get("features").map(_.toInt).getOrElse(16)
      val sigma = opts.get("sigma").map(_.toDouble).getOrElse(1.0)
      val idCol = opts.getOrElse("id-col", "vec_id")
      val vecCol = opts.getOrElse("vec-col", "embedding")
      val nCells = opts.get("cells").map(_.toInt).getOrElse(8)
      val matchCells = opts.contains("match-cells")
      val pqBooks = opts.get("pq-codebooks")
      spark => println(runEmbdrift(spark, in1, in2, out, nFeat, sigma, idCol,
        vecCol, nCells, matchCells, pqBooks))
    },
    "walks" -> { opts =>
      // export a graph-embedding training corpus: seeded walks over an
      // edge list projected from any table (uniform DeepWalk by
      // default, node2vec-biased when --p/--q are given), plus the
      // skip-gram (center, context) pairs a word2vec-style trainer
      // consumes (operators.Graph.{randomWalks, node2vecWalks,
      // walkContextPairs}).
      val input = opts.getOrElse("input",
        sys.error("walks requires --input <dir>"))
      val table = opts.getOrElse("table",
        sys.error("walks requires --table <name>"))
      val srcCol = opts.getOrElse("src-col",
        sys.error("walks requires --src-col"))
      val dstCol = opts.getOrElse("dst-col",
        sys.error("walks requires --dst-col"))
      val out = opts.getOrElse("output", "walks_out")
      val walkLen = opts.get("length").map(_.toInt).getOrElse(8)
      val win = opts.get("window").map(_.toInt).getOrElse(2)
      val seed = opts.get("seed").map(_.toLong).getOrElse(7L)
      val pq = (opts.get("p").map(_.toDouble), opts.get("q").map(_.toDouble))
      spark => {
        import org.apache.spark.sql.functions._
        val rawEdges = Tables.t(spark, input, table)
          .select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"))
        // --cap N: GraphSAGE-style deterministic neighbor sampling
        // (Graph.capOutDegree) BEFORE walking — the one-time hub
        // mitigation the node2vec scale contract prescribes
        val capN = opts.get("cap").map(_.toInt)
        val edges = capN.map(c =>
          graft.operators.Graph.capOutDegree(rawEdges, c, seed))
          .getOrElse(rawEdges)
        // starts come from the RAW edge list: capOutDegree keeps >= 1
        // edge per src, so the start set is identical — and deriving it
        // from `edges` would re-execute the whole cap plan a second time
        val starts = rawEdges.select(col("src").as("id")).distinct()
        val weightCol = opts.get("weight-col")
        // --ts-col: temporal (strictly-increasing-timestamp) walks —
        // exclusive with the other biases; Graph.temporalWalks owns its
        // cap like node2vec (maxDeg folds into the adjacency build)
        val tsCol = opts.get("ts-col")
        if (tsCol.isDefined && (pq._1.isDefined || pq._2.isDefined ||
            weightCol.isDefined))
          sys.error("walks: --ts-col is exclusive with --p/--q/--weight-col " +
            "(temporal validity and the other biases are different walks)")
        val walks = if (tsCol.isDefined) {
          val tEdges = Tables.t(spark, input, table).select(
            col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"),
            col(tsCol.get).cast("long").as("ts"))
          graft.operators.Graph.temporalWalks(tEdges, starts, walkLen,
            seed, maxDeg = capN)
        } else (pq, weightCol) match {
          case ((Some(_), _) | (_, Some(_)), Some(_)) =>
            sys.error("walks: --p/--q and --weight-col are exclusive " +
              "(second-order bias and edge weights are different walks)")
          case (_, Some(wc)) =>
            val weighted0 = Tables.t(spark, input, table)
              .select(col(srcCol).cast("long").as("src"),
                col(dstCol).cast("long").as("dst"), col(wc).as("weight"))
            // cap over the POSITIVE-weight edge set (weightedWalks drops
            // w <= 0/NULL edges, so capping the raw distinct pairs could
            // keep only unwalkable edges for a node while discarding its
            // walkable ones), then semi-join so kept pairs carry their
            // full fold weight
            val weighted = capN.map { c =>
              val walkable = graft.operators.Graph.capOutDegree(
                weighted0.filter(col("weight").cast("double") > 0), c, seed)
              weighted0.join(walkable, Seq("src", "dst"), "left_semi")
            }.getOrElse(weighted0)
            graft.operators.Graph.weightedWalks(weighted, starts, walkLen,
              "weight", seed)
          case ((Some(p), q), _) =>
            // node2vec owns its cap (r17): maxDeg composes capOutDegree
            // into the operator's checkpointed adjacency, so the raw
            // edge list goes in and the walk runs on the capped graph
            graft.operators.Graph.node2vecWalks(rawEdges, starts, walkLen,
              p, q.getOrElse(1.0), seed, maxDeg = capN)
          case ((None, Some(q)), _) =>
            graft.operators.Graph.node2vecWalks(rawEdges, starts, walkLen,
              1.0, q, seed, maxDeg = capN)
          case _ =>
            // --gamma N: DeepWalk's walks-per-node (uniform mode only —
            // the biased variants key their hash on walk_id = node)
            graft.operators.Graph.randomWalks(edges, starts, walkLen, seed,
              opts.get("gamma").map(_.toInt).getOrElse(1))
        }
        walks.write.mode("overwrite").parquet(s"$out/walks.parquet")
        val saved = spark.read.parquet(s"$out/walks.parquet")
        // --pairs-symmetric: count both orientations of every window hit
        // (the trainer's view); --neg-power exports the word2vec
        // negative-sampling table (unigram^power, default 0.75)
        val sym = opts.contains("pairs-symmetric")
        graft.operators.Graph.walkContextPairs(saved, win, symmetric = sym)
          .write.mode("overwrite").parquet(s"$out/pairs.parquet")
        val negPower = opts.get("neg-power").map(_.toDouble).getOrElse(0.75)
        graft.operators.Graph.negativeTable(saved, negPower)
          .write.mode("overwrite").parquet(s"$out/neg_table.parquet")
        // --ppmi [K]: the SPPMI matrix over the exported pair counts —
        // what the SGNS objective implicitly factorizes
        opts.get("ppmi").foreach { k =>
          graft.operators.Graph.ppmiPairs(
              spark.read.parquet(s"$out/pairs.parquet"),
              negK = k.toDouble)
            .write.mode("overwrite").parquet(s"$out/ppmi.parquet")
        }
        val nWalks = saved.select("walk_id").distinct().count()
        val nRows = saved.count()
        val nPairs = spark.read.parquet(s"$out/pairs.parquet").count()
        val nNeg = spark.read.parquet(s"$out/neg_table.parquet").count()
        val mode =
          if (tsCol.isDefined) "temporal"
          else if (weightCol.isDefined) "weighted"
          else if (pq._1.isDefined || pq._2.isDefined) "node2vec"
          else "uniform"
        val capNote = capN.map(c => s" cap=$c").getOrElse("")
        val symNote = if (sym) " pairs=symmetric" else ""
        println(s"walks: walks=$nWalks rows=$nRows pairs=$nPairs " +
          s"neg_nodes=$nNeg length=$walkLen window=$win " +
          s"mode=$mode$capNote$symNote -> $out")
      }
    },
    "experiment" -> { opts =>
      // full A/B readout over an events table: SRM gate, the mean
      // readout three ways (z / CUPED / winsorized), ratio CIs (delta
      // method + bucket jackknife), QTE, and the peek-safe mSPRT
      // trajectory — one per-user fold shared by every piece
      // (see operators.Experiment.readout)
      val input = opts.getOrElse("input",
        sys.error("experiment requires --input <dir containing events.parquet>"))
      val out = opts.getOrElse("output", "experiment_out")
      val p = graft.operators.Experiment.ReadoutParams(
        capQuantile = opts.get("cap-quantile").map(_.toDouble).getOrElse(0.95),
        tau = opts.get("tau").map(_.toDouble).getOrElse(0.1))
      spark => {
        import org.apache.spark.sql.functions._
        val ev = Tables.events(spark, input)
        val perUser = ev.groupBy("user_id").agg(
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("purchases"),
            sum(when(col("event_type").isin("click", "view"), 1L)
              .otherwise(0L)).as("x"),
            coalesce(sum(when(col("event_type") === "purchase",
              col("value").cast("decimal(18,2)"))),
              lit(0).cast("decimal(18,2)")).as("y"))
          // heavy-buyer outcome (~median purchase count): everyone in
          // this dataset purchases >= once, so a >=1 outcome saturates
          // and the z test only ever hits its degenerate-SE NULL path
          .withColumn("converted",
            when(col("purchases") >= 14, 1L).otherwise(0L))
          .withColumn("arm",
            when(col("user_id") % 2 === 0, p.armA).otherwise(p.armB))
          .withColumn("bucket", col("user_id") % 20)
        val daily = ev.filter(col("ts").isNotNull)
          .withColumn("arm",
            when(col("user_id") % 2 === 0, p.armA).otherwise(p.armB))
          .withColumn("day", datediff(to_date(col("ts")), lit("1970-01-01")))
          .withColumn("converted",
            when(col("event_type") === "purchase", 1L).otherwise(0L))
        if (opts.contains("validate")) {
          // platform validation instead of a readout: is this
          // assignment pipeline trustworthy at all?
          val aa = graft.operators.Experiment.aaCalibration(
            perUser, "user_id", col("converted") === 1L, 50).head()
          val seg = graft.operators.Experiment.srmBySegment(
            daily.withColumn("dow", col("day") % 7),
            "dow", "arm", Map(p.armA -> 0.5, p.armB -> 0.5))
          val clu = graft.operators.Experiment.clusterRobustZ(
            daily, "arm", "user_id", col("converted") === 1L,
            p.armA, p.armB).head()
          println(s"A/A false-positive rate: " +
            s"${aa.getAs[Any]("false_positive_rate")} " +
            s"(${aa.getAs[Long]("n_significant")}/" +
            s"${aa.getAs[Long]("n_experiments")} splits)")
          val flagged = seg.filter(col("srm_flag")).count()
          println(s"per-segment SRM: $flagged flagged segment(s)")
          println(s"cluster-robust z (user clusters): " +
            s"${clu.getAs[Any]("z")} vs naive-unit variance")
          seg.write.mode("overwrite").parquet(s"$out/srm_by_segment.parquet")
          println(s"validation tables in $out")
        } else {
          val r = graft.operators.Experiment.readout(perUser, daily, p)
          // every readout collapses to a bounded table — collect for the
          // manifest is model-sized by construction (arms/buckets/days)
          val manifest = new StringBuilder("{\n")
          r.all.foreach { case (name, df) =>
            df.write.mode("overwrite").parquet(s"$out/$name.parquet")
          }
          def d6(v: Any): String = v match {
            case null => "null"
            case x: java.lang.Double => rf"$x%.6f"
            case x => x.toString
          }
          val srmRow = r.srm.head()
          val zRow = r.proportions.head()
          val cRow = r.cuped.head()
          val wRow = r.winsorized.head()
          val lastP = r.monitor.orderBy(col("day").desc).head()
          manifest ++= s"""  "srm_chi2": ${d6(srmRow.getAs[Any]("chi2"))},\n"""
          manifest ++= s"""  "z": ${d6(zRow.getAs[Any]("z"))},\n"""
          manifest ++= s"""  "delta_raw": ${d6(cRow.getAs[Any]("delta_raw"))},\n"""
          manifest ++= s"""  "delta_cuped": ${d6(cRow.getAs[Any]("delta_adjusted"))},\n"""
          manifest ++= s"""  "delta_winsorized": ${d6(wRow.getAs[Any]("delta_winsorized"))},\n"""
          r.bayes.foreach { b =>
            manifest ++= s"""  "p_b_beats_a": ${d6(b.head().getAs[Any]("p_b_beats_a"))},\n"""
          }
          manifest ++= s"""  "always_valid_p": ${d6(lastP.getAs[Any]("always_valid_p"))}\n}"""
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$out/readout.json"),
            manifest.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"SRM chi2=${d6(srmRow.getAs[Any]("chi2"))}  " +
            s"z=${d6(zRow.getAs[Any]("z"))}  " +
            s"cuped=${d6(cRow.getAs[Any]("delta_adjusted"))}  " +
            s"winsorized=${d6(wRow.getAs[Any]("delta_winsorized"))}  " +
            s"always_valid_p=${d6(lastP.getAs[Any]("always_valid_p"))}")
          println(s"readout tables + readout.json in $out")
        }
      }
    },
    "er" -> { opts =>
      // entity resolution over one table: blocked Damerau self-match on
      // --key-col (block = last --block-suffix chars, robust to head
      // typos), connected components, entity_id = min id per cluster
      // (see operators.FuzzyJoin.resolveEntities / damerauJoin)
      val input = opts.getOrElse("input",
        sys.error("er requires --input <dir containing the table parquet>"))
      val table = opts.getOrElse("table", "customer")
      val idCol = opts.getOrElse("id-col", "c_custkey")
      val keyCol = opts.getOrElse("key-col", "c_name")
      val maxEdits = opts.get("max-edits").map(_.toInt).getOrElse(2)
      val blockLen = opts.get("block-suffix").map(_.toInt).getOrElse(6)
      val out = opts.getOrElse("output", "er_out")
      spark => {
        val df = Tables.t(spark, input, table)
        val ents = graft.operators.FuzzyJoin.resolveEntitiesDamerau(
          df, idCol, keyCol,
          k => k.substr(org.apache.spark.sql.functions.length(k) - lit(blockLen - 1),
            lit(blockLen)),
          maxEdits)
        ents.write.mode("overwrite").parquet(s"$out/entities")
        val persisted = spark.read.parquet(s"$out/entities")
        val n = persisted.count()
        val nEnt = persisted.select("entity_id").distinct().count()
        println(s"er: $table $n rows -> $nEnt entities " +
          s"(${n - nEnt} merged) at damerau <= $maxEdits, " +
          s"block = last $blockLen chars of $keyCol; mapping in $out/entities")
      }
    },
    "run" -> onSides { (spark, s1, s2, config, _) =>
      val t0 = System.nanoTime()
      val result = new DriftCompare(spark, s1, s2, config.diffConfig).compareAll()
      try {
        DriftOutput.write(spark, result, config.outputPath)
        println(DriftOutput.report(result))
      } finally result.dataDrift.values.foreach(_.unpersist())
      println(rf"completed in ${(System.nanoTime() - t0) / 1e9}%.1f sec; " +
        s"results in ${config.outputPath}")
    },
    "suggest-ignores" -> onSides { (spark, s1, s2, config, _) =>
      suggestIgnores(spark, s1, s2, config).foreach(println)
    },
    "profile" -> onSides { (_, s1, _, _, opts) =>
      // per-table data-quality scan of side db1 (extension beyond the
      // reference CLI): single-pass HLL profile unless --exact
      val exact = opts.get("exact").exists(_.toBoolean)
      s1.listTables().foreach { table =>
        println(s"== $table ==")
        val df = s1.table(table)
        val prof = if (exact) graft.operators.Profile.profileExact(df)
                   else graft.operators.Profile.profileApprox(df)
        prof.orderBy("col_name").collect().foreach { r =>
          println(rf"${r.getString(0)}%-24s rows=${r.getLong(1)}%-9d " +
            rf"nulls=${r.getLong(2)}%-7d ndv=${r.getLong(3)}%-9d " +
            s"min=${r.getString(4)} max=${r.getString(5)}")
        }
      }
    },
    "dedup" -> onSides { (spark, s1, _, _, opts) =>
      // corpus near-dup removal from the CLI (extension): writes the
      // deduplicated table + a keeper manifest under --output
      val table = opts.getOrElse("table", "documents")
      val textCol = opts.getOrElse("text-col", "text")
      val idCol = opts.getOrElse("id-col", "doc_id")
      val threshold = opts.getOrElse("threshold", "0.8").toDouble
      val out = opts.getOrElse("output", "dedup_out")
      val df = s1.table(table)
      val total = df.count()
      val kept = graft.operators.Dedup.dedupCorpus(df, textCol, idCol, threshold)
      kept.write.mode("overwrite").parquet(s"$out/$table")
      val nKept = spark.read.parquet(s"$out/$table").count()
      println(s"dedup: $table $total rows -> $nKept kept " +
        rf"(${100.0 * (total - nKept) / math.max(total, 1)}%.1f%% removed) at " +
        s"jaccard >= $threshold; output in $out/$table")
    },
    "overlap" -> onSides { (_, s1, s2, _, opts) =>
      // sketch-based key overlap between the two sides' copies of a
      // table (extension): per-side/union HLL estimates + exact
      // intersection only when --exact
      val table = opts.getOrElse("table", "documents")
      val keyCol = opts.getOrElse("key-col", "doc_id")
      val est = graft.operators.Hll
        .overlap(s1.table(table), s2.table(table), keyCol)
        .collect()(0)
      println(s"overlap[$table.$keyCol] " +
        rf"db1~${est.getAs[Double]("est_a")}%.0f " +
        rf"db2~${est.getAs[Double]("est_b")}%.0f " +
        rf"union~${est.getAs[Double]("est_union")}%.0f " +
        rf"intersect~${est.getAs[Double]("est_intersect")}%.0f " +
        rf"jaccard~${est.getAs[Double]("jaccard_est")}%.4f")
      if (opts.get("exact").exists(_.toBoolean)) {
        val exact = s1.table(table).select(keyCol)
          .intersect(s2.table(table).select(keyCol)).count()
        println(s"overlap[$table.$keyCol] exact intersect = $exact")
      }
    },
    "psi" -> onSides { (spark, s1, s2, config, opts) =>
      // distribution drift from the CLI (extension): PSI per shared
      // numeric column of each shared table (or --table)
      val nBins = opts.getOrElse("bins", "10").toInt
      val tables = opts.get("table").map(Seq(_)).getOrElse(
        (s1.listTables().toSet intersect s2.listTables().toSet).toSeq.sorted)
      val compare = new DriftCompare(spark, s1, s2, config.diffConfig)
      tables.foreach { table =>
        compare.distributionDrift(table, nBins) match {
          case None => println(s"psi[$table] no shared numeric columns")
          case Some(df) => df.orderBy("col_name").collect().foreach { r =>
            println(rf"psi[$table.${r.getString(0)}] ${r.getDouble(1)}%.6f " +
              s"(n1=${r.getLong(2)} n2=${r.getLong(3)})")
          }
        }
      }
    },
    "ks" -> onSides { (_, s1, s2, _, opts) =>
      // nonparametric drift from the CLI (extension): two-sample KS
      // distance per shared numeric column of each shared table (or
      // --table); PSI's bin-free sibling — sensitive anywhere on the
      // CDF, not just where the bins land. A column must be a real
      // NumericType on BOTH sides (a numeric-in-db1 / varchar-in-db2
      // column is type drift, not a distribution to compare), and
      // the DECIMAL(16,2) canonicalization keeps values to ±10^14 —
      // wider-ranged ids overflow to null and would silently
      // truncate the compared distribution.
      val tables = opts.get("table").map(Seq(_)).getOrElse(
        (s1.listTables().toSet intersect s2.listTables().toSet).toSeq.sorted)
      tables.foreach { table =>
        val a = s1.table(table); val b = s2.table(table)
        def numericCols(df: org.apache.spark.sql.DataFrame): Set[String] =
          df.schema.fields.collect {
            case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
              f.name
          }.toSet
        val shared = (numericCols(a) intersect numericCols(b)).toSeq.sorted
        if (shared.isEmpty) println(s"ks[$table] no shared numeric columns")
        shared.foreach { name =>
          val r = graft.operators.Stats
            .ksTestFrames(a, b, name, precision = 16, scale = 2).head()
          if (r.isNullAt(r.fieldIndex("d")))
            println(s"ks[$table.$name] undefined (an empty or " +
              "out-of-range side; n1=" + r.getAs[Long]("n1") +
              " n2=" + r.getAs[Long]("n2") + ")")
          else
            println(rf"ks[$table.$name] d=${r.getAs[Double]("d")}%.6f " +
              rf"p~${r.getAs[Double]("p_approx")}%.6f " +
              s"(n1=${r.getAs[Long]("n1")} n2=${r.getAs[Long]("n2")})")
        }
      }
    })

  /** Runs one command. An unknown name fails before any option parsing
    * or session build; a known one parses its options, then gets the
    * session built, configured and stopped here.
    */
  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("run")
    val run = commands.getOrElse(cmd, sys.error(
      s"unknown command: $cmd (expected ${commands.keys.mkString(" | ")})"))
    val body = run(parseArgs(args.drop(1)))
    val spark = buildSession()
    try body(spark) finally spark.stop()
  }

  /** Wizard analog (reference: lotad/config_wizard.py:33-147): per shared
    * table, find the shared columns where a sample of up to 10k distinct
    * db1 values has ZERO matches on db2 — those columns never agree across
    * sides (UUID PKs, run ids...) and become `ignore_column` suggestions.
    *
    * ONE Spark job per table (vs 2 per column): all columns are stacked to
    * long form `(col_name, value-as-string)`, the per-column sample is a
    * deterministic row_number cap, and a single left-join + aggregate
    * yields every column's overlap count at once. String-cast equality is
    * deliberate: both sides cast the same way, and the wizard only needs
    * match/no-match, not type-exact joins.
    */
  def suggestIgnoreColumns(spark: SparkSession, s1: Side, s2: Side,
                           config: GraftConfig): Map[String, Seq[String]] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count, lit, row_number}
    val comparator = new DriftCompare(spark, s1, s2, config.diffConfig)
    comparator.sharedTables().flatMap { table =>
      val t1 = s1.table(table)
      val t2 = s2.table(table)
      val sharedCols = t1.schema.fields.filter { f =>
        t2.schema.fields.exists(g => g.name == f.name && g.dataType == f.dataType)
      }
      if (sharedCols.isEmpty) None
      else {
        val stackArgs = sharedCols.map { f =>
          val quoted = f.name.replace("`", "``")
          s"'${f.name.replace("'", "''")}', CAST(`$quoted` AS STRING)"
        }.mkString(", ")
        def longForm(df: org.apache.spark.sql.DataFrame) = df
          .selectExpr(s"stack(${sharedCols.length}, $stackArgs) AS (col_name, val)")
          .filter(col("val").isNotNull)
          .distinct()
        val w = Window.partitionBy("col_name").orderBy("val")
        val sample = longForm(t1)
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10000).drop("rn")
        val counts = sample
          .join(longForm(t2).withColumn("m", lit(1)), Seq("col_name", "val"), "left")
          .groupBy("col_name")
          .agg(count(lit(1)).as("n_sample"), count(col("m")).as("n_overlap"))
          .collect()
        val ignorable = counts.filter(r => r.getLong(2) == 0L && r.getLong(1) > 0L)
          .map(_.getString(0)).toSeq.sorted
        if (ignorable.isEmpty) None else Some(table -> ignorable)
      }
    }.toMap
  }

  /** YAML-fragment rendering of [[suggestIgnoreColumns]] (CLI output). */
  def suggestIgnores(spark: SparkSession, s1: Side, s2: Side,
                     config: GraftConfig): Seq[String] =
    suggestIgnoreColumns(spark, s1, s2, config).toSeq.sortBy(_._1).map {
      case (table, cols) =>
        s"- table_name: $table\n  rules:" +
          cols.map(c => s"\n    - {rule_type: ignore_column, rule_value: $c}").mkString
    }
}
