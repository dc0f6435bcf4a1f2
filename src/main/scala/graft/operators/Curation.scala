package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation: the composed pipeline every
  * individually-oracled stage exists for, run as ONE flow with a
  * written per-stage drop manifest — the artifact a data team audits
  * before a training run ("where did 40% of the corpus go?").
  *
  * Stages, in the canonical order (each `Stage` records rows in/out):
  *
  *   1. `benchmark_holdout` — the eval slice (`doc_id % benchmarkMod
  *      == 0`) leaves the training pool entirely.
  *   2. `quality_lang_gate` — [[TextAnalysis.qualityFeatures]] composite
  *      score + [[TextAnalysis.langId]]; keep `quality_score >=
  *      minQuality` in the target language.
  *   3. `dedup` — [[Dedup.dedupCorpus]] staged exact → MinHash-LSH
  *      near-dup removal (component keepers survive).
  *   4. `decontaminate` — [[Dedup.contamination]] 3-shingle screen
  *      against the held-out benchmark slice; any overlap drops the doc.
  *   5. `domain_budget` — [[Sampling.domainBudgetSelect]] per-source
  *      token cap, best quality first (the mixture-construction step).
  *   6. `pack` — [[TextAnalysis.packByCount]] greedy sequence packing
  *      into `maxSeqTokens` windows per hash split (train/val/test).
  *
  * Scale shape: every stage is the already-audited operator — nothing
  * here adds a shuffle beyond what the stages own. The only pipeline-
  * level choices are (a) the budget stage runs on a NARROW projection
  * (id, source, score, tokens) and the winners join back to full rows
  * by id, so the range-partitioned checkpoint inside budgetSelect pins
  * ~32 bytes/row, never document text; (b) stage outputs that feed two
  * consumers (count + next stage) persist MEMORY_AND_DISK and release
  * as soon as the next stage materializes.
  */
object Curation {

  final case class Params(
      minQuality: Double = 0.8,
      lang: String = "en",
      dedupThreshold: Double = 0.8,
      benchmarkMod: Long = 20L,
      minShared: Long = 1L,
      domainBudgetTokens: Long = 50000L,
      maxSeqTokens: Int = 512) {
    require(benchmarkMod >= 2, "benchmarkMod must be >= 2")
    require(minShared >= 1, "minShared must be >= 1")
    require(domainBudgetTokens > 0, "domainBudgetTokens must be positive")
    require(maxSeqTokens > 0, "maxSeqTokens must be positive")
  }

  final case class Stage(stage: String, rowsIn: Long, rowsOut: Long) {
    def dropped: Long = rowsIn - rowsOut
  }

  final case class Result(curated: DataFrame, packed: DataFrame,
                          stages: Seq[Stage], nSequences: Long)

  /** Shared quality + language gate: composite-score and language
    * filters, original columns plus (n_tokens, quality_score) out.
    */
  private def qualityGate(docs: DataFrame, p: Params): DataFrame =
    TextAnalysis.langId(
        TextAnalysis.qualityFeatures(docs, "text"), "text")
      .filter(col("quality_score") >= p.minQuality &&
        col("pred_lang") === p.lang)
      .select(docs.columns.map(col) :+ col("n_tokens") :+
        col("quality_score"): _*)

  /** Run the full pipeline over a `documents`-shaped frame
    * (doc_id, text, source). The returned `curated`/`packed` frames are
    * persisted and fully materialized — safe to write or inspect; call
    * `result.curated.unpersist()` / `result.packed.unpersist()` when done.
    */
  def run(docs: DataFrame, p: Params): Result = {
    val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
    val total = docs.count()

    // 1. benchmark holdout
    val bench = docs.filter(col("doc_id") % p.benchmarkMod === 0)
    val pool = docs.filter(col("doc_id") % p.benchmarkMod =!= 0)
    val n1 = pool.count()
    stages += Stage("benchmark_holdout", total, n1)

    // 2. quality + language gate
    val scored = qualityGate(pool, p)
      .persist()
    val n2 = scored.count()
    stages += Stage("quality_lang_gate", n1, n2)

    // 3. staged near-dup removal
    val deduped = Dedup.dedupCorpus(scored, "text", "doc_id",
        p.dedupThreshold)
      .persist()
    val n3 = deduped.count()
    scored.unpersist(blocking = false)
    stages += Stage("dedup", n2, n3)

    // 4. decontamination against the held-out benchmark
    val contaminatedIds = Dedup.contamination(deduped, bench,
        "text", "doc_id", "text")
      .filter(col("n_shared") >= p.minShared).select("doc_id")
    val clean = deduped.join(contaminatedIds, Seq("doc_id"), "left_anti")
      .persist()
    val n4 = clean.count()
    deduped.unpersist(blocking = false)
    stages += Stage("decontaminate", n3, n4)

    // 5. per-domain token budget on the narrow projection; winners join
    //    back by id (budget-bounded side, AQE broadcasts it when small)
    val narrow = clean.select(col("doc_id"), col("source"),
      col("quality_score"), col("n_tokens"))
    val winners = Sampling.domainBudgetSelect(narrow, "source", "doc_id",
      "quality_score", "n_tokens", p.domainBudgetTokens)
    val curated = clean
      .join(winners.select(col("doc_id"), col("cum_tokens")), Seq("doc_id"))
      .withColumn("split", TextAnalysis.hashSplit(col("doc_id")))
      .drop("component")
      .persist()
    val n5 = curated.count()
    Materialize.release(winners) // checkpoint blocks free once winners joined
    clean.unpersist(blocking = false)
    stages += Stage("domain_budget", n4, n5)

    // 6. greedy sequence packing per split
    val packed = TextAnalysis.packByCount(curated, "split", "doc_id",
        "n_tokens", p.maxSeqTokens)
      .persist()
    val nPackedRows = packed.count()
    stages += Stage("pack", n5, nPackedRows)
    val nSeq = packed.select(countDistinct(concat_ws("#",
      col("split"), col("seq_id")))).head().getLong(0)

    Result(curated, packed, stages.toSeq, nSeq)
  }

  /** The manifest as one JSON object: params, per-stage in/out/dropped,
    * final sequence count. Hand-rolled JSON (flat, known keys) — no
    * library dependency.
    */
  def manifestJson(r: Result, p: Params): String = {
    val stageJson = r.stages.map(s =>
      s"""{"stage":"${s.stage}","rows_in":${s.rowsIn},""" +
        s""""rows_out":${s.rowsOut},"dropped":${s.dropped}}""")
      .mkString("[", ",", "]")
    s"""{"params":{"min_quality":${p.minQuality},"lang":"${p.lang}",""" +
      s""""dedup_threshold":${p.dedupThreshold},""" +
      s""""benchmark_mod":${p.benchmarkMod},"min_shared":${p.minShared},""" +
      s""""domain_budget_tokens":${p.domainBudgetTokens},""" +
      s""""max_seq_tokens":${p.maxSeqTokens}},""" +
      s""""stages":$stageJson,"n_sequences":${r.nSequences}}"""
  }

  final case class IncrementalResult(novel: DataFrame, stages: Seq[Stage],
                                     bootstrapped: Boolean)

  /** Incremental daily-batch curation against a PERSISTED LSH index —
    * the operational loop a 100 TB corpus actually runs (re-curating
    * the full corpus per crawl drop is corpus-square; this is
    * |batch| × collision-rate): quality/language gate, within-batch
    * dedup, then the ASYMMETRIC [[Dedup.dedupAgainstIndex]] screen
    * against everything already accepted; the surviving novel docs are
    * appended to the index ([[Dedup.appendLshIndex]] is retry-idempotent
    * — a crashed append replays safely). A missing index bootstraps
    * from the first batch.
    *
    * The returned `novel` frame is persisted and materialized; caller
    * unpersists (writeIncrementalOutputs does).
    */
  def incremental(batch: DataFrame, indexPath: String,
                  p: Params): IncrementalResult = {
    val spark = batch.sparkSession
    val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
    val total = batch.count()

    val scored = qualityGate(batch, p).persist()
    val n1 = scored.count()
    stages += Stage("quality_lang_gate", total, n1)

    val deduped = Dedup.dedupCorpus(scored, "text", "doc_id",
        p.dedupThreshold)
      .drop("component")
      .persist()
    val n2 = deduped.count()
    scored.unpersist(blocking = false)
    stages += Stage("batch_dedup", n1, n2)

    val metaPath = new org.apache.hadoop.fs.Path(s"$indexPath/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bootstrap = !fs.exists(metaPath)
    val novel = (if (bootstrap) deduped
      else {
        val idx = Dedup.loadLshIndex(spark, indexPath)
        val verdicts = Dedup.dedupAgainstIndex(deduped, "text", "doc_id",
          p.dedupThreshold, idx)
        deduped.join(verdicts.filter(col("is_novel"))
          .select(col("new_id").as("doc_id")), Seq("doc_id"))
      }).persist()
    val n3 = novel.count()
    stages += Stage("index_dedup", n2, n3)

    if (bootstrap)
      Dedup.saveLshIndex(
        Dedup.buildLshIndex(novel, "text", "doc_id"), indexPath)
    else
      Dedup.appendLshIndex(novel, "text", "doc_id", indexPath)
    deduped.unpersist(blocking = false)

    IncrementalResult(novel, stages.toSeq, bootstrap)
  }

  /** Write novel.parquet + manifest.json for one incremental batch. */
  def writeIncrementalOutputs(r: IncrementalResult, p: Params,
                              outDir: String): Unit = {
    r.novel.write.mode("overwrite").parquet(s"$outDir/novel.parquet")
    val stageJson = r.stages.map(s =>
      s"""{"stage":"${s.stage}","rows_in":${s.rowsIn},""" +
        s""""rows_out":${s.rowsOut},"dropped":${s.dropped}}""")
      .mkString("[", ",", "]")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/manifest.json"),
      (s"""{"bootstrapped":${r.bootstrapped},"stages":$stageJson}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    r.novel.unpersist(blocking = false)
  }

  /** Write curated.parquet, packed.parquet and manifest.json under
    * `outDir`, then release the persisted frames.
    */
  def writeOutputs(r: Result, p: Params, outDir: String): Unit = {
    r.curated.write.mode("overwrite").parquet(s"$outDir/curated.parquet")
    r.packed.write.mode("overwrite").parquet(s"$outDir/packed.parquet")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/manifest.json"),
      (manifestJson(r, p) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    r.curated.unpersist(blocking = false)
    r.packed.unpersist(blocking = false)
  }

  /** 2-D skyline (Pareto front, both dimensions maximized) over INTEGER
    * criteria — "which documents are not dominated on (length, quality)"
    * when no single score should pick survivors. A point is dominated
    * iff another point is ≥ on both dimensions and > on at least one.
    *
    * Shape: the corpus first collapses to per-x maxima (one grouped
    * fold — dominated-on-equal-x rows die there), then one cumulative
    * window over the BOUNDED distinct-x table finds, for each x, the
    * best y among strictly larger x (integer x makes `RANGE … −1` mean
    * exactly "x′ > x", which is why the op requires integral columns)
    * — never a pairwise dominance join. Returns the skyline points
    * (x, y, keep_id) with the smallest id among rows attaining each
    * surviving (x, y).
    */
  def skyline2d(df: DataFrame, xCol: String, yCol: String,
                idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(Seq(xCol, yCol).forall { c =>
      import org.apache.spark.sql.types._
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }, "skyline2d needs integral criteria (bin continuous scores first)")
    val perX = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(idCol).isNotNull)
      .groupBy(col(xCol).cast("long").as("x"))
      // lexicographic struct max: best y, smallest id among attainers
      .agg(max(struct(col(yCol).cast("long").as("y"),
        (-col(idCol).cast("long")).as("i"))).as("_m"))
      .select(col("x"), col("_m.y").as("y"), (-col("_m.i")).as("keep_id"))
    val strictlyRight = Window.orderBy(col("x"))
      .rangeBetween(1, Window.unboundedFollowing)
    perX
      .withColumn("_bestRight", max("y").over(strictlyRight))
      .filter(col("_bestRight").isNull || col("y") > col("_bestRight"))
      .select(col("x"), col("y"), col("keep_id"))
  }
}
