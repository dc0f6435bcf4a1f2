package graft.operators

import graft.functions.{CdcChunkHashes, MinHashSignature, SimHash64, SortedJaccardSim, TokenArray, TokenSet, WordShingles}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, token-set
  * Jaccard, MinHash+LSH, and SimHash.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison.
  * Exact dedup is a hash groupBy (one shuffle on the digest). Jaccard uses
  * equality blocking. MinHash/LSH shuffles only (band, bandHash) keys, so
  * the candidate join touches candidate buckets, not the corpus square.
  */
object Dedup {

  /** Exact dedup on a content digest: one representative row (lowest `idCol`)
    * per distinct digest. Single shuffle on the digest — the canonical
    * 100 TB-safe formulation (min-by aggregation, no window over skewed
    * groups, map-side partial aggregation applies).
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    df.select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper"))
  }

  /** Word 3-gram shingles of a text column. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)) - 1)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(idx, i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Exact Jaccard similarity of two string-array columns (as sets) —
    * native single-pass kernel (see [[graft.functions.ArrayJaccardSim]]).
    */
  def jaccard(a: Column, b: Column): Column = graft.functions.ArrayJaccardSim(a, b)

  /** PPJoin-style candidate pairs for exact Jaccard at `threshold`
    * (Xiao et al., WWW'08 prefix-filtering principle): rank tokens by
    * ascending global document frequency; a record's PREFIX is its
    * floor((1-t)*|x|)+1 rarest tokens, and any pair with J >= t must share
    * at least one prefix token. Candidates are therefore generated by an
    * equi-join on (prefix token [+ blockCols]) — every stage is LINEAR in
    * corpus size (explode/aggregate/joins on token keys), never the
    * within-block pair square, and rare-token blocks are tiny by
    * construction. Output may contain duplicate (id1, id2) rows (one per
    * shared prefix token); callers dedup after verification.
    */
  /** Per-record PPJoin prefix tokens: the |x| - ceil(t*|x|) + 1 tokens
    * rarest by (global document frequency, token) — ties broken lexically
    * so the ranking is total and deterministic across records. An overlap
    * of ceil(t*|x|) tokens cannot fit entirely inside the remaining
    * ceil(t*|x|) - 1 suffix tokens, so sharing a prefix token is a
    * NECESSARY condition both for Jaccard >= t and for containment
    * |x ∩ y|/|x| >= t. The ceil is widened by 1e-9 against FP boundary
    * rounding ((1-0.8)*5 is 0.9999... in doubles — the naive
    * floor((1-t)|x|)+1 form silently DROPPED a needed prefix token at
    * exact-boundary thresholds); widening can only lengthen the prefix,
    * never lose a true pair.
    */
  private def prefixTokens(toks: DataFrame, threshold: Double): DataFrame = {
    // global document frequency per token: one linear shuffle
    val tokFreq = toks.select(explode(col("toks")).as("ptok"))
      .groupBy("ptok").agg(count(lit(1)).as("tok_df"))
    toks.select(col("id"), explode(col("toks")).as("ptok"))
      .join(tokFreq, "ptok")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("tok_df"), col("ptok")))).as("ranked"))
      .select(col("id"), explode(slice(col("ranked"), lit(1),
        (size(col("ranked")) -
          ceil(lit(threshold) * size(col("ranked")) - lit(1e-9)).cast("int") +
          lit(1)))).as("p"))
      .select(col("id"), col("p.ptok").as("ptok"))
  }

  private def tokenized(df: DataFrame, textCol: String, idCol: String,
                        blockCols: Seq[String]): DataFrame =
    df.select(Seq(col(idCol).as("id"),
      TokenSet(col(textCol)).as("toks")) ++ blockCols.map(col): _*)

  /** PPJoin-style candidate pairs for exact Jaccard at `threshold`
    * (Xiao et al., WWW'08 prefix-filtering principle): any pair with
    * J >= t must share at least one PREFIX token (see [[prefixTokens]]),
    * so candidates come from an equi-join on (prefix token [+ blockCols]).
    * Every stage is LINEAR in corpus size — explode/aggregate/joins on
    * token keys, never the within-block pair square — and on a Zipfian
    * vocabulary the rare-token blocks are tiny by construction. Output may
    * contain duplicate (id1, id2) rows (one per shared prefix token);
    * callers dedup after verification.
    */
  private[graft] def ppjoinCandidates(df: DataFrame, textCol: String, idCol: String,
                                      blockCols: Seq[String], threshold: Double): DataFrame =
    ppjoinCandidatesFrom(tokenized(df, textCol, idCol, blockCols),
      toks => prefixTokens(toks, threshold), blockCols)

  /** [[ppjoinCandidates]] over an already-tokenized (and possibly
    * checkpointed) frame — [[jaccardPairs]] reuses the SAME tokenization
    * and prefix table its strategy probes already materialized instead
    * of rebuilding both (tokenize + the token-frequency shuffle + the
    * ranked-prefix aggregation ran twice before this split).
    */
  private def ppjoinCandidatesFrom(toks: DataFrame, pref: DataFrame => DataFrame,
                                   blockCols: Seq[String]): DataFrame = {
    val keyed = toks.join(pref(toks), "id")
      .withColumn("n", size(col("toks")))
    val l = keyed.select(Seq(col("ptok"), col("id").as("id1"), col("n").as("n1")) ++
      blockCols.map(col): _*)
    val r = keyed.select(Seq(col("ptok"), col("id").as("id2"), col("n").as("n2")) ++
      blockCols.map(col): _*)
    l.join(r, "ptok" +: blockCols)
      .filter(col("id1") < col("id2"))
      .select("id1", "n1", "id2", "n2")
  }

  /** Direct equality-block pair generation (the pre-PPJoin formulation):
    * quadratic within each block. Right only when the prefix filter cannot
    * beat the block square (degenerate tiny vocabularies).
    *
    * The size-ratio constraint (jaccard >= t implies t*|B| <= |A| and
    * t*|A| <= |B|) is pushed INTO the join key: the right side keys on
    * (block, |toks|) and each left row explodes only the admissible
    * right sizes in [t*n, n/t] (a handful of values at realistic t).
    * This prunes most of the block's pair square before a single pair is
    * materialized, and multiplies join-key cardinality by the size
    * spread — blocks are few (languages, sources), and a bare block-key
    * join would emit each block's quadratic pair set from ONE task
    * (output skew AQE cannot split, since it sees small inputs). The
    * size bounds are widened by 1e-9 against FP boundary rounding — the
    * banding stays a NECESSARY condition, and the exact kernel threshold
    * is the final filter, so the output is identical to the unbanded
    * join. Each pair appears exactly once (one size value per right
    * row), so no dedup pass is needed.
    */
  private def blockVerifiedPairs(toks: DataFrame, blockCols: Seq[String],
                                 threshold: Double): DataFrame = {
    val sized = toks.withColumn("n", size(col("toks")))
    val l = sized.select(Seq(col("id").as("id1"), col("n").as("n1"),
        col("toks").as("t1")) ++ blockCols.map(col): _*)
      .withColumn("nb", explode(sequence(
        ceil(lit(threshold) * col("n1") - lit(1e-9)).cast("long"),
        floor(col("n1") / lit(threshold) + lit(1e-9)).cast("long"))))
    val r = sized.select(Seq(col("id").as("id2"),
        col("n").cast("long").as("nb"), col("toks").as("t2")) ++ blockCols.map(col): _*)
    l.join(r, ("nb" +: blockCols).toSeq)
      .filter(col("id1") < col("id2"))
      .withColumn("jaccard", SortedJaccardSim(col("t1"), col("t2")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Exact candidate volume (sum over join-key groups of count^2 / 2)
    * plus the number of distinct join-key groups — the group count sizes
    * the salt factor when the block path is chosen.
    */
  private def volume(keyed: DataFrame, keys: Seq[String]): (Long, Long) = {
    val g = if (keys.isEmpty) keyed.groupBy(lit(1)) else keyed.groupBy(keys.map(col): _*)
    val v = g.agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")), count(lit(1))).collect()(0)
    (if (v.isNullAt(0)) 0L else v.getLong(0) / 2, v.getLong(1))
  }

  /** Token-set Jaccard near-dup pairs, adaptive candidate generation:
    * PPJoin prefix filtering when the corpus vocabulary makes prefix
    * tokens selective (the realistic Zipfian case at 100 TB), direct
    * equality blocking when it does not (tiny/dense vocabularies, where
    * the exact per-strategy candidate volumes — two linear aggregations —
    * show the prefix join would be the larger of the two). Both paths are
    * lossless (the prefix-filtering principle and the block constraint are
    * necessary conditions for J >= t), so the output is identical.
    *
    * Note that for genuinely dense corpora the TRUE pair set itself grows
    * quadratically, so no candidate filter changes the asymptotics there;
    * adaptivity just avoids paying prefix-join overhead for nothing.
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
                   blockCols: Seq[String], threshold: Double): DataFrame = {
    // tokenization and the prefix table are consumed by BOTH the strategy
    // probes and the chosen path: localCheckpoint once (eager — the probe
    // jobs read them immediately anyway) so the TokenSet kernel, the
    // token-frequency shuffle and the ranked-prefix aggregation each run
    // exactly once instead of twice.
    // Priced trade (r15 ADVICE): localCheckpoint truncates lineage, so an
    // executor loss mid-query fails the job rather than recomputing, and
    // the checkpoint stores corpus-scale token arrays on executor
    // memory/disk where a recompute-twice plan would stream them. At the
    // 100 TB target, prefer the single materialized pass (the probes make
    // every input read it at least twice; spill is disk-bounded) and rely
    // on job retry for the rare executor loss — the recompute-on-failure
    // alternative pays the double tokenization on EVERY run to save work
    // on the exceptional one.
    val toks = tokenized(df, textCol, idCol, blockCols)
      .localCheckpoint(eager = true)
    val pref = prefixTokens(toks, threshold).localCheckpoint(eager = true)
    val prefKeyed = toks.select(Seq(col("id")) ++ blockCols.map(col): _*)
      .join(pref, "id")
    // the two strategy probes are independent linear jobs — run them
    // concurrently so the planning decision costs max, not sum
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val prefF = Future(volume(prefKeyed, "ptok" +: blockCols))
    val blockF = Future(volume(toks, blockCols))
    val (prefixVolume, _) = Await.result(prefF, Duration.Inf)
    val (blockVolume, _) = Await.result(blockF, Duration.Inf)
    if (prefixVolume >= blockVolume)
      return blockVerifiedPairs(toks, blockCols, threshold)
    // PPJoin path: candidates carry only (id, |toks|) — the prefix-token
    // join and the pair dedup shuffle 24-byte rows, not token arrays.
    // The size-ratio prefilter (jaccard >= t implies t*|B| <= |A| and
    // t*|A| <= |B|, lossless) prunes on those ints BEFORE the dedup
    // (a candidate appears once per shared prefix token), and the
    // surviving distinct pairs re-join the token sets once per side for
    // the merge-scan kernel — each array crosses the wire once per
    // verified pair side, not once per candidate occurrence.
    val verified = ppjoinCandidatesFrom(toks, _ => pref, blockCols)
      .filter(col("n1").cast("double") >= lit(threshold) * col("n2") &&
              col("n2").cast("double") >= lit(threshold) * col("n1"))
      .select("id1", "id2").dropDuplicates("id1", "id2")
      .join(toks.select(col("id").as("id1"), col("toks").as("t1")), Seq("id1"))
      .join(toks.select(col("id").as("id2"), col("toks").as("t2")), Seq("id2"))
    verified
      .withColumn("jaccard", SortedJaccardSim(col("t1"), col("t2")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** LSH banding planner — the table you read BEFORE choosing
    * [[minHashLshPairs]]'s `bands`: for every (bands, rowsPerBand)
    * factorization of `numPerm`, the s-curve's characteristic
    * threshold s* = (1/b)^(1/r) (the similarity where collision
    * probability crosses ~1/2) and the collision probabilities
    * 1 − (1 − s^r)^b at the caller's `target` similarity (recall
    * proxy — want ≈ 1) and at a sub-threshold `distractor` similarity
    * (false-candidate proxy — want ≈ 0). Leskovec et al., MMDS ch.3.
    *
    * Shape: driver-built divisor table (≤ d(numPerm) rows — bounded by
    * the parameter, never by data), one narrow projection of closed-form
    * doubles rounded at 6 dp.
    */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, numPerm: Int,
              target: Double, distractor: Double): DataFrame = {
    require(numPerm >= 2 && numPerm <= 4096, "numPerm in [2, 4096]")
    require(target > 0 && target < 1, "target in (0, 1)")
    require(distractor >= 0 && distractor < target,
      "distractor in [0, target)")
    import spark.implicits._
    val pairs = (1 to numPerm).filter(numPerm % _ == 0)
      .map(b => (b.toLong, (numPerm / b).toLong))
    val rD = col("rows_per_band").cast("double")
    val bD = col("bands").cast("double")
    def sCurve(s: Double): Column =
      round(lit(1.0) - pow(lit(1.0) - pow(lit(s), rD), bD), 6)
    pairs.toDF("bands", "rows_per_band")
      .select(col("bands"), col("rows_per_band"),
        round(pow(lit(1.0) / bD, lit(1.0) / rD), 6).as("s_star"),
        sCurve(target).as("p_at_target"),
        sCurve(distractor).as("p_at_distractor"))
  }

  /** MinHash+LSH near-dup pairs: shingle -> one-pass signature ->
    * band buckets -> bucket self-join for candidates -> exact Jaccard
    * verification (Broder'97; banding per Leskovec et al., MMDS ch.3).
    *
    * numPerm = bands * rowsPerBand. The band self-join and the candidate
    * dedup carry ONLY (id1, id2): a pair at Jaccard j collides in
    * ~bands*j^rows bands, so candidate volume is a multiple of the true
    * pair count — dragging the shingle arrays through that shuffle
    * multiplies its byte volume by the array width (KBs per row vs 16
    * bytes). Shingle sets are re-attached to the DISTINCT pairs by two
    * id-equi-joins for the exact-Jaccard verification, so each array
    * crosses the wire once per surviving pair side, not once per band
    * collision. Verification keeps the output free of false positives.
    */
  def minHashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double, numPerm: Int = 128,
                      bands: Int = 32): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    val rows = numPerm / bands
    val base = df.select(col(idCol).as("id"),
      WordShingles(col(textCol), 3).as("sh"))
      .withColumn("sig", MinHashSignature(col("sh"), numPerm))
    // null/empty shingle sets all share the identical all-MaxValue
    // signature: they'd collide with each other in EVERY band, and a
    // null-heavy corpus would emit O(nulls^2) candidates that the
    // verification stage then rejects one by one. They can never verify
    // at threshold > 0, so keep them out of the banding entirely.
    val banded = base
      .filter(col("sh").isNotNull && size(col("sh")) > 0)
      .select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * lit(rows) + 1, lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val l = banded.select(col("band"), col("band_hash"), col("id").as("id1"))
    val r = banded.select(col("band"), col("band_hash"), col("id").as("id2"))
    val cand = l.join(r, Seq("band", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").dropDuplicates("id1", "id2")
    val sh = base.select(col("id"), col("sh"))
    cand
      .join(sh.select(col("id").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(sh.select(col("id").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .withColumn("jaccard", SortedJaccardSim(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Incremental corpus update: classify each NEW document as novel or a
    * near-duplicate of the EXISTING corpus — the daily-crawl decision
    * (which freshly crawled docs add information) that a full
    * [[dedupCorpus]] re-run answers at corpus-square cost. Same
    * shingle/signature/banding as [[minHashLshPairs]], but the band join
    * is ASYMMETRIC (new x corpus, never corpus x corpus), so cost scales
    * with |new| x collision rate regardless of corpus size; at 100 TB
    * the corpus band table is computed once and reused across daily
    * increments. Returns one row per new doc:
    * (new_id, matched_id, jaccard, is_novel) with matched_id = the
    * lowest-id corpus near-dup at or above `threshold` (null if novel).
    */
  def incrementalDedup(newDf: DataFrame, corpusDf: DataFrame, textCol: String,
                       idCol: String, threshold: Double, numPerm: Int = 128,
                       bands: Int = 32): DataFrame =
    dedupAgainstIndex(newDf, textCol, idCol, threshold,
      buildLshIndex(corpusDf, textCol, idCol, numPerm, bands))

  /** A reusable MinHash-LSH corpus index: `bandIndex` holds one
    * (band, band_hash, id) row per corpus document per band (the LSH
    * candidate-probe side), `shingles` holds each document's distinct
    * word-3-shingle set (the exact-verification side). `numPerm`/`bands`
    * are carried so a probe is always sketched with the SAME banding the
    * index was built with — mixing bandings silently yields zero
    * candidates, which is why [[Dedup.dedupAgainstIndex]] takes the
    * whole index, not two loose DataFrames.
    */
  final case class LshIndex(bandIndex: DataFrame, shingles: DataFrame,
                            numPerm: Int, bands: Int)

  /** Sketch a corpus ONCE into a persistable [[LshIndex]] — the
    * production shape for daily-increment dedup at 100 TB: the corpus
    * band table and shingle store are computed at ingest time and saved
    * ([[saveLshIndex]]); each increment then pays only its own sketch
    * plus the asymmetric candidate join ([[dedupAgainstIndex]]), never
    * re-reading or re-hashing corpus text.
    */
  def buildLshIndex(corpusDf: DataFrame, textCol: String, idCol: String,
                    numPerm: Int = 128, bands: Int = 32): LshIndex = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    val base = lshSketch(corpusDf, textCol, idCol, numPerm)
    LshIndex(lshBands(base, "id", bands, numPerm / bands),
      base.select(col("id"), col("sh")), numPerm, bands)
  }

  /** Persist an index as two partitioned parquet tables plus a 1-row
    * meta table (banding parameters). Corpus-sized data stays
    * distributed — unlike the kilobyte models in ModelStore, nothing
    * here collects to the driver.
    */
  def saveLshIndex(idx: LshIndex, path: String): Unit = {
    idx.bandIndex.write.mode("overwrite").parquet(s"$path/bands")
    idx.shingles.write.mode("overwrite").parquet(s"$path/shingles")
    val spark = idx.bandIndex.sparkSession
    import spark.implicits._
    Seq((idx.numPerm, idx.bands)).toDF("num_perm", "bands")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadLshIndex(spark: org.apache.spark.sql.SparkSession, path: String): LshIndex = {
    val meta = spark.read.parquet(s"$path/meta").head()
    LshIndex(spark.read.parquet(s"$path/bands"),
      spark.read.parquet(s"$path/shingles"),
      meta.getAs[Int]("num_perm"), meta.getAs[Int]("bands"))
  }

  /** Fold new (already deduplicated) documents into an index — the
    * steady-state of incremental ingest: sketch ONLY the increment,
    * union its band/shingle tables with the existing ones. Equivalent
    * to rebuilding from the full corpus (same deterministic sketches;
    * spec-proven) at the increment's cost instead of the corpus's.
    */
  def appendToLshIndex(novelDf: DataFrame, textCol: String, idCol: String,
                       idx: LshIndex): LshIndex = {
    val base = lshSketch(novelDf, textCol, idCol, idx.numPerm)
    LshIndex(
      idx.bandIndex.unionByName(
        lshBands(base, "id", idx.bands, idx.numPerm / idx.bands)),
      idx.shingles.unionByName(base.select(col("id"), col("sh"))),
      idx.numPerm, idx.bands)
  }

  /** [[appendToLshIndex]] against a SAVED index: append-mode parquet
    * writes of the increment's band/shingle rows — the on-disk index
    * grows by the increment, never rewrites, never re-reads the
    * existing corpus TEXT. (Meta is parameters-only and stays untouched;
    * mixed banding parameters are impossible by construction.)
    *
    * IDEMPOTENT against retries: increment ids already present in the
    * index are anti-joined out before writing, so a re-run of a failed
    * append job cannot double-append (duplicated band rows would skew
    * every later candidate join against the index). The defense costs
    * one id-only column scan of the shingle table (column-pruned
    * parquet read) plus a |new|-sized anti-join — never corpus-sized
    * shuffle of payload data. Band/shingle rows a PARTIALLY failed
    * write left behind are healed by [[compactLshIndex]].
    */
  def appendLshIndex(novelDf: DataFrame, textCol: String, idCol: String,
                     path: String): Unit = {
    val spark = novelDf.sparkSession
    val meta = spark.read.parquet(s"$path/meta").head()
    val numPerm = meta.getAs[Int]("num_perm")
    val bands = meta.getAs[Int]("bands")
    val existing = spark.read.parquet(s"$path/shingles")
      .select(col("id").as("_existing_id"))
    val fresh = novelDf.join(existing,
      novelDf(idCol) === col("_existing_id"), "left_anti")
    val base = lshSketch(fresh, textCol, idCol, numPerm)
    lshBands(base, "id", bands, numPerm / bands)
      .write.mode("append").parquet(s"$path/bands")
    base.select(col("id"), col("sh"))
      .write.mode("append").parquet(s"$path/shingles")
  }

  /** Compact a SAVED index in place: drop duplicate band/shingle rows
    * accumulated by historical non-idempotent appends or partially
    * committed retries. Sketches are deterministic per id, so any
    * duplicate is an EXACT row duplicate and a `dropDuplicates` on the
    * key columns restores the fresh-build state — spec-proven equal to
    * `buildLshIndex` over the union corpus. Rewrite goes to a sibling
    * temp dir, the live table is renamed ASIDE to a backup, the temp
    * renamed into place, and only then is the backup deleted — a crash
    * at any point leaves either the old or the new table recoverable
    * (the old under `_<sub>_backup` for the one in-between instant),
    * never zero copies. Renames are metadata-only on HDFS/local; on
    * object stores where rename is a non-atomic copy the backup copy
    * is exactly what makes the window survivable. A stale backup from
    * a previous crash is cleared before starting. Cost is one full
    * scan + shuffled dedup of the index tables — the
    * periodic-maintenance price, not the per-increment one.
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def rewrite(sub: String, keyCols: Seq[String]): Unit = {
      val src = new org.apache.hadoop.fs.Path(s"$path/$sub")
      val tmp = new org.apache.hadoop.fs.Path(s"$path/_${sub}_compacting")
      val bak = new org.apache.hadoop.fs.Path(s"$path/_${sub}_backup")
      val fs = src.getFileSystem(conf)
      spark.read.parquet(src.toString)
        .dropDuplicates(keyCols)
        .write.mode("overwrite").parquet(tmp.toString)
      if (fs.exists(bak)) fs.delete(bak, true) // stale crash leftovers
      require(fs.rename(src, bak), s"compactLshIndex: cannot set aside $src")
      require(fs.rename(tmp, src), s"compactLshIndex: cannot swap in $tmp")
      fs.delete(bak, true)
    }
    rewrite("bands", Seq("band", "band_hash", "id"))
    rewrite("shingles", Seq("id"))
  }

  private def lshSketch(df: DataFrame, textCol: String, idCol: String,
                        numPerm: Int): DataFrame =
    df.select(col(idCol).as("id"), WordShingles(col(textCol), 3).as("sh"))
      .withColumn("sig", MinHashSignature(col("sh"), numPerm))

  private def lshBands(base: DataFrame, as: String, bands: Int,
                       rows: Int): DataFrame = base
    .filter(col("sh").isNotNull && size(col("sh")) > 0)
    .select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * lit(rows) + 1, lit(rows))))))
    .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    .select(col("band"), col("band_hash"), col("id").as(as))

  /** Classify each NEW document as novel or a near-duplicate of the
    * indexed corpus — the daily-crawl decision (which freshly crawled
    * docs add information) that a full [[dedupCorpus]] re-run answers at
    * corpus-square cost. Same shingle/signature/banding as
    * [[minHashLshPairs]], but the band join is ASYMMETRIC
    * (new x corpus, never corpus x corpus), so cost scales with
    * |new| x collision rate regardless of corpus size. Returns one row
    * per new doc: (new_id, matched_id, jaccard, is_novel) with
    * matched_id = the lowest-id corpus near-dup at or above `threshold`
    * (null if novel).
    */
  def dedupAgainstIndex(newDf: DataFrame, textCol: String, idCol: String,
                        threshold: Double, idx: LshIndex): DataFrame = {
    val newBase = lshSketch(newDf, textCol, idCol, idx.numPerm)
    val cand = lshBands(newBase, "new_id", idx.bands, idx.numPerm / idx.bands)
      .join(idx.bandIndex.select(col("band"), col("band_hash"),
        col("id").as("cid")), Seq("band", "band_hash"))
      .select("new_id", "cid").dropDuplicates("new_id", "cid")
    val verified = cand
      .join(newBase.select(col("id").as("new_id"), col("sh").as("sh1")), Seq("new_id"))
      .join(idx.shingles.select(col("id").as("cid"), col("sh").as("sh2")), Seq("cid"))
      .withColumn("jaccard", SortedJaccardSim(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= threshold)
    // lowest-id match, with ITS jaccard: lexicographic min over the pair
    val best = verified
      .groupBy("new_id")
      .agg(min(struct(col("cid"), col("jaccard"))).as("m"))
      .select(col("new_id"), col("m.cid").as("matched_id"), col("m.jaccard").as("jaccard"))
    newDf.select(col(idCol).as("new_id"))
      .join(best, Seq("new_id"), "left")
      .withColumn("is_novel", col("matched_id").isNull)
  }

  /** FIELD-LEVEL survivorship (golden-record merge): one output row per
    * cluster where EACH field independently comes from the best source
    * row that actually has it — the step after [[survivorshipDedup]]
    * when sources are complementary (row A has the phone, row B the
    * fresher address; whole-row survivorship throws one of them away).
    * "Best" per field = lexicographic max of (field present, score,
    * tie-breaker): non-null beats null, then `scoreCol`, then `tieCol`
    * (pass a unique id — it makes the choice total and deterministic).
    *
    * Shape: ONE grouped aggregation — each field is a struct-max
    * aggregate (map-side combinable, no window over skewed clusters,
    * the [[survivorshipDedup]] policy argmax generalized per column);
    * at 100 TB this is a single shuffle on the cluster key.
    */
  def goldenRecord(df: DataFrame, clusterCol: String, fields: Seq[String],
                   scoreCol: String, tieCol: String): DataFrame = {
    require(fields.nonEmpty, "goldenRecord needs at least one field")
    val aggs = fields.map { f =>
      max(struct(col(f).isNotNull.cast("int").as("_nn"),
        col(scoreCol).as("_s"), col(tieCol).as("_t"), col(f).as("_v")))
        .getField("_v").as(f)
    } :+ count(lit(1)).as("n_sources")
    df.groupBy(col(clusterCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Shifted-duplicate pairs via content-defined chunking
    * ([[graft.functions.CdcChunkHashes]]): documents sharing at least
    * `minShared` chunk hashes. The case MinHash underweights — a long
    * verbatim block inside otherwise-different documents (prepended
    * boilerplate, concatenated articles, quoted passages): chunk
    * boundaries re-synchronize on content within bytes of a shared
    * region's start, so the shared block contributes identical chunks
    * no matter where each document placed it.
    *
    * Scale shape: (id, chunk) exploded pairs shuffle on the chunk hash;
    * BOILERPLATE chunks (site headers, license blocks — present in
    * thousands of docs) would square the per-hash join groups, so any
    * chunk appearing in more than `maxDocFreq` documents is dropped
    * before the self-join (the classic stop-chunk prune; a chunk that
    * common is boilerplate, not evidence of copying — same reasoning as
    * the Apriori item prune in
    * [[graft.operators.EventAnalytics.coOccurrence]]). Join volume is
    * then bounded by maxDocFreq² per chunk.
    */
  def cdcOverlapPairs(df: DataFrame, textCol: String, idCol: String,
                      minShared: Int = 2, maxDocFreq: Int = 100,
                      avgBits: Int = 5, minLen: Int = 16,
                      maxLen: Int = 64): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    require(maxDocFreq >= 2, "maxDocFreq must be >= 2")
    val chunks = df.select(col(idCol).as("id"),
        explode(CdcChunkHashes(col(textCol), avgBits, minLen, maxLen))
          .as("ch"))
      .dropDuplicates("id", "ch")
    val rare = chunks.groupBy("ch").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDocFreq).select("ch")
    val pruned = chunks.join(rare, Seq("ch"), "left_semi")
    pruned.select(col("ch"), col("id").as("id1"))
      .join(pruned.select(col("ch"), col("id").as("id2")), "ch")
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= minShared)
  }

  /** SimHash near-dup pairs: 64-bit signature, exact-match buckets on
    * 16-bit quarters. By pigeonhole, any pair within Hamming distance <= 3
    * shares at least one exact quarter, so recall is total for
    * maxHamming <= 3; candidates are verified with an exact popcount.
    */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(df.select(col(idCol).as("id"),
      SimHash64(TokenArray(col(textCol))).as("sig")), maxHamming)

  /** Near-dup pairs among precomputed 64-bit signatures (`id`, `sig`) —
    * the banded-Hamming core shared by [[simHashPairs]] (text SimHash)
    * and image perceptual hashes ([[Multimodal.imagePHash]] dHash /
    * aHash): exact-match buckets on 16-bit quarters; by pigeonhole any
    * pair within Hamming distance ≤ 3 shares at least one exact
    * quarter, so recall is total for maxHamming ≤ 3; candidates are
    * verified with an exact popcount. Never all-pairs: cost is bucket
    * collision volume, the same banded shape as MinHash-LSH.
    */
  def hammingPairs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val blocked = sigs.filter(col("sig").isNotNull)
      .select(col("id"), col("sig"),
        posexplode(array((0 until 4).map(q =>
          shiftrightunsigned(col("sig"), q * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "q").withColumnRenamed("col", "qkey")
    val l = blocked.select(col("q"), col("qkey"), col("id").as("id1"), col("sig").as("sig1"))
    val r = blocked.select(col("q"), col("qkey"), col("id").as("id2"), col("sig").as("sig2"))
    l.join(r, Seq("q", "qkey"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "sig1", "sig2").dropDuplicates("id1", "id2")
      .withColumn("hamming", bit_count(col("sig1").bitwiseXOR(col("sig2"))))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Connected components over near-dup pairs via iterative min-label
    * propagation: each node adopts the smallest label among itself and its
    * neighbors until fixpoint. O(component diameter) rounds, each one
    * shuffle (join + min-aggregate) — near-dup components are shallow
    * (duplicates of duplicates), so this converges in a handful of rounds
    * even at corpus scale. Returns (id, component) with component = min id
    * in the component.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          smallGraphEdges: Long = 5000000L): DataFrame = {
    // near-dup candidate graphs are a tiny fraction of the corpus; below
    // the threshold a driver-side union-find beats O(diameter) shuffle
    // rounds by orders of magnitude (same hybrid as broadcast-vs-shuffle
    // joins). The size probe IS the edge fetch: one limit-bounded collect
    // evaluates the pair pipeline exactly once and either yields the
    // whole edge list (union-find path; driver memory bounded at
    // smallGraphEdges x 16 bytes) or proves the graph is big — no
    // separate count pass, no caller-side persist needed for this path.
    // The iterative path remains for genuinely huge pair sets.
    val probe = pairs.select(col("id1").cast("long"), col("id2").cast("long"))
      .limit((smallGraphEdges + 1).toInt)
      .collect()
    if (probe.length <= smallGraphEdges)
      return unionFindComponents(pairs.sparkSession,
        probe.map(r => (r.getLong(0), r.getLong(1))))
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct()
      .persist()
    // Each round: (1) one-hop neighbor-min, (2) POINTER JUMP — follow
    // the new label one more step through the label table itself, so a
    // min label travels 2^k hops after k rounds instead of k. A path
    // graph of diameter d converges in O(log d) rounds, not O(d) — the
    // difference between 6 and 10^6 shuffles on a worst-case 100 TB
    // near-dup chain. An eager checkpoint per round truncates
    // lineage: persist() alone leaves the logical plan DOUBLING per
    // round (the 2-self-reference union/join), which blows up analysis
    // cost exponentially long before any data does.
    val loop = new Materialize.Loop
    var labels = loop.checkpoint(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborLabels = edges
        .join(labels.select(col("id").as("dst"), col("component").as("n_comp")),
          Seq("dst"))
        .select(col("src").as("id"), col("n_comp").as("component"))
      val oneHop = labels.select(col("id"), col("component"))
        .union(neighborLabels)
        .groupBy("id").agg(min("component").as("component"))
      // every component value is itself a node id (min over node ids),
      // so label-of-label is a self-join on the one-hop table; the left
      // join + coalesce is belt-and-braces for the root labels
      val jumped = oneHop
        .join(oneHop.select(col("id").as("component"), col("component").as("_jc")),
          Seq("component"), "left")
        .select(col("id"), coalesce(col("_jc"), col("component")).as("component"))
      val updated = loop.checkpoint(jumped)
      val changed = updated.join(labels.withColumnRenamed("component", "old"), Seq("id"))
        .filter(col("component") < col("old")).limit(1).count()
      loop.keepOnly(updated)
      labels = updated
      converged = changed == 0
      iter += 1
    }
    edges.unpersist(blocking = false)
    labels
  }

  /** Driver-side union-find over a collected edge list, emitted back as a
    * (id, component) DataFrame with component = min id per component.
    */
  private def unionFindComponents(spark: org.apache.spark.sql.SparkSession,
                                  edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val rows = parent.keys.toSeq.map(id => (id, find(id)))
    rows.toDF("id", "component")
  }

  /** Asymmetric containment near-dup pairs: |A ∩ B| / |A| >= `threshold`,
    * id1 != id2 (both directions are emitted — containment is not
    * symmetric; the high-scoring direction identifies the EMBEDDED
    * document, which Jaccard misses when sizes differ).
    * The only universally-valid size prune is the lower bound
    * |B| >= t * |A| (B must hold at least t|A| of A's tokens); the kernel
    * ([[graft.functions.SortedContainmentSim]]) verifies exactly.
    *
    * Candidate generation: with `blockCols` an equality-block join; with
    * NO blocks, an asymmetric prefix filter (the containment adaptation of
    * the PPJoin principle) — if |A ∩ B| >= t|A| then A's
    * floor((1-t)|A|)+1 globally-rarest tokens must intersect B's FULL
    * token set (otherwise the overlap fits inside A's ceil(t|A|)-1
    * remaining tokens, a contradiction). Probing A-prefix tokens against
    * the exploded corpus token index is linear in corpus token count and
    * selective on a Zipfian vocabulary (prefix tokens are the rare ones) —
    * never the corpus pair square, so the unblocked API call can no longer
    * degrade to a cartesian product.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       blockCols: Seq[String], threshold: Double): DataFrame = {
    val sized = tokenized(df, textCol, idCol, blockCols)
      .withColumn("n", size(col("toks")))
    val joined = if (blockCols.nonEmpty) {
      val l = sized.select(Seq(col("id").as("id1"), col("n").as("n1"),
        col("toks").as("t1")) ++ blockCols.map(col): _*)
      val r = sized.select(Seq(col("id").as("id2"), col("n").as("n2"),
        col("toks").as("t2")) ++ blockCols.map(col): _*)
      l.join(r, blockCols)
    } else {
      // candidates carry only ids through the prefix join + dedup; token
      // arrays re-attach once per surviving pair side (the jaccardPairs /
      // LSH byte-volume discipline)
      val probe = prefixTokens(sized.select("id", "toks"), threshold)
        .select(col("id").as("id1"), col("ptok"))
      val index = sized.select(col("id").as("id2"),
        explode(col("toks")).as("ptok"))
      probe.join(index, "ptok")
        .filter(col("id1") =!= col("id2"))
        .select("id1", "id2").dropDuplicates("id1", "id2")
        .join(sized.select(col("id").as("id1"), col("n").as("n1"),
          col("toks").as("t1")), Seq("id1"))
        .join(sized.select(col("id").as("id2"), col("n").as("n2"),
          col("toks").as("t2")), Seq("id2"))
    }
    joined.filter(col("id1") =!= col("id2"))
      .filter(col("n2").cast("double") >= lit(threshold) * col("n1"))
      .withColumn("containment",
        graft.functions.SortedContainmentSim(col("t1"), col("t2")))
      .filter(col("containment") >= threshold)
      .select("id1", "id2", "containment")
  }

  /** Benchmark decontamination (training-pipeline staple): flag every
    * training document sharing at least one word 3-shingle with the
    * benchmark/eval corpus, with the shared-shingle count. One explode
    * per side and one equi-join on the shingle string; the benchmark
    * side is distinct-ed first and is typically tiny (eval sets), so
    * AQE broadcasts it and the training side never shuffles — at 100 TB
    * the cost is one linear scan. Shingles per doc are already distinct
    * ([[graft.functions.WordShingles]]), so the joined (doc, shingle)
    * rows are unique and a plain count gives the distinct overlap.
    */
  def contamination(docs: DataFrame, bench: DataFrame, textCol: String,
                    idCol: String, benchTextCol: String): DataFrame = {
    val g = docs.select(col(idCol), explode(WordShingles(col(textCol), 3)).as("g"))
    val bg = bench.select(explode(WordShingles(col(benchTextCol), 3)).as("g")).distinct()
    g.join(bg, "g").groupBy(idCol).agg(count(lit(1)).as("n_shared"))
  }

  /** Corpus-level near-duplicate removal: cluster near-dup pairs into
    * components and keep the lowest-id document of each component (plus
    * every unpaired document). The end-to-end dedup a training-data
    * pipeline actually runs.
    *
    * Staged like production pipelines (exact dedup BEFORE MinHash):
    * exact copies collapse to their min-id representative with one
    * linear digest groupBy, and the quadratic-in-duplication LSH stage
    * sees only representatives. Exact copies have identical shingle
    * sets, so every exact group is near-dup-complete and the staged
    * result is IDENTICAL to running LSH on the full corpus — but a
    * corpus with replication factor r costs the near-dup stage
    * (n/r)-sized work instead of emitting r^2/2 true pairs per group
    * (measured 30x-replicated sf0.1: 182 s of pair emission collapses
    * to the 1x cost). Component representative = min keeper id = global
    * min id of the component, since each exact keeper is its group's
    * minimum.
    */
  /** Survivorship dedup: the [[dedupCorpus]] near-dup clusters, but the
    * cluster representative is chosen by a QUALITY POLICY — highest
    * `scoreCol`, ties to the lowest id — instead of the lowest id. This
    * is the curation policy real pipelines run ("among near-duplicate
    * crawls keep the longest / highest-quality capture"), where min-id
    * survivorship silently keeps whichever copy was ingested first.
    *
    * Returns one row per cluster: (component, cluster_size, rep_id,
    * rep_score). `component` stays the min member id — a stable cluster
    * key independent of the policy, so re-running with a different
    * policy preserves cluster identity.
    *
    * Scale shape: the exact + LSH + connected-components stages are
    * shared with [[dedupCorpus]] (all linear, banded equi-joins, never
    * the pair square). Every doc maps to its component through its
    * exact-stage keeper (exact copies share the keeper's shingle set,
    * so the keeper's component IS the group's component), and the
    * per-component argmax is a single struct-min hash aggregation —
    * map-side combinable, no window over skewed clusters. The argmax
    * key packs (-score, id), so the choice is total and deterministic.
    */
  def survivorshipDedup(df: DataFrame, textCol: String, idCol: String,
                        scoreCol: String, threshold: Double): DataFrame = {
    val nonNull = df.filter(col(textCol).isNotNull)
    val groups = nonNull
      .select(md5(col(textCol)).as("_digest"), col(idCol), col(scoreCol))
    val keepers = groups.groupBy("_digest").agg(min(col(idCol)).as("_keeper"))
    val reps = nonNull.join(
      keepers.withColumnRenamed("_keeper", idCol), Seq(idCol))
    val comps = connectedComponents(minHashLshPairs(reps, textCol, idCol, threshold))
    // every doc -> its keeper -> the keeper's component (or itself)
    val memberComp = groups.join(keepers, Seq("_digest"))
      .join(comps.withColumnRenamed("id", "_keeper"), Seq("_keeper"), "left")
      .withColumn("component", coalesce(col("component"), col("_keeper")))
    val nullMembers = df.filter(col(textCol).isNull)
      .select(col(idCol), col(scoreCol))
      .withColumn("component", col(idCol))
    memberComp.select(col(idCol), col(scoreCol), col("component"))
      .unionByName(nullMembers)
      .groupBy("component")
      .agg(count(lit(1)).as("cluster_size"),
        min(struct((col(scoreCol) * lit(-1)).as("ns"), col(idCol).as("i")))
          .as("_best"))
      .select(col("component"), col("cluster_size"),
        col("_best.i").as("rep_id"), (col("_best.ns") * lit(-1)).as("rep_score"))
  }

  def dedupCorpus(df: DataFrame, textCol: String, idCol: String,
                  threshold: Double): DataFrame = {
    // null-text docs are NOT exact duplicates of each other (md5(NULL)
    // groups them, but the near-dup semantics keep every null doc: a
    // null shingle set matches nothing) — each stays its own keeper
    val keepers = exactDedup(df.filter(col(textCol).isNotNull), textCol, idCol)
      .select(col("keeper").as(idCol))
      .unionByName(df.filter(col(textCol).isNull).select(col(idCol)))
    val reps = df.join(keepers, Seq(idCol))
    // no persist: connectedComponents' probe-collect IS the edge fetch on
    // the small-graph path, so the shingle -> signature -> band-join
    // pipeline evaluates exactly once. (The huge-graph iterative path
    // re-evaluates it once more to build the edge RDD — amortized over
    // its >= diameter shuffle rounds.)
    val pairs = minHashLshPairs(reps, textCol, idCol, threshold)
    val comps = connectedComponents(pairs)
    reps.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("_keep", col(idCol) === col("component"))
      .filter(col("_keep")).drop("_keep")
  }
}
