package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PrefixSum.workPartition

/** Persisted hyperplane-LSH index over an embedding corpus — the vector
  * flavor of the text pipeline's saved MinHash index
  * ([[Dedup.buildLshIndex]] / [[Dedup.appendLshIndex]] /
  * [[Dedup.dedupAgainstIndex]]), built so INCREMENTAL semantic dedup
  * pays batch-sized compute per batch instead of re-hashing the entire
  * corpus every time ([[Similarity.semanticDedupIncrement]]'s one
  * documented scale soft spot: its `lshKeyed` union hashes the full
  * corpus per call).
  *
  * On-disk layout at `path`:
  *   - `keys/` — one row per (vector, table): (id, rk16, v), PARTITIONED
  *     BY (t, bucket). Partitioning by the collision key is the scale
  *     lever: a probe knows its touched (t, bucket) set from its own
  *     hashed keys, so the matching partition directories are
  *     CONSTRUCTED and read as explicit roots ([[prunedKeys]] — never a
  *     discovery listing of the whole index), and the batch side
  *     broadcasts into the collision join. A batch of b rows touches
  *     ≤ b of the 2^nBits directories per table, so per-batch I/O AND
  *     listing are bounded by the batch's bucket coverage, not the
  *     corpus (size nBits to the expected batch: b ≪ 2^nBits).
  *   - `meta/` — one row: (dim, n_bits, n_tables, max_bucket,
  *     refine_bits). The banding parameters are pinned at build time so
  *     every batch hashes with the SAME planes as the corpus.
  *
  * The refineAll seam ([[Similarity.lshKeyed]]): when buckets overflow
  * `maxBucket`, every row gains a refinement sub-key, and a pair only
  * collides if BOTH sides derive the sub-key identically — split-keyed
  * sides zero the collision set. The index therefore stores the
  * refinement key at FULL width (`rk16`, 16 bits from the same per-table
  * refinement planes `lshKeyed` uses), and the EFFECTIVE refinement is
  * the meta's `refine_bits` low bits of it, applied by the reader to
  * both sides. Because bit b of a hyperplane key depends only on
  * (seed, b) — [[Similarity.planeMatrix]] is tabulated per bit — the
  * masked prefix of rk16 IS the refineBits-bit hyperplane key, so
  * re-tightening the refinement as the corpus grows
  * ([[refreshRefineBits]]) is a META-ONLY update: one column-pruned
  * count over the keys, no re-hash, no rewrite.
  *
  * Recall contract as [[Similarity.semanticDiff]]: seeded hyperplanes
  * make a missed pair a deterministic property of the data (~1e-21
  * per pair at the default 16×8 in the near-dup regime); storage costs
  * nTables copies of each vector — the price of bucket-pruned I/O
  * (the text index's normalized band/shingle split pays a corpus-wide
  * shingle scan per verify instead).
  */
object SemanticIndex {
  import Similarity.{asDouble, cosine, hyperplaneKey}

  // the lshKeyed seed schedule — shared so index keys are the exact keys
  // the in-memory operators produce
  private val BaseSeed = 42L
  private val BaseStride = 7919L
  private val RefineSeed = 104729L
  private val RefineStride = 15485863L
  /** full stored width of the refinement key; meta.refineBits ≤ this */
  private[graft] val RefineWidth = 16

  /** Pinned banding parameters (the meta row). */
  case class Meta(dim: Int, nBits: Int, nTables: Int, maxBucket: Int,
                  refineBits: Int)

  /** One (id, t, bucket, rk16, v) row per (vector, table) under `m`'s
    * pinned planes — the shared keying for build, append, and probe.
    */
  private def keyRows(df: DataFrame, idCol: String, vecCol: String,
                      m: Meta): DataFrame = {
    val keyed = df.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("v"))
    val tableKeys = array((0 until m.nTables).map(t =>
      hyperplaneKey(col("v"), m.dim, m.nBits,
        seed = BaseSeed + BaseStride * t)): _*)
    val rkKeys = array((0 until m.nTables).map(t =>
      hyperplaneKey(col("v"), m.dim, RefineWidth,
        seed = RefineSeed + RefineStride * t)): _*)
    keyed.withColumn("_rk", rkKeys)
      .select(col("id"), col("v"), posexplode(tableKeys), col("_rk"))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "bucket")
      .withColumn("rk16", element_at(col("_rk"), col("t") + 1))
      .select("t", "bucket", "id", "rk16", "v")
  }

  /** Effective sub-key under `refineBits`: the low bits of the stored
    * full-width refinement key (bit b of a hyperplane key depends only
    * on plane b, so the masked value equals the refineBits-bit key).
    */
  private def subKey(rk16: Column, refineBits: Int): Column =
    if (refineBits == 0) lit(0L)
    else rk16.bitwiseAND(lit((1L << refineBits) - 1))

  /** The lshKeyed refinement schedule: 0 while the largest bucket fits
    * `maxBucket`, else enough bits to split it back to ~maxBucket.
    */
  private def refineBitsFor(keys: DataFrame, maxBucket: Int): Int = {
    val maxRow = keys.groupBy("t", "bucket").agg(count(lit(1)).as("bn"))
      .agg(max("bn")).collect()(0)
    val maxN = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    if (maxN <= maxBucket) 0
    else math.min(RefineWidth.toLong,
      64L - java.lang.Long.numberOfLeadingZeros((maxN - 1) / maxBucket)).toInt
  }

  private def writeMeta(spark: SparkSession, m: Meta, path: String): Unit = {
    import spark.implicits._
    Seq((m.dim, m.nBits, m.nTables, m.maxBucket, m.refineBits))
      .toDF("dim", "n_bits", "n_tables", "max_bucket", "refine_bits")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadMeta(spark: SparkSession, path: String): Meta = {
    val r = spark.read.parquet(s"$path/meta").head()
    Meta(r.getAs[Int]("dim"), r.getAs[Int]("n_bits"),
      r.getAs[Int]("n_tables"), r.getAs[Int]("max_bucket"),
      r.getAs[Int]("refine_bits"))
  }

  /** Build and persist the index from a seed corpus. One hashing pass
    * over the corpus (nTables keys per row, computed once and exploded),
    * one shuffle onto the (t, bucket) layout, one column-pruned count to
    * set the initial refinement. Requires long-castable ids (they become
    * component labels downstream).
    *
    * SIZE nBits TO THE CORPUS: per-batch probe I/O is
    * (touched dirs ≤ batch·nTables) × (dir size ≈ n/2^nBits rows), so
    * it stays batch-bounded and FLAT in corpus growth only while
    * 2^nBits ≈ n/maxBucket (each bucket directory ~maxBucket rows) AND
    * batch ≪ 2^nBits (else the batch touches every directory and the
    * probe degrades to a full keys scan — still correct, just
    * corpus-sized; the default 8 suits n ≈ 16k seeds). An index that
    * outgrows its nBits by ~10× is worth rebuilding at the larger
    * width ([[refreshRefineBits]] keeps pair COLLISION arithmetic
    * bounded meanwhile, but cannot re-shard the directories).
    */
  def build(df: DataFrame, idCol: String, vecCol: String, dim: Int,
            path: String, nBits: Int = 8, nTables: Int = 16,
            maxBucket: Int = 64): Unit = {
    require(dim >= 1, "dim must be >= 1")
    // <= 30: bucket partition values must round-trip as ints through
    // directory-name inference
    require(nBits >= 1 && nBits <= 30, "nBits in [1, 30]")
    require(nTables >= 1 && nTables <= 64, "nTables in [1, 64]")
    require(maxBucket >= 1, "maxBucket must be >= 1")
    val m = Meta(dim, nBits, nTables, maxBucket, 0)
    // hash ONCE into a checkpoint (r18): the key rows feed both the
    // partitioned write and the refinement count. The previous shape
    // wrote first and READ THE INDEX BACK to count buckets — a
    // discovery listing of all nTables·2^nBits directories plus a
    // re-scan, paid at build time. Counting from the checkpointed
    // frame is one cached pass; the written bytes are identical.
    val keyed = keyRows(df, idCol, vecCol, m).localCheckpoint(eager = true)
    // repartition on the partition columns: each (t, bucket) directory is
    // written by exactly one task — no small-file explosion. This stage's
    // cost is FILE CREATION (up to nTables·2^nBits directories), not bytes
    workPartition(keyed, col("t"), col("bucket"))
      .write.mode("overwrite").partitionBy("t", "bucket")
      .parquet(s"$path/keys")
    val spark = df.sparkSession
    val rb = refineBitsFor(keyed, maxBucket)
    writeMeta(spark, m.copy(refineBits = rb), path)
  }

  /** Read ONLY the named (t, bucket) partition directories — the scale
    * lever of every probe: the touched set is known from the probe's own
    * hashed keys, so the directories are CONSTRUCTED (existence-checked
    * in parallel, missing buckets skipped) and handed to the reader as
    * explicit roots. `spark.read.parquet(indexRoot)` would instead
    * DISCOVER all nTables·2^nBits partition directories — a listing
    * proportional to the INDEX, paid per batch (probe-measured: the
    * r18a full-discovery shape grew 17 → 63 s across a 10× corpus whose
    * touched set was constant; dir-count growth was the whole slope).
    * Falls back to `null` (caller does a full scan) when the touched
    * set exceeds `cap` — correct, just unpruned.
    */
  private def prunedKeys(spark: SparkSession, path: String,
                         touched: Array[(Int, Long)],
                         cap: Int): Option[DataFrame] = {
    if (touched.length > cap) return None
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$path/keys")
    val fs = root.getFileSystem(conf)
    // parallel existence probe (one stat per touched dir — on an object
    // store these are network round-trips, so fan them out)
    val candidates: Array[String] = touched.map { case (t, b) =>
      s"$path/keys/t=$t/bucket=$b"
    }
    val existing = java.util.Arrays.stream(candidates.asInstanceOf[Array[AnyRef]])
      .parallel()
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p.asInstanceOf[String])))
      .toArray.map(_.asInstanceOf[String]).toSeq
    if (existing.isEmpty)
      // schema-only read: no touched bucket exists, so nothing collides
      Some(spark.read.parquet(s"$path/keys").filter(lit(false)))
    else Some(spark.read.option("basePath", s"$path/keys")
      .parquet(existing.toSeq: _*))
  }

  /** Fold new (already deduplicated) vectors into the index: hash ONLY
    * the increment under the pinned meta, append its key rows.
    * Retry-IDEMPOTENT: increment ids already present are anti-joined out
    * first — and because an id's key rows land in EXACTLY the buckets
    * the increment just recomputed (same pinned planes), the presence
    * check reads only those constructed directories, never scanning or
    * discovering the whole index (batch-sized, like the probe). A
    * PARTIALLY failed append (some of an id's nTables rows written) is
    * healed by [[compact]]. The meta stays untouched — run
    * [[refreshRefineBits]] after large growth to re-tighten bucket
    * splitting (meta-only, no rewrite).
    */
  def append(novel: DataFrame, idCol: String, vecCol: String,
             path: String, pruneCap: Int = 1 << 16): Unit = {
    val spark = novel.sparkSession
    val m = loadMeta(spark, path)
    val keyed = keyRows(novel.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("v")), "id", "v", m)
      .localCheckpoint(eager = true)
    val touched = keyed.select(col("t"), col("bucket")).distinct()
      .limit(pruneCap + 1).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val existing = prunedKeys(spark, path, touched, pruneCap)
      .getOrElse(spark.read.parquet(s"$path/keys"))
      .select(col("id")).distinct()
    workPartition(keyed.join(existing, Seq("id"), "left_anti"),
        col("t"), col("bucket"))
      .write.mode("append").partitionBy("t", "bucket")
      .parquet(s"$path/keys")
  }

  /** Incremental semantic dedup against the SAVED index — the
    * [[Similarity.semanticDedupIncrement]] contract (drop batch rows
    * with an exact-cosine near-neighbor in the corpus, then keep the
    * min-id representative per near-dup component WITHIN the surviving
    * batch; the two-step transitive caveat carries over) at per-batch
    * cost: the batch is hashed under the pinned meta (batch-sized
    * compute), BROADCAST into the collision join, and the corpus-side
    * scan is dynamically pruned to the (t, bucket) directories the
    * batch touches. The corpus is never re-hashed.
    *
    * Replay-safe: a batch row whose id is ALREADY in the index (a
    * replayed micro-batch after a crash between append and commit)
    * never matches itself (id inequality in the collision join), so a
    * replay reproduces the original decisions exactly.
    *
    * Returns the surviving `batch` rows, schema unchanged.
    */
  def dedupAgainstIndex(batch: DataFrame, idCol: String, vecCol: String,
                        minCosine: Double, path: String,
                        pruneCap: Int = 1 << 16): DataFrame = {
    require(minCosine > 0 && minCosine < 1, "minCosine in (0, 1)")
    val spark = batch.sparkSession
    val m = loadMeta(spark, path)
    // hashed ONCE (r18): bk feeds the touched-set collect, the corpus
    // collision join's broadcast side, and (via `rem`) both sides of the
    // within-batch pair join — without the checkpoint each consumer
    // re-hashes the batch (nTables hyperplane keys per row, the whole
    // batch-side CPU). Batch-sized, one eager job.
    val bk = keyRows(batch, idCol, vecCol, m)
      .withColumn("bucket", col("bucket").cast("int"))
      .withColumn("sub", subKey(col("rk16"), m.refineBits))
      .select(col("t"), col("bucket"), col("sub"),
        col("id").as("_nid"), col("v").as("_nv"))
      .localCheckpoint(eager = true)
    // EXPLICIT-PATH pruning, not discovery-then-filter: the touched
    // (t, bucket) set is collected (bounded by batch × nTables distinct
    // pairs, capped at `pruneCap`) and the matching partition
    // directories are constructed and read directly ([[prunedKeys]]) —
    // per-batch listing is touched-sized. A discovery read of the index
    // root would list ALL nTables·2^nBits directories first, a
    // corpus-proportional cost per batch (probe-measured r18a: 17 → 63 s
    // across a 10× corpus with a constant touched set). Over the cap:
    // full scan — correct, just unpruned.
    val touched = bk.select(col("t"), col("bucket")).distinct()
      .limit(pruneCap + 1).collect()
      .map(r => (r.getInt(0), r.getInt(1).toLong))
    val ik = prunedKeys(spark, path, touched, pruneCap)
      .getOrElse(spark.read.parquet(s"$path/keys"))
      .withColumn("sub", subKey(col("rk16"), m.refineBits))
      .select(col("t"), col("bucket"), col("sub"),
        col("id").as("_iid"), col("v").as("_iv"))
    // (a) batch rows with a corpus near-neighbor: index scan ⋈ broadcast
    // batch keys — the broadcast side seeds dynamic partition pruning of
    // the (t, bucket)-partitioned scan; exact cosine verifies in the
    // collision join's projection; bounded distinct id set out
    // materialized ONCE (r18): the duplicate-id set feeds the rem
    // anti-join AND the final batch anti-join — without the checkpoint
    // the pruned INDEX SCAN (the probe's only corpus-sized read)
    // executes once per consumer. Batch-bounded distinct ids.
    val dupOfCorpus = ik.join(broadcast(bk), Seq("t", "bucket", "sub"))
      .filter(col("_iid") =!= col("_nid"))
      .filter(cosine(col("_nv"), col("_iv")) >= minCosine)
      .select(col("_nid").as("_did")).distinct()
      .localCheckpoint(eager = true)
    // (b) within-batch components among the remainder, min-id survivor —
    // batch-sized self-join on the same keys
    // materialized ONCE (r18): `rem` feeds both sides of the pair
    // self-join; without this the corpus-collision anti-join (and its
    // pruned index scan) executes once per side. Batch-sized.
    val rem = bk.join(dupOfCorpus.withColumnRenamed("_did", "_nid"),
      Seq("_nid"), "left_anti")
      .localCheckpoint(eager = true)
    val pairs = rem.select(col("t"), col("bucket"), col("sub"),
        col("_nid").as("id1"), col("_nv").as("_v1"))
      .join(rem.select(col("t"), col("bucket"), col("sub"),
        col("_nid").as("id2"), col("_nv").as("_v2")), Seq("t", "bucket", "sub"))
      .filter(col("id1") < col("id2"))
      .filter(cosine(col("_v1"), col("_v2")) >= minCosine)
      .select("id1", "id2").distinct()
    val comps = Dedup.connectedComponents(pairs)
    batch
      .join(dupOfCorpus, col(idCol).cast("long") === col("_did"), "left_anti")
      .join(comps.withColumnRenamed("id", "_cid"),
        col(idCol).cast("long") === col("_cid"), "left")
      .withColumn("_comp", coalesce(col("component"), col(idCol).cast("long")))
      .filter(col(idCol).cast("long") === col("_comp"))
      .drop("_cid", "component", "_comp")
  }

  /** Meta-only refinement refresh: recount bucket sizes (one
    * column-pruned scan of the keys — vectors are never read) and pin
    * the refinement the CURRENT corpus size wants. Cheap to run after
    * any growth; key rows never change because the stored rk16 already
    * carries every refinement width up to [[RefineWidth]]. Returns the
    * new refine_bits.
    */
  def refreshRefineBits(spark: SparkSession, path: String): Int = {
    val m = loadMeta(spark, path)
    val rb = refineBitsFor(
      spark.read.parquet(s"$path/keys").select("t", "bucket"), m.maxBucket)
    writeMeta(spark, m.copy(refineBits = rb), path)
    rb
  }

  /** Heal the index: rebuild every key row from the stored vectors (one
    * row per id survives [[append]] partial-write or duplicate damage),
    * refresh the refinement, and swap in atomically (the
    * [[Dedup.compactLshIndex]] rename discipline). Corpus-sized — a
    * maintenance operation, not a per-batch step.
    *
    * `newNBits` re-shards the directory layout at a wider bucket width
    * in the same pass — the escape hatch for an index that outgrew its
    * build-time nBits (see [[build]]'s sizing note: probe flatness needs
    * 2^nBits ≈ n/maxBucket, and [[refreshRefineBits]] can deepen the
    * COLLISION arithmetic but not the physical shards). The meta is
    * rewritten with the new width, so batches hash against it
    * automatically; bucket keys derive from the same per-bit plane
    * schedule, so widening is pure re-hashing — no recall change.
    */
  def compact(spark: SparkSession, path: String,
              newNBits: Option[Int] = None): Unit = {
    newNBits.foreach(b => require(b >= 1 && b <= 30, "newNBits in [1, 30]"))
    val m0 = loadMeta(spark, path)
    val m = newNBits.fold(m0)(b => m0.copy(nBits = b))
    val vecs = spark.read.parquet(s"$path/keys")
      .select("id", "v").dropDuplicates("id")
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$path/keys")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_keys_compacting")
    val bak = new org.apache.hadoop.fs.Path(s"$path/_keys_backup")
    val fs = src.getFileSystem(conf)
    workPartition(keyRows(vecs, "id", "v", m), col("t"), col("bucket"))
      .write.mode("overwrite").partitionBy("t", "bucket")
      .parquet(tmp.toString)
    if (fs.exists(bak)) fs.delete(bak, true) // stale crash leftovers
    require(fs.rename(src, bak), s"compact: cannot set aside $src")
    require(fs.rename(tmp, src), s"compact: cannot swap in $tmp")
    fs.delete(bak, true)
    // when re-sharding, pin the new width BEFORE the refinement count
    // (which reloads the meta). A crash between the swap above and this
    // write leaves keys at the new width under the old meta — probes
    // would hash to the wrong buckets, so a re-shard compact is an
    // OFFLINE operation: re-run compact after any crash.
    if (m.nBits != m0.nBits) writeMeta(spark, m, path)
    refreshRefineBits(spark, path)
  }
}
