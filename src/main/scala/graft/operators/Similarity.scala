package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Determinism note: dot products fold left-to-right in DOUBLE via the
  * `aggregate` higher-order function, which is bit-identical to DuckDB's
  * `list_dot_product` on DOUBLE[] — verified by the oracle harness.
  *
  * Scale design: brute force is the correctness baseline (fine for a
  * broadcastable query set); the scale paths bound the candidate space —
  * cluster blocking (IVF with a precomputed assignment) and random-
  * hyperplane LSH. Both shuffle only bucket keys, never the pair square.
  */
object Similarity {

  /** Cast a float array to double for deterministic arithmetic. */
  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Left-fold dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Native-kernel cosine (see [[graft.functions.CosineSim]]): bit-identical
    * to `dot(a,b)/(l2norm(a)*l2norm(b))` but ~1000x faster than the
    * interpreted HOF fold on 64-dim vectors.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)

  /** L2-normalize a vector column to unit length (double elements).
    * The norm uses the native [[graft.functions.DotProduct]] left fold
    * (bit-identical to `sqrt(list_dot_product(v,v))` — IEEE sqrt and
    * division are correctly rounded, so the unit vector is exactly
    * reproducible across engines). Zero vectors stay zero. Narrow
    * per-row transform — no shuffle at any scale.
    */
  def l2Normalize(vec: Column): Column = {
    val v = asDouble(vec)
    val nrm = sqrt(graft.functions.DotProduct(v, v))
    when(nrm === 0.0, v).otherwise(transform(v, x => x / nrm))
  }

  /** Symmetric int8 quantization with a per-vector scale (the standard
    * embedding-compression step before ANN serving): scale = 127/max|x|,
    * q_i = floor(x_i * scale + 0.5) in [-127, 127]. floor and the two
    * divisions are exactly rounded, so quantized values are
    * bit-reproducible across engines (no `round()` half-even ambiguity).
    * All-zero vectors quantize to zeros with scale 0.
    */
  def quantizeInt8(vec: Column): (Column, Column) = {
    val v = asDouble(vec)
    val maxAbs = array_max(transform(v, x => abs(x)))
    val scale = when(maxAbs === 0.0, lit(0.0)).otherwise(lit(127.0) / maxAbs)
    val q = transform(v, x =>
      greatest(lit(-127L), least(lit(127L),
        floor(x * scale + lit(0.5)).cast("long"))))
    (q, scale)
  }

  /** Per-dimension z-score standardization of an embedding column
    * (feature scaling before clustering/IVF): emits exploded
    * (id, i, z) rows with z = (x_i - mean_i) / std_i, rounded to 6
    * decimals. One explode + one 64-group aggregation (map-side
    * combined) + one broadcast-sized join back — the dimension-stats
    * table is dim rows regardless of corpus size. Rounding is required
    * for cross-engine comparison: float-sum order inside mean/stddev is
    * engine- and partition-dependent, reproducible only to ~1e-12.
    * Constant dimensions (std 0) standardize to 0.
    */
  def standardizePerDim(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val x = df.select(col(idCol), posexplode(asDouble(col(vecCol))))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "x")
    val stats = x.groupBy("i")
      .agg(avg("x").as("mu"), stddev_pop(col("x")).as("sigma"))
    x.join(broadcast(stats), "i")
      .select(col(idCol), col("i"),
        round(when(col("sigma") === 0.0, lit(0.0))
          .otherwise((col("x") - col("mu")) / col("sigma")), 6).as("z"))
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions
    * with a ±1 sign matrix (Achlioptas' database-friendly variant):
    * y_j = Σ_i sign(i,j)·x_i / √outDim. Pairwise distances survive to
    * within the JL distortion bound, at 1/8th (64→8) the storage and
    * compute — the standard cheap pre-step before clustering or
    * coarse ANN. The sign grid is NOT stored: sign(i,j) is the TOP bit
    * of the Knuth multiplicative hash (i·outDim+j+seed)·2654435761
    * mod 2³² — integer arithmetic any engine reproduces exactly, so the
    * "model" ships as one seed. (The top bit, deliberately: an LCG's
    * LOW bit is pure input parity, which collapses every lane to the
    * same ± projection.)
    *
    * Shape: one posexplode (dim rows per vector) cross the broadcast
    * outDim lane list, then ONE map-side-combinable aggregation back to
    * (id, j) — the expansion collapses inside the partial aggregate, so
    * the shuffle carries outDim rows per vector, not dim·outDim. Sums
    * accumulate as EXACT decimals over the DECIMAL(18,9) canonical
    * values (order-free; the double→decimal cast is the repo-wide
    * oracle parity point), with one double division and a 6 dp round
    * at the end.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    outDim: Int, seed: Long = 7L): DataFrame = {
    require(outDim >= 1, "outDim must be >= 1")
    val spark = df.sparkSession
    val x = df.select(col(idCol), posexplode(asDouble(col(vecCol))))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "x")
    val lanes = spark.range(outDim).select(col("id").as("j"))
    x.crossJoin(broadcast(lanes))
      .withColumn("_sgn",
        when(pmod((col("i") * outDim + col("j") + seed) * lit(2654435761L),
          lit(1L << 32)) < lit(1L << 31), 1).otherwise(-1))
      .groupBy(col(idCol), col("j"))
      .agg(round(sum(col("_sgn") * col("x").cast("decimal(18,9)"))
        .cast("double") / lit(math.sqrt(outDim.toDouble)), 6).as("y"))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors. The query set is broadcast; the corpus streams —
    * one pass, no corpus shuffle until the per-query top-k aggregation.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // raw float arrays: CosineSim widens per element, identical to
    // CAST(... AS DOUBLE[]) but with no per-pair interpreted transform
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Hard-negative mining for contrastive training: per query vector,
    * the `k` most-cosine-similar corpus vectors whose `labelCol` DIFFERS
    * from the query's — "hard" negatives because they resemble positives
    * while carrying a different label, exactly the examples a contrastive
    * or reranker objective learns most from. Same broadcast-queries /
    * streaming-corpus shape as [[bruteForceTopK]] (one corpus pass, no
    * corpus shuffle before the per-query top-k); at 100 TB run it as the
    * exact rerank stage over IVF/LSH candidates instead of the full
    * corpus.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    labelCol: String = "label", idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("qlabel")))
    val c = corpus.select(col(idCol).as("negative_id"), col(vecCol).as("cv"),
      col(labelCol).as("clabel"))
    val scored = c.crossJoin(q)
      .filter(col("clabel") =!= col("qlabel"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("negative_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "negative_id", "cosine")
  }

  /** Triplet mining for metric learning — per anchor, the HARDEST
    * positive (same label, LOWEST cosine: the in-class example the
    * embedding currently separates worst) and the HARDEST negative
    * (different label, HIGHEST cosine: the impostor it confuses most),
    * plus the triplet margin. Batch-hard mining (Hermans et al. 2017)
    * run corpus-side: anchors with a negative margin are exactly where
    * a triplet loss still has gradient.
    *
    * Shape: anchors broadcast against ONE corpus pass; hardest
    * positive/negative fold in a single anchor-keyed aggregation via
    * lexicographic struct extrema (deterministic tie-break toward the
    * smaller candidate id — `max_by` would tie-break arbitrarily). At
    * 100 TB, run it over IVF/LSH candidate pools instead of the full
    * corpus, same as [[hardNegatives]].
    */
  def tripletMining(df: DataFrame, anchorFilter: Column,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val a = broadcast(df.filter(anchorFilter)
      .select(col(idCol).as("anchor_id"), col(vecCol).as("av"),
        col(labelCol).as("al")))
    val c = df.select(col(idCol).as("cid"), col(vecCol).as("cv"),
      col(labelCol).as("cl"))
    val scored = c.crossJoin(a)
      .filter(col("cid") =!= col("anchor_id"))
      .withColumn("_cos", cosine(col("av"), col("cv")))
    val agg = scored.groupBy("anchor_id")
      .agg(
        min(when(col("cl") === col("al"),
          struct(col("_cos").as("c"), col("cid").as("i")))).as("_p"),
        max(when(col("cl") =!= col("al"),
          struct(col("_cos").as("c"), (-col("cid")).as("i")))).as("_n"))
    agg.select(col("anchor_id"),
      col("_p.i").as("pos_id"), round(col("_p.c"), 6).as("pos_cos"),
      (-col("_n.i")).as("neg_id"), round(col("_n.c"), 6).as("neg_cos"),
      round(col("_p.c") - col("_n.c"), 6).as("margin"))
  }

  /** Reciprocal Rank Fusion (Cormack et al., SIGIR'09) of several
    * rankings of the same id space: score(id) = Σ_lists 1/(k0 + rank),
    * items absent from a list contribute nothing. The standard hybrid-
    * search combiner (BM25 ⊕ dense retrieval ⊕ recency, multi-query
    * fusion) — robust because it needs no score calibration between
    * lists, only ranks.
    *
    * Input frames each carry (`idCol`, `rankCol`) with rank ≥ 1; the
    * result is the fused top-`topK` as (id, rrf_score, n_lists).
    *
    * Scale shape: one union of the (bounded) ranking lists, one
    * map-side-combined aggregation on the id, and a TakeOrdered top-k —
    * the inputs are retrieval outputs (k-bounded), so every stage is
    * candidate-sized, not corpus-sized. Engine replay: each reciprocal
    * contribution 1/(k0 + rank) rounds at 6 dp and the per-id score is
    * their EXACT decimal sum (list order cannot move a bit); ties break
    * to the lowest id.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              topK: Int, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(topK > 0 && k0 >= 0, "need topK > 0 and k0 >= 0")
    val normalized = rankings.map(r =>
      r.select(col(idCol),
        round(lit(1.0) / (lit(k0) + col(rankCol).cast("long")), 6).as("_c")))
    normalized.reduce(_ unionByName _)
      .groupBy(idCol)
      .agg(sum(col("_c").cast("decimal(18,6)")).cast("double").as("rrf_score"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(topK)
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein,
    * SIGIR'98): greedily pick `k` items maximizing
    * λ·relevance − (1−λ)·max-cosine-to-already-selected — the
    * diversity-aware curation step that a pure top-k-by-quality
    * selection lacks (top-k from a near-duplicate-heavy corpus returns
    * k copies of the same document; MMR returns one per neighborhood).
    *
    * Scale shape: the greedy recurrence is inherently sequential in k,
    * so the DISTRIBUTED stage is the candidate pre-filter — the
    * `candidateN` most-relevant rows via per-partition top-k merge
    * (TakeOrderedAndProject: no global sort, O(candidateN) driver
    * memory), exactly the industry pattern (rerank a bounded candidate
    * pool, never the corpus). The greedy loop then runs driver-side on
    * the bounded pool: O(k · candidateN) kernel evaluations on
    * model-sized data. Ties break to the lowest id; `mmr_score` is
    * rounded at 6 dp (cosine is the only non-exact input).
    */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String, relCol: String,
                k: Int, lambda: Double, candidateN: Int = 256): DataFrame = {
    require(k > 0 && candidateN >= k, "need k > 0 and candidateN >= k")
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0,1]")
    val spark = df.sparkSession
    val cands = df
      .select(col(idCol).cast("long").as("id"), col(relCol).cast("double").as("rel"),
        asDouble(col(vecCol)).as("v"))
      .orderBy(col("rel").desc, col("id").asc)
      .limit(candidateN)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        normalized(r.getSeq[Double](2).toArray)))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val selVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val remaining = scala.collection.mutable.LinkedHashMap(
      cands.map(c => c._1 -> c): _*)
    while (selected.size < k && remaining.nonEmpty) {
      val best = remaining.values.map { case (id, rel, v) =>
        val maxSim = if (selVecs.isEmpty) 0.0
          else selVecs.map(s => s.indices.foldLeft(0.0)((a, i) => a + s(i) * v(i))).max
        (id, rel, lambda * rel - (1 - lambda) * maxSim)
      }.minBy { case (id, _, score) => (-score, id) }
      selected += best
      selVecs += remaining(best._1)._3
      remaining.remove(best._1)
    }
    val rows = selected.zipWithIndex.map { case ((id, rel, score), i) =>
      org.apache.spark.sql.Row(i + 1, id, rel,
        BigDecimal(score).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField(idCol, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(relCol, org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("mmr_score", org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Near-duplicate pairs by cosine within equality blocks (IVF-style:
    * `blockCol` is a precomputed cluster/partition assignment). Only
    * within-block pairs are materialized.
    */
  /** Mutual nearest neighbors: pairs (a, b) where b is a's top-1 cosine
    * neighbor AND a is b's — the reciprocity filter that kills hubness
    * (a vector that is "everyone's nearest neighbor" seeds many one-way
    * links but few mutual ones). The high-precision alignment
    * primitive: bitext mining, duplicate-embedding linking, seed pairs
    * for a cross-encoder.
    *
    * Built on the [[bruteForceTopK]] kernel (broadcast queries, one
    * corpus pass, per-id top-1 via window); the reciprocal check is a
    * self-join of the id-sized top-1 table, not the pair space. At
    * corpus scale, feed the IVF/LSH candidate rerank output in as `df`
    * instead of raw vectors — the reciprocity algebra is unchanged.
    */
  def mutualNearestNeighbors(df: DataFrame, idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    val nn = bruteForceTopK(df, df, 1, idCol, vecCol)
      .select(col("query_id").as("a"), col("neighbor_id").as("b"), col("cosine"))
    nn.as("x").join(nn.as("y"),
        col("x.a") === col("y.b") && col("x.b") === col("y.a") &&
          col("x.a") < col("x.b"))
      .select(col("x.a").as("id1"), col("x.b").as("id2"), col("x.cosine").as("cosine"))
  }

  def cosinePairsBlocked(df: DataFrame, blockCol: String, threshold: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      col(vecCol).as("v"))
    val l = v.select(col("block"), col("id").as("id1"), col("v").as("v1"))
    val r = v.select(col("block"), col("id").as("id2"), col("v").as("v2"))
    l.join(r, Seq("block"))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine", cosine(col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Semantic corpus dedup (SemDeDup-style): embedding pairs at cosine >=
    * `threshold` within equality blocks, clustered into connected
    * components, one representative (lowest id) kept per component plus
    * all unpaired vectors. Pure composition of the blocked-pair,
    * component, and keeper primitives — the pair stage shuffles one block
    * key, the component stage collects only the (tiny) near-dup edge
    * list, the keeper join streams the corpus once.
    */
  def semanticDedupCorpus(df: DataFrame, blockCol: String, threshold: Double,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pairs = cosinePairsBlocked(df, blockCol, threshold, idCol, vecCol)
    val comps = Dedup.connectedComponents(pairs)
    df.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .filter(col(idCol) === col("component")).drop("component")
  }

  /** Deterministic hyperplane matrix for [[hyperplaneKey]]: component
    * (b, d) is md5-derived uniform in [-1, 1) —
    * `u64(md5("hp:<seed>:<b>:<d>")) / 2^64 * 2 - 1`. md5 (not a JVM RNG)
    * so any engine replays the exact planes and therefore the exact
    * buckets: DuckDB spells the same value
    * `('0x' || substr(md5(s), 1, 16))::UBIGINT::DOUBLE / 2^64 * 2 - 1`.
    * Components are iid uniform rather than gaussian, so plane directions
    * are not perfectly spherically symmetric; sign-LSH only needs the
    * collision probability to be monotone in the pair angle, which holds,
    * and auditability is worth the cosmetic asymmetry.
    */
  private[graft] def planeMatrix(seed: Long, nBits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nBits, dim) { (b, d) =>
      val u = graft.functions.SketchUtil.md5U64(s"hp:$seed:$b:$d")
      graft.functions.SketchUtil.u64ToDouble(u) / math.scalb(1.0, 64) * 2.0 - 1.0
    }

  /** Random-hyperplane LSH bucket key: `nBits` sign bits of dot products
    * against deterministic md5-seeded hyperplanes (see [[planeMatrix]]).
    * Vectors in the same bucket are ANN candidates (Charikar, STOC'02).
    * Single native kernel ([[graft.functions.HyperplaneKey64]]): the
    * plane matrix rides as one reference object instead of nBits x dim
    * plan literals (the measured Janino-blowup pathology).
    */
  def hyperplaneKey(vec: Column, dim: Int, nBits: Int = 16, seed: Long = 42L): Column =
    graft.functions.HyperplaneKey64(vec, planeMatrix(seed, nBits, dim))

  /** ANN via multi-table hyperplane-LSH, verified with exact cosine, with
    * per-query top-k. `nTables` independent hash tables of `nBits` each:
    * a neighbor at angular similarity p collides in one table with
    * probability p^nBits, and in >=1 of L tables with 1-(1-p^nBits)^L —
    * the standard recall amplification (Indyk-Motwani; Charikar STOC'02).
    *
    * Scale design: the corpus shuffles L times on (table, bucket) — linear
    * in n*L, never the pair square. Cosine is computed BEFORE the
    * candidate-pair dedup so the dedup shuffle carries only
    * (query, neighbor, score), not the vectors; the duplicate kernel
    * evaluations (<= L per true pair) are cheaper than shuffling vectors.
    */
  // ---- IVF (inverted-file) ANN: k-means coarse quantizer + nprobe ----

  private def normalized(v: Array[Double]): Array[Double] = {
    var ss = 0.0; var i = 0
    while (i < v.length) { ss += v(i) * v(i); i += 1 }
    val n = math.sqrt(ss)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Driver-side Lloyd's iterations (spherical k-means: unit centroids,
    * assignment by max dot = max cosine). Deterministic: init is the first
    * `k` sample vectors, ties in assignment go to the lowest cell, empty
    * cells keep their previous centroid.
    */
  private[graft] def kmeansFit(sample: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    require(sample.length >= k, s"need >= $k sample vectors, got ${sample.length}")
    var centroids = sample.take(k).map(normalized)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](sample.head.length))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < v.length) { d += v(i) * centroids(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else normalized(sums(c).map(_ / counts(c)))
      }.toArray
      it += 1
    }
    centroids
  }

  /** Fit the IVF coarse quantizer on a deterministic corpus sample: the
    * `sampleN` vectors with the lowest `xxhash64(id)` — a global top-k by
    * a content-free pseudo-random key, one pass. Hash ordering decorrelates
    * the sample from ingest order (lowest RAW ids would over-represent
    * whatever was loaded first and skew the centroids), while staying
    * fully reproducible across runs and cluster layouts.
    *
    * Scale design: the quantizer NEVER sees the full corpus — a few
    * thousand sample vectors collected to the driver bound the fit cost
    * regardless of corpus size, and the resulting k x dim centroid matrix
    * (k=16, dim=64 -> 8 KB) broadcasts to every task as plan literals.
    */
  def ivfFit(df: DataFrame, nCells: Int, sampleN: Int = 2048, iters: Int = 10,
             idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    val sample = df.orderBy(xxhash64(col(idCol)), col(idCol)).limit(sampleN)
      .select(asDouble(col(vecCol))).collect()
      .map(_.getSeq[Double](0).toArray)
    kmeansFit(sample, nCells, iters)
  }

  /** Persist IVF centroids (cell, centroid) to parquet for reuse
    * across jobs — k x dim rows, metadata-cheap; [[loadCentroids]]
    * restores the exact doubles in cell order.
    */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                    centroids: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    ModelStore.save(centroids.zipWithIndex.map { case (c, cell) => (cell, c.toSeq) }
      .toSeq.toDF("cell", "centroid"), path)
  }

  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Array[Array[Double]] =
    ModelStore.loadRows(spark, path, "cell", "centroid")
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)

  /** FULL-CORPUS distributed Lloyd iterations (spherical k-means), for
    * when the model should see every vector rather than [[ivfFit]]'s
    * bounded sample: per iteration, (1) one narrow pass assigns each
    * vector to its nearest centroid (cosine, [[graft.functions.NearestCells]]
    * kernel — the k x dim matrix rides as a reference object, no plan
    * blowup), and (2) per-cell per-dimension sums reduce through ONE
    * map-side-combined aggregation keyed on (cell, dim) — at most
    * k x dim groups, so the shuffle is model-sized no matter how big
    * the corpus is. Only the k x dim statistics rows ever reach the
    * driver; 100 TB of vectors never move. Deterministic given `init`
    * up to float-sum order (~1e-13 centroid wiggle): assignments are
    * stable whenever cluster margins exceed that, which is the regime
    * k-means is meaningful in anyway. Empty cells keep their previous
    * centroid, as in the driver-side twin.
    */
  def kmeansFitDistributed(df: DataFrame, vecCol: String,
                           init: Array[Array[Double]],
                           iters: Int): Array[Array[Double]] = {
    require(init.nonEmpty, "need at least one initial centroid")
    require(iters >= 1, "iters must be >= 1")
    var centroids = init.map(normalized)
    val dim = centroids.head.length
    var it = 0
    while (it < iters) {
      val stats = df.select(
        element_at(graft.functions.NearestCells(col(vecCol), centroids, 1),
          lit(1)).as("cell"),
        posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect() // <= k x dim rows: model-sized, not corpus-sized
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      stats.foreach { r =>
        val c = r.getInt(0); val i = r.getInt(1)
        sums(c)(i) = r.getAs[Double]("s")
        counts(c) = r.getAs[Long]("n")
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0L) centroids(c)
        else normalized(sums(c).map(_ / counts(c)))
      }.toArray
      it += 1
    }
    centroids
  }

  /** Dense Gram matrix X'X of an embedding column, as (i, j, g) rows —
    * the dim x dim summary every spectral analysis starts from. One
    * pass: each vector explodes to its dim^2 index pairs (i <= j; the
    * matrix is symmetric, so the upper triangle suffices) and the
    * products reduce through a map-side-combined aggregation on at most
    * dim*(dim+1)/2 keys. The corpus is streamed once; the result is
    * model-sized (64-dim -> 2,080 rows) at any corpus size.
    */
  def gramMatrix(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(posexplode(v).as(Seq("i", "x")), v.as("_v"))
      .select(col("i"), col("x"), posexplode(col("_v")).as(Seq("j", "y")))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(sum(col("x") * col("y")).as("g"), count(lit(1)).as("n"))
  }

  /** Dominant principal direction of the (uncentered) covariance via
    * driver-side power iteration on the collected Gram matrix — the
    * data-scale work is [[gramMatrix]]'s single pass; the dim x dim
    * eigen-solve is model-sized driver math (the same split as
    * [[kmeansFitDistributed]]). Sign fixed by making the
    * largest-magnitude coordinate positive; deterministic given the
    * Gram values.
    */
  def topComponent(df: DataFrame, vecCol: String, iters: Int = 50): Array[Double] = {
    require(iters >= 1, "iters must be >= 1")
    val rows = gramMatrix(df, vecCol).collect()
    val dim = rows.map(_.getInt(1)).max + 1
    val g = Array.ofDim[Double](dim, dim)
    rows.foreach { r =>
      val (i, j, x) = (r.getInt(0), r.getInt(1), r.getAs[Double]("g"))
      g(i)(j) = x; g(j)(i) = x
    }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    var it = 0
    while (it < iters) {
      val w = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        var s = 0.0; var j = 0
        while (j < dim) { s += g(i)(j) * v(j); j += 1 }
        w(i) = s; i += 1
      }
      val n = math.sqrt(w.map(x => x * x).sum)
      v = if (n == 0) v else w.map(_ / n)
      it += 1
    }
    val lead = v.indices.maxBy(i => math.abs(v(i)))
    if (v(lead) < 0) v.map(-_) else v
  }

  /** Deterministic cyclic-Jacobi eigendecomposition of a symmetric
    * d×d matrix (driver-side, model-sized — the [[topComponent]] /
    * [[cellMatching]] contract class). Returns (eigenvalues,
    * eigenvectors-as-rows), ordered by eigenvalue desc then original
    * diagonal index asc; each vector's largest-|coordinate| entry is
    * made positive (first occurrence on ties). Pure function of the
    * input matrix: fixed sweep order (p < q row-major), fixed 1e-12
    * relative off-diagonal threshold, max 64 sweeps — no RNG, no
    * data-dependent branching beyond the values themselves. An exactly
    * diagonal input performs ZERO rotations, so axis-aligned fixtures
    * replay in closed form.
    */
  private[graft] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val scale = math.max(1e-300,
      a0.map(_.map(math.abs).max).max)
    var sweep = 0
    var changed = true
    while (sweep < 64 && changed) {
      changed = false
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-12 * scale) {
            changed = true
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                case 0.0 => 1.0 // theta == 0 -> 45-degree rotation
                case x   => x
              }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(p)(k); val vkq = v(q)(k)
              v(p)(k) = c * vkp - s * vkq
              v(q)(k) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val row = v(i)
      val lead = row.indices.maxBy(j => math.abs(row(j)))
      if (row(lead) < 0) row.map(-_) else row.clone()
    }.toArray
    (vals, vecs)
  }

  /** PCA projection onto the top-k principal components — the
    * dimensionality-reduction front end of the ANN stack (project 64-d
    * embeddings to 8-d before IVF/LSH when recall tolerates it) and
    * the `whiten` path that equalizes per-component variance before PQ
    * (whitened subspaces quantize with balanced error). The data-scale
    * work is [[gramMatrix]]'s single distributed pass (+ one per-dim
    * mean fold when `center`); the d×d eigen-solve is [[jacobiEigen]]
    * on the driver (model-sized, deterministic), and the projection is
    * ONE reference-object codegen kernel per row
    * ([[graft.functions.ProjectVec]]) — never k×d plan literals.
    *
    * `center = false` projects raw second moments (exactly replayable
    * on axis-aligned fixtures: a diagonal Gram performs zero Jacobi
    * rotations); `center = true` subtracts the per-dim mean first (the
    * textbook covariance PCA). `whiten` scales component j by
    * 1/sqrt(λ_j) (components with λ ≤ 0 scale by 0 — degenerate
    * directions carry no signal). Emits (idCol, pca array<double>
    * length k), values rounded at 9 dp in the kernel.
    */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String, k: Int,
                 center: Boolean = true, whiten: Boolean = false): DataFrame =
    pcaApply(df, idCol, vecCol, pcaFit(df, vecCol, k, center, whiten))

  /** The fitted PCA/whitening transform: top-k components (rows, in
    * eigenvalue-descending order under [[jacobiEigen]]'s sign/tie
    * conventions), the per-dim means subtracted before rotation (all
    * zero when uncentered), the per-component output scales (1 for
    * plain PCA, 1/sqrt(λ_j) when whitened), and the eigenvalues
    * themselves (what [[Pq.fitRotated]]'s eigenvalue allocation
    * balances). Model-sized (k×d + 3d doubles) — rides in plans as one
    * reference object and in job handoffs as a plain case class.
    */
  case class PcaModel(components: Array[Array[Double]],
                      means: Array[Double], scales: Array[Double],
                      values: Array[Double])

  /** Fit the [[pcaProject]] transform WITHOUT projecting — the reusable
    * half for pipelines that train once and apply elsewhere (e.g.
    * [[Pq.fitWhitened]]'s whiten-then-quantize, or projecting a query
    * stream with the corpus' transform). Same machinery and contracts
    * as [[pcaProject]]: one distributed Gram pass, driver Jacobi,
    * fixed-dimension requirement.
    */
  def pcaFit(df: DataFrame, vecCol: String, k: Int,
             center: Boolean = true, whiten: Boolean = false): PcaModel = {
    require(k >= 1, "k must be >= 1")
    val rows = gramMatrix(df, vecCol).collect()
    require(rows.nonEmpty, "empty corpus")
    val d = rows.map(_.getInt(1)).max + 1
    require(k <= d, s"k = $k exceeds dimension $d")
    val n = rows.map(_.getLong(3)).max.toDouble
    // fixed-dimension contract: on a ragged corpus (vectors of differing
    // lengths) per-dim pair counts differ and dividing by one global n
    // would silently bias the covariance — the Gram's diagonal counts
    // are already on the driver, so the check is free
    rows.filter(r => r.getInt(0) == r.getInt(1)).foreach { r =>
      require(r.getLong(3).toDouble == n,
        s"pcaProject requires fixed-dimension vectors: dim ${r.getInt(0)} " +
          s"is present in only ${r.getLong(3)} of ${n.toLong} rows — " +
          "pad or filter the ragged vectors first")
    }
    val g = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j, x) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      g(i)(j) = x / n; g(j)(i) = x / n
    }
    val means =
      if (!center) new Array[Double](d)
      else {
        val sums = df.select(posexplode(asDouble(col(vecCol))).as(Seq("_i", "_x")))
          .groupBy("_i").agg(sum(col("_x").cast("decimal(38,12)")).as("_s"))
          .collect().map(r => r.getInt(0) -> r.getDecimal(1)).toMap
        Array.tabulate(d)(i =>
          sums.get(i).map(_.doubleValue / n).getOrElse(0.0))
      }
    if (center) {
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { g(i)(j) -= means(i) * means(j); j += 1 }
        i += 1
      }
    }
    val (vals, vecs) = jacobiEigen(g)
    val scales = Array.tabulate(k)(j =>
      if (!whiten) 1.0
      else if (vals(j) > 0) 1.0 / math.sqrt(vals(j))
      else 0.0)
    PcaModel(vecs.take(k), means, scales, vals.take(k))
  }

  /** Apply a fitted [[PcaModel]]: (idCol, pca array<double> length k),
    * one [[graft.functions.ProjectVec]] codegen kernel per row, values
    * rounded at 9 dp in the kernel.
    */
  def pcaApply(df: DataFrame, idCol: String, vecCol: String,
               model: PcaModel): DataFrame =
    df.select(col(idCol),
      graft.functions.ProjectVec(asDouble(col(vecCol)), model.components,
        model.means, model.scales).as("pca"))

  /** Per-label mean embedding (supervised class centroids — the "one
    * prototype per label" artifact used for nearest-centroid
    * classification and label-noise auditing). One posexplode + one
    * map-side-combined aggregation keyed on (label, dim) — at most
    * |labels| x dim groups, so the shuffle is model-sized like
    * [[kmeansFitDistributed]]'s update step. Values round to 6 dp:
    * float-sum order is the only cross-engine difference and rounding
    * absorbs it.
    */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "x")))
      .groupBy(labelCol, "i")
      .agg(round(avg("x"), 6).as("centroid_val"), count(lit(1)).as("n_vectors"))

  /** Simplified (centroid-based) silhouette score per cluster — the
    * standard clustering-quality readout: for each point, a = distance
    * to its OWN cluster centroid, b = distance to the nearest OTHER
    * centroid, s = (b − a)/max(a, b) ∈ [−1, 1]; the full-pairwise
    * silhouette is O(n²) and this centroid form is its accepted
    * linear-time surrogate (what the sklearn-at-scale folklore and
    * BIRCH-style systems report). Returns (label, n_points,
    * mean_silhouette).
    *
    * Scale shape: centroids come from one (label, dim)-keyed map-side-
    * combined aggregation (model-sized, like [[labelCentroids]]); the
    * k centroid vectors broadcast back over the corpus, each point
    * scores k distances through the codegen'd [[graft.functions.DotProduct]]
    * kernel (d² = p·p − 2·p·c + c·c, with p·p computed once per point),
    * and the per-label fold is map-side-combined. One corpus-sized
    * shuffle total (the per-point a/b aggregation keyed on the id).
    *
    * Cross-engine exactness: centroid values round at 6 dp before any
    * distance (absorbing float-sum order in the mean), distances are
    * fixed-order double expressions (negative-zero cancellation guarded
    * by max(d², 0) before sqrt), per-point silhouettes round at 6 dp,
    * and the per-label mean folds through an exact decimal sum.
    * Requires ≥ 2 distinct labels (b is undefined otherwise).
    *
    * CALLER CONTRACT — k-bounded clusters: every point scores against
    * EVERY centroid (that is what silhouette means), so the centroid
    * table is crossJoin-broadcast deliberately and the work is
    * O(points × k). With an unbounded data-derived label column the
    * statistic itself is quadratic no matter the engine — pass cluster
    * assignments (k small, a design choice), not raw categories.
    */
  def silhouette(df: DataFrame, idCol: String, labelCol: String,
                 vecCol: String): DataFrame = {
    val cm = labelCentroids(df, labelCol, vecCol)
      .withColumnRenamed(labelCol, "_clabel")
    val cent = cm.groupBy("_clabel")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("centroid_val")))),
        s => s.getField("centroid_val")).as("_cv"))
      .withColumn("_cc", graft.functions.DotProduct(col("_cv"), col("_cv")))
    val pts = df.select(col(idCol), col(labelCol).as("_plabel"),
      col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_pp", graft.functions.DotProduct(col("_v"), col("_v")))
    val d = pts.crossJoin(broadcast(cent))
      .withColumn("_dist",
        sqrt(greatest(
          col("_pp") - lit(2.0) * graft.functions.DotProduct(col("_v"), col("_cv")) +
            col("_cc"),
          lit(0.0))))
    val ab = d.groupBy(col(idCol), col("_plabel"))
      .agg(min(when(col("_clabel") === col("_plabel"), col("_dist"))).as("_a"),
        min(when(col("_clabel") =!= col("_plabel"), col("_dist"))).as("_b"))
    val s = ab.withColumn("_s",
      when(greatest(col("_a"), col("_b")) > 0.0,
        round((col("_b") - col("_a")) / greatest(col("_a"), col("_b")), 6))
        .otherwise(lit(0.0)))
    // mean over DEFINED scores: with a single label b is undefined
    // (null) for every point, and dividing by count(*) would silently
    // average nulls as zeros — count(_s) keeps the degenerate case an
    // all-null column instead of a wrong number
    s.groupBy(col("_plabel").as(labelCol))
      .agg(count(lit(1)).as("n_points"),
        round(sum(col("_s").cast("decimal(18,6)")).cast("double") / count(col("_s")), 6)
          .as("mean_silhouette"))
  }

  /** Embedding outlier screen: each vector's L2 distance to its OWN
    * label centroid, robust-z-scored within the label (median/MAD —
    * the [[EventAnalytics.robustOutliers]] discipline, immune to the
    * outliers it hunts) — the mislabeled-vector / corrupted-embedding
    * QA pass run before centroids feed anything downstream. Returns
    * (id, label, dist, med, mad, robust_z, is_outlier).
    *
    * Shape: one (label, dim) centroid aggregation (model-sized), the
    * label-keyed centroid vectors joined back UNHINTED — `labelCol`
    * may be data-derived (domain, cluster id), so the centroid table
    * is unbounded in general; AQE broadcasts it when it fits and
    * falls back to a shuffle join keyed on the label when it doesn't
    * (the [[EventAnalytics.robustOutliers]] rule: never force a
    * broadcast on a data-derived dimension). Then one codegen'd
    * distance pass through [[graft.functions.DotProduct]]
    * (d² = p·p − 2·p·c + c·c) and the two label-keyed percentile
    * folds. The exact `percentile` buffer is BOUNDED BY CONSTRUCTION:
    * `dist` rounds at 6 dp before either percentile, so the per-group
    * value→count map holds at most (distance range × 10⁶) distinct
    * entries — and the MAD pass's |dist − med| input is a difference
    * of two 6 dp values, bounded the same way. Engine replay:
    * centroids round at 6 dp before any distance, distances round at
    * 6 dp BEFORE the median/MAD, med/mad round before the z.
    */
  def centroidOutliers(df: DataFrame, idCol: String, labelCol: String,
                       vecCol: String, k: Double = 3.5): DataFrame = {
    val cm = labelCentroids(df, labelCol, vecCol)
      .withColumnRenamed(labelCol, "_clabel")
    val cent = cm.groupBy("_clabel")
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("centroid_val")))),
        s => s.getField("centroid_val")).as("_cv"))
      .withColumn("_cc", graft.functions.DotProduct(col("_cv"), col("_cv")))
    val pts = df.select(col(idCol), col(labelCol),
      col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_pp", graft.functions.DotProduct(col("_v"), col("_v")))
    val dist = pts.join(cent, col(labelCol) === col("_clabel"))
      .withColumn("dist", round(sqrt(greatest(
        col("_pp") - lit(2.0) *
          graft.functions.DotProduct(col("_v"), col("_cv")) + col("_cc"),
        lit(0.0))), 6))
      .select(col(idCol), col(labelCol), col("dist"))
    val meds = dist.groupBy(col(labelCol))
      .agg(round(expr("percentile(dist, 0.5)"), 6).as("med"))
    val mads = dist.join(meds, Seq(labelCol))
      .groupBy(col(labelCol), col("med"))
      .agg(round(expr("percentile(abs(dist - med), 0.5)"), 6).as("mad"))
    dist.join(mads, Seq(labelCol))
      .withColumn("robust_z", when(col("mad") > 0,
        round((col("dist") - col("med")) / (lit(1.4826) * col("mad")), 6)))
      .withColumn("is_outlier",
        coalesce(abs(col("robust_z")) > k, lit(false)))
  }

  /** Embedding drift between two corpus snapshots: per label, the
    * cosine between the snapshots' class centroids and the L2 shift —
    * the vector-space analogue of the tabular drift summary (a model
    * retrained when `centroid_shift` jumps is the usual consumer).
    *
    * Scale shape: each snapshot streams ONCE into a (label, dim)-keyed
    * map-side-combined aggregation (model-sized, like
    * [[labelCentroids]]); everything after — the join and the per-label
    * fold — runs on label x dim rows, so corpus size only affects the
    * two first-pass scans. Outputs round to 6 dp (cross-engine float-
    * sum policy).
    */
  def centroidDrift(a: DataFrame, b: DataFrame, labelCol: String,
                    vecCol: String): DataFrame = {
    def cent(df: DataFrame, out: String, nOut: String) =
      df.select(col(labelCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "x")))
        .groupBy(labelCol, "i")
        .agg(avg("x").as(out), count(lit(1)).as(nOut))
    cent(a, "ca", "na").join(cent(b, "cb", "nb"), Seq(labelCol, "i"))
      .groupBy(labelCol)
      .agg(
        round(sum(col("ca") * col("cb")) /
          (sqrt(sum(col("ca") * col("ca"))) * sqrt(sum(col("cb") * col("cb")))), 6)
          .as("centroid_cosine"),
        round(sqrt(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))), 6)
          .as("centroid_shift"),
        // count per (label, dim) group == vectors with that label
        first(col("na")).as("n_a"),
        first(col("nb")).as("n_b"))
  }

  /** Hard cluster assignment under a fitted centroid matrix: one narrow
    * codegen'd pass, no shuffle — (id, cluster) with cosine ties to the
    * lowest cluster index.
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   centroids: Array[Array[Double]]): DataFrame =
    df.select(col(idCol),
      element_at(graft.functions.NearestCells(col(vecCol), centroids, 1),
        lit(1)).as("cluster"))

  /** Per-row probe list: the `nProbe` cell ids nearest (by cosine) to the
    * vector, best first. Element 1 is the vector's own IVF cell. Ties
    * break to the lowest cell id — fully deterministic. Native kernel
    * ([[graft.functions.NearestCells]]): the centroid matrix rides as one
    * reference object instead of nCells x dim plan literals, whose
    * generated-code blowup made Janino compilation the dominant cost of
    * the whole IVF path.
    */
  private def probeCells(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    graft.functions.NearestCells(vec, centroids, nProbe)

  /** ANN via IVF: corpus vectors are inverted-listed under their nearest
    * centroid; each query probes its `nProbe` nearest cells and scores only
    * those lists (Jegou et al., PAMI'11 coarse-quantizer stage).
    *
    * Scale design: one equi-join on the cell key — the corpus shuffles
    * once by cell, queries explode x nProbe, and the scored candidate set
    * is (nProbe / nCells) of the corpus per query instead of all of it.
    * Cells are balanced by the k-means fit, so no bucket square blows up;
    * skewed cells would show in the fit sample and more cells (or a salted
    * refinement) bound them. No vector ever reaches the driver except the
    * fit sample.
    */
  def ivfTopK(df: DataFrame, k: Int, nCells: Int = 16, nProbe: Int = 4,
              sampleN: Int = 2048, iters: Int = 10,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = ivfFit(df, nCells, sampleN, iters, idCol, vecCol)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("probes", probeCells(col("v"), centroids, nProbe))
    val corpus = base.select(element_at(col("probes"), 1).as("cell"),
      col("id").as("neighbor_id"), col("v").as("cv"))
    val queries = base.select(col("id").as("query_id"), col("v").as("qv"),
      explode(col("probes")).as("cell"))
    val cand = queries.join(corpus, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  // -------------------------------------------------------------------
  // DISK-BACKED IVF index: centroids + cell-PARTITIONED posting lists.
  // The daily-crawl maintenance loop the LSH text index already has
  // (build / idempotent append / search), for the vector side — and the
  // partitioned layout turns nProbe into PARTITION PRUNING: a search
  // reads nProbe/nCells of the corpus from disk, not just of the scan.

  /** Build the index at `path`: fit the coarse quantizer, persist the
    * centroids, write each vector into its nearest cell's parquet
    * partition. One assignment pass over the corpus; the write is the
    * same one-shuffle-by-cell shape as [[ivfTopK]]'s in-memory list.
    */
  def buildIvfIndex(df: DataFrame, path: String, nCells: Int = 16,
                    sampleN: Int = 2048, iters: Int = 10,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val spark = df.sparkSession
    val centroids = ivfFit(df, nCells, sampleN, iters, idCol, vecCol)
    saveCentroids(spark, centroids, s"$path/_centroids")
    df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("cell", element_at(probeCells(col("v"), centroids, 1), 1))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/postings")
  }

  /** Idempotent append: assign `novel` under the SAVED centroids (the
    * quantizer never re-fits — recall against existing postings would
    * silently rot if cells moved), anti-join away ids already indexed
    * (a replayed batch appends nothing — the same retry-safety contract
    * as `Dedup.appendLshIndex`), and append the survivors to their
    * cell partitions. Returns the number of vectors actually appended.
    */
  def appendIvfIndex(novel: DataFrame, path: String,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Long = {
    val spark = novel.sparkSession
    val centroids = loadCentroids(spark, s"$path/_centroids")
    val existing = spark.read.parquet(s"$path/postings").select(col("id"))
    // count once, write once: persist the (small) novel batch
    Materialize.within(novel
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .join(existing, Seq("id"), "left_anti")
      .withColumn("cell", element_at(probeCells(col("v"), centroids, 1), 1))) { fresh =>
      val n = fresh.count()
      if (n > 0)
        fresh.write.mode("append").partitionBy("cell").parquet(s"$path/postings")
      n
    }
  }

  /** Search the index: each query probes its `nProbe` nearest cells and
    * scores ONLY those posting partitions. The probed cell set is at
    * most nCells values (model-sized — collected and planted as an
    * `isin` literal), so the parquet scan partition-prunes to
    * nProbe/nCells of the CORPUS ON DISK — the IO shape that makes a
    * 100 TB index affordable to query, and what the in-memory
    * [[ivfTopK]] cannot do. Plan-audited: PartitionFilters carries the
    * cell predicate.
    */
  def searchIvfIndex(queries: DataFrame, path: String, k: Int,
                     nProbe: Int = 4, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be positive")
    val spark = queries.sparkSession
    val centroids = loadCentroids(spark, s"$path/_centroids")
    val q = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("cell", explode(probeCells(col("qv"), centroids, nProbe)))
    // bounded by construction: at most nCells distinct probed cells
    val probed = q.select("cell").distinct().collect().map(_.getInt(0))
    val posts = spark.read.parquet(s"$path/postings")
      .filter(col("cell").isin(probed.map(Int.box): _*))
    val cand = q.join(posts, "cell")
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine", cosine(col("qv"), col("v")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"),
        col("cosine"))
  }

  /** LSH candidate pairs (pre-dedup), with the bucket-square bounded.
    *
    * The naive per-(table, bucket) self-join is quadratic WITHIN a
    * bucket — with coarse keys (2^nBits buckets) a diverse corpus puts
    * n / 2^nBits rows in every bucket and the candidate volume explodes
    * at the square of that. Guard: a cheap audit pass counts bucket
    * sizes (an aggregate on the exact key the join shuffles on); if any
    * bucket exceeds `maxBucket`, oversize buckets are subdivided by a
    * second, finer hyperplane key of ceil(log2(maxN / maxBucket)) bits
    * (per-table seeds, so a pair split in one table's refinement gets
    * independent chances in the other tables), and only same-sub-bucket
    * pairs become candidates. Normal-size buckets keep sub = 0 and are
    * untouched, so the planted-recall regime (small buckets) is
    * bit-identical with or without the guard.
    *
    * This bounds the EXPECTED sub-bucket to ~maxBucket for diverse
    * over-full buckets (each refine bit halves a bucket of spread-out
    * vectors). A bucket that stays large because its vectors are
    * genuinely near-identical cannot be split by any locality-preserving
    * key — but there the pair square IS the true candidate set, the same
    * inherent floor documented for the dense-corpus Jaccard path.
    */
  /** Shared hyperplane-LSH bucketing: each row exploded into its
    * (table, bucket) keys (plus a refinement `sub` key when any bucket
    * exceeds `maxBucket`), carrying `extra` pass-through columns. Both
    * the self-join ANN path ([[lshCandidates]]) and the two-sided
    * [[semanticDiff]] build their collision joins on top.
    *
    * Two refinement modes, because the base bucket count (2^nBits per
    * table) is FIXED while the corpus is not:
    *   - `refineAll = false` (the ANN default): only rows in OVERSIZE
    *     buckets get the sub key — protects against skew (one hot
    *     bucket) at zero recall cost elsewhere.
    *   - `refineAll = true` (the diff's mode): when any bucket
    *     overflows, EVERY row gets the sub key — the effective bit
    *     count grows ~log₂(corpus/maxBucket), buckets stay
    *     ~maxBucket-sized, and candidate pairs stay ~LINEAR in corpus
    *     size where fixed buckets grow them quadratically (every
    *     bucket fills together under uniform growth, so the
    *     oversize-only mode never fires). Costs the per-table recall
    *     factor p^refineBits on every pair — negligible at the
    *     near-duplicate regime, and the reason the diff documents its
    *     recall contract.
    */
  private[graft] def lshKeyed(df: DataFrame, dim: Int, nBits: Int, nTables: Int,
                              maxBucket: Int, idCol: String, vecCol: String,
                              extra: Seq[String] = Nil,
                              refineAll: Boolean = false): DataFrame = {
    val keyed = df.select(col(idCol).as("id") +: col(vecCol).as("v") +:
      extra.map(col): _*)
    val tableKeys = array((0 until nTables).map(t =>
      hyperplaneKey(col("v"), dim, nBits, seed = 42L + 7919L * t)): _*)
    def explodeKeys(base: DataFrame, more: Seq[Column]): DataFrame =
      base.select(col("id") +: col("v") +: posexplode(tableKeys) +:
          (extra.map(col) ++ more): _*)
        .withColumnRenamed("pos", "t").withColumnRenamed("col", "bucket")
    val exploded = explodeKeys(keyed, Nil)
    val sizes = exploded.groupBy("t", "bucket").agg(count(lit(1)).as("bn"))
    val maxRow = sizes.agg(max("bn")).collect()(0)
    val maxN = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    if (maxN <= maxBucket) exploded.withColumn("sub", lit(0L))
    else {
      val refineBits = math.min(16,
        64 - java.lang.Long.numberOfLeadingZeros((maxN - 1) / maxBucket)).toInt
      val refineKeys = array((0 until nTables).map(t =>
        hyperplaneKey(col("v"), dim, refineBits, seed = 104729L + 15485863L * t)): _*)
      // refine keys ride along from before the explode (computed once
      // per row, not once per (row, table))
      if (refineAll)
        // no sizes join needed: every row refines, so the sub key comes
        // straight off the exploded frame — one pass, no extra shuffle
        explodeKeys(keyed.withColumn("rk", refineKeys), Seq(col("rk")))
          .withColumn("sub", element_at(col("rk"), col("t") + 1))
          .drop("rk")
      else
        explodeKeys(keyed.withColumn("rk", refineKeys), Seq(col("rk")))
          .join(sizes, Seq("t", "bucket"))
          .withColumn("sub", when(col("bn") > maxBucket,
            element_at(col("rk"), col("t") + 1)).otherwise(lit(0L)))
          .drop("rk", "bn")
    }
  }

  private[graft] def lshCandidates(df: DataFrame, dim: Int, nBits: Int, nTables: Int,
                                   maxBucket: Int, idCol: String, vecCol: String): DataFrame = {
    val refined = lshKeyed(df, dim, nBits, nTables, maxBucket, idCol, vecCol)
    val l = refined.select(col("t"), col("bucket"), col("sub"),
      col("id").as("query_id"), col("v").as("qv"))
    val r = refined.select(col("t"), col("bucket"), col("sub"),
      col("id").as("neighbor_id"), col("v").as("cv"))
    l.join(r, Seq("t", "bucket", "sub"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .select("query_id", "neighbor_id", "cosine")
  }

  def lshTopK(df: DataFrame, dim: Int, k: Int, nBits: Int = 8, nTables: Int = 16,
              maxBucket: Int = 4096,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cand = lshCandidates(df, dim, nBits, nTables, maxBucket, idCol, vecCol)
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Semantic diff — the drift engine meets the ANN stack: rows on each
    * side with NO near-neighbor (exact cosine ≥ `minCosine`) on the
    * OTHER side. Generalizes the canonical-hash anti-join at the heart
    * of the tabular diff (reference
    * db_compare_create_tmp_table_merge.sql:29-42, [[graft.operators.HashRunScan]]'s
    * J1 shape) from "no row with the same hash" to "no row with the
    * same MEANING": a db2 row with no db1 neighbor is NEW content, a
    * db1 row with no db2 neighbor is LOST content, and unchanged or
    * near-duplicate content never appears (a copy is a near-neighbor
    * of its original). Emits (idCol, observed_in) with observed_in ∈
    * {"db1", "db2"} — the tabular diff's report shape.
    *
    * Scale shape — banded, never all-pairs: both sides hash into the
    * seeded hyperplane-LSH tables of [[lshKeyed]] (nTables × nBits,
    * the same machinery as the ANN path, oversize buckets
    * sub-refined); candidate pairs are CROSS-SIDE bucket collisions
    * only; each candidate verifies with one exact codegen'd cosine;
    * matched (side, id) pairs — a bounded distinct — anti-join back.
    * The collision join is an equi-join on (t, bucket, sub): shuffle-
    * partitioned by bucket key, neither corpus broadcast, no cartesian
    * anywhere. Verify cost is O(Σ bucket²), and the base table count
    * (2^nBits per table) is FIXED — under uniform corpus growth EVERY
    * bucket fills together, so candidates grow QUADRATICALLY unless
    * the effective bit count grows with the corpus. This diff
    * therefore runs [[lshKeyed]] in `refineAll` mode with a tight
    * `maxBucket` (64, vs the ANN path's skew-only 4096): whenever any
    * bucket overflows, every row gains a ~log₂(corpus/maxBucket)-bit
    * sub-key, buckets stay ~maxBucket-sized, and candidate pairs stay
    * ~linear in corpus size. The cost is the per-table recall factor
    * p^refineBits on every pair — negligible at the near-duplicate
    * regime this diff is built for. 10× probe: candidates ×~10 under
    * refineAll; ×95 with fixed buckets.
    *
    * Recall contract, stated rather than hidden: a true neighbor pair
    * at cosine c collides in one table w.p. (1 − arccos(c)/π)^nBits
    * and is missed by ALL tables w.p. (1 − that)^nTables. At the
    * near-duplicate regime this diff is built for (minCosine ≥ 0.9,
    * real matches near c ≈ 1) the default 16×8 misses a pair w.p.
    * ~1e-21 — and since every hyperplane is seeded, the outcome is a
    * deterministic property of the data, not a per-run coin flip. For
    * thresholds down at 0.6–0.8, read [[Dedup.lshPlan]]'s s-curve
    * table first and raise nTables / lower nBits.
    */
  def semanticDiff(db1: DataFrame, db2: DataFrame, idCol: String,
                   vecCol: String, minCosine: Double, dim: Int,
                   nBits: Int = 8, nTables: Int = 16,
                   maxBucket: Int = 64): DataFrame = {
    require(minCosine > 0 && minCosine < 1, "minCosine in (0, 1)")
    def side(df: DataFrame, tag: String) =
      df.select(lit(tag).as("_side"), col(idCol).as("id"),
        asDouble(col(vecCol)).as("v"))
    val u = side(db1, "db1").unionByName(side(db2, "db2"))
    val refined = lshKeyed(u, dim, nBits, nTables, maxBucket, "id", "v",
      extra = Seq("_side"), refineAll = true)
    val l = refined.select(col("t"), col("bucket"), col("sub"),
      col("_side").as("_ls"), col("id").as("_lid"), col("v").as("_lv"))
    val r = refined.select(col("t"), col("bucket"), col("sub"),
      col("_side").as("_rs"), col("v").as("_rv"))
    // every cross-side collision verifies immediately (one codegen'd
    // cosine in the join's projection — the lshCandidates convention);
    // the distinct collapses to matched (side, id), bounded by the
    // matched row count, BEFORE anything joins back to the corpus
    val matched = l.join(r, Seq("t", "bucket", "sub"))
      .filter(col("_ls") =!= col("_rs"))
      .filter(cosine(col("_lv"), col("_rv")) >= minCosine)
      .select(col("_ls").as("_side"), col("_lid").as("id"))
      .distinct()
    u.join(matched, Seq("_side", "id"), "left_anti")
      .select(col("id").as(idCol), col("_side").as("observed_in"))
  }

  /** Semantic join — [[semanticDiff]]'s constructive twin: for every
    * `db2` row that HAS a near-neighbor on `db1` (exact cosine ≥
    * `minCosine`), its single best match (highest cosine, ties broken
    * by the lower match id). Where the diff reports what DRIFTED, the
    * join aligns what DIDN'T: snapshot-to-snapshot row alignment in
    * embedding space, label transfer from a curated corpus to a fresh
    * crawl, near-dup attribution back to a canonical set. Probes with
    * no neighbor at the threshold are absent (inner-join semantics —
    * they are exactly [[semanticDiff]]'s `db2` rows).
    *
    * Emits (probe_id, match_id, cosine), one row per matched probe.
    *
    * Scale shape — identical to the diff's, and deliberately so: both
    * sides hash through [[lshKeyed]] in `refineAll` mode (the 10×
    * probe-verified linear-candidates regime; fixed buckets grow
    * candidates quadratically under uniform corpus growth), candidates
    * are cross-side bucket collisions only, each verifies with one
    * codegen'd cosine, and the argmax is a `row_number` window
    * partitioned by probe id — shuffle-partitioned on the probe key,
    * never a global sort, neither corpus broadcast or collected. The
    * per-probe state is top-1, so the window degenerates to a
    * streaming max within each partition group.
    *
    * Recall contract: same as [[semanticDiff]] — seeded hyperplanes
    * make a missed true pair a deterministic property of the data with
    * probability (1 − (1 − arccos(c)/π)^nBits)^nTables per pair
    * (~1e-21 at the default 16×8 in the near-duplicate regime). For
    * looser thresholds read [[Dedup.lshPlan]] first. Note the argmax
    * is over SURVIVING candidates: at near-dup margins the true best
    * match survives with the same ~1e-21 guarantee, but at loose
    * thresholds a missed runner-up can promote the next candidate —
    * size the banding to the threshold, not the default.
    */
  def semanticJoin(db1: DataFrame, db2: DataFrame, idCol: String,
                   vecCol: String, minCosine: Double, dim: Int,
                   nBits: Int = 8, nTables: Int = 16,
                   maxBucket: Int = 64): DataFrame = {
    require(minCosine > 0 && minCosine < 1, "minCosine in (0, 1)")
    def side(df: DataFrame, tag: String) =
      df.select(lit(tag).as("_side"), col(idCol).as("id"),
        asDouble(col(vecCol)).as("v"))
    // one union through lshKeyed (not one call per side) so both sides
    // see the SAME refinement-bit decision — split keys would silently
    // zero the collision set
    val u = side(db1, "db1").unionByName(side(db2, "db2"))
    val refined = lshKeyed(u, dim, nBits, nTables, maxBucket, "id", "v",
      extra = Seq("_side"), refineAll = true)
    val probe = refined.filter(col("_side") === "db2")
      .select(col("t"), col("bucket"), col("sub"),
        col("id").as("probe_id"), col("v").as("_pv"))
    val build = refined.filter(col("_side") === "db1")
      .select(col("t"), col("bucket"), col("sub"),
        col("id").as("match_id"), col("v").as("_bv"))
    // verify in the collision join's projection (the lshCandidates
    // convention), dedup the (probe, match) pair across tables BEFORE
    // the ranking window so each pair ranks once
    val scored = probe.join(build, Seq("t", "bucket", "sub"))
      .withColumn("cosine", cosine(col("_pv"), col("_bv")))
      .filter(col("cosine") >= minCosine)
      .select("probe_id", "match_id", "cosine")
      .dropDuplicates("probe_id", "match_id")
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("match_id"))
    scored.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select("probe_id", "match_id", "cosine")
  }

  /** Embedding-space corpus dedup with survivorship — the semantic-dedup
    * stage of a training pipeline as ONE named operator (r17): keep one
    * representative per near-duplicate embedding cluster. Where
    * [[semanticDedupCorpus]] needs an equality block column, this is the
    * unblocked corpus-scale path: banded hyperplane-LSH candidate pairs
    * (the [[lshKeyed]] refineAll machinery — the 10×-probe-verified
    * linear-candidates regime), each verified with one exact codegen'd
    * cosine, clustered by [[Dedup.connectedComponents]] (min-label
    * propagation with pointer jumping; driver union-find below the
    * small-graph threshold), and the min-id member of each component
    * survives. Unpaired rows always survive. Returns the surviving rows
    * of `df`, schema unchanged — the deduped corpus, SemDeDup-style
    * (Abbas et al., 2023, arXiv:2303.09540).
    *
    * Scale shape: candidates are same-corpus bucket collisions on the
    * (t, bucket, sub) equi-join — never all-pairs, no cartesian; the
    * near-dup edge list is a tiny fraction of the corpus and only IT
    * flows into the component stage; the survivor filter is one
    * left join back to the corpus. Recall contract as [[semanticDiff]]:
    * seeded hyperplanes make a missed pair a deterministic property of
    * the data (~1e-21 per pair at the default 16×8 in the near-dup
    * regime) — size (nBits, nTables) via [[hyperplanePlan]] for looser
    * thresholds. Requires long-castable ids (the component labels).
    */
  def semanticDedupLsh(df: DataFrame, idCol: String, vecCol: String,
                       minCosine: Double, dim: Int,
                       nBits: Int = 8, nTables: Int = 16,
                       maxBucket: Int = 64): DataFrame = {
    require(minCosine > 0 && minCosine < 1, "minCosine in (0, 1)")
    val keyed = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val refined = lshKeyed(keyed, dim, nBits, nTables, maxBucket, "id", "v",
      refineAll = true)
    val l = refined.select(col("t"), col("bucket"), col("sub"),
      col("id").as("id1"), col("v").as("_v1"))
    val r = refined.select(col("t"), col("bucket"), col("sub"),
      col("id").as("id2"), col("v").as("_v2"))
    // verify in the collision join's projection (the lshCandidates
    // convention); id1 < id2 halves the candidates and the distinct
    // collapses multi-table collisions before the component stage
    val pairs = l.join(r, Seq("t", "bucket", "sub"))
      .filter(col("id1") < col("id2"))
      .filter(cosine(col("_v1"), col("_v2")) >= minCosine)
      .select("id1", "id2").distinct()
    val comps = Dedup.connectedComponents(pairs)
    df.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .filter(col(idCol) === col("component")).drop("component")
  }

  /** Incremental semantic dedup — [[semanticDedupLsh]] for a GROWING
    * corpus (the [[Dedup.dedupAgainstIndex]] question asked in
    * embedding space): from a batch of `novel` rows, keep those with
    * (a) no near-neighbor (exact cosine ≥ `minCosine`) in the existing
    * `corpus`, and (b) the min-id representative per near-dup component
    * WITHIN the surviving batch. Returns the surviving `novel` rows,
    * schema unchanged — exactly what gets appended to the corpus.
    * Stated caveat: a batch row whose only link to the corpus is
    * TRANSITIVE (near-dup of a batch row that is itself a corpus
    * near-dup) survives step (a) by construction — the two-step
    * definition is what an engine can replay exactly, and at near-dup
    * thresholds the transitive leak is a margin case.
    *
    * Scale shape: ONE union through [[lshKeyed]] in refineAll mode
    * (split keys would zero the collision set — the [[semanticJoin]]
    * lesson), so batch-vs-corpus and batch-vs-batch candidates come off
    * the same hashed table; cross-side collisions verify and fold to a
    * bounded matched-id set that anti-joins the batch; within-batch
    * pairs among the remainder flow to [[Dedup.connectedComponents]].
    * No cartesian anywhere; the corpus is never collected or broadcast.
    * Recall contract as [[semanticDiff]] (seeded hyperplanes, ~1e-21
    * per-pair miss at the default 16×8 in the near-dup regime).
    */
  def semanticDedupIncrement(novel: DataFrame, corpus: DataFrame,
                             idCol: String, vecCol: String,
                             minCosine: Double, dim: Int,
                             nBits: Int = 8, nTables: Int = 16,
                             maxBucket: Int = 64): DataFrame = {
    require(minCosine > 0 && minCosine < 1, "minCosine in (0, 1)")
    def side(df: DataFrame, tag: String) =
      df.select(lit(tag).as("_side"), col(idCol).as("id"),
        asDouble(col(vecCol)).as("v"))
    val u = side(novel, "new").unionByName(side(corpus, "old"))
    val refined = lshKeyed(u, dim, nBits, nTables, maxBucket, "id", "v",
      extra = Seq("_side"), refineAll = true)
    val nw = refined.filter(col("_side") === "new")
      .select(col("t"), col("bucket"), col("sub"),
        col("id").as("_nid"), col("v").as("_nv"))
    val old = refined.filter(col("_side") === "old")
      .select(col("t"), col("bucket"), col("sub"), col("v").as("_ov"))
    // (a) batch rows with a corpus near-neighbor — bounded distinct
    val dupOfCorpus = nw.join(old, Seq("t", "bucket", "sub"))
      .filter(cosine(col("_nv"), col("_ov")) >= minCosine)
      .select(col("_nid").as("id")).distinct()
    // (b) within-batch components among the remainder, min-id survivor
    val rem = nw.join(dupOfCorpus.withColumnRenamed("id", "_nid"),
      Seq("_nid"), "left_anti")
    val pairs = rem.select(col("t"), col("bucket"), col("sub"),
        col("_nid").as("id1"), col("_nv").as("_v1"))
      .join(rem.select(col("t"), col("bucket"), col("sub"),
        col("_nid").as("id2"), col("_nv").as("_v2")), Seq("t", "bucket", "sub"))
      .filter(col("id1") < col("id2"))
      .filter(cosine(col("_v1"), col("_v2")) >= minCosine)
      .select("id1", "id2").distinct()
    val comps = Dedup.connectedComponents(pairs)
    novel
      .join(dupOfCorpus.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .filter(col(idCol) === col("component")).drop("component")
  }

  /** Hyperplane-LSH banding planner — the cosine-space companion to
    * [[Dedup.lshPlan]], and the table [[semanticDiff]] / [[semanticJoin]] /
    * [[lshTopK]]'s recall contracts tell the caller to read before
    * choosing (nBits, nTables) for a threshold outside the near-dup
    * regime: a pair at cosine c collides in one nBits-bit table with
    * probability p(c)^nBits, p(c) = 1 − arccos(c)/π (Charikar
    * STOC'02), and in ≥1 of nTables tables with 1 − (1 − p^nBits)^L.
    * Emits the full (nBits ∈ [2, maxBits]) × (nTables ∈ powers of two
    * ≤ maxTables) grid with collision probabilities at the caller's
    * `target` (recall proxy — want ≈ 1) and `distractor` (candidate-
    * waste proxy — want ≈ 0) cosines.
    *
    * Shape: a driver-built grid bounded by the parameters, never by
    * data; one narrow projection of closed-form doubles rounded at
    * 6 dp (the [[Dedup.lshPlan]] conventions).
    */
  def hyperplanePlan(spark: org.apache.spark.sql.SparkSession,
                     maxBits: Int, maxTables: Int,
                     target: Double, distractor: Double): DataFrame = {
    require(maxBits >= 2 && maxBits <= 32, "maxBits in [2, 32]")
    require(maxTables >= 1 && maxTables <= 256, "maxTables in [1, 256]")
    require(target > -1 && target < 1, "target cosine in (-1, 1)")
    require(distractor > -1 && distractor < target,
      "distractor cosine in (-1, target)")
    import spark.implicits._
    val tables = Iterator.iterate(1L)(_ * 2).takeWhile(_ <= maxTables).toSeq
    val grid = for { b <- 2 to maxBits; l <- tables } yield (b.toLong, l)
    val df = grid.toDF("n_bits", "n_tables")
    // probabilities computed IN the engine (acos/pow/π), matching the
    // oracle's arithmetic op for op
    def pCollide(c: Double): Column = {
      val p = lit(1.0) - acos(lit(c)) / lit(math.Pi)
      round(lit(1.0) - pow(lit(1.0) -
        pow(p, col("n_bits").cast("double")),
        col("n_tables").cast("double")), 6)
    }
    df.withColumn("p_at_target", pCollide(target))
      .withColumn("p_at_distractor", pCollide(distractor))
  }

  /** One representative per quantizer cell — the medoid-style selector
    * behind "give me k diverse exemplars of this corpus" (coreset
    * seeding, labeling-budget allocation, cluster naming): every vector
    * is assigned to its nearest centroid ([[graft.functions.NearestCells]],
    * matrix as a kernel reference object) and each cell keeps the
    * member MOST ALIGNED with the centroid (max cosine, ties to the
    * lowest id). Returns (cell, id, cosine, n_members).
    *
    * Scale shape: one narrow projection, then a single cell-keyed
    * aggregation via max_by-style struct ordering — no window, no sort:
    * the per-cell argmax folds map-side exactly like a max, so the
    * shuffle carries one candidate struct per (partition, cell), never
    * the members.
    */
  def cellMedoids(df: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    // the per-cell cosine is a CASE over centroid LITERALS — k × dim
    // plan leaves, the measured Janino blowup once k × dim gets large
    // (the NearestCells lesson). The quantizers this selector pairs
    // with are coarse; cap k rather than silently compile for seconds.
    require(centroids.length <= 256,
      s"cellMedoids supports <= 256 cells (got ${centroids.length}); " +
        "for finer quantizers aggregate per cell on a kernel-computed " +
        "distance instead")
    val v = asDouble(col(vecCol))
    val cents = centroids.map(c => lit(c))
    val assigned = df.select(col(idCol).cast("long").as("id"),
        element_at(graft.functions.NearestCells(v, centroids, 1), 1)
          .cast("long").as("cell"),
        v.as("_v"))
      // cosine against the OWN cell's centroid: a model-sized CASE over
      // centroid literals (k branches, one kernel call each)
      .withColumn("cosine", (0 until centroids.length).map(k =>
          when(col("cell") === k, cosine(col("_v"), cents(k))))
        .reduceRight((w, acc) => w.otherwise(acc)))
    // argmax as max of (cosine, -id) struct — map-side combinable;
    // negated id makes the LOWER id win cosine ties under struct max
    assigned.groupBy("cell")
      .agg(max(struct(col("cosine"), (-col("id")).as("_nid"))).as("_best"),
        count(lit(1)).as("n_members"))
      .select(col("cell"), (-col("_best._nid")).as("id"),
        col("_best.cosine").as("cosine"), col("n_members"))
  }

  /** WHERE did the embedding distribution move — the drift-localization
    * companion to [[mmdDrift]]'s single-number alarm: both corpora are
    * assigned to the cells of a FIXED coarse quantizer (the IVF
    * machinery — pass [[kmeansFitDistributed]] centroids fit on the
    * reference, or a planted codebook), and each cell reports its mass
    * on both sides plus its PSI contribution
    * (share1 − share2)·ln(share1/share2), ε-floored and 6-dp-quantized
    * exactly like [[graft.operators.Stats.psi]]'s bins. Big psi_term =
    * the region of embedding space that gained or lost mass —
    * actionable in a way the global statistic is not.
    *
    * Scale shape: one narrow [[graft.functions.NearestCells]] projection
    * per side (the centroid matrix rides as a kernel reference object,
    * never plan literals), one cell-keyed count aggregation per side
    * (map-side combined, k-bounded keys), a k-row full-outer join, and
    * one-row totals attached by cross join — nothing shuffles by the
    * corpora beyond the two bounded aggregations, nothing collects.
    *
    * Returns one row per occupied cell:
    * (cell, n1, n2, share1, share2, psi_term), shares relative to each
    * side's own total.
    */
  def cellMassDrift(db1: DataFrame, db2: DataFrame, vecCol: String,
                    centroids: Array[Array[Double]],
                    eps: Double = 1e-6): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(eps > 0, "eps must be positive")
    def counts(df: DataFrame, n: String) =
      df.select(element_at(
          graft.functions.NearestCells(asDouble(col(vecCol)), centroids, 1), 1)
        .cast("long").as("cell"))
        .groupBy("cell").agg(count(lit(1)).as(n))
    val joined = counts(db1, "n1").join(counts(db2, "n2"), Seq("cell"), "full_outer")
      .select(col("cell"), coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
    val tot = joined.agg(sum("n1").as("_t1"), sum("n2").as("_t2"))
    def floored(c: Column): Column = greatest(c, lit(eps))
    joined.crossJoin(tot)
      .withColumn("share1",
        round(col("n1").cast("double") / col("_t1").cast("double"), 6))
      .withColumn("share2",
        round(col("n2").cast("double") / col("_t2").cast("double"), 6))
      .withColumn("psi_term",
        round((floored(col("share1")) - floored(col("share2"))) *
          log(floored(col("share1")) / floored(col("share2"))), 6))
      .select("cell", "n1", "n2", "share1", "share2", "psi_term")
  }

  /** Cross-snapshot cell matching — the missing piece when each snapshot
    * was quantized INDEPENDENTLY (the realistic monitoring case:
    * yesterday's k-means and today's k-means share no cell ids), so
    * [[cellMassDrift]]'s shared-quantizer premise fails and the cells
    * must be aligned before mass can be compared. Matches cells by
    * centroid cosine: greedy best-first assignment over the k1×k2
    * matrix (sort by cosine desc, ties (cell1, cell2) ascending; a pair
    * is taken when both ends are still free). Greedy rather than
    * Hungarian by contract: it is deterministic, oracle-replayable, and
    * EQUAL to the optimal assignment whenever best matches are mutual —
    * which any pair of quantizers fit on overlapping data satisfies;
    * when they are not mutual the greedy order IS the documented
    * semantics.
    *
    * Scale shape: the matrix is k1×k2 ≤ 256×256 doubles — model-sized
    * by the same k ≤ 256 contract as [[cellMedoids]] — computed on the
    * DRIVER from the centroid arrays (no data touched); the only
    * distributed work is the two per-snapshot mass aggregations
    * (cosine-nearest assignment via the codegen
    * [[graft.functions.NearestCells]] kernel, one map-side-combined
    * groupBy each), joined to the k-row assignment frame (AQE
    * broadcasts). Cosines round at 6 dp (HALF_UP, the house grid).
    *
    * Returns one row per matched pair (cell1, cell2, cosine, mass1,
    * mass2) plus one row per UNMATCHED cell on either side (null
    * partner/cosine, own mass) — an unmatched cell is drift signal in
    * itself: a mode that appeared or vanished between snapshots.
    */
  def cellMatching(db1: DataFrame, db2: DataFrame, vecCol: String,
                   cents1: Array[Array[Double]],
                   cents2: Array[Array[Double]]): DataFrame = {
    require(cents1.nonEmpty && cents2.nonEmpty, "centroids must be non-empty")
    require(cents1.length <= 256 && cents2.length <= 256,
      "k <= 256 per side: the k1*k2 cosine matrix is solved on the driver " +
        "(the cellMedoids model-size contract)")
    // fail fast on mismatched codebook dimensions — a truncated dot
    // product over min(len) with full-length norms would silently
    // deflate every cosine and skew the greedy matching
    val dims = (cents1 ++ cents2).map(_.length).distinct
    require(dims.length == 1,
      s"all centroids must share one dimension, got ${dims.mkString(", ")}")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var aa = 0.0; var bb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); i += 1 }
      i = 0; while (i < a.length) { aa += a(i) * a(i); i += 1 }
      i = 0; while (i < b.length) { bb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(aa) * math.sqrt(bb))
    }
    // NaN (a zero centroid) must survive to the sort-last/skip logic —
    // BigDecimal(NaN) would throw, not round
    def r6(x: Double): Double =
      if (x.isNaN) x
      else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = for {
      i <- cents1.indices
      j <- cents2.indices
    } yield (i.toLong, j.toLong, r6(cos(cents1(i), cents2(j))))
    // NaN cosines (a zero centroid) sort last, like the kernel's ordering
    val ordered = scored.sortBy { case (i, j, c) => (-c, i, j) }(
      Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Long, Ordering.Long))
    val used1 = scala.collection.mutable.Set.empty[Long]
    val used2 = scala.collection.mutable.Set.empty[Long]
    val matched = ordered.flatMap { case (i, j, c) =>
      if (!used1(i) && !used2(j) && !c.isNaN) {
        used1 += i; used2 += j
        Some((Option(i), Option(j), Option(c)))
      } else None
    }
    val un1 = cents1.indices.map(_.toLong).filterNot(used1)
      .map(i => (Option(i), Option.empty[Long], Option.empty[Double]))
    val un2 = cents2.indices.map(_.toLong).filterNot(used2)
      .map(j => (Option.empty[Long], Option(j), Option.empty[Double]))
    val spark = db1.sparkSession
    import spark.implicits._
    val pairs = (matched ++ un1 ++ un2)
      .toDF("cell1", "cell2", "cosine")
    def mass(df: DataFrame, cents: Array[Array[Double]], cellName: String,
             massName: String) =
      df.select(element_at(
          graft.functions.NearestCells(asDouble(col(vecCol)), cents, 1), 1)
        .cast("long").as(cellName))
        .groupBy(cellName).agg(count(lit(1)).as(massName))
    pairs
      .join(mass(db1, cents1, "cell1", "_m1"), Seq("cell1"), "left")
      .join(mass(db2, cents2, "cell2", "_m2"), Seq("cell2"), "left")
      .select(col("cell1"), col("cell2"), col("cosine"),
        coalesce(col("_m1"), lit(0L)).as("mass1"),
        coalesce(col("_m2"), lit(0L)).as("mass2"))
  }

  /** Quantization agreement between two codebooks on the SAME points —
    * the scalar companion to [[cellMatching]]: where matching says WHICH
    * cells correspond, this says HOW MUCH the partition itself changed.
    * Each row is assigned to its cosine-nearest cell under BOTH
    * codebooks in one pass; from the k1×k2 contingency table the
    * operator emits the standard clustering-comparison indices:
    * Hubert–Arabie adjusted Rand, normalized mutual information (sqrt
    * normalization), and the V-measure trio (homogeneity,
    * completeness, V — Rosenberg & Hirschberg, EMNLP'07, all three
    * derived from the same MI/entropy folds via H(U|V) = H(U) − I).
    * ARI 1 / NMI 1 means the quantizers induce the same partition up
    * to relabeling, 0 means chance-level overlap; homogeneity < 1
    * with completeness ≈ 1 reads "snapshot 2 split cells", the
    * converse "snapshot 2 merged cells".
    *
    * Determinism/parity: ARI's pair counts fold as EXACT decimal Σx²
    * (Σ C(x,2) = (Σx² − n)/2, the halving applied once on the final
    * scalar), so the only double arithmetic is the closing ratio —
    * order-independent and overflow-safe where per-term long x·(x−1)
    * would wrap — rounded at 9 dp; the NMI terms each round at 9 dp
    * and fold as exact decimals (the psi discipline for the one libm
    * call, ln), final at 6 dp. Degenerate inputs publish NULL, not NaN
    * (the atkinson discipline), across EVERY index: fewer than 2 rows,
    * or either side collapsing to a single effective cluster (no pair
    * structure for ARI, zero entropy for NMI). The test is the
    * integer-exact `max(marginal) == n`, never a float `den == 0`
    * probe — x − fl(fl(x·x)/x) is nonzero for ~8% of large x, so a
    * float test would flip the same degenerate input between NULL and
    * a number across corpus sizes.
    *
    * Scale shape: one narrow projection over the corpus (two codegen
    * [[graft.functions.NearestCells]] kernels per row), ONE
    * map-side-combined groupBy onto the ≤ 256×256 contingency (bounded,
    * checkpointed once, re-read by four bounded aggregates), scalars
    * combined by one-row cross joins — nothing shuffles by the corpus
    * twice, nothing collects.
    */
  def clusterAgreement(df: DataFrame, vecCol: String,
                       cents1: Array[Array[Double]],
                       cents2: Array[Array[Double]]): DataFrame = {
    require(cents1.nonEmpty && cents2.nonEmpty, "centroids must be non-empty")
    require(cents1.length <= 256 && cents2.length <= 256,
      "k <= 256 per side: the contingency table is the bounded state " +
        "(the cellMedoids model-size contract)")
    // Σ C(x,2) = (Σx² − Σx)/2, with Σx² folded as EXACT decimals and the
    // halving done once on the final scalar in double: order-independent
    // (the determinism policy) and overflow-safe where a per-term long
    // x·(x−1) would wrap beyond ~4e9 rows per cell
    def sq(c: Column): Column = sum(c.cast("decimal(18,0)") * c.cast("decimal(18,0)"))
    val assigned = df.filter(col(vecCol).isNotNull).select(
      element_at(graft.functions.NearestCells(
        asDouble(col(vecCol)), cents1, 1), 1).cast("long").as("c1"),
      element_at(graft.functions.NearestCells(
        asDouble(col(vecCol)), cents2, 1), 1).cast("long").as("c2"))
    val cont = assigned.groupBy("c1", "c2").agg(count(lit(1)).as("nij"))
      .localCheckpoint(eager = true)
    val rows = cont.groupBy("c1").agg(sum("nij").as("ai"))
    val cols = cont.groupBy("c2").agg(sum("nij").as("bj"))
    val nS = cont.agg(sum("nij").as("n"), sq(col("nij")).as("qij"))
    // max marginal alongside the sum of squares: `max(ai) == n` is the
    // INTEGER-EXACT single-effective-cluster test the degenerate guards
    // key on (a float `den == 0` test is unstable — x − fl(fl(x·x)/x)
    // is nonzero for ~8% of large x, so the same degenerate input would
    // flip between NULL and a number across corpus sizes)
    val saS = rows.agg(sq(col("ai")).as("qa"), max("ai").as("_ma"))
    val sbS = cols.agg(sq(col("bj")).as("qb"), max("bj").as("_mb"))
    // mutual-information and entropy terms: 9-dp rounds, exact decimal
    // folds (<= 65536 terms — decimal(30,9) stays far under the cliff)
    val withMarg = cont.join(rows, "c1").join(cols, "c2")
      .crossJoin(nS.select(col("n").as("_n")))
    val miS = withMarg.agg(sum(
      round((col("nij").cast("double") / col("_n").cast("double")) *
        log(col("nij").cast("double") * col("_n").cast("double") /
          (col("ai").cast("double") * col("bj").cast("double"))), 9)
        .cast("decimal(20,9)")).as("mi"))
    def entropy(m: DataFrame, c: String, name: String) =
      m.crossJoin(nS.select(col("n").as("_n"))).agg(sum(
        round(-(col(c).cast("double") / col("_n").cast("double")) *
          log(col(c).cast("double") / col("_n").cast("double")), 9)
          .cast("decimal(20,9)")).as(name))
    val huS = entropy(rows, "ai", "hu")
    val hvS = entropy(cols, "bj", "hv")
    nS.crossJoin(saS).crossJoin(sbS).crossJoin(miS)
      .crossJoin(huS).crossJoin(hvS)
      .withColumn("_nd", col("n").cast("double"))
      .withColumn("_sij",
        (col("qij").cast("double") - col("_nd")) / lit(2.0))
      .withColumn("_sa", (col("qa").cast("double") - col("_nd")) / lit(2.0))
      .withColumn("_sb", (col("qb").cast("double") - col("_nd")) / lit(2.0))
      .withColumn("_cn2", (col("_nd") * col("_nd") - col("_nd")) / lit(2.0))
      // NULL divisor, not 0: ANSI mode throws DIVIDE_BY_ZERO even for
      // doubles, and this column evaluates before the degenerate guard
      .withColumn("_exp", col("_sa") * col("_sb") /
        when(col("_cn2") === 0.0, lit(null)).otherwise(col("_cn2")))
      .withColumn("_den",
        (col("_sa") + col("_sb")) / lit(2.0) - col("_exp"))
      .withColumn("_hn",
        sqrt(col("hu").cast("double") * col("hv").cast("double")))
      .withColumn("_mid", col("mi").cast("double"))
      .withColumn("_hud", col("hu").cast("double"))
      .withColumn("_hvd", col("hv").cast("double"))
      .withColumn("_degen",
        coalesce(col("n"), lit(0L)) < 2 ||
          col("_ma") === col("n") || col("_mb") === col("n"))
      .select(col("n"),
        when(col("_degen") || col("_den") === 0.0, lit(null)).otherwise(
          round((col("_sij") - col("_exp")) / col("_den"), 9))
          .as("ari"),
        when(col("_degen") || col("_hn") === 0.0, lit(null)).otherwise(
          round(col("_mid") / col("_hn"), 6)).as("nmi"),
        // the V-measure trio from the same folds: H(U|V) = H(U) − I, so
        // homogeneity = I/H(U), completeness = I/H(V), V their harmonic
        // mean = 2I/(H(U)+H(V)); a zero-entropy side is NULL like nmi
        when(col("_degen") || col("_hud") === 0.0, lit(null)).otherwise(
          round(col("_mid") / col("_hud"), 6)).as("homogeneity"),
        when(col("_degen") || col("_hvd") === 0.0, lit(null)).otherwise(
          round(col("_mid") / col("_hvd"), 6)).as("completeness"),
        when(col("_degen") || col("_hud") + col("_hvd") === 0.0, lit(null))
          .otherwise(round(lit(2.0) * col("_mid") /
            (col("_hud") + col("_hvd")), 6)).as("v_measure"))
  }

  /** The md5-seeded RFF weight matrix and bias vector shared by
    * [[mmdDrift]], [[rffMeans]] and the streaming twin
    * ([[graft.streaming.StreamingDrift.streamingMmd]]) — pure IEEE
    * arithmetic from the digest (no libm), so any engine replaying the
    * derivation gets bit-identical parameters.
    */
  private[graft] def rffParams(dim: Int, nFeatures: Int, sigma: Double,
                               seed: Long): (Array[Array[Double]], Array[Double]) = {
    require(nFeatures >= 1 && nFeatures <= 64, "nFeatures in [1, 64]")
    require(sigma > 0, "sigma > 0")
    import graft.functions.SketchUtil.{md5U64, u64ToDouble}
    val two64 = math.scalb(1.0, 64)
    val ws = Array.tabulate(nFeatures, dim) { (j, i) =>
      (u64ToDouble(md5U64(s"mmdw:$seed:$j:$i")) / two64 * 2.0 - 1.0) / sigma
    }
    val bs = Array.tabulate(nFeatures) { j =>
      u64ToDouble(md5U64(s"mmdb:$seed:$j")) / two64 * 2.0 * math.Pi
    }
    (ws, bs)
  }

  /** Per-feature RFF means of a static corpus, as the exact doubles the
    * [[mmdDrift]] gap halves evaluate to (6-dp-quantized z, exact
    * decimal sums, decimal→double cast, double division) — the
    * model-sized reference a streaming monitor carries so closed
    * windows reproduce the batch statistic bit-for-bit. Returns
    * (means, n).
    */
  def rffMeans(df: DataFrame, vecCol: String, dim: Int,
               nFeatures: Int = 16, sigma: Double = 1.0,
               seed: Long = 7L): (Array[Double], Long) = {
    val (ws, bs) = rffParams(dim, nFeatures, sigma, seed)
    val z = graft.functions.RffFeatures(col(vecCol), ws, bs)
    val zq = transform(z, x => round(x, 6).cast("decimal(20,6)"))
    val aggs = count(lit(1)).as("n") +:
      (0 until nFeatures).map(j =>
        sum(element_at(col("_z"), j + 1)).as(s"s$j"))
    val row = df.select(zq.as("_z")).agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = row.getLong(0)
    require(n > 0, "rffMeans: empty reference")
    // java BigDecimal.doubleValue + double division — the same two ops
    // Spark's decimal→double cast and `/` codegen perform in mmdDrift
    val means = Array.tabulate(nFeatures)(j =>
      row.getDecimal(j + 1).doubleValue() / n.toDouble)
    (means, n)
  }

  /** Kernel two-sample drift statistic between two embedding corpora via
    * random Fourier features (Rahimi–Recht, NeurIPS'07): the plug-in
    * estimate of MMD² = ||E φ(x) − E φ(y)||² in the feature space
    * z_j(x) = cos(w_j·x + b_j). Where [[Similarity.labelCentroids]]-style
    * centroid drift sees only MEAN shift, MMD responds to any moment the
    * feature map excites (spread, rotation, multi-modality) — the
    * standard "did the embedding distribution move" monitor between two
    * snapshot runs, feeding the same report shape as the tabular drift
    * battery's PSI/KS columns.
    *
    * w components are md5-seeded uniforms on [−1/σ, 1/σ] (the
    * [[planeMatrix]] derivation — pure IEEE arithmetic from the digest,
    * so both engines derive bit-identical weights without any libm
    * call), which makes the implied kernel the sinc-product
    * k(δ) = Π_i sinc(δ_i/σ) — positive-definite (it is the Fourier
    * transform of the uniform spectral density). Its spectrum is
    * band-limited, so shifts living entirely above frequency 1/σ are
    * invisible: σ sets the scale of changes the monitor watches, it is
    * not a universal-kernel test. b_j uniform on [0, 2π).
    *
    * Determinism/parity contract: z is quantized at 6 dp and summed as
    * exact decimals (the HITS renorm idiom — 6 dp rather than 9
    * because cos is the one libm call in the pipeline: a last-ulp
    * cos disagreement between engines flips a 9-dp rounding with
    * probability ~1e-7 per value, observed once in 32k at the gate,
    * while the 6-dp grid pushes it to ~1e-10), so per-feature means are
    * independent of row order and partitioning; the final Σ gap² folds
    * 16 exact decimal terms. One narrow pass per side (the
    * [[graft.functions.RffFeatures]] kernel — weights ride as a
    * reference object, not plan literals), one D-column aggregate,
    * one-row cross join: nothing shuffles by the corpus, nothing
    * collects.
    *
    * Returns one row (n1, n2, mmd2). The plug-in estimate is a squared
    * norm, so mmd2 ≥ 0 always, with an O(1/n1 + 1/n2) positive noise
    * floor under the null — compare against a same-size split of one
    * corpus (the q_mmd_drift fixture shape), not against zero.
    */
  def mmdDrift(db1: DataFrame, db2: DataFrame, vecCol: String, dim: Int,
               nFeatures: Int = 16, sigma: Double = 1.0,
               seed: Long = 7L): DataFrame = {
    val (ws, bs) = rffParams(dim, nFeatures, sigma, seed)
    def sums(df: DataFrame, nName: String, sPrefix: String): DataFrame = {
      val z = graft.functions.RffFeatures(col(vecCol), ws, bs)
      val zq = transform(z, x => round(x, 6).cast("decimal(20,6)"))
      val aggs = count(lit(1)).as(nName) +:
        (0 until nFeatures).map(j =>
          sum(element_at(col("_z"), j + 1)).as(s"$sPrefix$j"))
      df.select(zq.as("_z")).agg(aggs.head, aggs.tail: _*)
    }
    val a = sums(db1, "n1", "_a")
    val b = sums(db2, "n2", "_b")
    // decimal(22,12), NOT wider: Spark's decimal `+` grows precision by
    // one per add, and a 16-term reduce chain starting at (24,12) tops
    // 38 — allowPrecisionLoss then silently drops the SCALE to 11 dp,
    // truncating the sum (caught by the oracle at the 1e-12 digit).
    // 22 + (nFeatures-1) = 37 stays exact; g² ≤ 4 needs one integer
    // digit, so 10 are ample.
    val terms = (0 until nFeatures).map { j =>
      val gap = col(s"_a$j").cast("double") / col("n1").cast("double") -
        col(s"_b$j").cast("double") / col("n2").cast("double")
      round(gap * gap, 12).cast("decimal(22,12)")
    }
    // degenerate sides publish NULL, not NaN (the atkinson discipline:
    // a 0/0 division must not leak NaN into JSON-ified readouts)
    a.crossJoin(b).select(col("n1"), col("n2"),
      when(col("n1") > 0 && col("n2") > 0,
        terms.reduce(_ + _).cast("double") * lit(2.0 / nFeatures))
        .as("mmd2"))
  }

  /** Mahalanobis distance scoring over an embedding column — the
    * covariance-aware out-of-distribution screen (a point 3σ out along
    * a tight direction scores far higher than 3σ along a loose one,
    * which plain Euclidean distance cannot see). The standard
    * embedding-space quality gate: corrupt encodes, wrong-model
    * vectors, and genuine distribution shift all surface as extreme
    * d² = (x−μ)ᵀ Σ⁻¹ (x−μ).
    *
    * Split of labor, same contract as [[topComponent]]: the data-scale
    * work is ONE moment pass ([[gramMatrix]] + a per-dimension mean
    * fold); Σ = G/n − μμᵀ + ridge·I assembles and inverts on the
    * driver (dim × dim, model-sized; Gauss–Jordan with fixed pivot
    * order, deterministic given the moments); the inverse re-enters
    * the plan in a closure and every row scores in a single narrow
    * projection — no second shuffle, no per-row collect.
    *
    * `ridge` keeps Σ invertible when dimensions are collinear (the
    * failure mode of covariance estimates at n comparable to dim) —
    * it biases distances down slightly and uniformly.
    */
  def mahalanobisScore(df: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       ridge: Double = 1e-6): DataFrame = {
    require(ridge >= 0, "ridge must be >= 0")
    val g = gramMatrix(df, vecCol).collect()
    require(g.nonEmpty, "mahalanobisScore: no vectors")
    val dim = g.map(_.getInt(1)).max + 1
    val n = g.head.getLong(3).toDouble
    val sums = df.select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("i", "x")))
      .groupBy("i").agg(sum("x").as("s")).collect()
    val mu = new Array[Double](dim)
    sums.foreach(r => mu(r.getInt(0)) = r.getDouble(1) / n)
    val cov = Array.ofDim[Double](dim, dim)
    g.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val c = r.getDouble(2) / n - mu(i) * mu(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    var d = 0
    while (d < dim) { cov(d)(d) += ridge; d += 1 }
    val inv = invertInPlace(cov)
    val muB = mu; val invB = inv; val dimB = dim
    val score = udf((xs: Seq[Double]) => {
      val c = new Array[Double](dimB)
      var i = 0
      while (i < dimB) { c(i) = xs(i) - muB(i); i += 1 }
      var acc = 0.0; i = 0
      while (i < dimB) {
        var j = 0; var row = 0.0
        while (j < dimB) { row += invB(i)(j) * c(j); j += 1 }
        acc += row * c(i); i += 1
      }
      acc
    })
    df.select(col(idCol), score(col(vecCol).cast("array<double>"))
      .as("mdist2"))
  }

  /** Gauss–Jordan inverse with partial pivoting in fixed scan order —
    * deterministic given the input matrix. Mutates and returns a fresh
    * inverse; throws on a singular matrix (ridge prevents that above).
    */
  private def invertInPlace(a: Array[Array[Double]]): Array[Array[Double]] = {
    val dim = a.length
    val m = a.map(_.clone())
    val inv = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var colI = 0
    while (colI < dim) {
      var piv = colI; var r = colI + 1
      while (r < dim) {
        if (math.abs(m(r)(colI)) > math.abs(m(piv)(colI))) piv = r
        r += 1
      }
      require(m(piv)(colI) != 0.0, "singular covariance (raise ridge)")
      if (piv != colI) {
        val t = m(piv); m(piv) = m(colI); m(colI) = t
        val ti = inv(piv); inv(piv) = inv(colI); inv(colI) = ti
      }
      val d = m(colI)(colI)
      var j = 0
      while (j < dim) { m(colI)(j) /= d; inv(colI)(j) /= d; j += 1 }
      r = 0
      while (r < dim) {
        if (r != colI && m(r)(colI) != 0.0) {
          val f = m(r)(colI)
          j = 0
          while (j < dim) {
            m(r)(j) -= f * m(colI)(j); inv(r)(j) -= f * inv(colI)(j)
            j += 1
          }
        }
        r += 1
      }
      colI += 1
    }
    inv
  }
}
