package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import PrefixSum.workPartition

/** Blocked edit-distance matching: the entity-resolution primitive for
  * dirty catalogs (typo'd names, OCR noise). Semantics are explicitly
  * *blocked* — only pairs sharing a caller-chosen blocking key are
  * compared, the standard ER trade: recall is bounded by how robust the
  * blocking key is to the expected corruption (pick a fragment the
  * corruption can't touch, e.g. an unedited token), and in exchange the
  * candidate space drops from |L|x|R| to the sum of block products.
  *
  * Scale design: one shuffle on the blocking key; the edit-distance
  * kernel is Spark's codegen'd `levenshtein` WITH the threshold
  * argument, which early-exits the DP at O(len x maxEdits) instead of
  * O(len^2) and so stays cheap even when blocks are large. A
  * `|len(l) - len(r)| <= maxEdits` prefilter (a necessary condition for
  * edit distance) discards most candidates before the kernel runs.
  */
object FuzzyJoin {

  /** Pairs (l_id, r_id, l_key, r_key, dist) with dist <= maxEdits,
    * compared only within equal `blockOf(key)` blocks.
    */
  def fuzzyJoin(left: DataFrame, leftId: String, leftKey: String,
                right: DataFrame, rightId: String, rightKey: String,
                blockOf: Column => Column, maxEdits: Int): DataFrame = {
    val l = left.select(col(leftId).cast("long").as("l_id"),
      col(leftKey).as("l_key")).withColumn("blk", blockOf(col("l_key")))
    val r = right.select(col(rightId).cast("long").as("r_id"),
      col(rightKey).as("r_key")).withColumn("blk", blockOf(col("r_key")))
    // the verify kernel's work is quadratic in block size
    workPartition(l, col("blk")).join(workPartition(r, col("blk")), Seq("blk"))
      .filter(abs(length(col("l_key")) - length(col("r_key"))) <= maxEdits)
      // threshold form returns -1 once the running distance exceeds it
      .withColumn("dist", levenshtein(col("l_key"), col("r_key"), maxEdits))
      .filter(col("dist") >= 0)
      .select("l_id", "r_id", "l_key", "r_key", "dist")
  }

  /** Edit-distance join with FULL recall (no caller blocking): the
    * PassJoin segment-pigeonhole scheme (Li/Deng/Feng, ICDE'11). Each
    * left key of length n is split into maxEdits+1 contiguous segments;
    * if ed(l, r) <= maxEdits then at most maxEdits segments contain an
    * edit, so some segment survives verbatim in r, shifted by at most
    * maxEdits positions. Left rows therefore emit e+1 segment keys
    * (n, i, segment); right rows emit the (2e+1)^2 x (e+1) substrings
    * that could equal such a segment — a CONSTANT per-row amplification
    * — and candidates are the exact-match joins of those keys, verified
    * with the threshold levenshtein kernel.
    *
    * Scale: one shuffle on (n, i, segment-content); candidate volume
    * tracks the true near-match volume (exact segment equality is
    * required), not block sizes — the property token-prefix blocking
    * loses when the key domain is small. Keys shorter than e+1 chars
    * can't be segmented; they're compared all-pairs in one tiny block
    * (real catalogs have vanishingly few such keys).
    */
  def editJoin(left: DataFrame, leftId: String, leftKey: String,
               right: DataFrame, rightId: String, rightKey: String,
               maxEdits: Int): DataFrame = {
    require(maxEdits >= 1, "maxEdits must be >= 1")
    val e = maxEdits
    val k = e + 1 // segments
    def base(n: Column) = floor(n / lit(k)).cast("int")
    def rem(n: Column) = (n % lit(k)).cast("int")
    def segLen(i: Column, n: Column) =
      base(n) + when(i >= lit(k) - rem(n), lit(1)).otherwise(lit(0))
    def segStart(i: Column, n: Column) =
      i * base(n) + greatest(i - (lit(k) - rem(n)), lit(0))

    val l = left.select(col(leftId).cast("long").as("l_id"),
      col(leftKey).as("l_key")).filter(col("l_key").isNotNull)
      .withColumn("n", length(col("l_key")))
    val r = right.select(col(rightId).cast("long").as("r_id"),
      col(rightKey).as("r_key")).filter(col("r_key").isNotNull)
      .withColumn("rl", length(col("r_key")))

    // main path: keys long enough to have e+1 non-empty segments
    val lKeys = l.filter(col("n") >= k)
      .withColumn("i", explode(sequence(lit(0), lit(e))))
      .withColumn("seg", col("l_key").substr(
        segStart(col("i"), col("n")) + 1, segLen(col("i"), col("n"))))
      .select("l_id", "l_key", "n", "i", "seg")
    val rKeys = r.filter(col("rl") >= k - e) // lengths in band can still reach >= k
      .withColumn("n", explode(sequence(col("rl") - e, col("rl") + e)))
      .filter(col("n") >= k)
      .withColumn("i", explode(sequence(lit(0), lit(e))))
      .withColumn("d", explode(sequence(lit(-e), lit(e))))
      .withColumn("s", segStart(col("i"), col("n")) + col("d"))
      .withColumn("sl", segLen(col("i"), col("n")))
      .filter(col("s") >= 0 && col("s") + col("sl") <= col("rl"))
      .withColumn("seg", col("r_key").substr(col("s") + 1, col("sl")))
      .select("r_id", "r_key", "n", "i", "seg")
    // the verification runs INSIDE the join condition: candidate pairs
    // (which are quadratic in groups sharing a segment, e.g. catalogs
    // with long common prefixes) exist only transiently as probe
    // matches in the join operator — the banded-DP threshold kernel
    // rejects them before they ever reach a shuffle or materialize.
    // Only true matches (x a <= k duplication factor for pairs agreeing
    // on several segments) flow out, deduped after.
    // prefer a shuffled hash join over broadcast: the segment-key sides
    // are row-amplified (x(e+1) left, x~(2e+1)^2(e+1) right), so
    // broadcasting one side means collecting the amplified rows to the
    // driver — a cost that grows with the data while the shuffle stays
    // partition-parallel. At cluster scale these sides exceed any
    // broadcast threshold anyway; the hint makes local behavior match.
    // the banded DP verify runs inside the join condition, so its work
    // per candidate pair is invisible to byte-based coalescing
    val lk = workPartition(lKeys.hint("shuffle_hash")
      .withColumnRenamed("n", "ln").withColumnRenamed("i", "li")
      .withColumnRenamed("seg", "lseg"), col("ln"), col("li"), col("lseg"))
    val rk = workPartition(rKeys, col("n"), col("i"), col("seg"))
    val mainMatch = lk.join(rk,
      col("ln") === col("n") && col("li") === col("i") && col("lseg") === col("seg") &&
        abs(length(col("l_key")) - length(col("r_key"))) <= e &&
        levenshtein(col("l_key"), col("r_key"), e) >= 0)
      .select("l_id", "l_key", "r_id", "r_key")

    // short-key path: all-pairs within the (tiny) under-e+1-chars block
    val shortMatch = l.filter(col("n") < k).select("l_id", "l_key")
      .crossJoin(r.filter(col("rl") < lit(k) + e).select("r_id", "r_key"))
      .filter(abs(length(col("l_key")) - length(col("r_key"))) <= e &&
        levenshtein(col("l_key"), col("r_key"), e) >= 0)

    mainMatch.unionByName(shortMatch)
      .dropDuplicates("l_id", "r_id")
      .withColumn("dist", levenshtein(col("l_key"), col("r_key"), e))
      .select("l_id", "r_id", "l_key", "r_key", "dist")
  }

  /** [[resolveEntities]] on [[editJoin]]'s full-recall matching: no
    * blocking key to choose, recall is total within `maxEdits`.
    */
  def resolveEntitiesExact(df: DataFrame, idCol: String, keyCol: String,
                           maxEdits: Int): DataFrame = {
    val pairs = editJoin(df, idCol, keyCol, df, idCol, keyCol, maxEdits)
      .filter(col("l_id") < col("r_id"))
      .select(col("l_id").as("id1"), col("r_id").as("id2"))
    attachComponents(df, idCol, pairs)
  }

  /** Entity resolution over one table: fuzzy self-match within blocks,
    * connected components over the match edges, entity_id = min id in
    * the cluster. Every input id appears exactly once (singletons are
    * their own entity).
    */
  def resolveEntities(df: DataFrame, idCol: String, keyCol: String,
                      blockOf: Column => Column, maxEdits: Int): DataFrame = {
    val pairs = fuzzyJoin(df, idCol, keyCol, df, idCol, keyCol, blockOf, maxEdits)
      .filter(col("l_id") < col("r_id"))
      .select(col("l_id").as("id1"), col("r_id").as("id2"))
    attachComponents(df, idCol, pairs)
  }

  /** Blocked verify stage with the richer record-linkage kernels: true
    * Damerau-Levenshtein (transposition-as-one-edit — the dominant typo
    * class) as the accept gate, plus the Jaro-Winkler similarity as a
    * ranking score on every accepted pair. The gate is INTEGER-valued,
    * so accept/reject can never wobble on a float ulp; the float score
    * only orders survivors. Same blocking contract and length prefilter
    * as [[fuzzyJoin]]; both kernels are codegen'd Catalyst expressions
    * ([[graft.functions.DamerauLevenshtein]],
    * [[graft.functions.JaroWinkler]]), so the verify loop stays inside
    * whole-stage codegen at candidate volume.
    */
  def damerauJoin(left: DataFrame, leftId: String, leftKey: String,
                  right: DataFrame, rightId: String, rightKey: String,
                  blockOf: Column => Column, maxEdits: Int): DataFrame = {
    val l = left.select(col(leftId).cast("long").as("l_id"),
      col(leftKey).as("l_key")).withColumn("blk", blockOf(col("l_key")))
    val r = right.select(col(rightId).cast("long").as("r_id"),
      col(rightKey).as("r_key")).withColumn("blk", blockOf(col("r_key")))
    // the Damerau DP is O(len²) per candidate pair
    workPartition(l, col("blk")).join(workPartition(r, col("blk")), Seq("blk"))
      .filter(abs(length(col("l_key")) - length(col("r_key"))) <= maxEdits)
      .withColumn("dist",
        graft.functions.DamerauLevenshtein(col("l_key"), col("r_key")))
      .filter(col("dist") <= maxEdits)
      .withColumn("jw",
        round(graft.functions.JaroWinkler(col("l_key"), col("r_key")), 6))
      .select("l_id", "r_id", "l_key", "r_key", "dist", "jw")
  }

  /** [[resolveEntities]] with the Damerau kernel: an adjacent
    * transposition counts as ONE edit, so swapped-letter typos cluster
    * at maxEdits = 1 where plain Levenshtein needs 2 (and drags in
    * genuinely-different two-substitution names with it).
    */
  def resolveEntitiesDamerau(df: DataFrame, idCol: String, keyCol: String,
                             blockOf: Column => Column,
                             maxEdits: Int): DataFrame = {
    val pairs = damerauJoin(df, idCol, keyCol, df, idCol, keyCol, blockOf, maxEdits)
      .filter(col("l_id") < col("r_id"))
      .select(col("l_id").as("id1"), col("r_id").as("id2"))
    attachComponents(df, idCol, pairs)
  }

  /** Sorted-neighborhood matching (SNM), the third blocking family
    * beside equality blocks ([[fuzzyJoin]]) and PassJoin segments
    * ([[editJoin]]): sort records by the key, compare each record only
    * against its `window − 1` successors in sort order, verify with
    * thresholded Levenshtein. SNM's claim is different from a block's —
    * records need not share any exact fragment, only sort NEAR each
    * other — which catches suffix corruptions equality blocking loses
    * ("acme corp" / "acme corporation").
    *
    * Distributed trade, stated honestly: a truly global sort window
    * would serialize on one partition, so the sort neighborhood is
    * scoped WITHIN `blockLen`-prefix ranges (the standard multi-pass
    * SNM compromise). A pair whose keys differ inside the first
    * `blockLen` characters lands in different ranges and is missed —
    * exactly the multi-pass remedy's job (run again with a reversed or
    * phonetic key and union the pairs, same as the other blockers
    * here).
    *
    * Scale: one shuffle on the prefix range, a per-range sort for
    * `row_number`, one explode ×(window−1) of rank offsets, then a
    * co-partitioned equi-join on (range, rank) — linear in
    * rows × window, never a cross product; the thresholded levenshtein
    * kernel early-exits at O(len × maxEdits).
    */
  def sortedNeighborhood(df: DataFrame, idCol: String, keyCol: String,
                         window: Int, maxEdits: Int,
                         blockLen: Int = 3): DataFrame = {
    require(window >= 2, "window must be >= 2 (a window of 1 compares nothing)")
    require(maxEdits >= 1, "maxEdits must be >= 1 (use an exact-key dedup for 0)")
    require(blockLen >= 1, "blockLen must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).cast("long").as("_id"),
        col(keyCol).cast("string").as("_key"))
      .filter(col("_key").isNotNull)
      .withColumn("_rng", substring(col("_key"), 1, blockLen))
    val ranked = base.withColumn("_rn", row_number().over(
      Window.partitionBy("_rng").orderBy(col("_key"), col("_id"))))
    val probes = ranked
      .withColumn("_d", explode(array((1 until window).map(lit): _*)))
      .select(col("_rng"), (col("_rn") + col("_d")).as("_rn2"),
        col("_id").as("id1"), col("_key").as("key1"))
    val pairs = probes.join(
      ranked.select(col("_rng"), col("_rn").as("_rn2"),
        col("_id").as("id2"), col("_key").as("key2")),
      Seq("_rng", "_rn2"))
    val swap = col("id1") > col("id2")
    pairs
      // necessary length condition first, then the early-exit kernel
      .filter(abs(length(col("key1")) - length(col("key2"))) <= maxEdits)
      .withColumn("dist", levenshtein(col("key1"), col("key2"), maxEdits))
      .filter(col("dist") >= 0 && col("dist") <= maxEdits)
      // canonical unordered pair: ids ascend, keys travel with their id
      .select(when(swap, col("id2")).otherwise(col("id1")).as("id1"),
        when(swap, col("id1")).otherwise(col("id2")).as("id2"),
        when(swap, col("key2")).otherwise(col("key1")).as("key1"),
        when(swap, col("key1")).otherwise(col("key2")).as("key2"),
        col("dist").cast("long").as("dist"))
  }

  /** Multi-pass SNM — the documented remedy for [[sortedNeighborhood]]'s
    * prefix-range miss, shipped: a second pass sorts by the REVERSED
    * key, so a pair corrupted inside the first `blockLen` characters
    * (invisible to pass 1) sorts adjacent in pass 2 unless BOTH ends
    * are corrupted. Edit distance is reversal-invariant
    * (lev(a,b) = lev(rev a, rev b)), so pass-2 distances are the same
    * numbers and the union dedups exactly on the pair key. Cost: 2×
    * pass 1 — still linear in rows × window.
    */
  def sortedNeighborhoodMultiPass(df: DataFrame, idCol: String,
                                  keyCol: String, window: Int,
                                  maxEdits: Int,
                                  blockLen: Int = 3): DataFrame = {
    val p1 = sortedNeighborhood(df, idCol, keyCol, window, maxEdits, blockLen)
    val rev = df.select(col(idCol),
      reverse(col(keyCol).cast("string")).as(keyCol))
    val p2 = sortedNeighborhood(rev, idCol, keyCol, window, maxEdits, blockLen)
      .select(col("id1"), col("id2"), reverse(col("key1")).as("key1"),
        reverse(col("key2")).as("key2"), col("dist"))
    p1.unionByName(p2).dropDuplicates("id1", "id2")
  }

  private def attachComponents(df: DataFrame, idCol: String,
                               pairs: DataFrame): DataFrame = {
    val comp = Dedup.connectedComponents(pairs)
      .select(col("id").as("_cc_id"), col("component").as("_cc_component"))
    df.select(col(idCol).cast("long").as(idCol))
      .join(comp, col(idCol) === col("_cc_id"), "left")
      .select(col(idCol), coalesce(col("_cc_component"), col(idCol)).as("entity_id"))
  }
}
