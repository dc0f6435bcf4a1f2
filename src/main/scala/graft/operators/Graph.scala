package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import PrefixSum.workPartition

/** Iterative graph analytics on edge-list DataFrames. Complements the
  * connected-components operator in [[Dedup]] with a weighted-influence
  * ranking; both follow the same loop discipline — each iteration is one
  * join + one aggregation (a single shuffle keyed on the node id), and
  * the loop state goes through one [[Materialize.Loop]], which
  * checkpoints it and frees what each checkpoint supersedes, so lineage
  * stays flat and memory bounded no matter the iteration count.
  */
object Graph {

  /** Power-iteration PageRank over a directed edge list (`src`, `dst`).
    *
    * Dangling nodes (no out-edges) redistribute their mass uniformly, so
    * total rank stays exactly 1 per iteration (up to float rounding) —
    * the property the self-check oracle asserts. Returns (id, rank).
    *
    * Scale design: node and edge tables stay distributed; the per-round
    * dangling mass is the only driver-side value (one scalar). Edges are
    * persisted once with their out-degree pre-joined, so each iteration
    * shuffles contribution rows keyed by `dst` — identical partitioning
    * every round, which AQE + shuffle reuse exploit.
    */
  def pageRank(edges: DataFrame, damping: Double = 0.85, iters: Int = 20): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().persist()
    val n = nodes.count().toDouble
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    val withDeg = e.join(outDeg, "src").persist()
    withDeg.count()
    val loop = new Materialize.Loop
    var ranks = loop.checkpoint(nodes.withColumn("rank", lit(1.0 / n)))
    var it = 0
    while (it < iters) {
      val contribs = withDeg
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy("id").agg(sum("c").as("inbound"))
      // mass parked on dangling nodes (no out-edges) this round, as a
      // broadcast one-row scalar — keeps the whole iteration ONE job
      // (no driver round-trip per round)
      val danglingRow = ranks
        .join(outDeg.withColumnRenamed("src", "id"), Seq("id"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0)).as("dangling"))
      val nextPlan = nodes.join(contribs, Seq("id"), "left")
        .crossJoin(broadcast(danglingRow))
        .select(col("id"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("inbound"), lit(0.0)) +
              col("dangling") / lit(n)))
            .as("rank"))
      if (it % 2 == 1 || it == iters - 1) {
        ranks = loop.checkpoint(nextPlan)
        loop.keepOnly(ranks)
      } else ranks = loop.persist(nextPlan)
      it += 1
    }
    nodes.unpersist(blocking = false)
    withDeg.unpersist(blocking = false)
    outDeg.unpersist(blocking = false)
    ranks
  }

  /** Exact triangle count per node over an undirected edge list, by the
    * compact-forward scheme with DEGREE-ORDERED orientation (Latapy
    * 2008; the GraphX/Park-Chung discipline): compute each node's
    * degree once, orient every edge from the (degree, id)-LOWER to the
    * (degree, id)-higher endpoint, join the oriented list with itself
    * on the common low endpoint to form wedges, and close each wedge
    * against the oriented edge set. Returns (id, n_triangles) for
    * nodes in at least one triangle.
    *
    * Shape: one degree aggregation, two shuffle joins on node
    * endpoints, one bounded aggregation. Degree ordering — not id
    * ordering — is what bounds the wedge fan-out: every node's
    * OUT-degree under (degree, id) orientation is O(√m), so the wedge
    * count is O(m^1.5) regardless of how ids were assigned. (Id
    * orientation only bounds a hub that happens to carry the high id;
    * a 10⁶-degree hub with a LOW id would anchor 10¹² wedges.) A star's
    * hub has the maximal degree, so every star edge points AT the hub
    * and the hub anchors zero wedges. Deduplicated edges only; no
    * driver state.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.select(
      least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("_deg"))
    // (degree, id)-oriented edge list (u ≺ v), carrying v's rank so the
    // wedge join can order its two far endpoints without a third join
    val withDeg = und
      .join(deg.select(col("id").as("a"), col("_deg").as("_da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("_deg").as("_db")), Seq("b"))
    val aFirst = col("_da") < col("_db") ||
      (col("_da") === col("_db") && col("a") < col("b"))
    // materialized ONCE (r18): the oriented list is consumed three times
    // (both wedge sides + the closing join). Without the checkpoint each
    // consumer embeds the full upstream plan — for a derived edge list
    // (e.g. the co-occurrence graph) that triples the degree join and
    // blows the physical plan to hundreds of operators (planning + AQE
    // re-optimization cost), with only the leaf exchanges deduped by
    // reuse. One eager job, O(m) rows, lineage truncated.
    val dir = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("_db")).otherwise(col("_da")).as("_dv"))
      .localCheckpoint(eager = true)
    val wedges = dir.select(col("u"), col("v").as("w1"), col("_dv").as("_d1"))
      .join(dir.select(col("u"), col("v").as("w2"), col("_dv").as("_d2")), "u")
      .filter(col("_d1") < col("_d2") ||
        (col("_d1") === col("_d2") && col("w1") < col("w2")))
    // w1 ≺ w2 in wedge order, so the closing edge — if present — is
    // oriented w1 → w2 in the SAME directed list
    val tris = wedges.join(
      dir.select(col("u").as("w1"), col("v").as("w2")), Seq("w1", "w2"))
    tris.select(explode(array(col("u"), col("w1"), col("w2"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient per node: 2·T(v) / (deg(v)·(deg(v)−1))
    * over the undirected simple graph — how close each node's
    * neighborhood is to a clique (the community-tightness screen that
    * separates hub-and-spoke from triangle-dense structure). Reuses
    * [[triangleCounts]]'s compact-forward triangle pass; degree is one
    * more aggregation over the canonical edge list. NULL where
    * deg < 2 (the coefficient is undefined on pendants/isolates, and
    * 0.0 there would be indistinguishable from a genuinely open
    * neighborhood).
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val und = edges.select(
      least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(edges), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .as("clustering"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007) with deterministic tie-breaks: every round each vertex takes
    * the most frequent label in its closed neighborhood (its own label
    * votes too — without the self-vote, symmetric structures oscillate),
    * ties resolved to the SMALLEST label. Returns (id, community).
    *
    * Determinism note: classic LPA breaks ties randomly and is
    * layout-dependent; the (count desc, label asc) rule makes every
    * round a pure function of the previous labeling, so results are
    * reproducible across partitionings — the property every gate in
    * this repo requires.
    *
    * Shape: per round, one join propagating labels along edges plus
    * two aggregations — (vertex, label) vote counts, then the per-vertex
    * argmax as a struct-max aggregation (map-side combined, never a
    * window over skewed neighborhoods; the [[Dedup]] survivorship
    * pattern). Loop state as [[pageRank]]'s, checkpointed every second
    * round plus the last ([[Materialize.Loop]]); one scalar (changed
    * count) to the driver for early exit. With `earlyExit = false` the loop runs
    * exactly `maxIter` rounds with NO per-round convergence job — the
    * cheaper mode when the round budget is known (each convergence
    * check is a join + count job, which dominates on small graphs).
    */
  def labelPropagation(edges: DataFrame, maxIter: Int = 10,
                       earlyExit: Boolean = true): DataFrame = {
    val und = edges.select(
      least(col("src"), col("dst")).cast("long").as("a"),
      greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist()
    val sym = und.select(col("a").as("v"), col("b").as("n"))
      .union(und.select(col("b").as("v"), col("a").as("n")))
    val loop = new Materialize.Loop
    var labels = loop.checkpoint(und.select(col("a").as("id"))
      .union(und.select(col("b").as("id"))).distinct()
      .withColumn("community", col("id")))
    var materialized = true
    var it = 0
    var changed = 1L
    while (changed > 0 && it < maxIter) {
      val nbrVotes = sym
        .join(labels.select(col("id").as("n"), col("community")), "n")
        .select(col("v"), col("community"))
      val selfVotes = labels.select(col("id").as("v"), col("community"))
      val nextPlan = nbrVotes.union(selfVotes)
        .groupBy("v", "community").agg(count(lit(1)).as("_c"))
        // argmax by (count desc, label asc) == max of (count, -label)
        .groupBy(col("v").as("id"))
        .agg(max(struct(col("_c"), (-col("community")).as("_neg"))).as("_m"))
        .select(col("id"), (-col("_m._neg")).as("community"))
      materialized = it % 2 == 1 || it == maxIter - 1
      val next = if (materialized) loop.checkpoint(nextPlan) else loop.persist(nextPlan)
      changed =
        if (earlyExit)
          next.join(labels.withColumnRenamed("community", "_old"), "id")
            .filter(col("community") =!= col("_old")).count()
        else 1L
      if (materialized) loop.keepOnly(next)
      labels = next
      it += 1
    }
    und.unpersist(blocking = false)
    // an early exit can land on a lazy round: checkpoint it, so the
    // returned frame is one that Materialize.release frees
    if (!materialized) {
      labels = loop.checkpoint(labels)
      loop.keepOnly(labels)
    }
    labels
  }

  /** The k-core of an undirected graph: the maximal subgraph in which
    * every vertex has degree ≥ k, computed by the standard iterative
    * peel — drop sub-k vertices, recompute degrees, repeat to fixpoint.
    * The dense-community extractor (spam rings, citation cores,
    * coordinated-account detection). Returns (id, degree) of surviving
    * vertices with their degree INSIDE the core.
    *
    * Shape: each round is one degree aggregation plus two semi-joins
    * filtering the edge list — all keyed on vertex id, so the
    * partitioning is reused round to round; the edge list only ever
    * SHRINKS. Every round's edge set is checkpointed and the previous
    * one freed ([[Materialize.Loop]]); the only driver value per round
    * is the surviving-edge count (the fixpoint test). Deep "onions" (a
    * path graph peels one layer per round) may not reach the fixpoint
    * within `maxIter` rounds; rather than return a confidently wrong
    * vertex set, the operator THROWS when the cap is hit before
    * convergence — raise `maxIter` for such graphs.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val und = edges.select(
      least(col("src"), col("dst")).cast("long").as("a"),
      greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val loop = new Materialize.Loop
    var e = loop.checkpoint(und)
    var n = e.count()
    var it = 0
    var converged = n == 0L
    while (!converged && it < maxIter) {
      val deg = e.select(col("a").as("id"))
        .union(e.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("id")
      val next = loop.checkpoint(e
        .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
        .select("a", "b"))
      val m = next.count()
      loop.keepOnly(next)
      converged = m == n
      e = next
      n = m
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not reach the peel fixpoint within $maxIter rounds " +
          "(deep layered graphs peel slowly); raise maxIter")
    e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
  }

  /** Link prediction over a bipartite incidence list (entity, feature):
    * for every entity pair sharing at least `minCommon` features, the
    * common-feature count and the Adamic-Adar score
    * Σ_f 1/ln(deg(f)) — the standard common-neighbor measure that
    * down-weights ubiquitous features.
    *
    * Scale discipline: the pair expansion is quadratic IN FEATURE
    * DEGREE, so `maxFeatureDegree` hard-caps it — a feature shared by
    * d entities emits d(d−1)/2 pair rows, and near-universal features
    * both blow that up and carry ≈no signal (1/ln(d) → 0). Dropping
    * them is the same frequent-item prune Apriori uses in
    * [[EventAnalytics.coOccurrence]]. The degree table is feature-
    * cardinality-sized and joins back UNHINTED (corpus-scale at 100×;
    * AQE broadcasts it when it fits); per-feature 1/ln(deg) is
    * quantized to DECIMAL(18,9) before the sum so the score is exact
    * and order-independent (bit-stable under repartitioning).
    * deg ≥ 2 for every surviving pair row (a degree-1 feature has no
    * pairs), so ln(deg) is never 0.
    */
  def adamicAdar(incidence: DataFrame, entityCol: String, featureCol: String,
                 minCommon: Long = 2L,
                 maxFeatureDegree: Long = 1000L): DataFrame = {
    val e = incidence
      .select(col(featureCol).as("f"), col(entityCol).as("ent"))
      .distinct()
    val deg = e.groupBy("f").agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxFeatureDegree)
    // prune BEFORE the self-join: a capped feature must never reach the
    // quadratic expansion (joining it away afterwards would already have
    // paid the d^2 blow-up). No forced broadcast: deg is one row per
    // DISTINCT FEATURE — corpus-scale at 100× — so a hint here would OOM
    // the driver instead of degrading; AQE broadcasts it when it fits.
    // materialized ONCE (r18): the pruned incidence list feeds BOTH
    // sides of the pair self-join, and the two sides carry different
    // projections (the b side drops `deg`), so their exchanges do not
    // canonicalize equal and exchange reuse cannot dedupe them — without
    // this the distinct + degree-join subplan executes twice. O(|kept|)
    // rows, one eager job.
    val kept = e.join(deg, Seq("f")).localCheckpoint(eager = true)
    // the pair expansion is quadratic in feature degree
    val pairs = workPartition(kept, col("f")).as("a")
      .join(workPartition(kept.select("f", "ent"), col("f")).as("b"),
        col("a.f") === col("b.f") && col("a.ent") < col("b.ent"))
      .select(col("a.ent").as("s1"), col("b.ent").as("s2"),
        col("a.deg").as("deg"))
    pairs
      .groupBy("s1", "s2")
      .agg(count(lit(1)).as("common"),
        sum(round(lit(1.0) / log(col("deg").cast("double")), 9)
          .cast("decimal(18,9)")).cast("double").as("adamic_adar"))
      .filter(col("common") >= minCommon)
  }

  /** Degree assortativity coefficient of an undirected graph: the
    * Pearson correlation of the degrees at the two ends of each edge
    * (Newman 2002). Positive = hubs link to hubs (social graphs),
    * negative = hubs link to leaves (star-ish link farms, botnets) —
    * the one-number structural fingerprint that separates an organic
    * similarity graph from a degenerate near-dup blow-up.
    *
    * Shape: symmetrize + distinct (one shuffle), one degree
    * aggregation, two joins to attach endpoint degrees (keyed on node
    * id — co-partitioned with the degree table), one moment fold. All
    * sums are exact integer decimals (degrees are integers); the
    * Pearson division runs once on the single result row. No driver
    * state, no quadratic stage — edges stream through linearly.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = und.groupBy("src").agg(count(lit(1)).cast("decimal(12,0)").as("deg"))
    val pairs = und
      .join(deg, "src").withColumnRenamed("deg", "dx")
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")), "dst")
    val m = col("_m").cast("double")
    val sx = col("_sx").cast("double"); val sy = col("_sy").cast("double")
    val sxx = col("_sxx").cast("double"); val syy = col("_syy").cast("double")
    val sxy = col("_sxy").cast("double")
    pairs
      .agg(count(lit(1)).as("_m"),
        sum("dx").as("_sx"), sum("dy").as("_sy"),
        sum(col("dx") * col("dx")).as("_sxx"),
        sum(col("dy") * col("dy")).as("_syy"),
        sum(col("dx") * col("dy")).as("_sxy"))
      .select((col("_m") / 2).cast("long").as("n_edges"),
        // `+ 0.0` signed-zero normalization: a neutral (e.g. degree-
        // regular) graph leaves a ±ε residue in the Pearson numerator
        // (NOTES ±0.0 checklist)
        (round((m * sxy - sx * sy) /
          (sqrt(m * sxx - sx * sx) * sqrt(m * syy - sy * sy)), 6)
          + lit(0.0)).as("assortativity"))
  }

  /** Personalized PageRank: power iteration whose teleport mass returns
    * to a SEED set instead of everywhere — relevance propagation from
    * known-good nodes (trusted domains, labeled exemplars) through the
    * link graph, the standard seed-expansion primitive for retrieval
    * and trust-rank filtering. r ← (1−d)·s + d·(Aᵀr + dangling·s),
    * s uniform over `seeds`.
    *
    * Same loop shape as [[pageRank]] (one join + one agg per round,
    * checkpointed every second round plus the last) and the [[hits]]
    * engine-replay contract: per-edge contributions and the new rank
    * quantize at 9 dp decimals each round, so an oracle can replay the
    * whole recursion from the edge list — and the dangling correction
    * is an exact decimal sum, never a float accumulation.
    */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long],
                           damping: Double = 0.85,
                           iters: Int = 4): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs a seed set")
    require(iters >= 1 && iters <= 50, "iters in [1, 50]")
    require(damping > 0 && damping < 1, "damping in (0, 1)")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().persist()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().persist()
    nodes.count()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    outDeg.count()
    val seedArr = seeds.distinct.sorted
    val sv = when(col("id").isin(seedArr.map(Long.box): _*),
      lit(1.0 / seedArr.length)).otherwise(lit(0.0))
    def quant(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(c, 9).cast("decimal(19,9)")
    val loop = new Materialize.Loop
    var ranks = loop.checkpoint(nodes.select(col("id"), quant(sv).as("r")))
    var it = 0
    while (it < iters) {
      val contribs = e.join(outDeg, "src")
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"),
          quant(col("r").cast("double") / col("deg")).as("c"))
        .groupBy("id").agg(sum("c").as("inb"))
      val dangling = ranks
        .join(outDeg.withColumnRenamed("src", "id"), Seq("id"), "left_anti")
        .agg(coalesce(sum("r"), lit(0).cast("decimal(19,9)")).as("dang"))
      val nextPlan = nodes.join(contribs, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"), quant(
          lit(1.0 - damping) * sv + lit(damping) *
            (coalesce(col("inb").cast("double"), lit(0.0)) +
              col("dang").cast("double") * sv)).as("r"))
      if (it % 2 == 1 || it == iters - 1) {
        ranks = loop.checkpoint(nextPlan)
        loop.keepOnly(ranks)
      } else ranks = loop.persist(nextPlan)
      it += 1
    }
    val out = ranks.select(col("id"), col("r").cast("double").as("ppr"))
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    outDeg.unpersist(blocking = false)
    out
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    * list — the bipartite-flavored complement to [[pageRank]]: an
    * AUTHORITY is pointed at by good hubs, a HUB points at good
    * authorities. In a curation pipeline this separates link-farm hubs
    * from genuinely cited sources before domain-trust weighting.
    * Returns (id, authority, hub), L1-normalized (each vector sums to
    * 1 — HITS scores are scale-free, and L1 keeps every step's
    * normalizer an EXACT decimal sum instead of an L2 sqrt).
    *
    * Loop discipline: each half-step is one join + one aggregation
    * keyed on the node id. The hub state checkpoints every second round
    * plus the final one, and every other half-step rides as a lazy
    * persist ([[Materialize.Loop]]; the pageRank/PPR cadence). The
    * round-0 authority step skips the hub join entirely: h₀ ≡
    * 1.000000000, so Σh over in-edges is the same exact decimal sum of
    * ones — bit-identical, one join and
    * the initial hub checkpoint job saved. The final round checkpoints
    * both sides (the result join reads authority after the loop).
    * Engine replay:
    * scores quantize to 9 dp decimals after each normalization
    * (the Bradley–Terry convention), so the whole 2·iters-step
    * recursion is bit-reproducible from the edge list alone; parallel
    * edges are collapsed first (unweighted HITS).
    */
  def hits(edges: DataFrame, iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters in [1, 50]")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().persist()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().persist()
    nodes.count()
    val loop = new Materialize.Loop
    def renorm(raw: DataFrame, valCol: String, out: String,
               materialize: Boolean): DataFrame = {
      val tot = raw.agg(sum(valCol).as("_t"))
      val r = nodes.join(raw, Seq("id"), "left")
        .crossJoin(broadcast(tot))
        .select(col("id"),
          coalesce(round(col(valCol).cast("double") /
            col("_t").cast("double"), 9), lit(0.0))
            .cast("decimal(19,9)").as(out))
      if (materialize) loop.checkpoint(r) else loop.persist(r)
    }
    // hub == null encodes the implicit all-ones h₀ (see scaladoc): the
    // round-0 authority sum is an exact decimal sum of ones per in-edge,
    // identical to joining an all-ones hub vector — no initial
    // checkpoint job, no round-0 join
    var hub: DataFrame = null
    var auth: DataFrame = null
    var it = 0
    while (it < iters) {
      val last = it == iters - 1
      val matH = it % 2 == 1 || last
      val aRaw =
        if (hub == null)
          e.groupBy(col("dst").as("id"))
            .agg(sum(lit(java.math.BigDecimal.ONE).cast("decimal(19,9)"))
              .as("_ar"))
        else e.join(hub.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(sum("h").as("_ar"))
      val aNext = renorm(aRaw, "_ar", "a", materialize = last)
      val hNext = renorm(
        e.join(aNext.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id")).agg(sum("a").as("_hr")),
        "_hr", "h", materialize = matH)
      // the result join reads the last authority; earlier ones are
      // consumed by the hub step that follows them
      if (last) loop.keepOnly(aNext, hNext)
      else if (matH) loop.keepOnly(hNext)
      auth = aNext
      hub = hNext
      it += 1
    }
    val out = auth.join(hub, "id")
      .select(col("id"), col("a").cast("double").as("authority"),
        col("h").cast("double").as("hub"))
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** The walks' bound on walkLength: the result unions one frame per step. */
  private def requireWalkLength(walkLength: Int): Unit =
    require(walkLength >= 1 && walkLength <= 64,
      "walkLength in [1, 64] (walks union one frame per step)")

  /** A walk's step-k draw at its current node: the first 15 hex digits of
    * md5("tag:seed:walk_id:k:node") as a Long (60 bits, non-negative and
    * signed-long safe on both engines, so the oracles replay it exactly).
    */
  private def stepDraw(tag: String, seed: Long, k: Int): Column =
    conv(substring(md5(concat_ws(":", lit(tag), lit(seed),
      col("walk_id"), lit(k), col("node"))), 1, 15), 16, 10).cast("long")

  /** Seeded uniform random walks over a directed edge list — the
    * training-corpus generator for DeepWalk/node2vec-style graph
    * embeddings (Perozzi et al., KDD 2014: truncated walks are the
    * "sentences" a skip-gram model trains on; the [[graft.operators.TextAnalysis]]
    * skip-gram machinery consumes exactly this shape).
    *
    * Determinism is the whole design: the step-k choice out of node u
    * on walk w is neighbor index md5("rw:seed:w:k:u") mod outdeg(u),
    * with neighbors ranked in ascending dst order — a pure function of
    * (seed, data), so walks are reproducible across runs, engines and
    * cluster sizes (the same content-addressed discipline as
    * [[TextAnalysis.hashBucket]] splits, and what makes the DuckDB
    * oracle replay the walks bit-for-bit). Walks END EARLY at dangling
    * nodes (no out-edges): the inner join to the degree table drops
    * them, matching the truncated-walk semantics of the papers.
    *
    * `walksPerNode` (r17) is DeepWalk's γ: the papers run several
    * independent walks per start node, not one. With γ = 1 (default)
    * walk_id = the start node (the historical contract); with γ > 1,
    * walk r ∈ [0, γ) from node u gets walk_id = u·γ + r (injective),
    * and since the step hash is keyed on walk_id, the γ walks from one
    * node draw independently — more corpus per node at linear cost,
    * replayable by the same oracle arithmetic.
    *
    * Returns (walk_id, step, node), step 0 = the start itself.
    *
    * Scale shape: the ranked-neighbor table (src, dst, rnk, deg) is
    * built once — `row_number` partitioned BY SRC (never a global
    * window) — and persisted across all steps. Each step is two
    * equi-joins on the node id (degree lookup to compute the index,
    * then (src, rnk) lookup to step), both shuffle-partitioned on the
    * same key, frontier size ≤ γ·|starts| throughout; nothing collects,
    * nothing broadcasts by force (AQE broadcasts the degree side when
    * it fits). walkLength is a small constant, so the unioned lineage
    * stays shallow.
    */
  def randomWalks(edges: DataFrame, starts: DataFrame, walkLength: Int,
                  seed: Long = 7L, walksPerNode: Int = 1): DataFrame = {
    requireWalkLength(walkLength)
    require(walksPerNode >= 1 && walksPerNode <= 1024,
      "walksPerNode in [1, 1024]")
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    val w = Window.partitionBy("src").orderBy("dst")
    // localCheckpoint, not bare persist: every step re-reads this table,
    // and the result frame must stay [[Materialize.release]]-able (the
    // labelPropagation early-exit lesson — a returned lazy persist
    // pins cache blocks the RDD-lineage walker can't find)
    val nbr = e.select(col("src"), col("dst"),
        (row_number().over(w) - 1).cast("long").as("rnk"),
        count(lit(1)).over(Window.partitionBy("src")).as("deg"))
      .localCheckpoint(eager = true)
    val degs = nbr.groupBy("src").agg(max("deg").as("deg"))
      .withColumnRenamed("src", "node")
    val base = starts.select(col("id").cast("long").as("node")).distinct()
    // walk_id = node * walksPerNode + r must not wrap Long: wraparound
    // would collide walk ids across starts and silently correlate their
    // draws. Guarded IN the plan (zero extra passes): the branch raises
    // lazily on the first offending start row. Ordinary dense ids are
    // nowhere near the bound — it exists for hash-derived node ids.
    val maxStartId = Long.MaxValue / walksPerNode
    var frontier = (if (walksPerNode == 1) base.withColumn("walk_id", col("node"))
      else base.select(col("node"), explode(sequence(lit(0L),
          lit(walksPerNode - 1L))).as("_r"))
        .withColumn("walk_id",
          when(abs(col("node")) > lit(maxStartId),
            raise_error(concat(
              lit(s"randomWalks: |node id| exceeds ${maxStartId} — " +
                s"walk_id = node * $walksPerNode + r would overflow Long; " +
                "renumber node ids densely or lower walksPerNode (node = "),
              col("node"), lit(")"))).cast("long"))
            .otherwise(col("node") * walksPerNode + col("_r"))))
      .select("walk_id", "node")
    var acc = frontier.select(col("walk_id"), lit(0L).as("step"), col("node"))
    val loop = new Materialize.Loop
    var k = 1
    while (k <= walkLength) {
      val withIdx = frontier.join(degs, "node")
        .withColumn("_idx", pmod(stepDraw("rw", seed, k), col("deg")))
      // fresh aliases per step: degs and nbr share lineage, so direct
      // dataset-column references trip the ambiguous-self-join guard
      val step = nbr.select(col("src").as("_ns"), col("dst").as("_nd"),
        col("rnk").as("_nr"))
      val next = withIdx.join(step,
          col("node") === col("_ns") && col("_idx") === col("_nr"))
        .select(col("walk_id"), col("_nd").as("node"))
      acc = acc.unionByName(
        next.select(col("walk_id"), lit(k.toLong).as("step"), col("node")))
      frontier = next
      if (k % 8 == 0 && k < walkLength) {
        frontier = loop.checkpoint(frontier)
        acc = loop.checkpoint(acc)
        loop.keepOnly(frontier, acc)
      }
      k += 1
    }
    acc
  }

  /** Seeded edge-weight-proportional walks — the multigraph member of
    * the walk family: where [[randomWalks]] steps uniformly over
    * DISTINCT edges, this steps proportionally to an edge-weight column
    * (co-occurrence count, click count, interaction strength — parallel
    * edges fold into their weight sum), which is the walk DeepWalk's
    * successors actually prescribe for weighted graphs. Selection uses
    * the [[node2vecWalks]] interval draw: the candidate whose
    * cumulative-weight interval (in ascending-dst rank order) contains
    * u·total, u = md5("ww:seed:walk:k:cur") as a 60-bit uniform.
    *
    * Parity contract: with INTEGER weights (counts — the natural input)
    * every cumulative sum is exact in doubles up to 2^53 per prefix, so
    * the oracle's windowed running sums replay the selection
    * bit-for-bit; fractional weights stay deterministic within Spark.
    * Non-positive-weight edges are dropped (they can never be drawn).
    *
    * Scale shape — and why this is the cheap member of the biased-walk
    * family: the weights are STATIC across steps, so the cumulative
    * interval [cum − w, cum) of each edge (ascending-dst rank order),
    * the per-src total, AND a coarse interval-bucket key (r17) are
    * folded into the checkpointed adjacency ONCE at build time. Each
    * edge is exploded to one row per coarse bucket its interval spans
    * (bucket b covers thresholds in [b·tot/B, (b+1)·tot/B), B = 1024 —
    * most edges span one bucket, a few span two, a pathologically
    * heavy edge spans many, total blowup ≤ |E| + B·|V|). Each step is
    * then (1) a frontier-sized equi-join to the per-src totals to form
    * the threshold u·total and its bucket, and (2) an equi-join on
    * (node, bucket) whose residual predicate is the pure interval
    * filter cum − w ≤ thr < cum — NO per-step window, and candidate
    * PRODUCTION is ~out-degree/B per walk step instead of the full
    * out-degree (the r16 shape produced frontier × degree rows and
    * filtered them; a 10⁶-walk frontier on a 10⁷-degree hub made 10¹³
    * candidates — now ~10¹⁰). Selection arithmetic is untouched: the
    * bucket of the chosen edge always contains the threshold's bucket
    * (floor and the x·B/tot arithmetic are monotone in IEEE doubles,
    * computed by the same expression on both sides), so the draws are
    * bit-identical to the unbucketed join. The accumulated result and
    * the frontier localCheckpoint every 8 steps so plan depth stays
    * bounded at walkLength = 64. Dangling nodes truncate. Returns
    * (walk_id, step, node).
    */
  def weightedWalks(edges: DataFrame, starts: DataFrame, walkLength: Int,
                    weightCol: String = "weight", seed: Long = 7L): DataFrame = {
    requireWalkLength(walkLength)
    import org.apache.spark.sql.expressions.Window
    val nBuckets = 1024
    // bucket of a threshold-space point x in [0, tot]: computed by the
    // SAME expression on the adjacency and threshold sides — monotone
    // in x (IEEE *, / and floor are monotone), so lo ≤ thr < cum
    // implies bkt(lo) ≤ bkt(thr) ≤ bkt(cum) and the selected edge is
    // always in the threshold's bucket. The clamp handles x = tot
    // (the last edge's cum) landing on bucket B
    def bkt(x: Column, tot: Column): Column =
      least(floor(x * lit(nBuckets.toDouble) / tot),
        lit((nBuckets - 1).toLong))
    val rw = Window.partitionBy("src").orderBy("dst")
    // _cum is the sequential running sum in rank order — the exact fold
    // the r15 per-step window computed, now computed once; _tot is the
    // whole-partition sum, which folds in the same row order and is
    // bit-identical to the last _cum
    val nbr = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        col(weightCol).cast("double").as("_w"))
      .filter(col("_w") > 0)
      .groupBy("src", "dst").agg(sum("_w").as("_w"))
      .select(col("src"), col("dst"), col("_w"),
        sum(col("_w")).over(rw.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).as("_cum"),
        sum(col("_w")).over(rw.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("_tot"))
      .withColumn("_b", explode(sequence(
        bkt(col("_cum") - col("_w"), col("_tot")),
        bkt(col("_cum"), col("_tot")))))
      .localCheckpoint(eager = true)
    val tots = nbr.groupBy("src").agg(max("_tot").as("_tot"))
      .withColumnRenamed("src", "_ts")
      .localCheckpoint(eager = true)
    var frontier = starts.select(col("id").cast("long").as("node")).distinct()
      .withColumn("walk_id", col("node"))
      .select("walk_id", "node")
    var acc = frontier.select(col("walk_id"), lit(0L).as("step"), col("node"))
    val loop = new Materialize.Loop
    var k = 1
    while (k <= walkLength) {
      val u = stepDraw("ww", seed, k).cast("double") / lit(math.scalb(1.0, 60))
      // threshold + its coarse bucket first (frontier-sized; AQE
      // broadcasts tots when small), then the interval filter rides the
      // (node, bucket) step join as a residual predicate — evaluated as
      // rows are produced, nothing sorted, ~deg/B candidates per step
      val withThr = frontier.join(tots, col("node") === col("_ts"))
        .withColumn("_thr", u * col("_tot"))
        .withColumn("_tb", bkt(col("_thr"), col("_tot")))
        .select(col("walk_id"), col("node"), col("_thr"), col("_tb"))
      val step = nbr.select(col("src").as("_ns"), col("dst").as("_cand"),
        col("_w").as("_cw"), col("_cum").as("_cc"), col("_b").as("_nb"))
      val picked = withThr.join(step,
          col("node") === col("_ns") && col("_tb") === col("_nb") &&
            col("_cc") > col("_thr") &&
            col("_cc") - col("_cw") <= col("_thr"))
        .select(col("walk_id"), col("_cand").as("node"))
      acc = acc.unionByName(
        picked.select(col("walk_id"), lit(k.toLong).as("step"), col("node")))
      frontier = picked
      if (k % 8 == 0 && k < walkLength) {
        frontier = loop.checkpoint(frontier)
        acc = loop.checkpoint(acc)
        loop.keepOnly(frontier, acc)
      }
      k += 1
    }
    acc
  }

  /** Seeded node2vec walks (Grover & Leskovec, KDD 2016): second-order
    * biased walks where the unnormalized weight of stepping from `cur`
    * to candidate `c`, having arrived from `prev`, is 1/p when c = prev
    * (return), 1 when prev→c is an edge (stay in the BFS neighborhood),
    * and 1/q otherwise (DFS drift). p > 1 discourages backtracking;
    * q < 1 pushes outward. The first step, with no prev, is uniform —
    * so node2vecWalks(p=1, q=1) visits the same DISTRIBUTION as
    * [[randomWalks]] (not the same draws: the selection hash differs).
    *
    * Determinism: the step draw is u = md5("n2v:seed:walk:k:cur") as a
    * 60-bit uniform, and the chosen candidate is the unique one whose
    * cumulative-weight interval [cum − w, cum) (in ascending-dst rank
    * order) contains u·total — a pure function of (seed, data),
    * replayable by any engine. With DYADIC weights (p, q powers of two)
    * every cumulative sum is exact in binary floating point, so the
    * replay is bit-for-bit regardless of how the other engine
    * associates the running sum; for non-dyadic p/q the walk is still
    * deterministic within Spark, but a last-ulp cumulative-sum
    * disagreement across engines can flip a boundary draw — the
    * q_node2vec_walks fixture pins p=2, q=4.
    *
    * Scale shape — the hub-degree contract: per step, the frontier
    * (≤ |starts| rows) explodes to its out-neighbors, the distance-1
    * flag is one LEFT equi-join against the edge set on (prev, cand),
    * and the selection is a walk-keyed cumulative window (partition
    * size = one node's out-degree). The candidate explosion is
    * INHERENT to second-order bias — the weight of every out-edge of
    * `cur` depends on `prev`, so a walk standing on a node of degree d
    * must materialize and window-sort d candidate rows that step; a
    * step's cost is Σ_walks outdeg(cur), and on a power-law graph where
    * walks concentrate on hubs (stationary mass ∝ degree) that is
    * hub-degree-bound: 10⁶ walks standing on a 10⁷-degree hub is 10¹³
    * candidate rows in that step. There is no general way out inside
    * the exact-semantics contract (alias/rejection sampling changes the
    * draw sequence); the shipped mitigation is `maxDeg` (r17): when
    * set, [[capOutDegree]] folds into the checkpointed adjacency ONCE,
    * and the walk is the EXACT node2vec walk over the capped graph —
    * both the step candidates and the distance-1 flag read the capped
    * edge set (GraphSAGE-style neighbor sampling, Hamilton et al.
    * NeurIPS 2017), so per-step cost is bounded by maxDeg per walk
    * regardless of hub degree. For uncapped degree-skewed graphs at
    * scale, prefer [[weightedWalks]] (static bucketed intervals) or
    * [[randomWalks]] (md5-index equi-join, no candidate explosion at
    * all). Dangling nodes truncate the walk (inner join), as in
    * [[randomWalks]]; acc and frontier localCheckpoint every 8 steps
    * to bound plan depth.
    *
    * Returns (walk_id, step, node), step 0 = the start.
    */
  def node2vecWalks(edges: DataFrame, starts: DataFrame, walkLength: Int,
                    p: Double = 1.0, q: Double = 1.0,
                    seed: Long = 7L, maxDeg: Option[Int] = None): DataFrame = {
    requireWalkLength(walkLength)
    require(p > 0 && q > 0, "p and q must be positive")
    import org.apache.spark.sql.expressions.Window
    // e is read by the distance-1 flag join EVERY step (walkLength
    // copies in the final plan): checkpoint it once like nbr, rather
    // than trusting ReuseExchange to dedupe L distinct() subtrees.
    // With maxDeg, the cap folds in HERE — one per-src window at build
    // time — and every downstream read (step candidates AND the
    // distance-1 flag) sees the capped graph
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    val e = maxDeg.map(m => capOutDegree(e0, m, seed)).getOrElse(e0)
      .localCheckpoint(eager = true)
    val rw = Window.partitionBy("src").orderBy("dst")
    val nbr = e.select(col("src"), col("dst"),
        (row_number().over(rw) - 1).cast("long").as("rnk"))
      .localCheckpoint(eager = true)
    val wReturn = 1.0 / p
    val wOut = 1.0 / q
    var frontier = starts.select(col("id").cast("long").as("node")).distinct()
      .withColumn("walk_id", col("node"))
      .withColumn("prev", lit(null).cast("long"))
      .select("walk_id", "node", "prev")
    var acc = frontier.select(col("walk_id"), lit(0L).as("step"), col("node"))
    val loop = new Materialize.Loop
    var k = 1
    while (k <= walkLength) {
      val cand = frontier
        .join(nbr.select(col("src").as("_ns"), col("dst").as("_cand"),
          col("rnk").as("_rnk")), col("node") === col("_ns"))
        .join(e.select(col("src").as("_ps"), col("dst").as("_pd"),
            lit(1).as("_d1")),
          col("prev") === col("_ps") && col("_cand") === col("_pd"), "left")
        .withColumn("_w",
          when(col("prev").isNull, lit(1.0))
            .when(col("_cand") === col("prev"), lit(wReturn))
            .when(col("_d1").isNotNull, lit(1.0))
            .otherwise(lit(wOut)))
      // one frontier row per walk per step, so walk_id alone keys the
      // selection window; partition size = the current node's out-degree
      val cw = Window.partitionBy("walk_id").orderBy("_rnk")
      val u = stepDraw("n2v", seed, k).cast("double") / lit(math.scalb(1.0, 60))
      val picked = cand
        .withColumn("_cum", sum(col("_w")).over(
          cw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("_tot", sum(col("_w")).over(
          cw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("_thr", u * col("_tot"))
        .filter(col("_cum") > col("_thr") &&
          col("_cum") - col("_w") <= col("_thr"))
        // prev BEFORE the node alias: a later col("node") would resolve
        // laterally to the `_cand AS node` alias (the r15 LCA landmine)
        .select(col("walk_id"), col("node").as("prev"),
          col("_cand").as("node"))
      acc = acc.unionByName(
        picked.select(col("walk_id"), lit(k.toLong).as("step"), col("node")))
      frontier = picked
      if (k % 8 == 0 && k < walkLength) {
        frontier = loop.checkpoint(frontier)
        acc = loop.checkpoint(acc)
        loop.keepOnly(frontier, acc)
      }
      k += 1
    }
    acc
  }

  /** Deterministic out-degree cap — the upstream mitigation the
    * [[node2vecWalks]] hub contract points to, and the neighbor-
    * sampling idea GraphSAGE institutionalized (Hamilton et al.,
    * NeurIPS 2017: fixed-size sampled neighborhoods bound per-node
    * cost on power-law graphs). Each node keeps its `maxDeg` neighbors
    * with the smallest md5("cap:seed:src:dst"), ties broken by dst
    * (hash inputs are unique per edge so collisions are astronomically
    * unlikely, not impossible — the dst tiebreaker makes the kept set
    * well-defined even then), so the kept set is a pure function
    * of (seed, data): reproducible across runs and engines, stable
    * under partitioning, and unbiased in the sense that the hash is
    * independent of any edge attribute.
    *
    * Scale shape: one per-src window over the distinct edge list —
    * partition size = the node's out-degree, paid ONCE at preprocessing
    * time (that is the point: a 10⁷-degree hub costs one 10⁷-row sort
    * here instead of 10⁷ candidate rows per walk per step downstream).
    * Returns the capped (src, dst) edge list — already distinct; the
    * walk functions' own distinct/fold over it is idempotent and runs
    * over the CAPPED list (≤ maxDeg·|V| rows), not the raw table.
    * Every src keeps at least one edge, so the source-node set is
    * unchanged.
    */
  def capOutDegree(edges: DataFrame, maxDeg: Int, seed: Long = 7L): DataFrame = {
    require(maxDeg >= 1, "maxDeg must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    val w = Window.partitionBy("src").orderBy(col("_h"), col("dst"))
    e.withColumn("_h", md5(concat_ws(":", lit("cap"), lit(seed),
        col("src"), col("dst"))))
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= maxDeg)
      .select("src", "dst")
  }

  /** Seeded TEMPORAL walks — ts-monotone edge traversal (the
    * continuous-time walk of CTDNE, Nguyen et al., WWW 2018: a walk may
    * only continue along edges whose timestamp STRICTLY exceeds the
    * arrival edge's, so every emitted sequence is a temporally valid
    * path; selection among the valid futures is uniform, their
    * "unbiased" variant). Input (src, dst, ts) with integer-castable
    * timestamps; multi-edges with distinct ts are distinct choices.
    * Returns (walk_id, step, node, ts) — ts is the arrival edge's
    * timestamp, NULL at step 0. Walks truncate when no strictly-later
    * out-edge exists.
    *
    * Why this does NOT pay the node2vec cost shape (the r17 design
    * note expected a per-step valid-edge count per (walk, node, t)):
    * the arrival time is ALWAYS the timestamp of the edge just
    * traversed, never an arbitrary value — so the valid-future count
    * is a PER-EDGE property, precomputable once. With each node's
    * out-edges ranked by (ts, dst) ascending, the valid set after
    * arriving via timestamp t is the rank SUFFIX [nlo, deg) where
    * nlo = |out-edges with ts ≤ t|; the adjacency build computes nlo
    * for every edge in ONE merge window (out-markers and in-edges of
    * each node sorted together by (ts, out-first); the running
    * out-count AT an in-edge row is its nlo — no range join, no
    * per-(walk, t) scan). Each step is then: draw
    * idx = nlo + (md5("tw:seed:walk:k:node") mod ncnt) and fetch the
    * edge by an EXACT (src, rnk) equi-join — candidate production is
    * frontier-sized, independent of hub degree, cheaper even than
    * [[weightedWalks]]' bucketed join (probe-measured flat).
    *
    * `maxDeg` folds a seeded cap into the build exactly as
    * [[node2vecWalks]]' (md5("tcap:seed:src:dst:ts")-ranked, keeps ≥ 1
    * edge per src) — here NOT to fix step cost (already flat) but to
    * bound the one per-src build window: a 10⁹-degree hub sorts in a
    * single window task, and the cap is the documented mitigation for
    * that build-time skew (plus the usual corpus-quality control).
    *
    * Determinism: pure function of (seed, data) — the md5 draw, the
    * (ts, dst) rank order, and the cap ranking replay bit-for-bit in
    * the DuckDB oracle (`q_temporal_walks`).
    */
  def temporalWalks(edges: DataFrame, starts: DataFrame, walkLength: Int,
                    seed: Long = 7L, maxDeg: Option[Int] = None): DataFrame = {
    requireWalkLength(walkLength)
    maxDeg.foreach(d => require(d >= 1, "maxDeg must be >= 1"))
    import org.apache.spark.sql.expressions.Window
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"),
      col("ts").cast("long").as("ts")).distinct()
    val capped = maxDeg match {
      case None => e0
      case Some(d) =>
        val cw = Window.partitionBy("src")
          .orderBy(col("_h"), col("dst"), col("ts"))
        e0.withColumn("_h", md5(concat_ws(":", lit("tcap"), lit(seed),
            col("src"), col("dst"), col("ts"))))
          .withColumn("_r", row_number().over(cw))
          .filter(col("_r") <= d)
          .select("src", "dst", "ts")
    }
    // ranked adjacency: per-src (ts, dst)-ascending ranks + out-degree
    val adj0 = capped.select(col("src"), col("dst"), col("ts"),
      (row_number().over(Window.partitionBy("src").orderBy("ts", "dst")) - 1)
        .cast("long").as("rnk"),
      count(lit(1)).over(Window.partitionBy("src")).cast("long").as("deg"))
    val degs = capped.groupBy(col("src").as("_dn"))
      .agg(count(lit(1)).cast("long").as("_ddeg"))
    // the merge window: each node's OUT-edge timestamps (kind 0) and
    // IN-edges (kind 1) sorted together by (ts, kind) — out rows with
    // ts == t precede the in row, so the running out-count AT an
    // in-edge row is exactly nlo = |out-edges of dst with ts ≤ t|
    val outRows = capped.select(col("src").as("_n"), col("ts"),
      lit(0).as("_k"), lit(null).cast("long").as("_es"),
      lit(null).cast("long").as("_ed"))
    val inRows = capped.select(col("dst").as("_n"), col("ts"),
      lit(1).as("_k"), col("src").as("_es"), col("dst").as("_ed"))
    val mw = Window.partitionBy("_n").orderBy(col("ts"), col("_k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nloTbl = outRows.unionByName(inRows)
      .withColumn("_nlo",
        sum(when(col("_k") === 0, 1L).otherwise(0L)).over(mw))
      .filter(col("_k") === 1)
      .select(col("_es"), col("_ed"), col("ts").as("_ets"), col("_nlo"))
    val adj = adj0
      .join(nloTbl, col("src") === col("_es") && col("dst") === col("_ed") &&
        col("ts") === col("_ets"))
      .join(degs, col("dst") === col("_dn"), "left")
      .select(col("src"), col("rnk"), col("dst"), col("ts"),
        col("_nlo").as("nlo"),
        (coalesce(col("_ddeg"), lit(0L)) - col("_nlo")).as("ncnt"))
      .localCheckpoint(eager = true)
    val base = starts.select(col("id").cast("long").as("node")).distinct()
    var frontier = base
      .join(degs, col("node") === col("_dn"))
      .select(col("node").as("walk_id"), col("node"),
        lit(0L).as("lo"), col("_ddeg").as("cnt"))
    var acc = base.select(col("node").as("walk_id"), lit(0L).as("step"),
      col("node"), lit(null).cast("long").as("ts"))
    val loop = new Materialize.Loop
    var k = 1
    while (k <= walkLength) {
      val stepAdj = adj.select(col("src").as("_as"), col("rnk").as("_ar"),
        col("dst").as("_ad"), col("ts").as("_ats"),
        col("nlo").as("_alo"), col("ncnt").as("_acnt"))
      val next = frontier.filter(col("cnt") > 0)
        .withColumn("_idx", col("lo") + pmod(stepDraw("tw", seed, k), col("cnt")))
        .join(stepAdj,
          col("node") === col("_as") && col("_idx") === col("_ar"))
        .select(col("walk_id"), col("_ad").as("node"),
          col("_alo").as("lo"), col("_acnt").as("cnt"),
          col("_ats").as("ts"))
      acc = acc.unionByName(next.select(col("walk_id"),
        lit(k.toLong).as("step"), col("node"), col("ts")))
      frontier = next.select("walk_id", "node", "lo", "cnt")
      if (k % 8 == 0 && k < walkLength) {
        frontier = loop.checkpoint(frontier)
        acc = loop.checkpoint(acc)
        loop.keepOnly(frontier, acc)
      }
      k += 1
    }
    acc
  }

  /** Ordered (center, context) co-occurrence counts over walk sequences —
    * [[randomWalks]] piped into the word2vec-style pair extraction that
    * completes the DeepWalk pipeline (Perozzi et al., KDD'14: the walks
    * are sentences, these pairs are the skip-gram training corpus).
    * Same shape discipline as [[TextAnalysis.skipGrams]]: the `window`
    * lead() calls share ONE window spec (a single walk-keyed
    * shuffle+sort, linear in walk rows regardless of `window`), and the
    * pair aggregation is map-side combined on observed-pair keys. By
    * default only rightward contexts, orientation preserved; with
    * `symmetric = true` both orientations of every observed pair are
    * counted (the skip-gram trainer's view: a window hit contributes to
    * BOTH (center, context) and (context, center)) — done by mirroring
    * the extracted pair stream before the one aggregation, so the cost
    * is the same single shuffle on doubled map-side input.
    */
  def walkContextPairs(walks: DataFrame, window: Int = 2,
                       minCount: Long = 1L,
                       symmetric: Boolean = false): DataFrame = {
    require(window >= 1, "window must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("walk_id").orderBy("step")
    val base = walks.select(col("walk_id"), col("step"), col("node"))
    val withCtx = (1 to window).foldLeft(base) { (d, k) =>
      d.withColumn(s"_ctx$k", lead(col("node"), k).over(w))
    }
    val oriented = withCtx
      .select(col("node").as("center"), explode(array_compact(
        array((1 to window).map(k => col(s"_ctx$k")): _*))).as("context"))
    val pairs =
      if (symmetric) oriented.unionByName(oriented.select(
        col("context").as("center"), col("center").as("context")))
      else oriented
    pairs
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** word2vec negative-sampling table over a walk corpus: the unigram
    * distribution of node visits raised to `power` (0.75 in Mikolov et
    * al., NeurIPS 2013 — flattens the head so frequent nodes aren't
    * drawn quite proportionally) and normalized to probabilities. A
    * trainer samples negatives from this table; together with
    * [[walkContextPairs]](symmetric = true) it completes the
    * DeepWalk/node2vec training-corpus export.
    *
    * Determinism across engines: n^0.75 is computed as
    * sqrt(n · sqrt(n)) — IEEE sqrt is correctly rounded everywhere and
    * multiplication is one rounding, so the weight is BIT-IDENTICAL in
    * any engine, where pow() implementations may differ in the last
    * ulp. Weights round at 9 dp and the normalizer is their EXACT
    * DECIMAL(38,9) sum (associativity-free), so the emitted
    * probabilities are replayable bit-for-bit. A non-default `power`
    * falls back to pow() (deterministic within Spark).
    *
    * Scale shape: one map-side-combined count aggregation over walk
    * rows, one scalar fold, one broadcast-scalar cross join (1 row) —
    * never a global window. Emits (node, n, prob).
    */
  def negativeTable(walks: DataFrame, power: Double = 0.75): DataFrame = {
    require(power > 0, "power must be positive")
    val counts = walks.groupBy(col("node"))
      .agg(count(lit(1)).as("n"))
    val nd = col("n").cast("double")
    val wRaw = if (power == 0.75) sqrt(nd * sqrt(nd)) else pow(nd, lit(power))
    val weighted = counts.withColumn("_w9", round(wRaw, 9))
    val tot = weighted.agg(
      sum(col("_w9").cast("decimal(38,9)")).as("_tot"))
    // explicit broadcast on the ONE-ROW total (the pageRank dangling-mass
    // idiom): the scalar rides to every partition, never a cartesian
    weighted.crossJoin(broadcast(tot))
      .select(col("node"), col("n"),
        round(col("_w9") / col("_tot").cast("double"), 9).as("prob"))
  }

  /** Shifted positive PMI over (center, context, n) pair counts — the
    * co-occurrence weighting skip-gram-with-negative-sampling implicitly
    * factorizes (Levy & Goldberg, NeurIPS 2014: SGNS ≈ factorizing the
    * PMI matrix shifted by log k). Feeds count-based embeddings (SVD of
    * the SPPMI matrix) or inspection of what the walk corpus actually
    * encodes: ppmi = max(0, ln(n·T / (n_center·n_context)) − ln(negK)),
    * with T the total pair count and the margins exact integer sums.
    *
    * Determinism: every log argument is a ratio of EXACT long counts
    * (cast to double only at the division) with the k shift folded
    * INSIDE the log (ln(x/k), so both engines take ln of the
    * bit-identical argument rather than subtracting two ln results);
    * one ln() per row, rounded at 6 dp — the
    * [[Similarity.hyperplanePlan]] libm convention.
    *
    * Scale shape: two map-side-combined margin aggregations, two
    * equi-joins back on the pair keys, one broadcast-scalar cross join
    * (1 row) for T — never a global window or collect. Emits
    * (center, context, n, ppmi); zero-clipped rows are KEPT (the
    * sparsity pattern is the signal), filter afterwards if not.
    */
  def ppmiPairs(pairs: DataFrame, negK: Double = 1.0): DataFrame = {
    require(negK >= 1.0, "negK >= 1 (the SGNS negative-sample count)")
    // materialized ONCE (r18): the pair-count table is consumed FOUR
    // times (total, row margins, column margins, and the final join
    // base). Without this, each margin aggregation re-embeds the whole
    // upstream plan — for walk-derived pairs that is the full walk
    // replay four times over (only the leaf exchanges dedupe via
    // reuse). The table is vocabulary²-bounded, far smaller than the
    // corpus that produced it — exactly the §5 cache-when-reused case.
    val p = pairs.localCheckpoint(eager = true)
    val tot = p.agg(sum(col("n")).as("_T"))
    val rowm = p.groupBy("center").agg(sum("n").as("_nc"))
    val colm = p.groupBy("context").agg(sum("n").as("_nx"))
    p.join(rowm, "center").join(colm, "context")
      .crossJoin(broadcast(tot))
      .select(col("center"), col("context"), col("n"),
        round(greatest(
          log(col("n").cast("double") * col("_T").cast("double") /
            (col("_nc").cast("double") * col("_nx").cast("double")) /
            lit(negK)),
          lit(0.0)), 6).as("ppmi"))
  }

  /** Count-based node embeddings by truncated eigendecomposition of the
    * SPPMI matrix — Levy & Goldberg's explicit alternative to trained
    * SGNS (NeurIPS 2014 §5: W = U_k·Σ_k^{1/2} from the SVD of SPPMI;
    * for the SYMMETRIC matrix symmetric pair counts produce, the SVD is
    * the eigendecomposition with singular values |λ|, so the embedding
    * row is v_j(i)·sqrt(|λ_j|) over the top-k components by |λ|). This
    * completes walks → context pairs → SPPMI → vectors as one
    * oracle-gated chain with zero gradient steps.
    *
    * BOUNDED-VOCAB CONTRACT: the SPPMI matrix is vocab², solved by
    * [[Similarity.jacobiEigen]] on the driver — the same model-sized
    * split as PCA's dim² Gram, except here "model" is the vocabulary.
    * `maxVocab` (default 4096, = 128 MiB dense) fails fast beyond the
    * contract; for larger vocabularies factorize the (center, context,
    * ppmi) table [[ppmiPairs]] emits with a distributed solver instead.
    * The pair AGGREGATION is fully distributed — only the vocab-sized
    * matrix ever reaches the driver.
    *
    * `pairs` must be symmetric — mirror them first
    * ([[walkContextPairs]]'s symmetric mode); asymmetric input fails
    * fast (the 6-dp-rounded matrix is compared entry-for-entry, so the
    * check is exact, not a tolerance).
    *
    * Determinism: SPPMI entries are [[ppmiPairs]]'s 6-dp exact-margin
    * values; the eigen-solve is the fixed-sweep Jacobi with its
    * (value desc, index) order re-sorted here by (|λ| desc, original
    * rank) and the largest-|coord|-positive sign convention; output
    * values round at 6 dp via exact decimal HALF_UP (no −0.0). Emits
    * (node, component, value), vocab×k rows.
    */
  def sppmiEmbed(pairs: DataFrame, k: Int, negK: Double = 1.0,
                 maxVocab: Int = 4096): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = pairs.sparkSession
    // vocab bound FIRST (a cheap distinct over the pair keys) so an
    // over-contract corpus fails before any vocab²-sized collect
    val vocab = pairs
      .select(col("center").cast("long").as("v"))
      .union(pairs.select(col("context").cast("long").as("v")))
      .distinct().orderBy("v").collect().map(_.getLong(0))
    require(vocab.length <= maxVocab,
      s"sppmiEmbed bounded-vocab contract: ${vocab.length} nodes exceed " +
        s"maxVocab = $maxVocab — factorize the ppmiPairs table with a " +
        "distributed solver instead")
    require(k <= vocab.length, s"k = $k exceeds vocab ${vocab.length}")
    val m = ppmiPairs(pairs, negK)
      .filter(col("ppmi") > 0)
      .select(col("center").cast("long"), col("context").cast("long"),
        col("ppmi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val idx = vocab.zipWithIndex.toMap
    val d = vocab.length
    val a = Array.ofDim[Double](d, d)
    m.foreach { case (c, x, p) => a(idx(c))(idx(x)) = p }
    var i = 0
    while (i < d) {
      var j = i + 1
      while (j < d) {
        require(a(i)(j) == a(j)(i),
          s"sppmiEmbed requires symmetric pairs: SPPMI(${vocab(i)}, " +
            s"${vocab(j)}) = ${a(i)(j)} vs ${a(j)(i)} — mirror the pairs " +
            "first (walkContextPairs symmetric mode)")
        j += 1
      }
      i += 1
    }
    val (vals, vecs) = Similarity.jacobiEigen(a)
    // top-k by |λ| (the symmetric-SVD singular order), ties to the
    // earlier Jacobi rank (which is itself (λ desc, index))
    val order = vals.indices.sortBy(r => (-math.abs(vals(r)), r)).take(k)
    val rows = for {
      (node, ni) <- vocab.zipWithIndex
      (r, comp) <- order.zipWithIndex
    } yield {
      val raw = vecs(r)(ni) * math.sqrt(math.abs(vals(r)))
      (node, comp,
        BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    import spark.implicits._
    rows.toSeq.toDF("node", "component", "value")
  }
}
