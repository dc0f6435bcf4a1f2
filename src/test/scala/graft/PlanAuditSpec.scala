package graft

import graft.operators.{Dedup, Sampling, TextAnalysis}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions for the properties the 100 TB design rests
  * on: narrow operators stay shuffle-free, column pruning reaches the
  * scan, and the decontamination join broadcasts its benchmark side.
  */
class PlanAuditSpec extends SparkSpecBase {
  import spark.implicits._

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def finalPlanOf(df: DataFrame): String = {
    // materialize THIS DataFrame's own QueryExecution (count() would wrap
    // it in a new one and leave this plan un-finalized by AQE)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private lazy val docsPath: String = {
    val p = java.nio.file.Files.createTempDirectory("planaudit").toString
    (0L until 200L).map(i => (i, s"tok${i % 7} tok${i % 11} tok${i % 13} filler", s"l${i % 3}"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$p/documents.parquet")
    p
  }

  test("hash sampling is a narrow filter: no Exchange anywhere in the plan") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
    val p = planOf(Sampling.stratifiedSample(docs, "doc_id", "lang", Map("l0" -> 50), 10))
    assert(!p.contains("Exchange"), s"expected shuffle-free sampling plan:\n$p")
  }

  test("document chunking is narrow: explode pipelines over the scan, no Exchange") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
    val p = planOf(TextAnalysis.chunkDocuments(docs, "text", "doc_id", 8, 2))
    assert(!p.contains("Exchange"), s"expected shuffle-free chunking plan:\n$p")
  }

  test("column pruning reaches the parquet scan for a two-column projection") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
    val q = docs.select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("n"))
    val p = planOf(q)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("lang"),
      s"expected pruned scan schema without lang: $readSchema")
  }

  test("filter pushdown reaches the parquet scan") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
    val p = planOf(docs.filter(col("lang") === "l1").select("doc_id"))
    assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,l1)]"),
      s"expected lang filter pushed to scan:\n$p")
  }

  test("partition pruning: a partition-column filter skips non-matching directories") {
    val pdir = java.nio.file.Files.createTempDirectory("planaudit-part").toString
    (0L until 300L).map(i => (i, s"payload$i", s"2026-0${i % 3 + 1}"))
      .toDF("id", "payload", "month")
      .write.partitionBy("month").mode("overwrite").parquet(pdir)
    val q = spark.read.parquet(pdir).filter(col("month") === "2026-02").select("id")
    val p = planOf(q)
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("month"),
      s"expected month in PartitionFilters: $scanLine\n$p")
    // pruning is effective: only the matching partition's rows are read
    assert(q.count() == 100)
  }

  test("weightedSample global top-k is TakeOrdered, never a global sort") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
    val p = planOf(Sampling.weightedSample(docs, "doc_id", length(col("text")), 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k with driver merge:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"expected no global sort exchange:\n$p")
  }

  test("filterTopQuantile shuffles only the bounded distinct-value set") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
      .withColumn("v", (col("doc_id") % 5).cast("double"))
    val out = Sampling.filterTopQuantile(docs, "v", 0.5)
    val p = finalPlanOf(out)
    // the data-side scan must not be range-partitioned/sorted; the only
    // sort belongs to the tiny distinct-value window
    assert(!p.contains("Exchange rangepartitioning"),
      s"expected no global sort of the data:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected the 1-row threshold broadcast back:\n$p")
  }

  test("shuffleShard is one hash exchange on the shard key, no global sort") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
    val p = planOf(Sampling.shuffleShard(docs.select("doc_id"), "doc_id", 8))
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      p.linesIterator.count(_.trim.startsWith(":- Exchange")) <= 1 &&
      p.contains("Exchange hashpartitioning(shard"),
      s"expected exactly one shard-keyed exchange:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"expected no global sort (in-shard sort only):\n$p")
  }

  test("histogram's second scan is pruned to the value column; bounded agg keys") {
    val li = spark.read.parquet(s"$docsPath/documents.parquet")
    val p = planOf(graft.operators.Profile.histogram(li, "doc_id", 16))
    // both scans read only doc_id
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.nonEmpty && schemas.forall(s =>
      s.contains("doc_id") && !s.contains("text")),
      s"expected value-column-pruned scans:\n${schemas.mkString("\n")}")
    // 1-row bounds side is broadcast, never shuffled wide
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast bounds join:\n$p")
  }

  test("collocations global top-k is TakeOrdered, never a global sort") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
    val p = planOf(TextAnalysis.collocations(docs, "text", 2, 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k with driver merge:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"expected no global sort:\n$p")
    // the bigram lambda must reference the materialized token array,
    // not re-tokenize: no split( call inside a slice( argument
    assert(!p.contains("slice(filter(split("),
      s"expected bigrams over the materialized token column:\n$p")
  }

  test("scdHistory evaluates lead and row_number in ONE Window over one exchange") {
    val log = spark.range(1000).select(($"id" % 50).as("k"), $"id".as("tie"),
      ($"id" * 1000).cast("timestamp").as("ts"))
    val p = planOf(graft.operators.ChangeCapture.scdHistory(log, "k", "ts", "tie"))
    assert(p.linesIterator.count(_.trim.matches("^[+:]?-? *Window .*")) == 1 ||
      p.split("Window ").length == 2,
      s"expected a single Window operator:\n$p")
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected one key exchange:\n$p")
  }

  test("interpolateDaily frame scans share ONE key exchange and one sort") {
    val ev = spark.range(500).select(($"id" % 7).as("user_id"),
      (($"id" % 90) * 86400000L / 1000).cast("timestamp").as("ts"),
      ($"id" * 1.5).as("value"))
    val df = graft.operators.EventAnalytics.interpolateDaily(ev)
    val p = planOf(df)
    // Catalyst stacks the window expressions (CollapseWindow merges only
    // adjacent compatible nodes) but every stacked Window shares the
    // (user_id, day) partitioning+ordering: the data is exchanged and
    // sorted for the windows ONCE, which is the invariant that matters.
    assert(p.split("Sort \\[user_id").length == 2,
      s"expected one (user_id, day) sort shared by all frames:\n$p")
    val stack = p.substring(p.indexOf("Window "), p.indexOf("Sort [user_id"))
    assert(!stack.contains("Exchange"),
      s"no exchange may sit between the stacked windows:\n$p")
  }

  test("tokenBudgetSelect: one range exchange (pinned), then a narrow fold — no window, no re-shuffle") {
    val docs = spark.range(2000).select($"id", ($"id" % 97).as("score"),
      ($"id" % 13 + 1).as("tokens"))
    // the rank order is established by ONE range exchange — asserted on
    // the partitioning stage the operator materializes (the operator
    // localCheckpoints it so both passes share one set of sampled
    // boundaries; the checkpoint hides the exchange from the final plan)
    val staged = planOf(docs.repartitionByRange(8,
      ($"score").desc, ($"id").asc))
    assert(staged.contains("Exchange rangepartitioning"),
      s"expected a range exchange in the staging plan:\n$staged")
    val p = planOf(graft.operators.Sampling.tokenBudgetSelect(
      docs, "id", "score", "tokens", 5000L, nPartitions = 8))
    // downstream of the checkpoint the whole pass-2 is NARROW: the
    // running sums come from a per-partition fold over the pinned
    // layout — no exchange, no window, no join of any kind
    assert(!p.contains("Exchange") && !p.contains("Window") &&
      !p.contains("Join"),
      s"expected a narrow fold over the checkpointed layout:\n$p")
    // behavioral check of the offset assumption itself: the operator's
    // OWN layout must be rank-contiguous — per-partition score ranges
    // disjoint and descending in partition-id order (a regression to
    // hash/round-robin partitioning would violate this while every
    // plan-string assertion above still passed)
    val sel = graft.operators.Sampling.tokenBudgetSelect(
      docs, "id", "score", "tokens", Long.MaxValue, nPartitions = 8)
    val ranges = sel.select("score").rdd.mapPartitionsWithIndex { (i, it) =>
      val xs = it.map(_.getLong(0)).toArray
      if (xs.isEmpty) Iterator.empty else Iterator((i, xs.max, xs.min))
    }.collect().sortBy(_._1)
    assert(ranges.nonEmpty && ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array((p1, _, lo1), (p2, hi2, _)) =>
        assert(lo1 >= hi2,
          s"partitions $p1/$p2 overlap in rank order: min($p1)=$lo1 < max($p2)=$hi2")
      case _ => ()
    }
    graft.operators.Materialize.release(sel)
  }

  test("labelCentroids aggregation is partial (map-side combined) on model-sized keys") {
    val e = spark.range(500).select(($"id" % 10).cast("int").as("label"),
      array(($"id" % 7).cast("double"), ($"id" % 3).cast("double")).as("v"))
    val p = planOf(graft.operators.Similarity.labelCentroids(e, "label", "v"))
    // partial then final HashAggregate around one exchange on (label, i)
    assert(p.split("HashAggregate").length >= 3, s"expected partial+final agg:\n$p")
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected exactly one model-key exchange:\n$p")
  }

  test("compactLatest filter sits above one window exchange, no re-shuffle") {
    val log = spark.range(1000).select(($"id" % 50).as("k"), $"id".as("tie"),
      ($"id" * 1000).cast("timestamp").as("ts"))
    val p = planOf(graft.operators.ChangeCapture.compactLatest(log, "k", "ts", "tie"))
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected exactly one exchange:\n$p")
  }

  test("rowChanges is a single full-outer join: one exchange per side, no extra pass") {
    val oldDf = spark.range(500).select($"id".as("pk"), ($"id" % 7).as("a"), ($"id" % 11).as("b"))
    val newDf = spark.range(400).select($"id".as("pk"), ($"id" % 5).as("a"), ($"id" % 11).as("b"))
    val p = planOf(graft.operators.ChangeCapture.rowChanges(oldDf, newDf, "pk"))
    assert(p.contains("FullOuter"), s"expected a full-outer join:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected at most one exchange per side, got $exchanges:\n$p")
  }

  test("bloom candidate filter runs inside whole-stage codegen") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
    val small = docs.filter($"doc_id" % 50 === 0)
    val pred = graft.operators.BloomPrune.candidateFilter(
      small, "doc_id", col("doc_id"), 1000L, 0.03)
    val p = planOf(docs.filter(pred))
    val filterLine = p.linesIterator.find(_.contains("bloom_might_contain_long")).getOrElse("")
    assert(filterLine.contains("*("),
      s"expected the bloom filter stage inside WholeStageCodegen: $filterLine\n$p")
  }

  test("funnel's shrinking reach side is broadcast by AQE in later stages") {
    val events = (0L until 5000L).map { i =>
      (i % 40, if (i % 3 == 0) "view" else if (i % 3 == 1) "click" else "purchase",
        new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("user_id", "event_type", "ts")
    val out = graft.operators.EventAnalytics.funnel(events, Seq("view", "click", "purchase"))
    val p = finalPlanOf(out)
    assert(p.contains("BroadcastHashJoin"),
      s"expected the reach side broadcast under AQE:\n$p")
  }

  test("bigram LM model joins broadcast under AQE while the model fits") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
    val out = graft.operators.TextAnalysis.bigramSurprisal(docs, "text", "doc_id")
    val p = finalPlanOf(out)
    assert(p.contains("BroadcastHashJoin"),
      s"expected the vocabulary-sized model sides broadcast under AQE:\n$p")
  }

  test("HLL registers: map-side-combined agg, one model-keyed exchange") {
    val p = planOf(graft.operators.Hll.registers(spark.range(20000).toDF("k"), "k"))
    // partial then final HashAggregate around the 64-key bucket exchange
    assert(p.split("HashAggregate").length >= 3, s"expected partial+final agg:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      s"corpus must shuffle at most into the model-sized register agg:\n$p")
  }

  test("grouped HLL: corpus shuffles once into (group,bucket); fold is model-sized") {
    val df = spark.range(30000)
      .select(($"id" % 5).cast("string").as("g"), ($"id" % 2000).as("k"))
    val p = planOf(graft.operators.Hll.groupedEstimate(df, "g", "k"))
    assert(p.split("HashAggregate").length >= 3, s"expected partial+final agg:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      s"expected at most the (group,bucket) and per-group exchanges:\n$p")
  }

  test("partitioned fact scan is dynamically pruned by the dim's filter (DPP)") {
    // at 100 TB the fact side is hive-partitioned (date/tenant); a join
    // against a filtered dim must prune partitions at RUNTIME via the
    // broadcast result, not scan-all-then-filter
    val base = java.nio.file.Files.createTempDirectory("dpp").toString
    spark.range(20000)
      .select($"id", ($"id" % 10).as("part_key"), ($"id" % 97).as("v"))
      .write.partitionBy("part_key").parquet(s"$base/fact")
    val dim = spark.range(10)
      .select($"id".as("d_key"), concat(lit("n"), $"id").as("d_name"))
      .filter($"d_name" === "n3")
    val fact = spark.read.parquet(s"$base/fact")
    val out = fact.join(dim, fact("part_key") === dim("d_key"))
      .groupBy("d_key").agg(sum("v").as("sv"))
    val p = planOf(out)
    // (the PartitionFilters render truncates `dynamicpruningexpression`;
    // the SubqueryAdaptiveBroadcast's `dynamicpruning#N` subquery is stable)
    assert(p.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the fact scan:\n$p")
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("TPC-H Q4: the EXISTS is a LeftSemi join, no fan-out aggregation") {
    val p = finalPlanOf(graft.SparkEntry.queries("q4_order_priority")(spark, sfDir))
    assert(p.contains("LeftSemi"), s"expected a left-semi join for EXISTS:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"expected the quantity filter pushed to the lineitem scan:\n$p")
  }

  test("TPC-H Q10/Q14: top-20 is TakeOrdered (no global sort); part dim broadcasts") {
    val q10 = finalPlanOf(graft.SparkEntry.queries("q10_returned_items")(spark, sfDir))
    assert(q10.contains("TakeOrderedAndProject"),
      s"expected top-20 via TakeOrdered, not a global sort:\n$q10")
    val q14 = finalPlanOf(graft.SparkEntry.queries("q14_promo_revenue")(spark, sfDir))
    assert(q14.contains("BroadcastHashJoin"),
      s"expected the part dim broadcast:\n$q14")
    assert(q14.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"expected the month predicate pushed to the lineitem scan:\n$q14")
  }

  test("TPC-H Q5 chain: dim sides broadcast, no cartesian, pushed date filter") {
    val out = graft.SparkEntry.queries("q5_local_supplier")(spark, sfDir)
    val p = finalPlanOf(out)
    assert(p.contains("BroadcastHashJoin"),
      s"expected the region/nation/supplier chain broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"unexpected cartesian in the Q5 chain:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"orders date predicate not pushed to the scan:\n$p")
  }

  test("TPC-H Q7 disjunctive pair: nation dims broadcast, no cartesian") {
    val out = graft.SparkEntry.queries("q7_volume_shipping")(spark, sfDir)
    val p = finalPlanOf(out)
    assert(p.contains("BroadcastHashJoin"),
      s"expected the two filtered nation dims broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"unexpected cartesian for the OR pairing:\n$p")
  }

  test("TPC-H Q21 EXISTS/NOT-EXISTS pair plans as semi + anti joins, no cartesian") {
    val p = finalPlanOf(graft.SparkEntry.queries("q21_waiting_suppliers")(spark, sfDir))
    assert(p.contains("LeftSemi"), s"expected EXISTS as a left-semi join:\n$p")
    assert(p.contains("LeftAnti"), s"expected NOT EXISTS as a left-anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("TPC-H Q16 NOT-IN exclusion is an anti join; part dim broadcasts") {
    val p = finalPlanOf(graft.SparkEntry.queries("q16_supplier_variety")(spark, sfDir))
    assert(p.contains("LeftAnti"), s"expected the negative-balance exclusion as anti join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected the filtered part dim broadcast:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(p_brand)"),
      s"expected the brand/type/size profile pushed to the part scan:\n$p")
  }

  test("TPC-H Q20 nested IN chain decorrelates: semi joins over bounded fact scans") {
    val p = finalPlanOf(graft.SparkEntry.queries("q20_promo_parts")(spark, sfDir))
    assert(p.contains("LeftSemi"), s"expected the supplier IN as a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"correlated threshold must decorrelate to an aggregate join, not a loop:\n$p")
  }

  test("TPC-H Q11/Q15 scalar thresholds run as one-row subquery stages, never per group") {
    val q11 = finalPlanOf(graft.SparkEntry.queries("q11_top_stock")(spark, sfDir))
    assert(q11.contains("Subquery subquery"),
      s"expected the importance threshold as an uncorrelated one-row subquery:\n$q11")
    assert(!q11.contains("CartesianProduct") && !q11.contains("BroadcastNestedLoopJoin"),
      s"threshold must not degrade to a per-group loop:\n$q11")
    val q15 = finalPlanOf(graft.SparkEntry.queries("q15_top_supplier")(spark, sfDir))
    assert(q15.contains("Subquery subquery") && q15.contains("max(total_revenue"),
      s"expected the max-revenue test as a one-row subquery stage:\n$q15")
    assert(q15.contains("BroadcastHashJoin"),
      s"expected the supplier dim to broadcast into the revenue join:\n$q15")
  }

  test("TPC-H Q8 two-armed star: every dim broadcasts, p_type pushed to the part scan") {
    val p = finalPlanOf(graft.SparkEntry.queries("q8_market_share")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(p_type), EqualTo(p_type,ECONOMY)"),
      s"expected the part type filter pushed to the scan:\n$p")
  }

  test("TPC-H Q19 disjunctive branches keep the equi-key join (CNF extraction, no cartesian)") {
    val p = finalPlanOf(graft.SparkEntry.queries("q19_disjunctive_revenue")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"expected the part join to stay a hash join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the OR-of-conjunctions must not degrade the join:\n$p")
  }

  test("TPC-H Q13 keeps the outer join (zero-order customers survive to the second agg)") {
    val p = finalPlanOf(graft.SparkEntry.queries("q13_order_count_dist")(spark, sfDir))
    assert(p.contains("LeftOuter") || p.contains("RightOuter"),
      s"expected an outer join preserving customers without orders:\n$p")
  }

  test("decontamination broadcasts the benchmark side under AQE") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
    val out = Dedup.contamination(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "text", "doc_id", "text")
    val p = finalPlanOf(out)
    assert(p.contains("BroadcastHashJoin"),
      s"expected benchmark side broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"expected no sort-merge join for the tiny benchmark side:\n$p")
  }

  test("PQ ADC scan: query batch broadcasts with LUTs built below the exchange; corpus streams; top-k prunes pre-shuffle") {
    val books = Array.fill(2)(Array(Array(0.0, 0.0), Array(4.0, 4.0)))
    val dir = java.nio.file.Files.createTempDirectory("pqplan").toString
    (0L until 500L).map(i => (i, Seq(0.0 + i % 2 * 4, 0.0, 4.0, 0.0)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$dir/vecs.parquet")
    val vecs = spark.read.parquet(s"$dir/vecs.parquet")
    val queries = vecs.filter(col("vec_id") < 4)
    val codes = graft.operators.Pq.encode(vecs, "vec_id", "embedding", books)
    val p = planOf(graft.operators.Pq.adcTopK(queries, codes, 2, books))
    // the ONLY BroadcastExchange input carries the LUT projection: LUTs
    // are computed once per query, below the exchange, never per pair
    val bcast = p.split("BroadcastExchange")(1)
    assert(bcast.contains("pq_adc_lut"),
      s"expected the LUT projection under the broadcast exchange:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the corpus side streamed against the broadcast batch:\n$p")
    // rank<=k pushes a WindowGroupLimit below the window exchange: each
    // scan partition forwards at most k rows per query
    assert(p.contains("WindowGroupLimit"),
      s"expected pre-shuffle top-k pruning:\n$p")
  }

  test("IVF-PQ candidate join is a hash probe on the cell key, not a loop over the corpus") {
    val books = Array.fill(2)(Array(Array(0.0, 0.0), Array(4.0, 4.0)))
    val coarse = Array(Array(4.0, 0.0, 0.0, 0.0), Array(0.0, 4.0, 0.0, 0.0))
    val dir = java.nio.file.Files.createTempDirectory("ivfpqplan").toString
    (0L until 500L).map(i => (i, Seq(0.0 + i % 2 * 4, 4.0 - i % 2 * 4, 4.0, 0.0)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$dir/vecs.parquet")
    val vecs = spark.read.parquet(s"$dir/vecs.parquet")
    val p = planOf(graft.operators.Pq.ivfAdcTopK(
      vecs.filter(col("vec_id") < 4), vecs, 2, coarse, books, nProbe = 1))
    assert(p.contains("BroadcastHashJoin") && !p.contains("NestedLoop"),
      s"expected an equi-join probe on cell:\n$p")
  }

  test("domainBudgetSelect: one range exchange (pinned), then a narrow per-domain fold") {
    val docs = spark.range(2000).select(($"id" % 5).cast("string").as("dom"),
      $"id", ($"id" % 97).as("score"), ($"id" % 13 + 1).as("tokens"))
    val staged = planOf(docs.repartitionByRange(8,
      ($"dom").asc, ($"score").desc, ($"id").asc))
    assert(staged.contains("Exchange rangepartitioning"),
      s"expected a range exchange in the staging plan:\n$staged")
    val p = planOf(graft.operators.Sampling.domainBudgetSelect(
      docs, "dom", "id", "score", "tokens", 500L, nPartitions = 8))
    // downstream of the checkpointed layout the whole pass-2 is NARROW:
    // per-(domain, partition) offsets ride a broadcast variable into a
    // per-partition fold — no exchange, no window, no join of any kind
    // (a Window.partitionBy(dom) single-tasking a 20 TB domain is the
    // plan this operator exists to avoid)
    assert(!p.contains("Exchange") && !p.contains("Window") &&
      !p.contains("Join"),
      s"expected a narrow fold over the checkpointed layout:\n$p")
  }

  test("quantileBins: edge derivation shuffles only the bounded distinct-value set; assignment broadcasts") {
    val docs = spark.range(100000).select(($"id" % 37).as("v"))
    val binned = graft.operators.Profile.quantileBins(docs, "v", 10)
    val p = finalPlanOf(binned)
    // the data-sized scans never range- or global-sort
    assert(!p.contains("Exchange rangepartitioning"),
      s"expected no global sort anywhere:\n$p")
    // the edge list reaches the assignment pass as a broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast edge list:\n$p")
  }

  test("cumulativeDistinctDaily: map-side-combined user agg; window runs over the day-bounded set") {
    val ev = spark.range(50000).select(($"id" % 997).as("user_id"),
      ($"id" * 60000000L).cast("timestamp").as("ts"))
    val p = planOf(graft.operators.EventAnalytics.cumulativeDistinctDaily(ev))
    // partial+final aggregate pairs around the exchanges (no raw-row shuffle
    // of the event table: the (user) agg combines map-side first)
    assert(p.split("HashAggregate").length >= 5, s"expected partial+final aggs:\n$p")
    // exactly two hash exchanges: user-keyed then day-keyed
    assert(p.split("Exchange hashpartitioning").length == 3,
      s"expected exactly two hash exchanges:\n$p")
  }

  test("bm25: df/corpus stats broadcast, top-k is TakeOrdered, no sort-merge or global sort") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
    val p = planOf(TextAnalysis.bm25TopK(docs, "text", "doc_id", Seq("tok1", "tok2"), 5))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected heap-based top-k, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast df stats and 1-row corpus stats:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange rangepartitioning"),
      s"posting joins must never sort-merge:\n$p")
  }

  test("chiSquare: margins and totals attach by broadcast over the bounded cell table") {
    val ev = spark.range(20000).select(($"id" % 5).cast("string").as("a"),
      ($"id" % 7).cast("string").as("b"))
    val p = planOf(graft.operators.Stats.chiSquare(ev, "a", "b"))
    assert(p.split("BroadcastHashJoin").length >= 3,
      s"expected both margin joins broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange rangepartitioning"),
      s"no data-sized shuffle joins expected:\n$p")
  }

  test("keySkew: every post-count stage runs on the key table; top-N is TakeOrdered") {
    val ev = spark.range(30000).select(($"id" % 211).as("k"))
    val p = planOf(graft.operators.Profile.keySkew(ev, "k", 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected heap top-N over the count table:\n$p")
    // the row-sized scan shuffles once (key agg); everything else is
    // bounded-table or broadcast work
    assert(!p.contains("Exchange rangepartitioning"), s"no global sort:\n$p")
    assert(p.split("BroadcastNestedLoopJoin").length >= 3,
      s"expected 1-row totals/entropy to attach by broadcast:\n$p")
  }

  test("ewma: one user-keyed exchange, in-partition sort only") {
    val ev = spark.range(20000).select(($"id" % 313).as("user_id"),
      ($"id" * 60000000L).cast("timestamp").as("ts"), $"id".as("event_id"),
      ($"id" % 17).cast("double").as("value"))
    val p = planOf(graft.operators.EventAnalytics.ewmaSmooth(
      ev, "user_id", "ts", "event_id", "value"))
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected exactly one key exchange:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"window sort must stay in-partition:\n$p")
  }

  test("survivorship argmax is a hash aggregation, never a window over skewed clusters") {
    val docs = spark.read.parquet(s"$docsPath/documents.parquet")
      .withColumn("score", length($"text").cast("long"))
    val p = planOf(graft.operators.Dedup.survivorshipDedup(
      docs, "text", "doc_id", "score", 0.5))
    val reps = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(reps.isEmpty, s"expected no window in survivorship plan:\n${reps.mkString("\n")}")
  }
}

/** AQE's runtime skew-join split — the complement to the manual salting
  * in operators/Skew.scala: prove Spark's own mitigation engages on a
  * skewed sort-merge join when partition sizes trip the thresholds.
  */
class LayoutSpec extends SparkSpecBase {
  import spark.implicits._

  private def mortonRef(x: Long, y: Long): Long = {
    def spread(v: Long): Long = {
      var a = v & 0x7FFFFFFFL
      a = (a | (a << 16)) & 0x0000FFFF0000FFFFL
      a = (a | (a << 8)) & 0x00FF00FF00FF00FFL
      a = (a | (a << 4)) & 0x0F0F0F0F0F0F0F0FL
      a = (a | (a << 2)) & 0x3333333333333333L
      (a | (a << 1)) & 0x5555555555555555L
    }
    spread(x) | (spread(y) << 1)
  }

  test("zOrderKey equals the reference Morton code, including 31-bit extremes") {
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (12345L, 67890L),
      (0x7FFFFFFFL, 0L), (0L, 0x7FFFFFFFL), (0x7FFFFFFFL, 0x7FFFFFFFL))
    val out = pts.toDF("x", "y")
      .select($"x", $"y", graft.operators.Layout.zOrderKey($"x", $"y").as("z"))
      .as[(Long, Long, Long)].collect().toSeq
    out.foreach { case (x, y, z) =>
      assert(z == mortonRef(x, y), s"($x, $y)")
      assert(z >= 0, "62-bit key must stay non-negative")
    }
  }

  test("zOrderKey3 equals the reference 3-way interleave, including 21-bit extremes") {
    def spread3(v0: Long): Long = {
      var v = v0 & 0x1FFFFFL
      v = (v | v << 32) & 0x1F00000000FFFFL
      v = (v | v << 16) & 0x1F0000FF0000FFL
      v = (v | v << 8) & 0x100F00F00F00F00FL
      v = (v | v << 4) & 0x10C30C30C30C30C3L
      (v | v << 2) & 0x1249249249249249L
    }
    def ref(x: Long, y: Long, z: Long): Long =
      spread3(x) | spread3(y) << 1 | spread3(z) << 2
    // hand-checked: bits of x at 3i, y at 3i+1, z at 3i+2
    assert(ref(5L, 3L, 6L) == java.lang.Long.parseLong("101110011", 2))
    val pts = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (5L, 3L, 6L), (12345L, 67890L, 54321L),
      (0x1FFFFFL, 0L, 0L), (0x1FFFFFL, 0x1FFFFFL, 0x1FFFFFL))
    val out = pts.toDF("x", "y", "zc")
      .select($"x", $"y", $"zc",
        graft.operators.Layout.zOrderKey3($"x", $"y", $"zc").as("k"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    out.foreach { case (x, y, z, k) =>
      assert(k == ref(x, y, z) && k >= 0, s"($x, $y, $z)")
    }
  }

  test("z-order chunks are compact squares; a single-column sort gives stripes") {
    // 64x64 grid, 16 chunks of 256 points each
    val pts = for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)
    def maxSpan(sorted: Seq[(Long, Long)]): Long =
      sorted.grouped(256).map { c =>
        math.max(c.map(_._1).max - c.map(_._1).min,
                 c.map(_._2).max - c.map(_._2).min)
      }.max
    val zSorted = pts.sortBy { case (x, y) => mortonRef(x, y) }
    val rowMajor = pts.sortBy { case (x, y) => x * 64 + y }
    assert(maxSpan(zSorted) == 15)     // aligned 16x16 quadrant blocks
    assert(maxSpan(rowMajor) == 63)    // full-height stripes: one dim never prunes
    // the engine agrees with the reference ordering end to end
    val viaSpark = pts.toDF("x", "y")
      .orderBy(graft.operators.Layout.zOrderKey($"x", $"y"))
      .as[(Long, Long)].collect().toSeq
    assert(viaSpark.map(p => mortonRef(p._1, p._2)) ==
      zSorted.map(p => mortonRef(p._1, p._2)))
  }

  test("hilbertKey is a bijection whose consecutive cells are GRID NEIGHBORS") {
    // bits=4: the full 16x16 grid. The defining Hilbert property —
    // |d(p) - d(q)| = 1 implies p, q adjacent — is what Morton lacks
    // (Z jumps across power-of-two seams); this is a non-circular
    // check: no reference implementation, just the curve's geometry
    val pts = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    val keyed = graft.operators.Layout
      .withHilbertKey(pts.toDF("x", "y"), "x", "y", 4)
      .as[(Long, Long, Long)].collect()
    val byD = keyed.map { case (x, y, h) => h -> (x, y) }.toMap
    assert(byD.size == 256 && byD.keySet == (0L until 256L).toSet)
    (0L until 255L).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump at d=$d: ($x1,$y1) -> ($x2,$y2)")
    }
    // locality beats Morton on the same 64x64 / 16-chunk experiment:
    // every 256-point Hilbert chunk also spans <= 15 (Morton achieves
    // 15 only because its chunks are aligned quadrants; Hilbert holds
    // the bound with neighbor-continuity on top)
    val big = for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)
    val hSorted = graft.operators.Layout
      .withHilbertKey(big.toDF("x", "y"), "x", "y", 6)
      .orderBy("h").select("x", "y")
      .as[(Long, Long)].collect().toSeq
    val spans = hSorted.grouped(256).map { c =>
      math.max(c.map(_._1).max - c.map(_._1).min,
               c.map(_._2).max - c.map(_._2).min)
    }.toSeq
    assert(spans.max <= 15, s"chunk spans: $spans")
  }

  test("hilbertKey3 is a bijection whose consecutive cells are GRID NEIGHBORS") {
    // bits=3: the full 8x8x8 cube — the same non-circular geometry gate
    // as the 2-D kernel: bijective onto [0, 512) and every |Δd| = 1 step
    // moves exactly one axis by exactly one cell
    val pts = for (x <- 0 until 8; y <- 0 until 8; z <- 0 until 8)
      yield (x.toLong, y.toLong, z.toLong)
    val keyed = graft.operators.Layout
      .withHilbertKey3(pts.toDF("x", "y", "z"), "x", "y", "z", 3)
      .as[(Long, Long, Long, Long)].collect()
    val byD = keyed.map { case (x, y, z, h) => h -> (x, y, z) }.toMap
    assert(byD.size == 512 && byD.keySet == (0L until 512L).toSet)
    (0L until 511L).foreach { d =>
      val (x1, y1, z1) = byD(d); val (x2, y2, z2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) + math.abs(z1 - z2) == 1,
        s"jump at d=$d: ($x1,$y1,$z1) -> ($x2,$y2,$z2)")
    }
    // curve locality carries to chunking: 16^3 cube in 16 chunks of 256
    // cells — each range-contiguous chunk spans a bounded sub-box
    val big = for (x <- 0 until 16; y <- 0 until 16; z <- 0 until 16)
      yield (x.toLong, y.toLong, z.toLong)
    val sorted = graft.operators.Layout
      .withHilbertKey3(big.toDF("x", "y", "z"), "x", "y", "z", 4)
      .orderBy("h").select("x", "y", "z")
      .as[(Long, Long, Long)].collect().toSeq
    val spans3 = sorted.grouped(256).map { c =>
      Seq(c.map(_._1), c.map(_._2), c.map(_._3))
        .map(v => v.max - v.min).max
    }.toSeq
    assert(spans3.max <= 7, s"3-D chunk spans: $spans3")
  }
}

class ZOrderWriteSpec extends SparkSpecBase {
  import spark.implicits._

  test("zOrderLayout files cover compact rectangles: the unsorted dimension prunes too") {
    val pts = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    def maxYSpan(dir: String): Long = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      assert(files.length >= 6, s"expected ~8 output files, got ${files.length}")
      files.map { f =>
        val r = spark.read.parquet(f).agg(min("y"), max("y")).head()
        r.getLong(1) - r.getLong(0)
      }.max
    }
    val zDir = java.nio.file.Files.createTempDirectory("zorder").toString
    graft.operators.Layout.zOrderLayout(pts, "x", "y", nFiles = 8)
      .write.mode("overwrite").parquet(zDir)
    // linear baseline: sort by x only -> every file spans ALL of y
    val linDir = java.nio.file.Files.createTempDirectory("linear").toString
    pts.repartitionByRange(8, $"x").sortWithinPartitions("x")
      .write.mode("overwrite").parquet(linDir)
    val zSpan = maxYSpan(zDir)
    val linSpan = maxYSpan(linDir)
    assert(linSpan == 63, s"x-sorted files must span all of y, got $linSpan")
    assert(zSpan <= 48, s"z-ordered files must stay block-compact in y, got $zSpan")
    // a y-range filter can skip files via footer min/max under z-order,
    // never under the single-column sort
  }

  test("hilbertLayout file rectangles prune a 2-D box at least as well as z-order") {
    val pts = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    def fileBoxes(dir: String): Seq[(Long, Long, Long, Long)] = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      assert(files.length >= 6, s"expected ~8 output files, got ${files.length}")
      files.toSeq.map { f =>
        val r = spark.read.parquet(f)
          .agg(min("x"), max("x"), min("y"), max("y")).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    }
    // files a footer check CANNOT skip for the box filter [24,39]^2
    def filesTouched(boxes: Seq[(Long, Long, Long, Long)]): Int =
      boxes.count { case (x0, x1, y0, y1) =>
        x1 >= 24 && x0 <= 39 && y1 >= 24 && y0 <= 39 }
    val hDir = java.nio.file.Files.createTempDirectory("hilbert").toString
    graft.operators.Layout.hilbertLayout(pts, "x", "y", 6, nFiles = 8)
      .write.mode("overwrite").parquet(hDir)
    val zDir = java.nio.file.Files.createTempDirectory("zorder-cmp").toString
    graft.operators.Layout.zOrderLayout(pts, "x", "y", nFiles = 8)
      .write.mode("overwrite").parquet(zDir)
    val hBoxes = fileBoxes(hDir); val zBoxes = fileBoxes(zDir)
    // both layouts keep files block-compact (the linear baseline spans 63)
    assert(hBoxes.map(b => b._4 - b._3).max <= 48)
    // and Hilbert's min/max pruning never touches MORE files than Morton
    // for the centered box probe
    assert(filesTouched(hBoxes) <= filesTouched(zBoxes),
      s"hilbert ${filesTouched(hBoxes)} vs zorder ${filesTouched(zBoxes)}")
  }

  test("bucketed-bucketed equi-join runs with ZERO exchanges (and no sort)") {
    // the pay-once shuffle story: both sides bucketed+sorted by the key
    graft.operators.Layout.bucketedWrite(
      spark.range(1000).select($"id".as("k"), ($"id" * 2).as("a")),
      "bkt_left", "k", 4)
    graft.operators.Layout.bucketedWrite(
      spark.range(800).select($"id".as("k"), ($"id" * 3).as("b")),
      "bkt_right", "k", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevOrd = spark.conf
      .get("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      assert(joined.count() == 800)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$p")
      // sort elision needs the (off-by-default since 3.0) reader conf
      // that trusts per-bucket sort metadata — valid here because
      // bucketedWrite guarantees ONE file per bucket
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val joined2 = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      joined2.count()
      val p2 = joined2.queryExecution.executedPlan.toString
      assert(!p2.contains("Exchange") &&
        !p2.linesIterator.exists(_.trim.matches("^[+:]?-? *Sort .*")),
        s"one-file-per-bucket sorted buckets must not re-sort:\n$p2")
      // the same key's aggregation also rides the bucketing shuffle-free
      val agg = spark.table("bkt_left").groupBy("k").agg(sum("a"))
      agg.count()
      val ap = agg.queryExecution.executedPlan.toString
      assert(!ap.contains("Exchange hashpartitioning"),
        s"bucketed aggregation must not shuffle:\n$ap")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", prevOrd)
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("compactToTargetSize folds a 64-file table into a handful of size-targeted files") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    spark.range(20000)
      .select($"id", concat(lit("padding-padding-padding-"), $"id").as("s"))
      .repartition(64).write.mode("overwrite").parquet(dir)
    def files(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files(dir) == 64, s"setup: expected 64 small files, got ${files(dir)}")
    val read = spark.read.parquet(dir)
    val est = read.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val out = java.nio.file.Files.createTempDirectory("compact-out").toString
    graft.operators.Layout.compactToTargetSize(read, est / 4)
      .write.mode("overwrite").parquet(out)
    val n = files(out)
    assert(n >= 3 && n <= 6, s"expected ~4 compacted files, got $n")
  }

  test("dataDrift over z-ordered sides prunes row groups on the non-sort dimension") {
    import graft.operators.{DiffConfig, DriftCompare, TableRules}
    import graft.sources.ParquetSide

    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong, x * 64L + y)).toDF("x", "y", "v")
    // side2 mutates one payload INSIDE the filter box so the diff is non-empty
    val mutated = grid.withColumn("v",
      when($"x" === 10 && $"y" === 10, lit(-1L)).otherwise($"v"))

    def writeSides(layout: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val d1 = java.nio.file.Files.createTempDirectory("side1").toString
      val d2 = java.nio.file.Files.createTempDirectory("side2").toString
      layout(grid).write.mode("overwrite").parquet(s"$d1/pts.parquet")
      layout(mutated).write.mode("overwrite").parquet(s"$d2/pts.parquet")
      (d1, d2)
    }
    // the filter is on y ONLY — the dimension a single-column x-sort
    // cannot prune. Row-group footer min/max is the pruning mechanism
    // (each 512-row output file is one row group here).
    val cfg = DiffConfig(tableRules = Map("pts" -> TableRules(
      customQuery = Some("SELECT * FROM pts WHERE y BETWEEN 8 AND 15"))))

    // the diff's final pass goes through queryExecution.toRdd, so the
    // file scans execute in a different QueryExecution than the returned
    // DataFrame — task-level input metrics (records actually decoded
    // from parquet) are the reliable observation point for row-group skip
    def scanRowsAndDiff(d1: String, d2: String): (Long, Long) = {
      val read = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        // drain first: task-end events from EARLIER suites/tests arrive
        // asynchronously and would leak into the counter (measured
        // cross-suite flake: 4111 decoded rows vs the 4096 bound) —
        // wait for quiescence, then zero before the measured run
        var prev0 = -1L
        var spins0 = 0
        while (read.get() != prev0 && spins0 < 40) {
          prev0 = read.get(); Thread.sleep(250); spins0 += 1
        }
        read.set(0)
        val diff = new DriftCompare(spark,
          ParquetSide(spark, d1, "db1"), ParquetSide(spark, d2, "db2"), cfg)
          .dataDrift("pts").get
        val n = diff.collect().length.toLong
        // listener events are async: wait until the counter stops moving
        var prev = -1L
        var spins = 0
        while (read.get() != prev && spins < 40) {
          prev = read.get(); Thread.sleep(250); spins += 1
        }
        (read.get(), n)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (zd1, zd2) =
      writeSides(df => graft.operators.Layout.zOrderLayout(df, "x", "y", 8))
    val (ld1, ld2) = writeSides(df =>
      df.repartitionByRange(8, $"x").sortWithinPartitions("x"))
    val (zRead, zDiff) = scanRowsAndDiff(zd1, zd2)
    val (lRead, lDiff) = scanRowsAndDiff(ld1, ld2)
    // same answer either way: the one mutated row, seen from both sides
    assert(zDiff == 2 && lDiff == 2, s"diff rows z=$zDiff lin=$lDiff")
    // x-sorted files all span y fully: footer stats can skip NOTHING —
    // both sides' scans decode every stored row before the post-scan filter
    assert(lRead >= 2L * 64 * 64, s"linear layout must read all rows, got $lRead")
    // z-ordered files are y-compact: most row groups' [min,max] miss
    // [8,15] and are skipped before decoding
    assert(zRead <= lRead / 2,
      s"z-order must prune at least half the rows ($zRead vs $lRead)")
  }
}

class AqeSkewJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("AQE marks and splits the skewed partition (isSkew=true in final plan)") {
    val prev = Map(
      "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.adaptive.skewJoin.enabled" -> spark.conf.get("spark.sql.adaptive.skewJoin.enabled"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // 95% of left rows share one key; right is uniform
      val left = spark.range(60000)
        .select(when($"id" % 20 =!= 0, lit(7L)).otherwise($"id" % 100).as("k"),
          concat(lit("pad-"), $"id").as("payload"))
      val right = spark.range(100).select($"id".as("k"), lit("dim").as("d"))
      val joined = left.join(right, "k")
      assert(joined.collect().length == 60000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isSkew=true") || plan.contains("skew=true"),
        s"expected AQE to flag the skewed join partition:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("goldenRecord is ONE map-side-combined aggregation, no window") {
    val rows = spark.range(10000).selectExpr("id % 100 AS cluster",
      "id AS rid", "CAST(id % 7 AS DOUBLE) AS score",
      "CASE WHEN id % 3 = 0 THEN NULL ELSE concat('v', id) END AS f1")
    val p = graft.operators.Dedup
      .goldenRecord(rows, "cluster", Seq("f1"), "score", "rid")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"no window over clusters:\n$p")
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"exactly one shuffle on the cluster key:\n$p")
    // struct-max over a string-bearing struct plans as SortAggregate,
    // which still combines map-side: assert the partial_max below the
    // exchange (the property that bounds the shuffle at one row per
    // (cluster, partition))
    assert(p.contains("partial_max"),
      s"partial aggregate must run below the exchange:\n$p")
  }

  test("lineDedup: grouped rebuild from the doc's own lines — no corpus window, no global sort") {
    val docs = spark.range(2000).selectExpr("id AS doc_id",
      "concat('HEAD\n', 'line', id, '\nFOOT') AS text")
    val p = graft.operators.TextAnalysis.lineDedup(docs, "text", "doc_id", 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"no window anywhere:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort (order rebuilt per-doc via array_sort):\n$p")
  }

  test("tCloseness attaches value/grand totals by broadcast over the pair table") {
    val rows = spark.range(30000).selectExpr("id % 20 AS q",
      "CAST(id % 5 AS STRING) AS s")
    val p = graft.operators.Privacy.tCloseness(rows, Seq("q"), "s", 0.2)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"value totals must broadcast:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort anywhere:\n$p")
  }

  test("cdcOverlapPairs prunes stop-chunks BELOW the pair self-join") {
    val docs = spark.range(2000).selectExpr("id AS doc_id",
      "concat('shared boilerplate text block here we go ', id) AS text")
    val p = graft.operators.Dedup
      .cdcOverlapPairs(docs, "text", "doc_id", 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), s"expected stop-chunk semi-join:\n$p")
    val semiIdx = p.indexOf("LeftSemi")
    val joinIdx = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .map(j => p.indexOf(j)).filter(_ >= 0).minOption.getOrElse(-1)
    assert(joinIdx >= 0 && semiIdx > joinIdx,
      s"prune must nest under the pair join:\n$p")
  }

  test("coOccurrence prunes infrequent items BEFORE the pair self-join (Apriori)") {
    val baskets = spark.range(30000).select(($"id" % 1000).as("basket"),
      concat(lit("i"), $"id" % 300).as("item"))
    // r18: the pruned basket-item table is materialized ONCE by an eager
    // checkpoint before the pair self-join, so the prune's LeftSemi no
    // longer appears in the final plan — capture the checkpoint's own
    // executed plan and audit the ordering across the two halves: the
    // semi-join lives in the construction plan (which contains NO pair
    // join), and the pair join consumes only the checkpointed RDD.
    val (df, constructionPlans) = capturingExecutedPlans {
      graft.operators.EventAnalytics.coOccurrence(baskets, "basket", "item", 5)
    }
    val pruned = constructionPlans.find(_.contains("LeftSemi"))
      .getOrElse(fail("expected the frequent-item semi-join in the " +
        s"checkpoint construction plans (${constructionPlans.size} captured)"))
    // the prune plan must not itself contain the basket-keyed pair join
    assert(!pruned.contains("item2"),
      s"the prune must run before any pair expansion:\n$pruned")
    val p = df.queryExecution.executedPlan.toString
    val pairJoinIdx = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .map(j => p.indexOf(j)).filter(_ >= 0).minOption.getOrElse(-1)
    assert(pairJoinIdx >= 0, s"expected a pair join:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the pair join must consume the PRUNED checkpointed table:\n$p")
  }

  test("html extraction and url canonicalization are narrow codegen chains: no Exchange, no UDF") {
    val dir = java.nio.file.Files.createTempDirectory("planaudit-html").toString
    spark.range(200).select($"id".as("doc_id"),
        concat(lit("<p>doc "), $"id", lit("</p>")).as("text"))
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val q = docs.select(col("doc_id"),
      TextAnalysis.extractHtmlText(col("text")).as("t"),
      TextAnalysis.htmlTitle(col("text")).as("title"),
      TextAnalysis.htmlLinkCount(col("text")).as("links"),
      TextAnalysis.htmlNoindex(col("text")).as("ni"),
      TextAnalysis.normalizeUrl(col("text")).as("u"))
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"expected shuffle-free extraction plan:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"expected built-in-only (codegen) expressions:\n$p")
    // the "*(n)" stage prefix is executedPlan.toString's codegen marker
    assert(p.trim.startsWith("*("), s"expected whole-stage codegen span:\n$p")
  }

  test("driver collects stay bounded: the largest-configured pools respect their caps") {
    // NOTES r13 "Driver-action audit": the three sites with the largest
    // configurable driver pools, asserted behaviorally so removing a cap
    // fails the suite, not the cluster.
    // 1. BPE vocab pool — 300 distinct tokens, cap at 5: the driver sees
    //    at most maxVocab words; merges still come out (of the capped set)
    val docs = spark.range(300)
      .select(concat(lit("w"), $"id", lit(" w"), $"id", lit(" shared token")).as("text"))
    val merges = graft.operators.Bpe.train(docs, "text", nMerges = 3, maxVocab = 5)
    assert(merges.nonEmpty && merges.size <= 3)
    // 2. connected components small-graph probe — edges above the
    //    smallGraphEdges bound must take the distributed iterative path
    //    and still produce correct components (one 40-node chain)
    val chain = spark.range(39).select($"id".as("id1"), ($"id" + 1).as("id2"))
    val cc = graft.operators.Dedup.connectedComponents(chain, smallGraphEdges = 10L)
    assert(cc.select(countDistinct("component")).head().getLong(0) == 1L)
    assert(cc.count() == 40L)
    // 3. mmrSelect candidate pool — the distributed stage is a top-k
    //    (CollectLimit/TakeOrdered), never a full-corpus sort-collect
    val emb = spark.range(500).select($"id".as("vec_id"),
      ($"id" % 97).cast("double").as("rel"),
      array(($"id" % 13).cast("double"), lit(1.0)).as("v"))
    val sel = graft.operators.Similarity.mmrSelect(
      emb, "vec_id", "v", "rel", k = 4, lambda = 0.5, candidateN = 16)
    assert(sel.count() == 4L)
  }

  test("adamicAdar prunes capped features BEFORE the quadratic pair expansion") {
    val inc = spark.range(20000).select(
      concat(lit("e"), $"id" % 500).as("ent"),
      concat(lit("f"), $"id" % 400).as("feat"))
    // r18: the capped incidence list is materialized ONCE by an eager
    // checkpoint before the pair self-join (the two join sides carry
    // different projections, so exchange reuse could not dedupe them) —
    // the degree-cap filter therefore lives in the checkpoint's own
    // executed plan, and the pair join must consume only the
    // checkpointed (already-capped) RDD: a capped hub feature still
    // never reaches the d² pair fan-out.
    val (df, constructionPlans) = capturingExecutedPlans {
      graft.operators.Graph.adamicAdar(inc, "ent", "feat",
        minCommon = 2L, maxFeatureDegree = 50L)
    }
    val capped = constructionPlans.find(_.contains("<= 50"))
      .getOrElse(fail("expected the degree-cap filter in the checkpoint " +
        s"construction plans (${constructionPlans.size} captured)"))
    assert(!capped.contains("s2"),
      s"the cap must run before any pair expansion:\n$capped")
    val p = df.queryExecution.executedPlan.toString
    val joinIdx = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .map(j => p.indexOf(j)).filter(_ >= 0).minOption.getOrElse(-1)
    assert(joinIdx >= 0, s"expected a pair join:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the pair join must consume the capped checkpointed table:\n$p")
  }

  /** Run `body` (an operator whose eager checkpoints execute during
    * construction) while capturing every executed plan via a
    * QueryExecutionListener — the r18 audit hook for prunes/joins that
    * moved inside checkpoint materializations and no longer appear in
    * the returned frame's plan. Listener delivery is async, so poll
    * until the captured set is quiescent (bounded).
    */
  private def capturingExecutedPlans(body: => DataFrame): (DataFrame, Seq[String]) = {
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = body
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var stable = 0
      var last = -1
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(150)
        val n = plans.size()
        if (n == last && n > 0) stable += 1 else stable = 0
        last = n
      }
      import scala.jdk.CollectionConverters._
      (df, plans.synchronized { plans.asScala.toVector })
    } finally spark.listenerManager.unregister(listener)
  }

  // local copies of the audit helpers (this suite predates them)
  private def auditPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
  private def auditFinalPlan(df: DataFrame): String = {
    df.collect(); df.queryExecution.executedPlan.toString
  }

  test("thresholdMetrics scans the corpus once: explode sits above the level agg") {
    val rows = (0L until 400L).map(i => (i, (i % 11) / 10.0, i % 3 == 0))
      .toDF("id", "score", "y")
    val out = graft.operators.Eval.thresholdMetrics(rows, "score", col("y"),
      (0 to 10).map(_ / 10.0))
    val p = auditPlan(out)
    // ONE aggregate pass over the input rows (partial+final = 2
    // HashAggregate pairs for the level table, 2 for the sweep), and
    // the 11-way Generate (explode) above the first aggregation — so
    // the threshold fan-out multiplies 11 score levels, never rows
    val genIdx = p.indexOf("Generate explode")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(genIdx >= 0, s"expected the threshold explode:\n$p")
    assert(aggIdx > genIdx,
      s"expected the level aggregation BELOW the explode (deeper in plan):\n$p")
    assert(p.sliding("LocalTableScan".length).count(_ == "LocalTableScan") <= 1,
      s"expected a single pass over the input:\n$p")
  }

  test("zipfFit top-K is TakeOrdered; regression runs on the bounded table") {
    val docs = (0L until 200L)
      .map(i => (i, s"tok${i % 7} tok${i % 11} tok${i % 13} filler"))
      .toDF("doc_id", "text")
    val p = auditPlan(graft.operators.TextAnalysis.zipfFit(docs, "text", topK = 50))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k with driver merge, no global sort:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"expected no range exchange for the vocabulary cut:\n$p")
  }

  test("robustScale attaches both medians via broadcast joins") {
    val rows = (0L until 300L).map(i => (i, s"g${i % 3}", (i % 17).toDouble))
      .toDF("id", "g", "v")
    val p = auditFinalPlan(
      graft.operators.Stats.robustScale(rows, "id", "g", "v"))
    // two bounded median tables broadcast back to the fact rows — the
    // fact side must never range-shuffle
    assert(p.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 2,
      s"expected two broadcast attach joins (median, MAD):\n$p")
  }

  test("assortativity joins are keyed on node id, no cartesian stage") {
    val edges = (0L until 200L).map(i => (i % 20, (i * 7) % 23 + 100))
      .toDF("src", "dst")
    val p = auditFinalPlan(graft.operators.Graph.assortativity(edges))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"expected equi-joins only:\n$p")
  }

  test("ratioMetricCI collapses the corpus in ONE partial+final aggregation") {
    val units = spark.range(5000).select(($"id" % 97).cast("double").as("num"),
      ($"id" % 13 + 1).cast("double").as("den"))
    val p = auditPlan(graft.operators.Experiment.ratioMetricCI(units, "num", "den"))
    // partial then final HashAggregate; the only exchange is the one-row
    // single-partition gather — corpus rows cross the wire as ONE
    // combined moment vector per task, never as rows
    assert(p.split("HashAggregate").length >= 3, s"expected partial+final agg:\n$p")
    assert(p.split("Exchange").length == 2, s"expected exactly one exchange:\n$p")
  }

  test("diffInDiff is the same single-fold shape: one exchange, conditional sums") {
    val obs = spark.range(5000).select(
      when($"id" % 2 === 0, "A").otherwise("B").as("arm"),
      ($"id" % 3 === 0).as("post"), ($"id" % 11).cast("double").as("v"))
    val p = auditPlan(graft.operators.Experiment.diffInDiff(
      obs, "arm", col("post"), "v", "A", "B"))
    assert(p.split("HashAggregate").length >= 3, s"expected partial+final agg:\n$p")
    assert(p.split("Exchange").length == 2, s"expected exactly one exchange:\n$p")
  }

  test("jackknifeRatioCI: corpus shuffles once into buckets; windows run on the bounded bucket table") {
    val units = spark.range(5000).select(($"id" % 20).as("b"),
      ($"id" % 97).cast("double").as("num"), ($"id" % 13 + 1).cast("double").as("den"))
    val p = auditPlan(graft.operators.Experiment.jackknifeRatioCI(units, "b", "num", "den"))
    // exactly one hash exchange (the per-bucket partial+final agg);
    // everything after — leave-one-out windows, replicate fold — moves
    // only the B-row bucket table through single-partition stages
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected one bucket-key exchange:\n$p")
    val firstHashExchange = p.indexOf("Exchange hashpartitioning")
    assert(p.indexOf("Window") < firstHashExchange,
      s"expected windows (printed above) to consume the bucket table, not the corpus:\n$p")
  }

  test("winsorizedEffect: the one-row cap broadcasts; the fold is one partial+final agg") {
    val obs = spark.range(5000).select(
      when($"id" % 2 === 0, "A").otherwise("B").as("arm"),
      ($"id" % 97).cast("double").as("v"))
    val p = auditPlan(graft.operators.Experiment.winsorizedEffect(
      obs, "arm", "v", 0.95, "A", "B"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected the 1-row cap to broadcast:\n$p")
    // the capped fold itself is partial+final (corpus crosses once)
    assert(p.split("HashAggregate").length >= 3, s"expected partial+final agg:\n$p")
  }

  test("upliftByQuantile: edge row broadcasts; per-bucket agg is the only hash exchange") {
    val obs = spark.range(5000).select(
      when($"id" % 2 === 0, "A").otherwise("B").as("arm"),
      ($"id" % 37).cast("double").as("score"), ($"id" % 3 === 0).as("y"))
    val p = auditPlan(graft.operators.Experiment.upliftByQuantile(
      obs, "arm", "score", col("y"), 5, "A", "B"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected the 1-row edge array to broadcast:\n$p")
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected exactly one bucket-key exchange:\n$p")
  }

  test("alwaysValidMonitor: one day-keyed exchange; the trajectory walks the bounded daily table") {
    val obs = spark.range(5000).select(($"id" % 30).as("day"),
      when($"id" % 2 === 0, "A").otherwise("B").as("arm"),
      ($"id" % 5 === 0).as("y"))
    val p = auditPlan(graft.operators.Experiment.alwaysValidMonitor(
      obs, "day", "arm", col("y"), "A", "B"))
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected exactly one day-keyed exchange:\n$p")
    assert(p.split("HashAggregate").length >= 3, s"expected partial+final agg:\n$p")
  }

  test("clusterRobustZ: per-arm totals broadcast back; both folds are distributed aggs") {
    val obs = spark.range(5000).select(
      when($"id" % 2 === 0, "A").otherwise("B").as("arm"),
      ($"id" % 500).cast("string").as("cl"), ($"id" % 7 === 0).as("y"))
    val p = auditPlan(graft.operators.Experiment.clusterRobustZ(
      obs, "arm", "cl", col("y"), "A", "B"))
    // the 2-row per-arm totals attach via broadcast; the cluster table
    // itself never funnels through a single partition before the final
    // per-arm moment fold
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"expected broadcast totals attach:\n$p")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"the only cross join must be the bounded 1x1 arm-side join:\n$p")
  }

  test("changepoint windows run above the caller's bounded aggregation only") {
    val series = spark.range(400).select(($"id" % 40).as("t"),
      ($"id" % 7).cast("double").as("v"))
      .groupBy("t").agg(sum($"v").as("rev"))
    val df = graft.operators.Stats.changepoint(series, "t", "rev")
    val p = auditPlan(df)
    // the argmax is TakeOrdered over the bounded split table, never a
    // global sort of anything corpus-sized
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered argmax:\n$p")
    assert(!p.contains("Sort [stat"), s"expected no global stat sort:\n$p")
  }

  test("backtestForecast: all 8 lags share ONE key exchange and one sort") {
    val daily = spark.range(600).select(($"id" % 5).cast("string").as("k"),
      ($"id" / 5).as("t"), ($"id" % 97).cast("double").as("v"))
    val df = graft.operators.Stats.backtestForecast(daily, "k", "t", "v")
    val p = auditPlan(df)
    // ONE exchange+sort feeds the stacked Window (7 naive lags + the
    // seasonal lag share the (_k, _t) spec) — and the aggregation
    // reuses that _k partitioning (hashpartitioning(_k) satisfies
    // clustering on (_k, model, h)), so the whole backtest is a
    // single-shuffle operator
    assert(p.split("Sort \\[_k").length == 2,
      s"expected one (_k, _t) sort shared by all lags:\n$p")
    assert(p.split("Exchange hashpartitioning").length == 2,
      s"expected ONE shuffle total (window partitioning reused):\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      p.split("HashAggregate").length >= 3,
      s"expected map-side partial aggregation:\n$p")
  }

  test("detectSecrets: one candidate-set exchange, row-local entropy, no window") {
    val docs = spark.range(500).select($"id".as("doc_id"),
      concat(lit("words sk-"), md5($"id".cast("string"))).as("text"))
    val p = auditPlan(graft.operators.TextAnalysis.detectSecrets(docs))
    // at most the (doc, tok) distinct may shuffle; entropy must not
    // re-shuffle exploded characters (the first version did, and the
    // 10x probe measured it super-linear), and no window may appear
    assert(p.split("Exchange hashpartitioning").length <= 2,
      s"expected at most the candidate distinct exchange:\n$p")
    assert(!p.contains("Window"), s"no window may appear:\n$p")
    assert(!p.contains("Generate explode(split"),
      s"entropy must be row-local, not a character explode:\n$p")
  }

  test("mahalanobisScore scoring stage is a narrow projection: no exchange") {
    val vecs = spark.range(300).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        i => sin(($"id" + i).cast("double"))).as("embedding"))
    val p = auditPlan(graft.operators.Similarity.mahalanobisScore(vecs))
    assert(!p.contains("Exchange"),
      s"per-row scoring must not shuffle (moments already collected):\n$p")
  }

  test("dpQuantile argmax is TakeOrdered over the bounded value table") {
    // dpQuantile materializes its one result row eagerly (so the persist
    // on the value table can be released safely) — audit the factored-out
    // argmax plan the eager head() executes, not the returned local row
    val vals = spark.range(5000)
      .select((pmod($"id", lit(200))).cast("double").as("v"))
      .groupBy($"v").agg(count(lit(1)).as("c"))
    val p = auditPlan(graft.operators.Privacy.dpQuantileArgmaxPlan(
      vals, 5000L, 0.9, 1.0, "dpq"))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered argmax, not a global sort:\n$p")
  }

  test("heapsCurve never sorts the corpus: the only window keys are the buckets") {
    val docs = spark.range(2000).select($"id".as("doc_id"),
      concat(lit("tok"), pmod($"id", lit(37)), lit(" common words")).as("text"))
    val p = auditPlan(graft.operators.TextAnalysis.heapsCurve(docs, buckets = 10))
    assert(!p.contains("Sort [doc_id"),
      s"no global doc sort may exist:\n$p")
    assert(p.contains("Sort [_b"),
      s"the cumulative window sorts only the bounded bucket table:\n$p")
  }

  test("hodgesLehmannShift pairs value CELLS via broadcast — no cartesian, no row-level pair set") {
    val df = spark.range(4000).select(
      when($"id" % 2 === 0, "a").otherwise("b").as("g"),
      (pmod($"id", lit(37))).cast("double").as("v"))
    // the op materializes eagerly, so audit the factored-out pairing
    // plan it executes (the dpQuantile pattern)
    val counts = df.filter($"g".isin("a", "b"))
      .groupBy(($"v" * 100).cast("long").as("_v"))
      .agg(sum(when($"g" === "a", 1L).otherwise(0L)).as("_c1"),
        sum(when($"g" === "b", 1L).otherwise(0L)).as("_c2"))
    val p = auditPlan(graft.operators.Stats.hlDiffMassPlan(counts))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"cell pairing must broadcast the smaller cell table:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // and the operator itself returns the right answer on this data
    val r = graft.operators.Stats.hodgesLehmannShift(df, "g", "v", "a", "b")
    assert(r.head().getAs[Long]("n_pairs") == 2000L * 2000L)
  }

  test("logRank windows run only over the bounded lifetime table") {
    val ev = spark.range(3000).select(
      ($"id" % 300).as("user_id"),
      ($"id" * 86400L).cast("timestamp").as("ts"),
      concat(lit("t"), ($"id" % 4)).as("event_type"))
    val p = auditPlan(graft.operators.EventAnalytics.logRank(ev, treatEvent = "t1"))
    // the only sort feeding a window must key on the lifetime column t,
    // never on user_id or raw event order
    assert(!p.contains("Sort [user_id"),
      s"no corpus-keyed sort may exist:\n$p")
    assert(p.contains("Sort [t#") || p.contains("Sort [t "),
      s"the at-risk windows sort only the bounded lifetime table:\n$p")
  }

  test("passAtK is one problem-keyed fold; the falling factorial is row-local") {
    val df = spark.range(2000).select(($"id" % 100).as("prob"),
      ($"id" % 3 === 0).as("ok"))
    val p = auditPlan(graft.operators.Eval.passAtK(df, "prob", $"ok", Seq(1, 3)))
    // no second corpus aggregation: the per-k stats come from a window
    // over the already-collapsed per-problem table
    assert(p.split(java.util.regex.Pattern.quote(
      "Exchange hashpartitioning(prob")).length <= 2,
      s"the corpus must fold exactly once on the problem key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Generate explode(sequence"),
      s"the k-term product must stay inside the projection, not explode rows:\n$p")
  }

  test("fairnessGaps: one corpus exchange; windows run on the bounded group table") {
    val df = spark.range(5000).select(
      concat(lit("g"), pmod($"id", lit(7))).as("grp"),
      ($"id" % 3 === 0).as("y"), ($"id" % 2 === 0).as("p"))
    val p = auditPlan(graft.operators.Eval.fairnessGaps(
      df, "grp", $"y", $"p"))
    assert(p.split(java.util.regex.Pattern.quote(
      "Exchange hashpartitioning(grp")).length <= 2,
      s"the corpus must fold exactly once on the group key:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("entropyRate: the only corpus sort feeds the per-user lag window") {
    val ev = spark.range(4000).select($"id".as("event_id"),
      ($"id" % 200).as("user_id"),
      ($"id" * 1000L).cast("timestamp").as("ts"),
      concat(lit("t"), pmod($"id", lit(5))).as("event_type"))
    val p = auditPlan(graft.operators.EventAnalytics.entropyRate(ev))
    assert(p.contains("Sort [user_id"),
      s"the lag window must sort within user partitions:\n$p")
    // the transition/row-total folds and the scalar total must NOT
    // introduce another corpus-wide sort
    assert(p.split("Sort \\[user_id").length <= 3,
      s"only the lag window may sort the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("frequentSequences: Apriori semi-joins broadcast under the trigram count") {
    val ev = spark.range(2000).select($"id".as("event_id"),
      ($"id" % 40).as("user_id"), ($"id" * 1000).cast("timestamp").as("ts"),
      concat(lit("t"), ($"id" % 5)).as("event_type"))
    val p = auditPlan(graft.operators.EventAnalytics.frequentSequences(ev))
    // both constituent-bigram membership probes must be broadcast semi
    // joins (the frequent set is bounded by |types|²) — never a shuffle
    // of the corpus-sized gram table against it
    assert(p.split("BroadcastHashJoin").count(_.contains("LeftSemi")) >= 2 ||
      p.split("LeftSemi, BuildRight").length >= 3,
      s"expected two broadcast LeftSemi probes:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge join may touch the gram table:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("lorenzCurve runs on the range-exchange prefix sum: no Window node") {
    // the distinct-value table of a continuous metric is corpus-sized;
    // a bare Window.orderBy would funnel it through ONE task. r15 moved
    // lorenzCurve onto the pinned-range-exchange prefix sum — the plan
    // must contain no Window operator at all.
    val df = spark.range(2000).select(($"id" % 997).cast("double").as("m"))
    val out = graft.operators.Stats.lorenzCurve(df, "m", 10)
    out.collect() // finalize AQE on THIS QueryExecution
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"expected no Window in lorenzCurve plan:\n$p")
    graft.operators.Materialize.release(out)
  }

  test("r14 broadcast audit: data-derived dimension frames carry no forced hint") {
    // counts ResolvedHint(strategy=broadcast) nodes in the ANALYZED plan
    // — the forced hints a user wrote, before AQE gets any say. The
    // audited operators join frames keyed by data-derived vocabularies
    // (features, items, groups, domains, types, p-values); a forced
    // hint there OOMs the driver at 100× instead of degrading.
    def forcedHints(df: DataFrame): Int =
      "(?i)strategy=broadcast".r
        .findAllIn(df.queryExecution.analyzed.toString).length
    val inc = spark.range(300).select(($"id" % 40).as("ent"), ($"id" % 17).as("f"))
    assert(forcedHints(graft.operators.Graph.adamicAdar(inc, "ent", "f", 1L)) == 0,
      "adamicAdar must not force-broadcast the per-feature degree table")
    val baskets = spark.range(400).select(($"id" % 50).as("b"), ($"id" % 13).as("i"))
    // exactly ONE hint NODE since r18: the one-row basket-count scalar.
    // The support-bounded Apriori frequent-set hint (the only other
    // legal source) now executes inside prunedBasketItems' eager
    // checkpoint during construction, so it never appears in the result
    // frame's analyzed plan. The unbounded item-count dimension still
    // contributes ZERO (that was the fixed site).
    assert(forcedHints(graft.operators.EventAnalytics
      .associationRules(baskets, "b", "i", 2L)) == 1,
      "associationRules may hint only the basket-count scalar " +
        "(the frequent-set hint rides inside the checkpoint construction)")
    val vals = spark.range(500).select(($"id" % 20).as("g"), ($"id" % 7).cast("double").as("v"))
    assert(forcedHints(graft.operators.EventAnalytics.robustOutliers(vals, "g", "v")) == 0,
      "robustOutliers must not force-broadcast per-group medians/MADs")
    // r15: centroidOutliers joins a per-LABEL centroid table — the same
    // data-derived dimension class (domain, cluster id) as
    // robustOutliers; the r14 version force-broadcast it
    val emb = spark.range(60).select($"id".as("vid"),
      ($"id" % 4).cast("string").as("lab"),
      array(($"id" % 5).cast("double"), ($"id" % 3).cast("double")).as("vec"))
    assert(forcedHints(graft.operators.Similarity
      .centroidOutliers(emb, "vid", "lab", "vec")) == 0,
      "centroidOutliers must not force-broadcast the per-label centroid table")
    assert(forcedHints(graft.operators.Stats.robustScale(
      spark.range(200).select($"id", ($"id" % 11).cast("string").as("g"),
        ($"id" % 13).cast("double").as("v")), "id", "g", "v")) == 0,
      "robustScale must not force-broadcast per-group medians/MADs")
    val docs = spark.range(300).select(($"id" % 9).cast("string").as("dom"), $"id".as("k"))
    assert(forcedHints(graft.operators.Sampling
      .temperatureSample(docs, "dom", "k", 0.7, 100)) == 0,
      "temperatureSample must not force-broadcast the per-domain quota")
    val ps = spark.range(60).select(($"id".cast("double") / 100.0).as("p"))
    assert(forcedHints(graft.operators.Stats.bhAdjust(ps, "p", 0.05)) == 0,
      "bhAdjust must not force-broadcast the per-p adjustment table")
    // TPC-H shapes: q3's customer⋈orders side is fact-scale (zero
    // hints); q8 keeps exactly its three constant dims (nation ×2,
    // region)
    assert(forcedHints(graft.SparkEntry.queries("q3_top_orders")(spark, sfDir)) == 0,
      "q3 must not force-broadcast the customer⋈orders side")
    assert(forcedHints(graft.SparkEntry.queries("q8_market_share")(spark, sfDir)) == 3,
      "q8 may hint only nation (×2) and region")
  }

  test("r15 ops: no forced hints, no cartesian corpora, probe-partitioned argmax") {
    def forcedHints(df: DataFrame): Int =
      "(?i)strategy=broadcast".r
        .findAllIn(df.queryExecution.analyzed.toString).length
    def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
    val emb = spark.range(80).select($"id".as("vid"),
      array(($"id" % 5).cast("double"), ($"id" % 3).cast("double"),
        ($"id" % 7).cast("double"), lit(1.0)).as("vec"))
    // semanticJoin: both corpora ride the banded equi-join; the argmax
    // window partitions by probe id (hash exchange), never a global sort
    val sj = graft.operators.Similarity.semanticJoin(emb, emb, "vid", "vec", 0.9, 4)
    assert(forcedHints(sj) == 0, "semanticJoin must not force-broadcast a corpus")
    val psj = planOf(sj)
    assert(!psj.contains("CartesianProduct"),
      s"semanticJoin must never go all-pairs:\n$psj")
    assert(!psj.contains("rangepartitioning"),
      s"semanticJoin argmax must be probe-partitioned, not globally sorted:\n$psj")
    // semanticDedupLsh (r17): the candidate-pair stage is the same
    // (t, bucket, sub) equi-join — audit it directly (the operator
    // itself runs connected components eagerly, so its final plan is a
    // LogicalRDD join; the pair stage is where a cartesian could hide)
    val refined = graft.operators.Similarity.lshKeyed(
      emb.select($"vid".as("id"), $"vec".as("v")), 4, 8, 16, 64, "id", "v",
      refineAll = true)
    val sd = refined.select($"t", $"bucket", $"sub", $"id".as("id1"),
        $"v".as("v1"))
      .join(refined.select($"t", $"bucket", $"sub", $"id".as("id2"),
        $"v".as("v2")), Seq("t", "bucket", "sub"))
      .filter($"id1" < $"id2")
    val psd = planOf(sd)
    assert(!psd.contains("CartesianProduct"),
      s"semanticDedupLsh pair stage must never go all-pairs:\n$psd")
    // pcaProject (r17): the projection is ONE reference-object kernel —
    // the plan must carry project_vec and no cartesian (the per-dim
    // mean / Gram folds happen at CONSTRUCTION time, driver-side)
    val pca = graft.operators.Similarity.pcaProject(
      emb.select($"vid", $"vec"), "vid", "vec", 2, center = false)
    val ppca = planOf(pca)
    assert(ppca.contains("project_vec"),
      s"pcaProject must project through the kernel:\n$ppca")
    assert(!ppca.contains("CartesianProduct"), s"pcaProject cartesian:\n$ppca")
    // negativeTable / ppmiPairs (r17): the only cross join is the
    // broadcast ONE-ROW total (the pageRank dangling-mass idiom)
    val walks = spark.range(60).select(($"id" % 9).as("walk_id"),
      ($"id" % 7).as("step"), ($"id" % 11).as("node"))
    val nt = graft.operators.Graph.negativeTable(walks)
    assert(!planOf(nt).contains("CartesianProduct"),
      "negativeTable total must broadcast, not cartesian")
    val pm = graft.operators.Graph.ppmiPairs(
      walks.select($"walk_id".as("center"), $"step".as("context"),
        lit(2L).as("n")))
    assert(!planOf(pm).contains("CartesianProduct"),
      "ppmiPairs total must broadcast, not cartesian")
    // randomWalks: every step is a node-key equi-join, frontier-bounded
    val edges = spark.range(300).select(($"id" % 40).as("src"),
      (($"id" * 7) % 40).as("dst"))
    val starts = edges.select($"src".as("id")).distinct()
    val rw = graft.operators.Graph.randomWalks(edges, starts, 3)
    assert(forcedHints(rw) == 0, "randomWalks must not force-broadcast")
    assert(!planOf(rw).contains("CartesianProduct"),
      "randomWalks steps must stay equi-joins")
    // weightedWalks (r16): the cumulative intervals live in the
    // checkpointed adjacency, so the step plan must contain NO Window
    // node at all — each step is an equi-join with a residual interval
    // filter, never a per-walk cumulative sort. r17: the join key must
    // include the coarse interval bucket (_tb = threshold bucket), so
    // candidate PRODUCTION is ~deg/1024 per walk step, not deg
    val wedges = edges.withColumn("weight", ($"src" % 3) + 1)
    val ww = graft.operators.Graph.weightedWalks(wedges, starts, 3)
    val pww = planOf(ww)
    assert(!pww.contains("Window"),
      s"weightedWalks must not window per step:\n$pww")
    assert(!pww.contains("CartesianProduct"),
      s"weightedWalks steps must stay equi-joins:\n$pww")
    assert(forcedHints(ww) == 0, "weightedWalks must not force-broadcast")
    assert(pww.contains("_tb"),
      s"weightedWalks step join must carry the interval-bucket key:\n$pww")
    // mmdDrift: each corpus folds to ONE aggregate row before the only
    // cross join (one-row × one-row — the broadcast scalar idiom)
    val md = graft.operators.Similarity.mmdDrift(emb, emb, "vec", 4)
    assert(forcedHints(md) == 0, "mmdDrift must not force-broadcast")
    val aggCount = "HashAggregate".r.findAllIn(planOf(md)).length
    assert(aggCount >= 4, "both sides must fold through partial+final aggregation")
  }

  test("r16 cell ops: bounded joins, no forced hints, no corpus-scale windows") {
    def forcedHints(df: DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
    val emb = spark.range(60).select($"id".as("vid"),
      array(($"id" % 5).cast("double"), ($"id" % 3).cast("double"),
        ($"id" % 7).cast("double"), lit(1.0)).as("vec"))
    val c1 = Array.tabulate(3, 4)((c, j) => if (j == c) 5.0 else 0.0)
    val c2 = Array.tabulate(3, 4)((c, j) => if (j == (c + 1) % 3) 5.0 else 0.0)
    // cellMatching: the pairs frame is k rows, masses are grouped
    // aggregates — nothing may force a hint or window by the corpus
    val cm = graft.operators.Similarity.cellMatching(emb, emb, "vec", c1, c2)
    assert(forcedHints(cm) == 0, "cellMatching must not force-broadcast")
    assert(!planOf(cm).contains("Window"), s"no windows:\n${planOf(cm)}")
    // clusterAgreement: the returned plan reads the CHECKPOINTED bounded
    // contingency (the corpus pass already ran at call time) — only
    // one-row scalar crosses remain, never a corpus-scale cartesian
    val ca = graft.operators.Similarity.clusterAgreement(emb, "vec", c1, c2)
    assert(forcedHints(ca) == 0, "clusterAgreement must not force-broadcast")
    val pca = planOf(ca)
    assert(!pca.contains("Window"), s"no windows:\n$pca")
    assert(pca.contains("Scan ExistingRDD") || pca.contains("LocalTableScan"),
      s"contingency must come from the checkpoint, not a rescan:\n$pca")
  }
}
