package graft

import graft.functions.{TokenArray, WordShingles}
import graft.operators._
import graft.sources.{FormatSide, MemorySide, ParquetSide}
import graft.types.TypeRender

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational / sketch / sampling / privacy / layout registry — the
  * remainder after the r17 per-family split (pivot/cube/window analytics,
  * approximate sketches, deterministic sampling and splits, anonymity,
  * space-filling-curve layout keys, federation).
  * (split out of PipelineRegistry in r17 — entries moved verbatim).
  */
private[graft] object PipelineRegistry {
  import Tables.t
  import RegistryFixtures._
  import SparkEntry.dmap

  def queries: Map[String, (SparkSession, String) => DataFrame] = dmap(

    // ---- pivot: event counts per user across a fixed category list ----
    "q_pivot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    }),


    // ---- cube: all grouping-set combinations with grouping ids ----
    "q_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("n"),
          dsum("o_totalprice").as("sum_price"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),


    // ---- unpivot/melt: wide measures to long form ----
    "q_unpivot" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          expr("stack(2, 'p_size', CAST(p_size AS DOUBLE), 'p_retailprice', p_retailprice) AS (measure, value)"))
        .orderBy("p_partkey", "measure")
    }),


    // ---- JSON extraction over a string column (semi-structured path) ----
    "q_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .groupBy(pmod(col("k_val"), lit(10)).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k_val")).as("sum_k"))
        .orderBy("k_mod")
    }),


    // ---- skew: two-phase salted aggregation (== plain aggregate) ----
    "q_salted_agg" -> ((s, dir) => {
      Skew.saltedSumCount(Tables.events(s, dir), Seq("event_type"), "value", 16)
        .orderBy("event_type")
    }),


    // ---- skew: salted equi-join (== plain join output) ----
    "q_salted_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "user_id", "value")
      val dim = Tables.events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("user_events"))
      Skew.saltedJoin(ev, dim, Seq("user_id"), 8)
        .select("event_id", "user_id", "value", "user_events")
        .orderBy("event_id")
    }),


    // ---- rollup (multi-level aggregation with grouping ids) ----
    "q_rollup_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          dsum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),


    // ---- INTERSECT / EXCEPT set operations ----
    "q_set_ops" -> ((s, dir) => {
      val a = t(s, dir, "orders").filter("o_orderkey % 3 = 0")
        .select("o_orderkey", "o_orderstatus")
      val b = t(s, dir, "orders").filter("o_orderkey % 5 = 0")
        .select("o_orderkey", "o_orderstatus")
      a.intersect(b).withColumn("op", lit("intersect"))
        .unionByName(a.except(b).withColumn("op", lit("except")))
        .orderBy("op", "o_orderkey")
    }),


    // ---- bag diff under its second registry name: the same hash-keyed
    //      plan and answer as q_diff_bag ----
    "q_diff_bag_hashed" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val c = new DriftCompare(s,
        MemorySide("db1", Map("lineitem" -> li.unionByName(li.filter("l_orderkey % 7 = 0")))),
        MemorySide("db2", Map("lineitem" -> li)))
      c.dataDriftBag("lineitem").get.drop("hashed_row")
        .orderBy("l_orderkey", "l_linenumber")
    }),


    // ---- deterministic content-addressed train/val/test split ----
    "q_hash_split" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.hashBucket(col("doc_id")).as("bucket"),
        TextAnalysis.hashSplit(col("doc_id")).as("split"))
        .orderBy("doc_id")),


    // ---- GROUP-AWARE (leakage-safe) split: hash the group key instead
    //      of the row key, so every member of a group (here: language —
    //      in a real pipeline, a URL/domain or a near-dup cluster id)
    //      lands in the SAME split and no group straddles train/test ----
    "q_group_split" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.hashBucket(col("lang")).as("bucket"),
        TextAnalysis.hashSplit(col("lang")).as("split"))
        .orderBy("doc_id")),


    // ---- sketch-estimated join cardinality vs truth: lineitem joins
    //      orders on the order key; the CMS inner product upper-bounds
    //      the true size from two 4x256 counter tables ----
    "q_join_size_est" -> ((s, dir) => {
      // r18 restructure, same values (oracle-proven): aggregate each
      // side to (key, count) ONCE and share that table between the CMS
      // sketch (sketchCounted — identical counters, one md5 set per
      // DISTINCT key instead of per row) and the exact join size
      // (Σ n_li(k)·n_ord(k) ≡ |lineitem ⋈ orders| — multiplicities of a
      // key multiply under an equi-join), so the fact rows are never
      // joined row-by-row and the join shuffle carries key counts, not
      // rows (§2.3 aggregate before you shuffle).
      val liC = t(s, dir, "lineitem").groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("_n")).localCheckpoint(eager = true)
      val ordC = t(s, dir, "orders").groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("_n")).localCheckpoint(eager = true)
      val est = CountMin.joinSizeEstimate(
        CountMin.sketchCounted(liC, "k", "_n", 4, 256),
        CountMin.sketchCounted(ordC, "k", "_n", 4, 256))
      val truth = liC.select(col("k"), col("_n").as("_nl"))
        .join(ordC.select(col("k"), col("_n").as("_no")), "k")
        .agg(coalesce(sum(col("_nl") * col("_no")), lit(0L)).as("true_size"))
      est.crossJoin(truth)
        .withColumn("overestimate", col("join_size_est") - col("true_size"))
    }),


    // ---- pre-join skew diagnostics on the event user key ----
    "q_skew_report" -> ((s, dir) =>
      Skew.skewReport(Tables.events(s, dir), "user_id", topN = 10)),


    // ---- deterministic stratified sampling (content-addressed, no rand) ----
    "q_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 50, "de" -> 20), defaultPct = 10)
        .select("doc_id", "lang").orderBy("doc_id")),


    // ---- weighted sampling: inclusion ~ token count, content-addressed
    //      A-ES keys (ln(u)/w, u md5-derived) replayed exactly by the
    //      oracle ----
    "q_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(
        t(s, dir, "documents").withColumn("w",
          TextAnalysis.wsTokenCount(col("text")).cast("double")),
        "doc_id", col("w"), 100)
        .select(col("doc_id"), col("w").as("weight")).orderBy("doc_id")),


    // ---- deterministic shuffle-shard export layout ----
    "q_shuffle_shard" -> ((s, dir) =>
      Sampling.shuffleShard(t(s, dir, "documents").select("doc_id"), "doc_id", 8)
        .orderBy("shard", "seq")),


    // ---- temperature mixing weights per source (alpha = 0.7) ----
    "q_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureWeights(t(s, dir, "documents"), "source", 0.7)
        .orderBy("source")),


    // ---- temperature-mixed corpus: ~300 rows, per-source quotas ----
    "q_temperature_sample" -> ((s, dir) =>
      Sampling.temperatureSample(t(s, dir, "documents").select("doc_id", "source"),
          "source", "doc_id", 0.7, 300)
        .select("doc_id", "source").orderBy("doc_id")),


    // ---- equi-width histogram over a numeric column ----
    "q_histogram" -> ((s, dir) =>
      Profile.histogram(t(s, dir, "lineitem"), "l_extendedprice", 20)
        .orderBy("bucket")),


    // ---- approx sketches (HLL ndv, approximate percentile) checked
    //      against their exact counterparts within stated error bounds ----
    "q_approx_bounds" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      // two separate jobs: mixing a DISTINCT aggregate with the
      // typed-imperative sketches (percentile/HLL) in one agg forces an
      // Expand + per-row sketch-buffer serialization plan that measured
      // 40x slower than the two aggregations run back to back
      val rNdv = li.agg(
        countDistinct(col("l_orderkey")).as("exact_ndv"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_ndv"))
        .head()
      val rP50 = li.agg(
        expr("percentile(l_quantity, 0.5D)").as("exact_p50"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("approx_p50"))
        .head()
      val ndvOk = math.abs(rNdv.getLong(1) - rNdv.getLong(0)).toDouble / rNdv.getLong(0) <= 0.05
      // percentile_approx guarantees RANK error <= n/accuracy; on the
      // unit-spaced discrete l_quantity domain that bounds the VALUE to
      // within one unit of the (interpolated) exact quantile — a
      // relative check breaks at scale when exact lands between units
      val p50Ok = math.abs(rP50.getDouble(1) - rP50.getDouble(0)) <= 1.0
      Seq(("hll_ndv_within_5pct", ndvOk), ("approx_p50_within_1unit", p50Ok))
        .toDF("check_name", "ok").orderBy("check_name")
    }),


    // ---- per-column profile (exact variant; min/max restricted to
    //      int/string/date columns so the string rendering is
    //      engine-independent) ----
    "q_profile" -> ((s, dir) =>
      Profile.profileExact(t(s, dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate"))
        .orderBy("col_name")),


    // ---- exact-N-per-stratum deterministic sample ----
    "q_exact_n_sample" -> ((s, dir) =>
      Sampling.exactNPerStratum(t(s, dir, "documents"), "doc_id", "lang", 7)
        .select("doc_id", "lang").orderBy("lang", "doc_id")),


    // ---- analytic window functions beyond ranking: lag/lead offsets,
    //      ntile buckets, exact-rational percent_rank/cume_dist ----
    "q_window_analytics" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_orderkey"))
      t(s, dir, "orders").filter(col("o_custkey") % 100 === 0)
        .select(col("o_orderpriority"), col("o_orderkey"),
          lag("o_orderkey", 1).over(w).as("prev_key"),
          lead("o_orderkey", 2).over(w).as("next2_key"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("o_orderpriority", "o_orderkey")
    }),


    // ---- GROUPING SETS with grouping() null-disambiguation ----
    "q_grouping_sets" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
          |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
          |  count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
          |  (o_orderstatus, o_orderpriority))
          |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin)
    }),


    // ---- exact heavy hitters via approximate candidate pass ----
    "q_heavy_hitters" -> ((s, dir) =>
      EventAnalytics.heavyHitters(Tables.events(s, dir), "user_id", 0.008)
        .orderBy("user_id")),


    // ---- global top-k merge view over space-saving heavy-hitter
    //      emissions: the SAME flatMapGroupsWithState operator the
    //      stream runs, executed on the static frame (Spark's batch
    //      mode: empty initial state, one group-iterator pass per
    //      bucket), its per-bucket summaries merged by globalTopK. Key
    //      cardinality is held under the nBuckets × m counter capacity,
    //      so no counter evicts, every count is exact (err = 0), and the
    //      merge view replays in plain SQL ----
    "q_hh_global_topk" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("user_id") % 3 === 0)
      val emitted = graft.streaming.StreamingHeavyHitters(
        ev.select("user_id"), "user_id").toDF()
      graft.streaming.StreamingHeavyHitters.globalTopK(emitted, 15)
    }),


    // ---- count-min sketch: build the 4x256 counter matrix over the
    //      event stream's user ids, estimate every 10th user, and show
    //      the one-sided error against the exact counts. md5-seeded
    //      buckets -> DuckDB rebuilds the matrix bit-for-bit ----
    "q_count_min" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val sk = CountMin.sketch(ev, "user_id", depth = 4, width = 256)
      val keys = ev.select("user_id").distinct()
        .filter(col("user_id") % 10 === 0)
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact"))
      CountMin.estimate(sk, keys, "user_id", depth = 4, width = 256)
        .join(exact, "user_id")
        .withColumn("overcount", col("est") - col("exact"))
        .orderBy("user_id")
    }),


    // ---- HLL set-overlap probe (decontamination at 100 TB: ship two
    //      64-register sketches, not the key sets): per-side and union
    //      estimates, inclusion-exclusion intersection, implied
    //      Jaccard; the exact intersection rides along to expose the
    //      sketch error. md5-seeded registers -> DuckDB rebuilds the
    //      sketch bit-for-bit ----
    "q_hll_overlap" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev.filter(col("user_id") % 3 =!= 0)
      val b = ev.filter(col("user_id") % 2 =!= 0)
      Hll.overlap(a, b, "user_id")
        .crossJoin(a.select("user_id").intersect(b.select("user_id"))
          .agg(count(lit(1)).as("exact_intersect")))
    }),


    // ---- per-group HLL distinct (daily-active users per event type):
    //      registers keyed (group, bucket), empty buckets folded
    //      algebraically — the per-domain ndv probe that replaces a
    //      full countDistinct shuffle at 100 TB; exact countDistinct
    //      rides along to expose the sketch error ----
    "q_hll_grouped" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
          concat_ws(":", col("user_id"),
            col("ts").cast("date").cast("string")).as("uk"))
      Hll.groupedEstimate(ev, "event_type", "uk")
        .join(ev.groupBy("event_type")
          .agg(countDistinct("uk").as("exact_distinct")), "event_type")
        .orderBy("event_type")
    }),


    // ---- KMV/theta overlap (the HLL companion when the INTERSECTION
    //      is the quantity of interest): direct sample-membership
    //      Jaccard from the union sketch's minima — no compounding
    //      inclusion-exclusion error; md5 minima replay bit-for-bit ----
    "q_kmv_overlap" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev.filter(col("user_id") % 3 =!= 0)
      val b = ev.filter(col("user_id") % 2 =!= 0)
      Kmv.overlap(a, b, "user_id", 128)
        .crossJoin(a.select("user_id").intersect(b.select("user_id"))
          .agg(count(lit(1)).as("exact_intersect")))
    }),

    // ---- A-class filter-aggregate (TPC-H Q6 shape): every predicate
    //      pushed to the scan, decimal-exact revenue sum ----
    "q6_forecast_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(8,4)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))),

    // ---- TPC-H Q18 shape (large-volume orders): the HAVING subquery
    //      becomes an aggregated semi-side joined back to lineitem —
    //      the big-side aggregation runs ONCE and its survivors (a tiny
    //      fraction of orders) broadcast under AQE into the
    //      customer/orders joins; deterministic top-100 by
    //      (totalprice desc, orderkey) ----
    "q18_big_spenders" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").as("sum_qty"))
        .filter(col("sum_qty") > 250.0)
      big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // ---- TPC-H Q17 shape (small-quantity-order revenue): a CORRELATED
    //      scalar subquery — per-part 20%-of-average quantity threshold —
    //      written as the correlated form on purpose so Catalyst's
    //      decorrelation rewrites it into aggregate-then-join (one
    //      per-part Aggregate over lineitem joined back to the fact),
    //      never a per-row subquery re-execution. Decimal-exact sums so
    //      both engines emit bit-identical doubles ----
    "q17_small_qty" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_q17")
      t(s, dir, "part").createOrReplaceTempView("part_q17")
      s.sql(
        """SELECT
          |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    / 7.0, 6) AS avg_yearly,
          |  count(*) AS n_lines
          |FROM li_q17 JOIN part_q17 ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#23'
          |  AND l_quantity < (
          |    SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2)))
          |      AS DOUBLE) / count(*))
          |    FROM li_q17 l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)
    }),

    // ---- TPC-H Q2 shape (minimum-cost supplier): lineitem stands in for
    //      partsupp (supply cost = min extendedprice per part/supplier —
    //      a picked value, so doubles stay bit-identical cross-engine);
    //      the correlated min-cost-in-region subquery decorrelates into
    //      a per-part Aggregate re-joined on (partkey, cost) ----
    "q2_min_cost" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_q2")
      t(s, dir, "part").createOrReplaceTempView("part_q2")
      t(s, dir, "supplier").createOrReplaceTempView("sup_q2")
      t(s, dir, "nation").createOrReplaceTempView("nat_q2")
      t(s, dir, "region").createOrReplaceTempView("reg_q2")
      s.sql(
        """WITH ps AS (
          |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
          |         min(l_extendedprice) AS ps_supplycost
          |  FROM li_q2 GROUP BY 1, 2)
          |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
          |FROM part_q2
          |JOIN ps ON p_partkey = ps_partkey
          |JOIN sup_q2 ON s_suppkey = ps_suppkey
          |JOIN nat_q2 ON s_nationkey = n_nationkey
          |JOIN reg_q2 ON n_regionkey = r_regionkey
          |WHERE p_size = 15 AND r_name = 'EUROPE'
          |  AND ps_supplycost = (
          |    SELECT min(ps2.ps_supplycost)
          |    FROM ps ps2
          |    JOIN sup_q2 s2 ON s2.s_suppkey = ps2.ps_suppkey
          |    JOIN nat_q2 n2 ON n2.n_nationkey = s2.s_nationkey
          |    JOIN reg_q2 r2 ON r2.r_regionkey = n2.n_regionkey
          |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
          |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
          |LIMIT 100""".stripMargin)
    }),

    // ---- TPC-H Q8 shape (national market share): one fact scan feeding
    //      a two-armed star — customer-side nation→region filter and
    //      supplier-side share nation — constant dims hinted, SF-scaled
    //      dims left to AQE, one agg with a null-skipping conditional
    //      numerator. The big
    //      shuffles are the lineitem⋈orders key exchange and the final
    //      single-key agg ----
    "q8_market_share" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      // hints only on the CONSTANT dims (nation 25, region 5 rows);
      // part/customer/supplier grow with SF — AQE decides those
      li.join(t(s, dir, "part").filter(col("p_type") === "ECONOMY")
          .select("p_partkey"), col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))),
          col("c_nationkey") === col("cn_key"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "AMERICA")
          .select("r_regionkey")), col("n_regionkey") === col("r_regionkey"))
        .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select(year(col("o_orderdate")).cast("bigint").as("o_year"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)")))
            .as("volume"),
          col("supp_nation"))
        .groupBy("o_year")
        .agg(round(sum(when(col("supp_nation") === "NATION_3", col("volume"))).cast("double") /
            sum(col("volume")).cast("double"), 6).as("mkt_share"))
        .orderBy("o_year")
    }),

    // ---- TPC-H Q9 shape (product-type profit by nation and year):
    //      LIKE-filtered part dim joined into the fact (AQE-sized,
    //      part grows with SF), supplier→
    //      nation broadcast chain, orders re-join for the year; decimal
    //      profit so both engines agree bit-for-bit ----
    "q9_profit_by_nation" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(t(s, dir, "part").filter(col("p_name").like("%red%"))
          .select("p_partkey"), col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("bigint").as("o_year"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)")))
            .as("profit"))
        .groupBy("nation", "o_year")
        .agg(sum(col("profit")).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // ---- TPC-H Q11 shape (important stock): the schema has no
    //      partsupp, so per-(part,supplier) line value stands in; the
    //      global-fraction threshold is the classic uncorrelated scalar
    //      subquery — Catalyst plans it as a 1-row broadcast into the
    //      HAVING filter, never a rescan per group. The threshold total
    //      is a decimal-exact sum rendered to double ONCE (double
    //      re-aggregation of per-part doubles would be order-sensitive) ----
    "q11_top_stock" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_q11")
      t(s, dir, "supplier").createOrReplaceTempView("sup_q11")
      t(s, dir, "nation").createOrReplaceTempView("nat_q11")
      s.sql(
        """WITH fact AS (
          |  SELECT l_partkey,
          |    CAST(l_extendedprice AS DECIMAL(18,2)) *
          |      CAST(l_quantity AS DECIMAL(18,2)) AS line_value
          |  FROM li_q11 JOIN sup_q11 ON l_suppkey = s_suppkey
          |  JOIN nat_q11 ON s_nationkey = n_nationkey
          |  WHERE n_name = 'NATION_7')
          |SELECT l_partkey AS ps_partkey,
          |  CAST(sum(line_value) AS DOUBLE) AS value
          |FROM fact
          |GROUP BY l_partkey
          |HAVING CAST(sum(line_value) AS DOUBLE) >
          |  (SELECT CAST(sum(line_value) AS DOUBLE) * 1.5
          |     / count(DISTINCT l_partkey) FROM fact)
          |ORDER BY value DESC, ps_partkey""".stripMargin)
    }),

    // ---- TPC-H Q12 shape (late shipments by priority class): the
    //      orders⋈lineitem key join with a row-level date-arithmetic
    //      predicate and two null-skipping conditional counts ----
    "q12_late_shipments" -> ((s, dir) => {
      t(s, dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select(year(col("l_shipdate")).cast("bigint").as("ship_year"),
          col("o_orderpriority"))
        .groupBy("ship_year")
        .agg(
          count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
            .as("high_line_count"),
          count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
            .as("low_line_count"))
        .orderBy("ship_year")
    }),

    // ---- TPC-H Q13 shape (customer order-count distribution): LEFT
    //      OUTER join with the filter folded into the join condition
    //      (so zero-order customers survive), then a second aggregation
    //      over the first's result ----
    "q13_order_count_dist" -> ((s, dir) => {
      t(s, dir, "customer").select("c_custkey")
        .join(t(s, dir, "orders").filter(col("o_orderpriority") =!= "5-LOW")
          .select("o_custkey", "o_orderkey"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // ---- TPC-H Q15 shape (top supplier): the revenue CTE is built
    //      once and referenced twice (join side + scalar max); the
    //      equality test stays in exact DECIMAL until the final render
    //      so cross-engine max-equality cannot be lost to float ties ----
    "q15_top_supplier" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_q15")
      t(s, dir, "supplier").createOrReplaceTempView("sup_q15")
      s.sql(
        """WITH revenue AS (
          |  SELECT l_suppkey AS supplier_no,
          |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |      (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))))
          |      AS total_revenue
          |  FROM li_q15
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name,
          |  CAST(total_revenue AS DOUBLE) AS total_revenue
          |FROM sup_q15 JOIN revenue ON s_suppkey = supplier_no
          |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
          |ORDER BY s_suppkey""".stripMargin)
    }),

    // ---- TPC-H Q16 shape (supplier variety per part profile):
    //      distinct (part,supplier) pairs from the fact, a broadcast
    //      filtered part dim, and a NOT-IN-style anti join against
    //      negative-balance suppliers before a countDistinct ----
    "q16_supplier_variety" -> ((s, dir) => {
      val ps = t(s, dir, "lineitem")
        .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .distinct()
      ps.join(t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#15" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
          .select("p_partkey", "p_brand", "p_type", "p_size"),
          col("ps_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier").filter(col("s_acctbal") < 0).select("s_suppkey"),
          col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("ps_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // ---- TPC-H Q19 shape (disjunctive-predicate revenue): three OR
    //      branches each tying part attributes to lineitem quantity —
    //      the join keeps one equi-key (partkey) with the disjunction
    //      as a post-join filter, exercising CNF extraction rather
    //      than a cartesian ----
    "q19_disjunctive_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(t(s, dir, "part").select("p_partkey", "p_brand", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // ---- TPC-H Q20 shape (promotable-part suppliers): a semi-join
    //      chain — supplier IN (pairs over LIKE-filtered parts whose
    //      accumulated quantity beats a correlated half-of-recent-
    //      shipments threshold). Catalyst decorrelates the inner scalar
    //      into a per-(part,supplier) aggregate joined back, so the
    //      fact is scanned a bounded number of times, never per row ----
    "q20_promo_parts" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_q20")
      t(s, dir, "part").createOrReplaceTempView("part_q20")
      t(s, dir, "supplier").createOrReplaceTempView("sup_q20")
      s.sql(
        """WITH ps AS (
          |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
          |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ps_availqty
          |  FROM li_q20 GROUP BY 1, 2)
          |SELECT s_name, s_acctbal
          |FROM sup_q20
          |WHERE s_suppkey IN (
          |  SELECT ps_suppkey FROM ps
          |  WHERE ps_partkey IN
          |    (SELECT p_partkey FROM part_q20 WHERE p_name LIKE 'red%')
          |  AND ps_availqty > (
          |    SELECT 0.5 * CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    FROM li_q20
          |    WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          |      AND l_shipdate >= TIMESTAMP '1997-01-01'
          |      AND l_shipdate < TIMESTAMP '1998-01-01'))
          |ORDER BY s_name""".stripMargin)
    }),

    // ---- TPC-H Q21 shape (sole-blame suppliers): the EXISTS /
    //      NOT-EXISTS pair over the same fact — an order with other
    //      suppliers where ONLY this supplier's lines were returned.
    //      Both subqueries decorrelate to semi/anti joins on orderkey ----
    "q21_waiting_suppliers" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_q21")
      t(s, dir, "orders").createOrReplaceTempView("ord_q21")
      t(s, dir, "supplier").createOrReplaceTempView("sup_q21")
      t(s, dir, "nation").createOrReplaceTempView("nat_q21")
      s.sql(
        """SELECT s_name, count(*) AS numwait
          |FROM sup_q21
          |JOIN li_q21 l1 ON s_suppkey = l1.l_suppkey
          |JOIN ord_q21 ON o_orderkey = l1.l_orderkey
          |JOIN nat_q21 ON s_nationkey = n_nationkey
          |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          |  AND n_name = 'NATION_7'
          |  AND EXISTS (SELECT 1 FROM li_q21 l2
          |    WHERE l2.l_orderkey = l1.l_orderkey
          |      AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM li_q21 l3
          |    WHERE l3.l_orderkey = l1.l_orderkey
          |      AND l3.l_suppkey <> l1.l_suppkey
          |      AND l3.l_returnflag = 'R')
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name
          |LIMIT 100""".stripMargin)
    }),

    // ---- TPC-H Q22 shape (idle high-balance customers): every
    //      customer here has SOME order, so the classic no-orders
    //      anti join becomes no-RECENT-orders; the positive-balance
    //      average is the uncorrelated scalar subquery, the country
    //      code a deterministic custkey bucket. The cutoff sits INSIDE
    //      the synthetic order-date range (1995..2001) so the anti join
    //      actually excludes customers with recent orders on both
    //      engines — at 2000-01-01 it was vacuously true ----
    "q22_idle_customers" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("cust_q22")
      t(s, dir, "orders").createOrReplaceTempView("ord_q22")
      s.sql(
        """SELECT c_custkey % 7 AS cntrycode, count(*) AS numcust,
          |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
          |FROM cust_q22
          |WHERE c_custkey % 7 IN (1, 3, 5)
          |  AND c_acctbal > (
          |    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
          |    FROM cust_q22
          |    WHERE c_acctbal > 0.0 AND c_custkey % 7 IN (1, 3, 5))
          |  AND NOT EXISTS (SELECT 1 FROM ord_q22
          |    WHERE o_custkey = c_custkey
          |      AND o_orderdate >= TIMESTAMP '1998-01-01')
          |GROUP BY c_custkey % 7
          |ORDER BY cntrycode""".stripMargin)
    }),


    // ---- ORC federation round-trip: a side materialized as ORC reads
    //      back through the same FormatSide discovery/scan path as
    //      parquet/csv/json (Spark's native ORC source; predicate
    //      pushdown and column pruning apply as with parquet). The
    //      oracle replays the aggregate over the parquet original —
    //      identical data, different storage format ----
    "q_orc_federation" -> ((s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_orc_side"
      t(s, dir, "lineitem").filter(col("l_orderkey") % 7 === 0)
        .write.mode("overwrite").format("orc").save(s"$base/lineitem.orc")
      FormatSide(s, base, "orc", "orcdb").table("lineitem")
        .filter(col("l_quantity") < 25)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"), dsum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- TPC-H Q3 shape (shipping priority): the segment-filtered
    //      customer dim broadcasts into date-pruned orders, both date
    //      predicates push to the parquet scans, decimal-exact revenue,
    //      deterministic top-10 by (revenue desc, orderkey) ----
    "q3_shipping_priority" -> ((s, dir) => {
      val cutoff = lit("1996-03-15").cast("timestamp")
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      cust.join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)")))
          .cast("double").as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // ---- TPC-H Q5 shape (local-supplier volume): region -> nation ->
    //      supplier dims collapse to a broadcast side before touching
    //      the fact table; customer joins on (custkey, nationkey) to
    //      keep only local orders; one decimal-exact agg per nation ----
    "q5_local_supplier" -> ((s, dir) => {
      val asia = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nat = t(s, dir, "nation")
        .join(asia, col("n_regionkey") === col("r_regionkey"))
      val sup = t(s, dir, "supplier")
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ---- TPC-H Q4 shape (order priority checking): the EXISTS
    //      subquery becomes a LEFT-SEMI join — orders keep at most one
    //      match, no fan-out, and the semi side carries only the join
    //      key after its pushed quantity filter ----
    "q4_order_priority" -> ((s, dir) => {
      val qualifying = t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45)
        .select("l_orderkey")
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        .join(qualifying, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // ---- TPC-H Q7 shape (volume shipping): the DISJUNCTIVE nation-pair
    //      predicate — both nation dims pre-filter to the two names
    //      (pushed to their scans) and the OR pairing applies after the
    //      joins; per (supp_nation, cust_nation, year) decimal-exact ----
    "q7_volume_shipping" -> ((s, dir) => {
      val names = Seq("NATION_3", "NATION_7")
      val n1 = t(s, dir, "nation").filter(col("n_name").isin(names: _*))
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").filter(col("n_name").isin(names: _*))
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_suppkey", "l_shipdate",
          "l_extendedprice", "l_discount")
      li.join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("n1_key"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(n2, col("c_nationkey") === col("n2_key"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)")))
          .cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),


    // ---- Z-order (Morton) clustering key for 2-D zone-map pruning ----
    "q_zorder_key" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
          Layout.zOrderKey(col("p_partkey"), col("p_size")).as("z"))
        .orderBy("z", "p_partkey")),


    // ---- Hilbert-curve clustering key (neighbor-preserving layout;
    //      tighter 2-D pruning rectangles than the Morton seam-jumps) ----
    "q_hilbert_key" -> ((s, dir) =>
      Layout.withHilbertKey(
          t(s, dir, "part")
            .select(col("p_partkey"), col("p_size").cast("long").as("p_size")),
          "p_partkey", "p_size", 10)
        .orderBy("h", "p_partkey")),


    // ---- 3-D Z-order key: the 3-way interleave for workloads filtering
    //      three axes at once (floor() the double axis in BOTH engines —
    //      raw double->bigint casts truncate in Spark but round in
    //      DuckDB) ----
    "q_zorder3_key" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
          floor(col("p_retailprice")).as("p_price"),
          Layout.zOrderKey3(col("p_partkey"), col("p_size"),
            floor(col("p_retailprice"))).as("z"))
        .orderBy("z", "p_partkey")),


    // ---- 3-D Hilbert key (Skilling transpose, codegen kernel): the
    //      (time, x, y)-style layout key; oracle replays the transform
    //      as mechanically-unrolled CTE levels ----
    "q_hilbert3_key" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
          floor(col("p_retailprice")).as("p_price"),
          Layout.hilbertKey3(col("p_partkey"), col("p_size"),
            floor(col("p_retailprice")), 10).as("h"))
        .orderBy("h", "p_partkey")),


    // ---- grouped sketched quantiles checked against grouped exact:
    //      the monster-group path (bounded state, partial merge) must
    //      land within the sketch's rank-error bound per group ----
    "q_grouped_quantiles_approx" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val rows = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5D)").as("exact_p50"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("approx_p50"))
        .collect()
      // unit-spaced discrete domain: rank error <= n/accuracy bounds the
      // VALUE to within one unit (same argument as q_approx_bounds)
      rows.map(r => (r.getString(0),
          math.abs(r.getDouble(2) - r.getDouble(1)) <= 1.0))
        .toSeq.toDF("l_returnflag", "ok").orderBy("l_returnflag")
    }),


    // ---- exact per-group quantiles (interpolated percentile) ----
    "q_grouped_quantiles" -> ((s, dir) =>
      EventAnalytics.groupedQuantiles(t(s, dir, "lineitem"), "l_returnflag",
          "l_quantity", Seq(0.25, 0.5, 0.75, 0.95))
        .orderBy("l_returnflag")),


    // ---- declarative data-quality expectations over orders ----
    "q_expectations" -> ((s, dir) => {
      import Expectations._
      validate(t(s, dir, "orders"), Seq(
        NotNull("o_orderstatus"),
        InRange("o_totalprice", 0.0, 400000.0, maxViolations = 100),
        MatchesRegex("o_orderstatus", "^[A-Z]$"),
        // accepted_values (dbt parity): priorities all pass; the status
        // set deliberately omits 'P', so partial orders violate
        InSet("o_orderpriority", Set("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")),
        InSet("o_orderstatus", Set("O", "F")),
        Unique("o_orderkey"),
        RefIntegrity("o_custkey", t(s, dir, "customer"), "c_custkey")))
        .orderBy("rule", "column")
    }),


    // ---- ROW-LEVEL referential-integrity violations (the drill-down
    //      behind the count-based RefIntegrity rule above): parent
    //      pruned to every-7th-removed so violations are planted ----
    "q_fk_violations" -> ((s, dir) => {
      Expectations.foreignKeyViolations(
          t(s, dir, "orders").select("o_orderkey", "o_custkey"), "o_custkey",
          t(s, dir, "customer").filter(col("c_custkey") % 7 =!= 0), "c_custkey")
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    }),


    // ---- functional-dependency audit: brands mapping to >1 part type
    //      (the FD p_brand -> p_type is violated by construction) ----
    "q_fd_violations" -> ((s, dir) =>
      Expectations.functionalDependencyViolations(t(s, dir, "part"), "p_brand", "p_type")
        .orderBy("p_brand")),


    // ---- replayable approx-uniqueness gate: the UniqueApprox rule on
    //      graft's md5-register HLL (not Spark's internal sketch), so the
    //      oracle rebuilds every estimated duplicate fraction bit-for-bit.
    //      Three gates: two genuinely-unique key columns and one heavily
    //      duplicated foreign key that must fail the tolerance ----
    "q_unique_approx" -> ((s, dir) =>
      Expectations.uniqueApproxGate(t(s, dir, "orders"), Seq("o_orderkey" -> 0.05))
        .unionByName(Expectations.uniqueApproxGate(
          t(s, dir, "lineitem"), Seq("l_orderkey" -> 0.05)))
        .unionByName(Expectations.uniqueApproxGate(
          t(s, dir, "customer"), Seq("c_custkey" -> 0.05)))
        .orderBy("column")),


    // ---- bloom-pruned exact semi join (runtime-filter pattern) ----
    "q_bloom_prune" -> ((s, dir) => {
      val hi = t(s, dir, "orders").filter(col("o_totalprice") > 450000.0)
      BloomPrune.prunedSemiJoin(t(s, dir, "lineitem"), "l_orderkey",
          hi, "o_orderkey", expectedItems = 100000L, fpp = 0.01)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum("l_extendedprice").as("sum_price"))
        .orderBy("l_returnflag")
    }),


    // ---- equi-depth decile bins of doc length WITHOUT ntile's global
    //      sort: edges from the bounded distinct-value CDF, assignment
    //      by broadcast edge list ----
    "q_quantile_bins" -> ((s, dir) =>
      Profile.quantileBins(t(s, dir, "documents"), "n_chars", 10)
        .orderBy("bin")),


    // ---- 2-D skyline over (length, distinct-vocab): the Pareto set
    //      no single quality score can pick; oracle = independent
    //      NOT-EXISTS dominance formulation ----
    "q_skyline" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        col("n_chars"),
        size(array_distinct(TextAnalysis.tokens(col("text"))))
          .as("vocab"))
      Curation.skyline2d(docs, "n_chars", "vocab", "doc_id").orderBy("x")
    }),


    // ---- co-missingness pattern profile over planted null structure
    //      (value nulled on 7-multiples, props on 5-multiples) ----
    "q_null_pattern" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"),
        when(col("user_id") % 7 === 0, lit(null))
          .otherwise(col("value")).as("value"),
        when(col("user_id") % 5 === 0, lit(null))
          .otherwise(col("props")).as("props"))
      Profile.missingnessPatterns(ev, Seq("value", "props"))
        .orderBy("missing_cols")
    }),


    // ---- keyed pseudonymization: sha256(salt:value), referential
    //      integrity preserved, NULLs stay NULL, scan-speed ----
    "q_pseudonymize" -> ((s, dir) =>
      Privacy.pseudonymize(
          t(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment"),
          Seq("c_name"), "graft-salt")
        .orderBy("c_custkey")),


    // ---- k-anonymity audit: quasi-identifier groups smaller than k
    //      (re-identifiable combinations) + global risk summary; one
    //      map-side-combined count, bounded group table after ----
    "q_k_anonymity" -> ((s, dir) =>
      Privacy.kAnonymity(t(s, dir, "customer"),
          Seq("c_mktsegment", "c_nationkey"), 10)
        .orderBy("c_mktsegment", "c_nationkey")),


    // ---- l-diversity audit: quasi groups whose sensitive column
    //      collapses below l distinct values (attribute disclosure
    //      inside a k-anonymous group) ----
    "q_l_diversity" -> ((s, dir) =>
      Privacy.lDiversity(
          t(s, dir, "orders").withColumn("ym",
            year(col("o_orderdate")) * 100 + month(col("o_orderdate"))),
          Seq("o_orderpriority", "ym"), "o_orderstatus", 3)
        .orderBy("o_orderpriority", "ym")),


    // ---- t-closeness audit: quasi groups whose sensitive distribution
    //      sits > t total-variation from the global one (diverse-but-
    //      skewed leakage that l-diversity misses); absent-value mass
    //      added analytically, exact cross-multiplied integer terms ----
    "q_t_closeness" -> ((s, dir) =>
      Privacy.tCloseness(
          t(s, dir, "orders").withColumn("ym",
            year(col("o_orderdate")) * 100 + month(col("o_orderdate"))),
          Seq("o_orderpriority", "ym"), "o_orderstatus", 0.2)
        .orderBy("o_orderpriority", "ym")),


    // ---- key-skew profile of the event user distribution: top-20
    //      heavy keys + decimal-summed Shannon entropy; every stage
    //      after the first runs on the key-count table ----
    "q_key_skew" -> ((s, dir) =>
      Profile.keySkew(Tables.events(s, dir), "user_id", 20)
        .orderBy(col("cnt").desc, col("key"))),


    // ---- percentile-rank transform from the bounded distinct-value
    //      CDF (no global sort-window); oracle cross-checks with
    //      DuckDB's cume_dist ----
    "q_pct_rank" -> ((s, dir) =>
      Profile.percentileRank(t(s, dir, "documents"), "doc_id", "n_chars")
        .orderBy("doc_id")),


    // ---- grouped percentile rank: each doc's length percentile within
    //      its OWN language — the per-group CDF join (windows run over
    //      the group's distinct values, never its rows) ----
    "q_pct_rank_by" -> ((s, dir) =>
      Profile.percentileRankBy(t(s, dir, "documents"), "doc_id", "n_chars",
          Seq("lang"))
        .orderBy("doc_id"))
  )

  def oracles: Map[String, String] = dmap(

    // shuffle-shard replay: same md5 digest, same 60-bit shard bucket,
    // same (digest, key) in-shard rank
    "q_shuffle_shard" ->
      """WITH d AS (SELECT doc_id,
        |    md5('shuf:' || CAST(doc_id AS VARCHAR)) AS dig FROM documents),
        |s AS (SELECT doc_id,
        |    CAST(('0x' || substr(dig, 1, 15)) AS BIGINT) % 8 AS shard, dig
        |  FROM d)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY dig, doc_id)
        |    AS BIGINT) AS seq
        |FROM s ORDER BY shard, seq""".stripMargin,


    // temperature weights: same pow/normalize, rounded at 6 dp
    "q_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source)
        |SELECT source, n,
        |  round(pow(CAST(n AS DOUBLE), 0.7)
        |        / SUM(pow(CAST(n AS DOUBLE), 0.7)) OVER (), 6) AS weight
        |FROM c ORDER BY source""".stripMargin,


    // temperature sample replay: quotas from the rounded weights, rows
    // by the same md5-of-key per-domain rank
    "q_temperature_sample" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT source, n,
        |    round(pow(CAST(n AS DOUBLE), 0.7)
        |          / SUM(pow(CAST(n AS DOUBLE), 0.7)) OVER (), 6) AS weight
        |  FROM c),
        |q AS (SELECT source,
        |    least(n, CAST(round(300.0 * weight, 0) AS BIGINT)) AS take_n FROM w),
        |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY md5('tmix:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source FROM r JOIN q USING (source)
        |WHERE rk <= take_n ORDER BY doc_id""".stripMargin,


    // A-ES weighted sample replay: same md5-uniform, same ln(u)/w key,
    // same (key DESC, id) top-100
    "q_weighted_sample" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS w
        |  FROM documents),
        |k AS (SELECT doc_id, w,
        |    ln((CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 16))
        |          AS UBIGINT)::DOUBLE + 1)
        |       / 18446744073709551616.0) / w AS wkey
        |  FROM d WHERE w > 0),
        |top AS (SELECT doc_id, w FROM k ORDER BY wkey DESC, doc_id LIMIT 100)
        |SELECT doc_id, w AS weight FROM top ORDER BY doc_id""".stripMargin,


    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,


    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,


    "q_unpivot" ->
      """SELECT p_partkey, measure, value FROM (
        |  SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_retailprice', p_retailprice FROM part)
        |ORDER BY p_partkey, measure""".stripMargin,


    "q_json_extract" ->
      """WITH e AS (SELECT event_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val FROM events)
        |SELECT k_val % 10 AS k_mod, count(*) AS n, CAST(sum(k_val) AS BIGINT) AS sum_k
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,


    "q_salted_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    "q_salted_join" ->
      """WITH dim AS (SELECT user_id, count(*) AS user_events FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, e.value, d.user_events
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |ORDER BY e.event_id""".stripMargin,


    "q_rollup_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,


    "q_set_ops" ->
      """WITH a AS (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 3 = 0),
        |  b AS (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 5 = 0)
        |SELECT * FROM (
        |SELECT *, 'intersect' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT *, 'except' AS op FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
        |ORDER BY op, o_orderkey""".stripMargin,


    "q_diff_bag_hashed" ->
      """WITH u AS (
        |  SELECT *, 'db1' AS observed_in FROM lineitem
        |  UNION ALL SELECT *, 'db1' FROM lineitem WHERE l_orderkey % 7 = 0
        |  UNION ALL SELECT *, 'db2' FROM lineitem)
        |SELECT * EXCLUDE (observed_in), count(*) FILTER (observed_in = 'db1') AS n_db1,
        |  count(*) FILTER (observed_in = 'db2') AS n_db2
        |FROM u GROUP BY ALL
        |HAVING n_db1 <> n_db2
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,


    "q_hash_split" ->
      """WITH b AS (SELECT doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
        |      AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,


    "q_group_split" ->
      """WITH b AS (SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(lang), 1, 8)) AS BIGINT) % 100
        |      AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,


    // join-size sketch: same md5-seeded 4x256 matrices for both sides,
    // per-row counter inner products, min across rows — all integers
    "q_join_size_est" ->
      """WITH la AS (SELECT l_orderkey AS k FROM lineitem),
        |ob AS (SELECT o_orderkey AS k FROM orders),
        |ba AS (SELECT k, j,
        |    CAST(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
        |        CAST(k AS VARCHAR)), 1, 15)) AS UBIGINT) % 256 AS BIGINT) AS bucket
        |  FROM la CROSS JOIN range(4) AS r(j)),
        |bb AS (SELECT k, j,
        |    CAST(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
        |        CAST(k AS VARCHAR)), 1, 15)) AS UBIGINT) % 256 AS BIGINT) AS bucket
        |  FROM ob CROSS JOIN range(4) AS r(j)),
        |sa AS (SELECT j, bucket, count(*) AS ca FROM ba GROUP BY 1, 2),
        |sb AS (SELECT j, bucket, count(*) AS cb FROM bb GROUP BY 1, 2),
        |re AS (SELECT sa.j, CAST(sum(ca * cb) AS BIGINT) AS row_est
        |  FROM sa JOIN sb ON sa.j = sb.j AND sa.bucket = sb.bucket
        |  GROUP BY sa.j),
        |est AS (SELECT min(row_est) AS join_size_est FROM re),
        |tr AS (SELECT count(*) AS true_size FROM la JOIN ob USING (k))
        |SELECT join_size_est, true_size,
        |  join_size_est - true_size AS overestimate
        |FROM est CROSS JOIN tr""".stripMargin,


    // skew report: integer counts, correctly-rounded double division on
    // both engines -> identical share/ceil; (n desc, key) tie order
    "q_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |s AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS nkeys FROM c)
        |SELECT user_id, n, round(CAST(n AS DOUBLE) / total, 6) AS share,
        |  CAST(least(ceil(n * nkeys / CAST(total AS DOUBLE)), 64) AS BIGINT)
        |    AS suggested_salt
        |FROM c CROSS JOIN s
        |ORDER BY n DESC, user_id LIMIT 10""".stripMargin,


    "q_stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
        |      AS bucket
        |  FROM documents)
        |SELECT doc_id, lang FROM b
        |WHERE bucket < (CASE WHEN lang = 'en' THEN 50
        |                     WHEN lang = 'de' THEN 20 ELSE 10 END)
        |ORDER BY doc_id""".stripMargin,


    // equi-width histogram: same (min,max) bounds, same double bucket
    // arithmetic ((v−mn)·20/(mx−mn), floor, clamp), same edge formulas
    "q_histogram" ->
      """WITH b AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |d AS (SELECT CASE WHEN mx = mn THEN 0
        |    ELSE least(CAST(floor((l_extendedprice - mn) * 20 / (mx - mn)) AS BIGINT),
        |               19) END AS bucket, mn, mx
        |  FROM lineitem, b WHERE l_extendedprice IS NOT NULL)
        |SELECT bucket, mn + bucket * (mx - mn) / 20 AS lo,
        |  mn + (bucket + 1) * (mx - mn) / 20 AS hi, count(*) AS n
        |FROM d GROUP BY bucket, mn, mx ORDER BY bucket""".stripMargin,


    "q_approx_bounds" ->
      """SELECT * FROM (VALUES ('approx_p50_within_1unit', true),
        |  ('hll_ndv_within_5pct', true)) AS t(check_name, ok)
        |ORDER BY check_name""".stripMargin,


    "q_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_orderdate")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
          |  count(*) - count($c) AS n_nulls,
          |  count(DISTINCT $c) AS ndv,
          |  CAST(min($c) AS VARCHAR) AS min_str,
          |  CAST(max($c) AS VARCHAR) AS max_str FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },


    "q_window_analytics" ->
      """WITH f AS (SELECT * FROM orders WHERE o_custkey % 100 = 0)
        |SELECT o_orderpriority, o_orderkey,
        |  lag(o_orderkey, 1) OVER w AS prev_key,
        |  lead(o_orderkey, 2) OVER w AS next2_key,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM f
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,


    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |  (o_orderstatus, o_orderpriority))
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin,


    "q_exact_n_sample" ->
      """WITH r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE rk <= 7
        |ORDER BY lang, doc_id""".stripMargin,


    "q_heavy_hitters" ->
      """WITH tot AS (SELECT count(*) AS n FROM events)
        |SELECT user_id, count(*) AS n,
        |  CAST(count(*) AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM tot) AS share
        |FROM events GROUP BY user_id
        |HAVING count(*) > 0.008 * (SELECT CAST(n AS DOUBLE) FROM tot)
        |ORDER BY user_id""".stripMargin,


    // no evictions by construction (keys < counter capacity), so the
    // space-saving merge view equals the exact top-k with zero error
    "q_hh_global_topk" ->
      """SELECT user_id AS key, count(*) AS count, CAST(0 AS BIGINT) AS err
        |FROM events WHERE user_id % 3 = 0
        |GROUP BY 1 ORDER BY count DESC, key ASC LIMIT 15""".stripMargin,


    // count-min replay: same md5-60-bit seeded buckets (row index
    // prefixed), same 4x256 matrix, min-over-rows estimate — integers
    // end to end
    "q_count_min" ->
      """WITH b AS (SELECT user_id, j,
        |    CAST(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
        |        CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 256
        |      AS BIGINT) AS bucket
        |  FROM events CROSS JOIN range(4) AS r(j)),
        |sk AS (SELECT j, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 0),
        |kb AS (SELECT user_id, j,
        |    CAST(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
        |        CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 256
        |      AS BIGINT) AS bucket
        |  FROM keys CROSS JOIN range(4) AS r(j)),
        |est AS (SELECT kb.user_id, min(cnt) AS est
        |  FROM kb JOIN sk ON sk.j = kb.j AND sk.bucket = kb.bucket
        |  GROUP BY 1),
        |exact AS (SELECT user_id, count(*) AS exact FROM events GROUP BY 1)
        |SELECT user_id, est, exact, est - exact AS overcount
        |FROM est JOIN exact USING (user_id) ORDER BY user_id""".stripMargin,


    // HLL overlap: rebuild the 64-register sketches from the same
    // md5-first-60-bit hash, identical estimator arithmetic (integer
    // harmonic denominator, 6-dp rounds on the float outputs)
    "q_hll_overlap" ->
      """WITH au AS (SELECT DISTINCT user_id FROM events WHERE user_id % 3 <> 0),
        |bu AS (SELECT DISTINCT user_id FROM events WHERE user_id % 2 <> 0),
        |ha AS (SELECT CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |    1, 15)) AS UBIGINT) AS BIGINT) AS h FROM au),
        |hb AS (SELECT CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |    1, 15)) AS UBIGINT) AS BIGINT) AS h FROM bu),
        |ra1 AS (SELECT h % 64 AS bucket, max(CASE WHEN (h >> 6) = 0 THEN 55
        |    ELSE 55 - length(bin(h >> 6)) END) AS register FROM ha GROUP BY 1),
        |rb1 AS (SELECT h % 64 AS bucket, max(CASE WHEN (h >> 6) = 0 THEN 55
        |    ELSE 55 - length(bin(h >> 6)) END) AS register FROM hb GROUP BY 1),
        |ra AS (SELECT r.bucket, coalesce(register, 0) AS register
        |  FROM range(64) AS r(bucket) LEFT JOIN ra1 ON ra1.bucket = r.bucket),
        |rb AS (SELECT r.bucket, coalesce(register, 0) AS register
        |  FROM range(64) AS r(bucket) LEFT JOIN rb1 ON rb1.bucket = r.bucket),
        |ru AS (SELECT bucket, max(register) AS register
        |  FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1),
        |ea AS (SELECT sum(CAST(1 AS BIGINT) << (55 - register)) AS zi,
        |    sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS v FROM ra),
        |eb AS (SELECT sum(CAST(1 AS BIGINT) << (55 - register)) AS zi,
        |    sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS v FROM rb),
        |eu AS (SELECT sum(CAST(1 AS BIGINT) << (55 - register)) AS zi,
        |    sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS v FROM ru),
        |fa AS (SELECT CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
        |      * CAST(64 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
        |      / CAST(zi AS DOUBLE) AS raw, v FROM ea),
        |fb AS (SELECT CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
        |      * CAST(64 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
        |      / CAST(zi AS DOUBLE) AS raw, v FROM eb),
        |fu AS (SELECT CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
        |      * CAST(64 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
        |      / CAST(zi AS DOUBLE) AS raw, v FROM eu),
        |ga AS (SELECT CASE WHEN raw <= 160.0 AND v > 0
        |    THEN round(CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE)
        |      / CAST(v AS DOUBLE)), 6) ELSE round(raw, 6) END AS est_a FROM fa),
        |gb AS (SELECT CASE WHEN raw <= 160.0 AND v > 0
        |    THEN round(CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE)
        |      / CAST(v AS DOUBLE)), 6) ELSE round(raw, 6) END AS est_b FROM fb),
        |gu AS (SELECT CASE WHEN raw <= 160.0 AND v > 0
        |    THEN round(CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE)
        |      / CAST(v AS DOUBLE)), 6) ELSE round(raw, 6) END AS est_union FROM fu),
        |x AS (SELECT user_id FROM au INTERSECT SELECT user_id FROM bu),
        |xc AS (SELECT count(*) AS exact_intersect FROM x)
        |SELECT est_a, est_b, est_union,
        |  round(est_a + est_b - est_union, 6) AS est_intersect,
        |  round((est_a + est_b - est_union) / est_union, 6) AS jaccard_est,
        |  exact_intersect
        |FROM ga, gb, gu, xc""".stripMargin,


    // grouped HLL: same register construction keyed by event_type; the
    // never-hit buckets fold in as (64 - nhit) * 2^55
    "q_hll_grouped" ->
      """WITH ev AS (SELECT event_type, CAST(user_id AS VARCHAR) || ':' ||
        |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS uk
        |  FROM events),
        |h AS (SELECT event_type, CAST(CAST(('0x' || substr(md5(uk), 1, 15))
        |    AS UBIGINT) AS BIGINT) AS h FROM ev),
        |r AS (SELECT event_type, h % 64 AS bucket,
        |    max(CASE WHEN (h >> 6) = 0 THEN 55
        |      ELSE 55 - length(bin(h >> 6)) END) AS register
        |  FROM h GROUP BY 1, 2),
        |z AS (SELECT event_type, sum(CAST(1 AS BIGINT) << (55 - register)) AS zhit,
        |    count(*) AS nhit FROM r GROUP BY 1),
        |f AS (SELECT event_type,
        |    zhit + (64 - nhit) * (CAST(1 AS BIGINT) << 55) AS zi,
        |    64 - nhit AS v FROM z),
        |g AS (SELECT event_type, CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
        |      * CAST(64 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
        |      / CAST(zi AS DOUBLE) AS raw, v FROM f),
        |e AS (SELECT event_type, CASE WHEN raw <= 160.0 AND v > 0
        |    THEN round(CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE)
        |      / CAST(v AS DOUBLE)), 6) ELSE round(raw, 6) END AS est FROM g),
        |x AS (SELECT event_type, count(DISTINCT uk) AS exact_distinct
        |  FROM ev GROUP BY 1)
        |SELECT e.event_type AS event_type, est, exact_distinct
        |FROM e JOIN x ON e.event_type = x.event_type
        |ORDER BY e.event_type""".stripMargin,


    // KMV: rebuild the k-minima from the same md5 hash; θ estimate with
    // exact-integer inputs; union minima membership via IN on the k-row
    // sketches (exact by the θ_U <= min(θ_A, θ_B) argument)
    "q_kmv_overlap" ->
      """WITH au AS (SELECT DISTINCT user_id FROM events WHERE user_id % 3 <> 0),
        |bu AS (SELECT DISTINCT user_id FROM events WHERE user_id % 2 <> 0),
        |ha AS (SELECT DISTINCT CAST(CAST(('0x' || substr(md5(CAST(user_id
        |    AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS h FROM au),
        |hb AS (SELECT DISTINCT CAST(CAST(('0x' || substr(md5(CAST(user_id
        |    AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS h FROM bu),
        |sa AS (SELECT h FROM ha ORDER BY h LIMIT 128),
        |sb AS (SELECT h FROM hb ORDER BY h LIMIT 128),
        |su AS (SELECT DISTINCT h FROM
        |  (SELECT h FROM sa UNION ALL SELECT h FROM sb) ORDER BY h LIMIT 128),
        |nb AS (SELECT count(*) AS n_both FROM su
        |  WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
        |ku AS (SELECT count(*) AS k_used, max(h) AS hk FROM su),
        |ue AS (SELECT CASE WHEN k_used < 128 THEN CAST(k_used AS DOUBLE)
        |    ELSE round(CAST(127 AS DOUBLE) / ((CAST(hk AS DOUBLE) + 1.0)
        |      / CAST(1152921504606846976 AS DOUBLE)), 6) END AS est_union,
        |    k_used FROM ku),
        |x AS (SELECT count(*) AS exact_intersect FROM
        |  (SELECT user_id FROM au INTERSECT SELECT user_id FROM bu))
        |SELECT round(CAST(n_both AS DOUBLE) / CAST(k_used AS DOUBLE), 6)
        |    AS jaccard_est,
        |  est_union,
        |  round(CAST(n_both AS DOUBLE) / CAST(k_used AS DOUBLE) * est_union, 6)
        |    AS est_intersect,
        |  k_used, exact_intersect
        |FROM nb, ue, x""".stripMargin,

    // TPC-H Q6: same decimal-exact arithmetic as q1/q3
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,


    // ORC federation: the engine aggregated the ORC copy; the oracle
    // replays over the parquet original (same rows by construction)
    "q_orc_federation" ->
      """SELECT l_returnflag, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 7 = 0 AND l_quantity < 25
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // TPC-H Q3: same decimal-exact revenue; top-10 by (revenue desc, orderkey)
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))))
        |    AS DOUBLE) AS revenue,
        |  o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1996-03-15'
        |  AND l_shipdate > TIMESTAMP '1996-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    // TPC-H Q5: local-supplier revenue per nation, decimal-exact
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))))
        |    AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    // TPC-H Q4: EXISTS == semi-join; counts per priority
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // TPC-H Q7: disjunctive nation pair, per-year decimal-exact volume
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))))
        |    AS DOUBLE) AS revenue
        |FROM supplier, lineitem, orders, customer,
        |  nation AS n1, nation AS n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |  AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |  AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |  AND l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,


    // 3-D Morton replay: the 3-spacing mask ladder, decimal masks
    "q_zorder3_key" ->
      """WITH b AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |    CAST(floor(p_retailprice) AS BIGINT) AS p_price,
        |    p_partkey & 2097151 AS xa, CAST(p_size AS BIGINT) & 2097151 AS ya,
        |    CAST(floor(p_retailprice) AS BIGINT) & 2097151 AS za
        |  FROM part),
        |s1 AS (SELECT *, (xa | (xa << 32)) & 8725724278095871 AS xb,
        |    (ya | (ya << 32)) & 8725724278095871 AS yb,
        |    (za | (za << 32)) & 8725724278095871 AS zb FROM b),
        |s2 AS (SELECT *, (xb | (xb << 16)) & 8725728556220671 AS xc,
        |    (yb | (yb << 16)) & 8725728556220671 AS yc,
        |    (zb | (zb << 16)) & 8725728556220671 AS zc FROM s1),
        |s3 AS (SELECT *, (xc | (xc << 8)) & 1157144660301377551 AS xd,
        |    (yc | (yc << 8)) & 1157144660301377551 AS yd,
        |    (zc | (zc << 8)) & 1157144660301377551 AS zd FROM s2),
        |s4 AS (SELECT *, (xd | (xd << 4)) & 1207822528635744451 AS xe,
        |    (yd | (yd << 4)) & 1207822528635744451 AS ye,
        |    (zd | (zd << 4)) & 1207822528635744451 AS ze FROM s3),
        |s5 AS (SELECT *, (xe | (xe << 2)) & 1317624576693539401 AS xf,
        |    (ye | (ye << 2)) & 1317624576693539401 AS yf,
        |    (ze | (ze << 2)) & 1317624576693539401 AS zf FROM s4)
        |SELECT p_partkey, p_size, p_price, xf | (yf << 1) | (zf << 2) AS z
        |FROM s5 ORDER BY z, p_partkey""".stripMargin,


    // Morton key replay: the same 5-step mask/shift spread ladder in
    // 64-bit integer ops (x even bits, y odd)
    "q_zorder_key" ->
      """WITH b AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |    p_partkey & 2147483647 AS xa, CAST(p_size AS BIGINT) & 2147483647 AS ya
        |  FROM part),
        |s1 AS (SELECT *, (xa | (xa << 16)) & 281470681808895 AS xb,
        |                 (ya | (ya << 16)) & 281470681808895 AS yb FROM b),
        |s2 AS (SELECT *, (xb | (xb << 8)) & 71777214294589695 AS xc,
        |                 (yb | (yb << 8)) & 71777214294589695 AS yc FROM s1),
        |s3 AS (SELECT *, (xc | (xc << 4)) & 1085102592571150095 AS xd,
        |                 (yc | (yc << 4)) & 1085102592571150095 AS yd FROM s2),
        |s4 AS (SELECT *, (xd | (xd << 2)) & 3689348814741910323 AS xe,
        |                 (yd | (yd << 2)) & 3689348814741910323 AS ye FROM s3),
        |s5 AS (SELECT *, (xe | (xe << 1)) & 6148914691236517205 AS xf,
        |                 (ye | (ye << 1)) & 6148914691236517205 AS yf FROM s4)
        |SELECT p_partkey, p_size, xf | (yf << 1) AS z
        |FROM s5 ORDER BY z, p_partkey""".stripMargin,


    // Hilbert truth: mechanically generated unrolled xy2d (see
    // hilbertOracle), bit-for-bit the Scala construction
    "q_hilbert_key" -> hilbertOracle(10),

    "q_hilbert3_key" -> hilbert3Oracle(10),


    // grouped sketch bound check: truth is "every group within bound"
    "q_grouped_quantiles_approx" ->
      """SELECT l_returnflag, true AS ok FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    // grouped exact quantiles: linear interpolation on both engines,
    // rounded at 6 dp
    "q_grouped_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |  round(quantile_cont(l_quantity, 0.50), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS p75,
        |  round(quantile_cont(l_quantity, 0.95), 6) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    // expectations: each rule metric recomputed independently
    "q_expectations" ->
      """WITH n AS (SELECT count(*) AS n FROM orders),
        |rows_ AS (
        |  SELECT 'not_null' AS rule, 'o_orderstatus' AS "column",
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      / (SELECT n FROM n) AS metric, 0.0 AS threshold FROM orders
        |  UNION ALL
        |  SELECT 'in_range', 'o_totalprice',
        |    CAST(sum(CASE WHEN o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0.0 OR o_totalprice > 400000.0)
        |      THEN 1 ELSE 0 END) AS DOUBLE), 100.0 FROM orders
        |  UNION ALL
        |  SELECT 'matches_regex', 'o_orderstatus',
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND NOT regexp_matches(o_orderstatus, '^[A-Z]$')
        |      THEN 1 ELSE 0 END) AS DOUBLE), 0.0 FROM orders
        |  UNION ALL
        |  SELECT 'in_set', 'o_orderpriority',
        |    CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
        |      AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM',
        |        '4-NOT SPECIFIED', '5-LOW')
        |      THEN 1 ELSE 0 END) AS DOUBLE), 0.0 FROM orders
        |  UNION ALL
        |  SELECT 'in_set', 'o_orderstatus',
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('O', 'F')
        |      THEN 1 ELSE 0 END) AS DOUBLE), 0.0 FROM orders
        |  UNION ALL
        |  SELECT 'unique', 'o_orderkey',
        |    CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS DOUBLE), 0.0
        |  FROM orders
        |  UNION ALL
        |  SELECT 'ref_integrity', 'o_custkey',
        |    CAST((SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |      AND NOT EXISTS (SELECT 1 FROM customer c
        |        WHERE c.c_custkey = o.o_custkey)) AS DOUBLE), 0.0)
        |SELECT rule, "column", metric, threshold, metric <= threshold AS ok
        |FROM rows_ ORDER BY rule, "column"""".stripMargin,


    "q_fk_violations" ->
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE o_custkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer c
        |    WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 7 <> 0)
        |ORDER BY o_orderkey""".stripMargin,


    "q_fd_violations" ->
      """SELECT p_brand, count(DISTINCT p_type) AS n_distinct
        |FROM part GROUP BY p_brand
        |HAVING count(DISTINCT p_type) > 1
        |ORDER BY p_brand""".stripMargin,


    // replayable HLL uniqueness gate: register replay per column (same
    // md5-first-60-bit construction as the q_hll_* oracles)
    "q_unique_approx" ->
      (uniqueApproxOracleBlock("orders", "o_orderkey", "0.05") +
        "\nUNION ALL\n" +
        uniqueApproxOracleBlock("lineitem", "l_orderkey", "0.05") +
        "\nUNION ALL\n" +
        uniqueApproxOracleBlock("customer", "c_custkey", "0.05") +
        "\nORDER BY \"column\""),


    "q_bloom_prune" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // equi-depth bins: replay the distinct-value-CDF edge derivation
    // (edge_i = min{v : cum*10 >= i*tot}), bin = #edges strictly below v
    "q_quantile_bins" ->
      """WITH c AS (SELECT n_chars AS v, count(*) AS n FROM documents GROUP BY 1),
        |cc AS (SELECT v,
        |    SUM(n) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(n) OVER () AS tot FROM c),
        |e AS (SELECT i, min(v) AS edge FROM cc
        |  JOIN (SELECT unnest(range(1, 10)) AS i) ii ON cum * 10 >= i * tot
        |  GROUP BY i),
        |b AS (SELECT d.n_chars,
        |    CAST((SELECT count(*) FROM e WHERE d.n_chars > e.edge) AS INT) AS bin
        |  FROM documents d)
        |SELECT bin, count(*) AS n_rows, min(n_chars) AS min_v, max(n_chars) AS max_v,
        |  round(CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_v
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,


    // skyline truth: the INDEPENDENT NOT-EXISTS dominance formulation
    // over per-x maxima — no window, no cumulative trick
    "q_skyline" ->
      s"""WITH d AS (SELECT doc_id, n_chars AS x,
        |    CAST(len(list_distinct($toksSql)) AS BIGINT) AS y
        |  FROM documents),
        |px AS (SELECT x, max(y) AS y FROM d GROUP BY 1),
        |sky AS (SELECT p.x, p.y FROM px p WHERE NOT EXISTS (
        |    SELECT 1 FROM px q WHERE q.x >= p.x AND q.y >= p.y
        |      AND (q.x > p.x OR q.y > p.y)))
        |SELECT s.x, s.y,
        |  (SELECT min(doc_id) FROM d
        |    WHERE d.x = s.x AND d.y = s.y) AS keep_id
        |FROM sky s ORDER BY s.x""".stripMargin,


    // missingness truth: the same planted null structure, pattern
    // labels enumerated, share off one window over the pattern table
    "q_null_pattern" ->
      """WITH ev AS (SELECT event_id,
        |    CASE WHEN user_id % 7 = 0 THEN NULL ELSE value END AS value,
        |    CASE WHEN user_id % 5 = 0 THEN NULL ELSE props END AS props
        |  FROM events),
        |p AS (SELECT CASE
        |    WHEN value IS NULL AND props IS NULL THEN 'value,props'
        |    WHEN value IS NULL THEN 'value'
        |    WHEN props IS NULL THEN 'props'
        |    ELSE '(complete)' END AS missing_cols, count(*) AS n
        |  FROM ev GROUP BY 1)
        |SELECT missing_cols, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share
        |FROM p ORDER BY missing_cols""".stripMargin,


    // pseudonymize truth: same keyed sha256, hex-lowercase both engines
    "q_pseudonymize" ->
      """SELECT c_custkey,
        |  CASE WHEN c_name IS NOT NULL
        |    THEN sha256(concat('graft-salt', ':', c_name)) END AS c_name,
        |  c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,


    // k-anonymity truth: same string-keyed group counts and summary
    "q_k_anonymity" ->
      """WITH g AS (SELECT CAST(c_mktsegment AS VARCHAR) AS c_mktsegment,
        |    CAST(c_nationkey AS VARCHAR) AS c_nationkey, count(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |s AS (SELECT count(*) AS n_groups,
        |    CAST(SUM(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
        |      AS rows_at_risk,
        |    min(n) AS anonymity FROM g)
        |SELECT g.c_mktsegment, g.c_nationkey, g.n,
        |  s.n_groups, s.n_violating, s.rows_at_risk, s.anonymity
        |FROM g, s WHERE g.n < 10
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,


    // l-diversity truth: exact distinct sensitive count per quasi group
    "q_l_diversity" ->
      """WITH g AS (SELECT CAST(o_orderpriority AS VARCHAR) AS o_orderpriority,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS VARCHAR)
        |      AS ym,
        |    count(*) AS n, count(DISTINCT o_orderstatus) AS diversity
        |  FROM orders GROUP BY 1, 2),
        |s AS (SELECT count(*) AS n_groups,
        |    CAST(SUM(CASE WHEN diversity < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(SUM(CASE WHEN diversity < 3 THEN n ELSE 0 END) AS BIGINT)
        |      AS rows_at_risk,
        |    min(diversity) AS min_diversity FROM g)
        |SELECT g.o_orderpriority, g.ym, g.n, g.diversity,
        |  s.n_groups, s.n_violating, s.rows_at_risk, s.min_diversity
        |FROM g, s WHERE g.diversity < 3
        |ORDER BY o_orderpriority, ym""".stripMargin,


    // t-closeness truth: same pair/group/value tables; per-value terms
    // cross-multiplied in HUGEINT (exact), absent-value mass added as
    // n_g * (N - sum of present value totals), ONE double division
    "q_t_closeness" ->
      """WITH base AS (SELECT CAST(o_orderpriority AS VARCHAR) AS o_orderpriority,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS VARCHAR) AS ym,
        |    CAST(o_orderstatus AS VARCHAR) AS s
        |  FROM orders WHERE o_orderstatus IS NOT NULL),
        |pairs AS (SELECT o_orderpriority, ym, s, COUNT(*) AS cgv
        |  FROM base GROUP BY 1, 2, 3),
        |gt AS (SELECT o_orderpriority, ym, SUM(cgv) AS n FROM pairs GROUP BY 1, 2),
        |vt AS (SELECT s, SUM(cgv) AS cv FROM pairs GROUP BY 1),
        |tot AS (SELECT SUM(cgv) AS nn FROM pairs),
        |g AS (SELECT p.o_orderpriority, p.ym, MAX(gt.n) AS n, MAX(tot.nn) AS nn,
        |    SUM(ABS(CAST(p.cgv AS HUGEINT) * tot.nn
        |      - CAST(vt.cv AS HUGEINT) * gt.n)) AS sumabs,
        |    SUM(CAST(vt.cv AS HUGEINT)) AS sumcv
        |  FROM pairs p JOIN vt USING (s)
        |    JOIN gt USING (o_orderpriority, ym) CROSS JOIN tot
        |  GROUP BY 1, 2),
        |sc AS (SELECT o_orderpriority, ym, CAST(n AS BIGINT) AS n,
        |    round(CAST(sumabs + CAST(n AS HUGEINT) * (nn - sumcv) AS DOUBLE)
        |      / (2.0 * n * nn), 6) AS tvd
        |  FROM g),
        |sm AS (SELECT count(*) AS n_groups,
        |    CAST(SUM(CASE WHEN tvd > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(SUM(CASE WHEN tvd > 0.2 THEN n ELSE 0 END) AS BIGINT)
        |      AS rows_at_risk,
        |    max(tvd) AS max_tvd FROM sc)
        |SELECT sc.o_orderpriority, sc.ym, sc.n, sc.tvd,
        |  sm.n_groups, sm.n_violating, sm.rows_at_risk, sm.max_tvd
        |FROM sc, sm WHERE sc.tvd > 0.2
        |ORDER BY o_orderpriority, ym""".stripMargin,


    // key-skew truth: same count table, rounded entropy contributions
    // decimal-summed (key order cannot move the statistic), same top-20
    "q_key_skew" ->
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |t AS (SELECT SUM(cnt) AS tot, count(*) AS k FROM c),
        |e AS (SELECT CAST(SUM(CAST(round(-(CAST(cnt AS DOUBLE) / tot)
        |      * ln(CAST(cnt AS DOUBLE) / tot), 6) AS DECIMAL(18,6))) AS DOUBLE) AS ent
        |  FROM c, t)
        |SELECT key, cnt, round(CAST(cnt AS DOUBLE) / tot, 6) AS share,
        |  k AS n_keys, ent AS entropy,
        |  CASE WHEN k > 1 THEN round(ent / ln(CAST(k AS DOUBLE)), 6) END AS norm_entropy
        |FROM c, t, e ORDER BY cnt DESC, key LIMIT 20""".stripMargin,


    // percentile-rank truth: DuckDB's cume_dist over raw rows — a
    // DIFFERENT derivation of the same #{rows ≤ v}/n quantity than the
    // engine's distinct-CDF join, so the gate cross-checks the math
    "q_pct_rank" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS value,
        |  round(cume_dist() OVER (ORDER BY CAST(n_chars AS BIGINT)), 6) AS pct_rank
        |FROM documents WHERE n_chars IS NOT NULL ORDER BY doc_id""".stripMargin,


    // grouped percentile-rank truth: per-language cume_dist — again a
    // different derivation of #{group rows <= v}/|group| than the
    // engine's per-group CDF join
    "q_pct_rank_by" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS value,
        |  round(cume_dist() OVER (PARTITION BY lang
        |    ORDER BY CAST(n_chars AS BIGINT)), 6) AS pct_rank
        |FROM documents WHERE n_chars IS NOT NULL ORDER BY doc_id""".stripMargin
  )
}
