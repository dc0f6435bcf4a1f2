package graft

import graft.functions.{TokenArray, WordShingles}
import graft.operators._
import graft.sources.{FormatSide, MemorySide, ParquetSide}
import graft.types.TypeRender

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a DuckDB-equivalent in `oracleSql` unless the
  * operator is hash-/heuristic-dependent (then it gets a rows-only check).
  * Float determinism policy: aggregates of doubles go through exact DECIMAL
  * sums and are cast back to DOUBLE at the end, so Spark and DuckDB produce
  * bit-identical values regardless of accumulation order.
  */
object SparkEntry {
  import Tables.t

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_diff_rows")(spark, "/root/testdata/sf0.001")

  /** Duplicate-refusing Map builder for the query/oracle registries: a
    * Scala `Map(...)` literal silently keeps the LAST duplicate key,
    * which once erased a declared query from the correctness gate
    * without any signal (NOTES r14). Here a duplicate name is a hard
    * failure at first access instead of a silent drop.
    */
  private[graft] def dmap[V](pairs: (String, V)*): Map[String, V] = {
    val names = pairs.map(_._1)
    val dups = names.diff(names.distinct).distinct
    require(dups.isEmpty,
      s"duplicate query name(s) in registry: ${dups.mkString(", ")}")
    pairs.toMap
  }

  /** Disjoint merge for the registry segments — `++` would silently let
    * a later segment shadow an earlier one across segment boundaries.
    */
  private[graft] def dmerge[V](maps: Map[String, V]*): Map[String, V] = {
    val names = maps.flatMap(_.keys)
    val dups = names.diff(names.distinct).distinct
    require(dups.isEmpty,
      s"query name(s) collide across registry segments: ${dups.mkString(", ")}")
    maps.reduce(_ ++ _)
  }

  import RegistryFixtures._

  def queries: Map[String, (SparkSession, String) => DataFrame] = dmerge(
    dmap[(SparkSession, String) => DataFrame](
    // ---- A1/A-class aggregation (TPC-H Q1 shape); map-side partial aggs,
    //      one shuffle on the two grouping keys ----
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum("l_quantity").as("sum_qty"),
          dsum("l_extendedprice").as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)")))
            .cast("double").as("sum_disc_price"),
          (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- J-class joins + top-k (TPC-H Q3 shape). No forced broadcast:
    //      customer⋈orders is FACT-scale (both sides grow with SF), so
    //      a hint would OOM the driver at 100× — AQE broadcasts the
    //      filtered side when it measures small, shuffles when not ----
    "q3_top_orders" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(cust.join(ord, cust("c_custkey") === ord("o_custkey"))
          .select("o_orderkey", "o_orderdate"),
          li("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)")))
            .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // ---- multi-way star join rolled up to region (TPC-H Q5 shape) ----
    "q5_region_revenue" -> ((s, dir) => {
      val dims = broadcast(t(s, dir, "region")
        .join(t(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
        .select("n_nationkey", "r_name"))
      // region⋈nation is constant-cardinality (≤25 rows) — hint it;
      // customer grows with SF, so its join rides unhinted (AQE)
      val cust = t(s, dir, "customer").join(dims,
        col("c_nationkey") === col("n_nationkey")).select("c_custkey", "r_name")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("r_name")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)")))
            .cast("double").as("revenue"))
        .orderBy("r_name")
    }),

    // ---- window / ranking (top-3 orders per priority) ----
    "q_window_topn" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rn")
    }),

    // ---- J1+U1+M1+H1: the engine's core — hash-based symmetric data diff
    //      (single shuffle; see DriftCompare) ----
    "q_diff_rows" -> ((s, dir) => {
      val (s1, s2) = lineitemSides(s, dir)
      new DriftCompare(s, s1, s2).dataDrift("lineitem").get.drop("hashed_row")
        .orderBy("l_orderkey", "l_linenumber", "observed_in")
    }),

    // ---- A1/J2: per-table drift counts by side ----
    "q_diff_summary" -> ((s, dir) => {
      val (s1, s2) = lineitemSides(s, dir)
      val c = new DriftCompare(s, s1, s2)
      DriftOutput.summaryDf(s, Seq(c.summarize("lineitem", c.dataDrift("lineitem").get)))
    }),

    // ---- bag-semantics diff extension: multiplicity-aware drift that the
    //      set-based reference cannot see (within-side duplicates) ----
    "q_diff_bag" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val c = new DriftCompare(s,
        MemorySide("db1", Map("lineitem" -> li.unionByName(li.filter("l_orderkey % 7 = 0")))),
        MemorySide("db2", Map("lineitem" -> li)))
      c.dataDriftBag("lineitem").get.drop("hashed_row")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- SET1/T1: column-level schema drift with type normalization ----
    "q_schema_drift" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val mut = li.withColumn("l_quantity", col("l_quantity").cast("string"))
        .drop("l_tax").withColumn("l_extra", lit(1))
      val c = new DriftCompare(s,
        MemorySide("db1", Map("lineitem" -> mut)),
        MemorySide("db2", Map("lineitem" -> li)))
      DriftOutput.schemaDriftDf(s, c.schemaDrift("lineitem")).orderBy("column_name")
    }),

    // ---- SET2: missing-table drift ----
    "q_missing_tables" -> ((s, dir) => {
      val keep1 = Set("lineitem", "orders", "region")
      val keep2 = Set("orders", "region", "nation")
      val all = ParquetSide(s, dir, "x").listTables()
      val c = new DriftCompare(s,
        MemorySide("db1", all.filter(keep1).map(n => n -> t(s, dir, n)).toMap),
        MemorySide("db2", all.filter(keep2).map(n => n -> t(s, dir, n)).toMap))
      DriftOutput.missingTablesDf(s, c.missingTableDrift()).orderBy("table_name")
    }),

    // ---- S1/P2: catalog scan with regex exclusion ----
    "q_list_tables" -> ((s, dir) => {
      import s.implicits._
      val cfg = DiffConfig(ignoreTables = Seq("embed"))
      ParquetSide(s, dir, "db1").listTables().filter(cfg.tableSelected)
        .toDF("table_name")
    }),

    // ---- S2: schema scan with canonical type rendering ----
    "q_schema_scan" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem").schema.fields.zipWithIndex.map { case (f, i) =>
        ("lineitem", f.name, i + 1, TypeRender.render(f.dataType))
      }.toSeq.toDF("table_name", "column_name", "ordinal_position", "data_type")
    }),

    // ---- A2/A3/J3: wizard overlap probe (distinct sample + count matches) ----
    "q_probe_overlap" -> ((s, dir) => {
      import s.implicits._
      // deterministic 10k-distinct sample: a bare LIMIT differs between
      // engines (and between Spark runs) once ndv > 10000 — order first
      val sample = t(s, dir, "customer").select("c_custkey").distinct()
        .orderBy("c_custkey").limit(10000)
      val n = t(s, dir, "orders")
        .join(sample, col("o_custkey") === col("c_custkey"), "left_semi").count()
      Seq(("c_custkey", n)).toDF("column_name", "overlap_count")
    }),

    // ---- P1: normalized projection (JSON-folding + string casts) ----
    "q_projection_normalize" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("string").as("l_quantity_str"),
          to_json(struct(col("l_suppkey"), col("l_partkey"))).as("keys_json"),
          to_json(array(col("l_orderkey"), col("l_partkey"))).as("arr_json"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- Q1: custom per-table query override (join shape), diffed ----
    "q_custom_query_diff" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val cfg = DiffConfig(tableRules = Map("orders" -> TableRules(customQuery = Some(
        """SELECT o_orderkey, c_name, o_totalprice FROM orders
          |JOIN customer ON o_custkey = c_custkey WHERE o_orderkey % 5 = 0""".stripMargin))))
      val c = new DriftCompare(s,
        MemorySide("db1", Map("orders" -> ord.filter("o_orderkey % 97 != 0"), "customer" -> cust)),
        MemorySide("db2", Map("orders" -> ord.filter("o_orderkey % 89 != 0"), "customer" -> cust)),
        cfg)
      c.dataDrift("orders").get.drop("hashed_row")
        .orderBy("o_orderkey", "observed_in")
    }),

    // ---- P4 promoted to the oracle gate: ignore_dates=true excludes
    //      date-like columns from the projection AND the row hash, so a
    //      side whose only drift is a shifted ship date reads as clean
    //      while real (non-date) drift still surfaces (reference:
    //      lotad/config.py ignore_dates; db_compare.py date exclusion) ----
    "q_diff_ignore_dates" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val mutated = li
        .withColumn("l_shipdate", when(col("l_orderkey") % 13 === 0,
          col("l_shipdate") + expr("INTERVAL 1 DAY")).otherwise(col("l_shipdate")))
        .withColumn("l_quantity", when(col("l_orderkey") % 17 === 0,
          col("l_quantity") + lit(100.0)).otherwise(col("l_quantity")))
      val c = new DriftCompare(s,
        MemorySide("db1", Map("lineitem" -> li)),
        MemorySide("db2", Map("lineitem" -> mutated)),
        DiffConfig(ignoreDates = true))
      c.dataDrift("lineitem").get.drop("hashed_row")
        .orderBy("l_orderkey", "l_linenumber", "observed_in")
    })
  ), PipelineRegistry.queries, TextRegistry.queries, DedupRegistry.queries,
    SimilarityRegistry.queries, DriftRegistry.queries,
    MultimodalRegistry.queries, EventsRegistry.queries, WalksRegistry.queries,
    StatsRegistry.queries, ExperimentRegistry.queries,
    LinkageRegistry.queries, EvalRegistry.queries)

  /** DuckDB-equivalent SQL per query (column names must match exactly). */
  def oracleSql: Map[String, String] = dmerge(dmap(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT r_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_window_topn" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin,

    "q_diff_rows" ->
      s"""WITH $lineitemSidesSql
        |SELECT *, 'db1' AS observed_in FROM d1
        |UNION ALL SELECT *, 'db2' AS observed_in FROM d2
        |ORDER BY l_orderkey, l_linenumber, observed_in""".stripMargin,

    "q_diff_summary" ->
      s"""WITH $lineitemSidesSql
        |SELECT 'lineitem' AS table_name, 'db1' AS db1,
        |  CAST((SELECT count(*) FROM d1) AS BIGINT) AS rows_only_in_db1,
        |  'db2' AS db2,
        |  CAST((SELECT count(*) FROM d2) AS BIGINT) AS rows_only_in_db2""".stripMargin,

    "q_diff_bag" ->
      """WITH u AS (
        |  SELECT *, 'db1' AS observed_in FROM lineitem
        |  UNION ALL SELECT *, 'db1' FROM lineitem WHERE l_orderkey % 7 = 0
        |  UNION ALL SELECT *, 'db2' FROM lineitem)
        |SELECT * EXCLUDE (observed_in), count(*) FILTER (observed_in = 'db1') AS n_db1,
        |  count(*) FILTER (observed_in = 'db2') AS n_db2
        |FROM u GROUP BY ALL
        |HAVING n_db1 <> n_db2
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_schema_drift" ->
      """SELECT * FROM (VALUES
        |  ('"lineitem"', '"l_extra"', '"db1"', '"INTEGER"', '"db2"', '"None"'),
        |  ('"lineitem"', '"l_quantity"', '"db1"', '"VARCHAR"', '"db2"', '"DOUBLE"'),
        |  ('"lineitem"', '"l_tax"', '"db1"', '"None"', '"db2"', '"DOUBLE"'))
        |AS t(table_name, column_name, db1, db1_column_type, db2, db2_column_type)
        |ORDER BY column_name""".stripMargin,

    "q_missing_tables" ->
      """SELECT * FROM (VALUES
        |  ('"lineitem"', '"db1"', '"db2"'),
        |  ('"nation"', '"db2"', '"db1"'))
        |AS t(table_name, observed_in, missing_in) ORDER BY table_name""".stripMargin,

    "q_list_tables" ->
      """SELECT * FROM (VALUES ('customer'), ('documents'), ('events'),
        |  ('lineitem'), ('nation'), ('orders'), ('part'), ('region'),
        |  ('supplier')) AS t(table_name)""".stripMargin,

    "q_schema_scan" ->
      """SELECT * FROM (VALUES
        |  ('lineitem', 'l_orderkey', 1, 'BIGINT'),
        |  ('lineitem', 'l_partkey', 2, 'BIGINT'),
        |  ('lineitem', 'l_suppkey', 3, 'BIGINT'),
        |  ('lineitem', 'l_linenumber', 4, 'INTEGER'),
        |  ('lineitem', 'l_quantity', 5, 'DOUBLE'),
        |  ('lineitem', 'l_extendedprice', 6, 'DOUBLE'),
        |  ('lineitem', 'l_discount', 7, 'DOUBLE'),
        |  ('lineitem', 'l_tax', 8, 'DOUBLE'),
        |  ('lineitem', 'l_returnflag', 9, 'VARCHAR'),
        |  ('lineitem', 'l_linestatus', 10, 'VARCHAR'),
        |  ('lineitem', 'l_shipdate', 11, 'TIMESTAMP'))
        |AS t(table_name, column_name, ordinal_position, data_type)""".stripMargin,

    "q_probe_overlap" ->
      """SELECT 'c_custkey' AS column_name, count(*) AS overlap_count
        |FROM orders WHERE o_custkey IN (
        |  SELECT DISTINCT c_custkey FROM customer ORDER BY c_custkey LIMIT 10000)""".stripMargin,

    "q_projection_normalize" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS VARCHAR) AS l_quantity_str,
        |  to_json(struct_pack(l_suppkey := l_suppkey, l_partkey := l_partkey)) AS keys_json,
        |  to_json([l_orderkey, l_partkey]) AS arr_json
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_custom_query_diff" ->
      """WITH q1 AS (SELECT o_orderkey, c_name, o_totalprice
        |    FROM (SELECT * FROM orders WHERE o_orderkey % 97 <> 0) o
        |    JOIN customer ON o_custkey = c_custkey WHERE o_orderkey % 5 = 0),
        |  q2 AS (SELECT o_orderkey, c_name, o_totalprice
        |    FROM (SELECT * FROM orders WHERE o_orderkey % 89 <> 0) o
        |    JOIN customer ON o_custkey = c_custkey WHERE o_orderkey % 5 = 0),
        |  d1 AS (SELECT * FROM q1 EXCEPT SELECT * FROM q2),
        |  d2 AS (SELECT * FROM q2 EXCEPT SELECT * FROM q1)
        |SELECT *, 'db1' AS observed_in FROM d1
        |UNION ALL SELECT *, 'db2' AS observed_in FROM d2
        |ORDER BY o_orderkey, observed_in""".stripMargin,

    // ignore_dates: the date column is excluded from projection + hash,
    // so only the quantity mutation drifts
    "q_diff_ignore_dates" ->
      """WITH cols1 AS (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
        |    l_quantity, l_extendedprice, l_discount, l_tax,
        |    l_returnflag, l_linestatus FROM lineitem),
        |  cols2 AS (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
        |    CASE WHEN l_orderkey % 17 = 0 THEN l_quantity + 100.0
        |      ELSE l_quantity END AS l_quantity,
        |    l_extendedprice, l_discount, l_tax,
        |    l_returnflag, l_linestatus FROM lineitem),
        |  d1 AS (SELECT * FROM cols1 EXCEPT SELECT * FROM cols2),
        |  d2 AS (SELECT * FROM cols2 EXCEPT SELECT * FROM cols1)
        |SELECT *, 'db1' AS observed_in FROM d1
        |UNION ALL SELECT *, 'db2' AS observed_in FROM d2
        |ORDER BY l_orderkey, l_linenumber, observed_in""".stripMargin
  ), PipelineRegistry.oracles, TextRegistry.oracles, DedupRegistry.oracles,
    SimilarityRegistry.oracles, DriftRegistry.oracles,
    MultimodalRegistry.oracles, EventsRegistry.oracles, WalksRegistry.oracles,
    StatsRegistry.oracles, ExperimentRegistry.oracles,
    LinkageRegistry.oracles, EvalRegistry.oracles)
}
