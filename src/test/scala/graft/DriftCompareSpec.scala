package graft

import graft.operators._
import graft.sources.{MemorySide, Side}
import graft.types.TypeRender
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mirrors the reference's mutation-based test matrix
  * (reference: test/data_drift_test.py, test/db_schema_drift_test.py,
  * test/db_table_drift_test.py): db2 is the source of truth, db1 gets one
  * mutation, and we assert the exact drift artifacts.
  */
class DriftCompareSpec extends SparkSpecBase {
  import spark.implicits._

  private def base(): DataFrame = Seq(
    (1L, "alice", 10.5, """{"k": 1, "j": 2}""", Seq(1, 2, 3)),
    (2L, "bob", 20.0, """{"k": 2, "j": 3}""", Seq(4, 5, 6)),
    (3L, "carol", 30.25, """{"k": 3, "j": 4}""", Seq(7, 8, 9))
  ).toDF("id", "name", "score", "props", "tags")

  private def cmp(db1: DataFrame, db2: DataFrame, config: DiffConfig = DiffConfig()) =
    new DriftCompare(spark, MemorySide("db1", Map("t" -> db1)),
      MemorySide("db2", Map("t" -> db2)), config)

  private def driftCounts(c: DriftCompare): (Long, Long) = {
    val d = c.dataDrift("t").get
    val m = d.groupBy("observed_in").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (m.getOrElse("db1", 0L), m.getOrElse("db2", 0L))
  }

  test("no mutation: no drift of any kind") {
    val c = cmp(base(), base())
    assert(c.schemaDrift("t").isEmpty)
    assert(c.missingTableDrift().isEmpty)
    assert(driftCounts(c) == ((0L, 0L)))
  }

  test("dropped column: schema drift only, no data drift") {
    val c = cmp(base().drop("score"), base())
    val sd = c.schemaDrift("t")
    assert(sd == Seq(SchemaDriftRow("t", "score", "db1", None, "db2", Some("DOUBLE"))))
    assert(driftCounts(c) == ((0L, 0L))) // intersection columns only
  }

  test("retyped column: schema drift row, but NO data drift (type-insensitive hash)") {
    val c = cmp(base().withColumn("id", col("id").cast("string")), base())
    val sd = c.schemaDrift("t")
    assert(sd == Seq(SchemaDriftRow("t", "id", "db1", Some("VARCHAR"), "db2", Some("BIGINT"))))
    assert(driftCounts(c) == ((0L, 0L)))
  }

  test("equivalent types (INTEGER vs BIGINT) produce no schema drift") {
    val c = cmp(base().withColumn("id", col("id").cast("int")), base())
    assert(c.schemaDrift("t").isEmpty)
  }

  test("deleted row: drift only on the surviving side") {
    val c = cmp(base().filter($"id" =!= 2), base())
    assert(driftCounts(c) == ((0L, 1L)))
    val d = c.dataDrift("t").get
    assert(d.select("id").as[Long].collect().toSeq == Seq(2L))
    assert(d.columns.sorted.toSeq ==
      Seq("hashed_row", "id", "name", "observed_in", "props", "score", "tags"))
  }

  test("updated value: both versions appear in drift") {
    val mut = base().withColumn("score", when($"id" === 2, lit(99.9)).otherwise($"score"))
    val c = cmp(mut, base())
    assert(driftCounts(c) == ((1L, 1L)))
  }

  test("JSON key order and array order are NOT drift") {
    val mut = base()
      .withColumn("props", regexp_replace($"props", """\{"k": (\d), "j": (\d)\}""", """{"j": $2, "k": $1}"""))
      .withColumn("tags", reverse($"tags"))
    val c = cmp(mut, base())
    assert(driftCounts(c) == ((0L, 0L)))
  }

  test("ignored column suppresses drift") {
    val mut = base().withColumn("name", concat($"name", lit("_x")))
    val cfg = DiffConfig(tableRules = Map("t" -> TableRules(ignoreColumns = Set("name"))))
    assert(driftCounts(cmp(mut, base(), cfg)) == ((0L, 0L)))
    assert(driftCounts(cmp(mut, base())) == ((3L, 3L)))
  }

  test("ignore_dates suppresses date/timestamp drift and schema presence") {
    val withTs = base().withColumn("updated_at",
      to_timestamp(lit("2024-01-01 00:00:00")))
    val mut = withTs.withColumn("updated_at",
      when($"id" === 1, to_timestamp(lit("2025-06-06 06:06:06"))).otherwise($"updated_at"))
    val cfg = DiffConfig(ignoreDates = true)
    assert(driftCounts(cmp(mut, withTs, cfg)) == ((0L, 0L)))
    assert(driftCounts(cmp(mut, withTs)) == ((1L, 1L)))
  }

  test("missing table drift") {
    val c = new DriftCompare(spark,
      MemorySide("db1", Map("t" -> base(), "extra1" -> base())),
      MemorySide("db2", Map("t" -> base(), "extra2" -> base())))
    assert(c.missingTableDrift() == Seq(
      MissingTableRow("extra1", "db1", "db2"),
      MissingTableRow("extra2", "db2", "db1")))
    assert(c.sharedTables() == Seq("t"))
  }

  test("table include/exclude regex, case-insensitive, anchored") {
    val cfg = DiffConfig(ignoreTables = Seq("EXTRA"))
    val c = new DriftCompare(spark,
      MemorySide("db1", Map("t" -> base(), "extra1" -> base())),
      MemorySide("db2", Map("t" -> base())), cfg)
    assert(c.missingTableDrift().isEmpty)
    val cfg2 = DiffConfig(targetTables = Seq("nope"))
    val c2 = new DriftCompare(spark, MemorySide("db1", Map("t" -> base())),
      MemorySide("db2", Map("t" -> base())), cfg2)
    assert(c2.sharedTables().isEmpty)
  }

  test("custom query replaces the table scan, CTEs allowed") {
    val mut = base().withColumn("score", when($"id" === 2, lit(99.9)).otherwise($"score"))
    val cfg = DiffConfig(tableRules = Map("t" -> TableRules(
      customQuery = Some("WITH x AS (SELECT id, name FROM t) SELECT * FROM x"))))
    val c = cmp(mut, base(), cfg)
    val d = c.dataDrift("t").get
    assert(d.columns.sorted.toSeq == Seq("hashed_row", "id", "name", "observed_in"))
    assert(d.count() == 0) // score excluded by the query -> no drift
  }

  test("custom query shapes: WHERE, JOIN, subquery (reference custom_query_test.py)") {
    // WHERE: restrict both sides to id <= 2; a mutation at id 3 vanishes
    val mut3 = base().withColumn("score", when($"id" === 3, lit(77.7)).otherwise($"score"))
    val whereCfg = DiffConfig(tableRules = Map("t" -> TableRules(
      customQuery = Some("SELECT id, name, score FROM t WHERE id <= 2"))))
    assert(driftCounts(cmp(mut3, base(), whereCfg)) == ((0L, 0L)))
    // but a mutation inside the predicate window IS seen
    val mut2 = base().withColumn("score", when($"id" === 2, lit(77.7)).otherwise($"score"))
    assert(driftCounts(cmp(mut2, base(), whereCfg)) == ((1L, 1L)))

    // JOIN: query joins a second table of the same side
    val dim = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "grp")
    def sides(id: String, t: DataFrame) =
      MemorySide(id, Map("t" -> t, "dim" -> dim))
    val joinCfg = DiffConfig(tableRules = Map("t" -> TableRules(
      customQuery = Some(
        "SELECT t.id, t.name, dim.grp FROM t JOIN dim ON t.id = dim.id"))))
    val cJoin = new DriftCompare(spark, sides("db1", mut2), sides("db2", base()), joinCfg)
    // score excluded by the join projection -> no drift
    assert(cJoin.dataDrift("t").get.count() == 0)

    // subquery: scalar subquery in the projection
    val subCfg = DiffConfig(tableRules = Map("t" -> TableRules(
      customQuery = Some(
        "SELECT id, name, (SELECT max(id) FROM t) AS max_id FROM t"))))
    val cSub = cmp(base().filter($"id" =!= 3), base(), subCfg)
    // max_id differs between sides (2 vs 3), so EVERY row drifts
    val (d1, d2) = driftCounts(cSub)
    assert(d1 == 2L && d2 == 3L)
  }

  test("within-side duplicates collapse (set semantics)") {
    val dup = base().union(base()) // every row twice on db1
    val c = cmp(dup, base())
    assert(driftCounts(c) == ((0L, 0L)))
  }

  test("bag-semantics extension sees multiplicity drift the set diff cannot") {
    val dup = base().union(base().filter($"id" === 2))
    val c = cmp(dup, base())
    assert(driftCounts(c) == ((0L, 0L))) // set view: no drift
    val bag = c.dataDriftBag("t").get.collect()
    assert(bag.length == 1)
    val r = bag(0)
    assert(r.getAs[Long]("id") == 2L &&
      r.getAs[Long]("n_db1") == 2L && r.getAs[Long]("n_db2") == 1L)
  }

  // The name dates from when dataDriftBagAuto chose a plan by table width.
  // dataDriftBag now takes the hash-keyed plan at every width; this checks
  // that plan on a narrow and a wide table, and that both agree with a
  // multiset count of both sides made on the driver.
  test("dataDriftBagAuto dispatches by width and both paths agree") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def firstAggWidths(df: DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collect {
        case a: Aggregate => a.groupingExpressions.length
      }
    def widen(df: DataFrame) =
      (1 to 10).foldLeft(df)((d, i) => d.withColumn(s"pad$i", $"id" * i))
    // a narrow (5 cols) and a wide (15 cols) table take the same plan
    for (shape <- Seq[DataFrame => DataFrame](identity, widen)) {
      // id 1 only on db2, id 2 twice on db1 and once on db2, id 3 only on db1
      val db1 = shape(base().filter($"id" =!= 1).union(base().filter($"id" === 2)))
      val db2 = shape(base().filter($"id" =!= 3))
      val bag = cmp(db1, db2).dataDriftBag("t").get
      // some aggregate groups on the hash ALONE, so the big shuffle never
      // carries row values
      assert(firstAggWidths(bag).contains(1))
      // expected: each distinct row whose count differs, with both counts,
      // the array column as the JSON text the diff carries
      def rows(df: DataFrame) = df.withColumn("tags", to_json($"tags")).collect().toSeq.map(_.toSeq)
      val (rows1, rows2) = (rows(db1), rows(db2))
      val expected = (rows1 ++ rows2).distinct
        .map(r => r :+ rows1.count(_ == r).toLong :+ rows2.count(_ == r).toLong)
        .filter(r => r(r.length - 2) != r.last)
      val got = bag.drop("hashed_row").select((db1.columns :+ "n_db1" :+ "n_db2").map(col): _*)
        .collect().toSeq.map(_.toSeq)
      assert(expected.map(_.head).toSet == Set(1L, 2L, 3L))
      assert(got.toSet == expected.toSet && got.length == expected.length)
    }
  }

  test("compareAll end-to-end with report") {
    val mut = base().filter($"id" =!= 3).drop("tags")
    val c = new DriftCompare(spark,
      MemorySide("db1", Map("t" -> mut, "only1" -> base())),
      MemorySide("db2", Map("t" -> base())))
    val r = c.compareAll(parallelism = 2)
    assert(r.missingTables.map(_.tableName) == Seq("only1"))
    assert(r.schemaDrift.map(_.columnName) == Seq("tags"))
    assert(r.summary == Seq(DataDriftSummaryRow("t", "db1", 0L, "db2", 1L)))
    val rep = DriftOutput.report(r)
    assert(rep.contains("\"only1\" not found in \"db2\"") && rep.contains("\"tags\"")
      && rep.contains("db2 - 1"))
  }

  test("compareAll releases the frames of zero-drift tables") {
    // rows no other spec uses, so no cached plan is shared with this one
    val rows = Seq((11L, "release-a"), (12L, "release-b")).toDF("id", "v")
    val c = new DriftCompare(spark,
      MemorySide("db1", Map("same" -> rows, "drifted" -> rows.filter($"id" =!= 12L))),
      MemorySide("db2", Map("same" -> rows, "drifted" -> rows)))
    val before = spark.sparkContext.getPersistentRDDs.size
    val r = c.compareAll(parallelism = 2)
    try {
      assert(r.dataDrift.keySet == Set("drifted"))
      assert(spark.sparkContext.getPersistentRDDs.size == before + 1)
    } finally r.dataDrift.values.foreach(_.unpersist())
  }

  /** A side that counts its listings and table resolutions, and can fail
    * one table's schema.
    */
  private class CountingSide(inner: MemorySide, brokenSchema: Option[String] = None) extends Side {
    val listings = new java.util.concurrent.atomic.AtomicInteger()
    val tables = new java.util.concurrent.atomic.AtomicInteger()
    override def id: String = inner.id
    override def listTables(): Seq[String] = { listings.incrementAndGet(); inner.listTables() }
    override def table(name: String): DataFrame = { tables.incrementAndGet(); inner.table(name) }
    override def schema(name: String) =
      if (brokenSchema.contains(name)) throw new IllegalStateException(s"no schema for $name")
      else inner.schema(name)
  }

  test("compareAll lists each side once") {
    val s1 = new CountingSide(MemorySide("db1", Map("t" -> base(), "only1" -> base())))
    val s2 = new CountingSide(MemorySide("db2", Map("t" -> base())))
    val r = new DriftCompare(spark, s1, s2).compareAll(parallelism = 2)
    assert(r.missingTables == Seq(MissingTableRow("only1", "db1", "db2")))
    assert((s1.listings.get, s2.listings.get) == ((1, 1)))
  }

  test("dataDriftBag resolves each side's table once") {
    val s1 = new CountingSide(MemorySide("db1", Map("t" -> base().union(base().filter($"id" === 2)))))
    val s2 = new CountingSide(MemorySide("db2", Map("t" -> base())))
    val bag = new DriftCompare(spark, s1, s2).dataDriftBag("t").get
    assert((s1.tables.get, s2.tables.get) == ((1, 1)))
    assert(bag.select("id", "n_db1", "n_db2").as[(Long, Long, Long)].collect().toSeq ==
      Seq((2L, 2L, 1L)))
  }

  test("compareAll rethrows a table's failure and releases what it persisted") {
    // rows no other spec uses, so no cached plan is shared with this one
    val rows = Seq((21L, "fail-a"), (22L, "fail-b")).toDF("id", "v")
    val tables = Map("a" -> rows.filter($"id" =!= 22L), "b" -> rows, "c" -> rows.filter($"id" =!= 21L))
    val c = new DriftCompare(spark,
      new CountingSide(MemorySide("db1", tables), brokenSchema = Some("b")),
      MemorySide("db2", tables.map { case (t, _) => t -> rows }))
    val before = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalStateException](c.compareAll(parallelism = 3))
    assert(e.getMessage == "no schema for b")
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("DriftOutput.write rethrows a failing table write after the others finish") {
    val out = java.nio.file.Files.createTempDirectory("driftfail")
    val bad = Seq(1L).toDF("id").select(raise_error(lit("unwritable")).cast("long").as("id"))
    val r = DriftResult(Nil, Nil, Map("ok" -> Seq(1L).toDF("id"), "bad" -> bad), Nil)
    val e = intercept[Exception](DriftOutput.write(spark, r, out.toString))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("unwritable")))
    for (t <- Seq("ok", "lotad_table_schema_drift", "lotad_missing_table_drift",
        "lotad_db_data_drift_summary"))
      assert(java.nio.file.Files.exists(out.resolve(t).resolve("_SUCCESS")), t)
  }

  test("compareAll -> write -> re-read on degenerate tables") {
    // rows no other spec uses, so no cached plan is shared with this one
    val kv = Seq((31L, "deg-a"), (32L, "deg-b")).toDF("id", "v")
    val nulls = Seq(31L, 32L, 33L).toDF("id")
    val db1 = Map(
      "empty" -> kv.limit(0), // no rows on db1
      "nulls" -> nulls.withColumn("n", lit(null).cast("int")),
      "dups" -> kv.union(kv), // every row twice on db1 only
      "same" -> kv)
    val db2 = Map(
      "empty" -> kv,
      "nulls" -> nulls.filter($"id" =!= 33L).withColumn("n", lit(null).cast("string")),
      "dups" -> kv,
      "same" -> kv)
    val r = new DriftCompare(spark, MemorySide("db1", db1), MemorySide("db2", db2))
      .compareAll(parallelism = 2)
    val out = java.nio.file.Files.createTempDirectory("driftdeg")
    try DriftOutput.write(spark, r, out.toString)
    finally r.dataDrift.values.foreach(_.unpersist())
    def read(t: String) = spark.read.parquet(out.resolve(t).toString)
    assert(read("lotad_db_data_drift_summary").as[(String, String, Long, String, Long)]
      .collect().toSeq == Seq(("empty", "db1", 0L, "db2", 2L), ("nulls", "db1", 1L, "db2", 0L)))
    assert(read("lotad_table_schema_drift").collect().toSeq.map(_.toSeq) ==
      Seq(Seq("\"nulls\"", "\"n\"", "\"db1\"", "\"INTEGER\"", "\"db2\"", "\"VARCHAR\"")))
    assert(read("lotad_missing_table_drift").count() == 0)
    assert(read("empty").select("id", "v", "observed_in").as[(Long, String, String)]
      .collect().toSet == Set((31L, "deg-a", "db2"), (32L, "deg-b", "db2")))
    val nullRow = read("nulls").select("id", "n", "observed_in").collect().toSeq
    assert(nullRow.map(_.toSeq) == Seq(Seq(33L, null, "db1")))
    for (t <- Seq("dups", "same")) assert(!java.nio.file.Files.exists(out.resolve(t)), t)
  }

  test("compareAll -> write -> re-read with names and values beyond the BMP") {
    // "｡" U+FF61 sorts before "😀" U+1F600 by code point, after it in UTF-16
    val (a, b) = ("｡", "😀")
    val db2 = Seq((61L, a, b), (62L, s"x${b}y", "z"), (63L, a, b)).toDF("id", b, a)
    // row 61 unchanged; 62 differs in one supplementary character; 63 swaps
    // the values of the two columns
    val db1 = Seq((61L, a, b), (62L, "x😁y", "z"), (63L, b, a)).toDF("id", b, a)
    val r = cmp(db1, db2).compareAll(parallelism = 2)
    val out = java.nio.file.Files.createTempDirectory("driftsmp")
    try DriftOutput.write(spark, r, out.toString)
    finally r.dataDrift.values.foreach(_.unpersist())
    val drift = spark.read.parquet(out.resolve("t").toString)
    assert(drift.columns.toSeq == Seq("id", a, b, "observed_in", "hashed_row"))
    assert(graft.functions.PyFormat.cpCompare(a, b) < 0 && a.compareTo(b) > 0)
    assert(drift.select(col("id"), col(s"`$b`"), col(s"`$a`"), col("observed_in"))
      .as[(Long, String, String, String)].collect().toSet == Set(
      (62L, "x😁y", "z", "db1"), (62L, s"x${b}y", "z", "db2"),
      (63L, b, a, "db1"), (63L, a, b, "db2")))
  }

  test("one hot hash run of 50k identical rows drifts as one row") {
    val hot = spark.range(50000).select(lit(71L).as("id"), lit("hot").as("v"))
    val once = Seq((71L, "hot")).toDF("id", "v")
    val missing = cmp(hot, once.limit(0)).dataDrift("t").get
    assert(missing.select("id", "v", "observed_in").as[(Long, String, String)].collect().toSeq ==
      Seq((71L, "hot", "db1")))
    assert(cmp(hot, once).dataDrift("t").get.count() == 0)
  }

  test("summarize counts each side in one job, as groupBy(observed_in).count() does") {
    // rows no other spec uses, so no cached plan is shared with this one
    val kv = Seq((51L, "sum-a"), (52L, "sum-b")).toDF("id", "v")
    def drift(db1: DataFrame, db2: DataFrame) = cmp(db1, db2).dataDrift("t").get.persist()
    val frames = Seq(
      ("empty", drift(kv, kv), (0L, 0L)),
      ("db1-only", drift(kv, kv.limit(0)), (2L, 0L)),
      ("db2-only", drift(kv.filter($"id" === 51L), kv), (0L, 1L)),
      ("within-side dups", drift(kv.union(kv).union(Seq((53L, "sum-c")).toDF("id", "v")), kv), (1L, 0L)),
      ("duplicate rows", Seq(("x", "db1"), ("x", "db1"), ("y", "db2")).toDF("v", "observed_in"), (2L, 1L)))
    val c = cmp(kv, kv)
    try for ((name, df, expected) <- frames) {
      val old = df.groupBy("observed_in").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val (row, jobs) = withJobCount(c.summarize(name, df))
      assert((row.rowsOnlyInDb1, row.rowsOnlyInDb2) == expected, name)
      assert(row == DataDriftSummaryRow(name, "db1", old.getOrElse("db1", 0L),
        "db2", old.getOrElse("db2", 0L)), name)
      assert(jobs == 1, name)
    } finally frames.foreach(_._2.unpersist())
  }

  test("summaryDf drift counts are LongType (no 2^31 overflow) and survive > Int.MaxValue") {
    import org.apache.spark.sql.types.LongType
    val big = Int.MaxValue.toLong + 7L
    val df = DriftOutput.summaryDf(spark,
      Seq(DataDriftSummaryRow("t", "db1", big, "db2", 0L)))
    assert(df.schema("rows_only_in_db1").dataType == LongType)
    assert(df.schema("rows_only_in_db2").dataType == LongType)
    assert(df.select("rows_only_in_db1").head().getLong(0) == big)
  }
}

class TypeRenderSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.types._
  test("rendering matches DuckDB-style names") {
    assert(TypeRender.render(LongType) == "BIGINT")
    assert(TypeRender.render(StringType) == "VARCHAR")
    assert(TypeRender.render(ArrayType(FloatType)) == "FLOAT[]")
    assert(TypeRender.render(TimestampNTZType) == "TIMESTAMP")
  }
  test("generic equivalence: least precise common type") {
    assert(TypeRender.equivalent("BIGINT", "INTEGER"))
    assert(TypeRender.equivalent("VARCHAR", "TEXT"))
    assert(TypeRender.equivalent("DOUBLE", "DECIMAL(18,2)"))
    assert(TypeRender.equivalent("STRUCT(\"a\" BIGINT)", "JSON"))
    assert(!TypeRender.equivalent("BIGINT", "VARCHAR"))
    assert(!TypeRender.equivalent("DATE", "TIMESTAMP"))
  }
}

/** Nested columns ride through the diff as JSON text (P1 projection), so
  * structural reordering must not read as drift while value changes must
  * (reference: test/data_drift_test.py:307-437 nested/JSON cases).
  */
class NestedTypesDriftSpec extends SparkSpecBase {
  import graft.sources.MemorySide
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def nested() = Seq(1L, 2L).toDF("id")
    .withColumn("owner", struct(lit("ann").as("name"), lit(30).as("age")))
    .withColumn("jobs", array(
      struct(lit("eng").as("role"), lit(100).as("pay")),
      struct(lit("mgr").as("role"), lit(200).as("pay"))))
    .withColumn("attrs", map(lit("x"), lit(1), lit("y"), lit(2)))

  test("nested struct/array/map columns: no drift for identical values") {
    val c = new DriftCompare(spark,
      MemorySide("db1", Map("t" -> nested())),
      MemorySide("db2", Map("t" -> nested())))
    val d = c.dataDrift("t").get
    assert(d.count() == 0)
  }

  test("map key order is not drift; array-of-struct order IS order-insensitive via hash") {
    val reordered = Seq(1L, 2L).toDF("id")
      .withColumn("owner", struct(lit("ann").as("name"), lit(30).as("age")))
      .withColumn("jobs", array(
        struct(lit("mgr").as("role"), lit(200).as("pay")),
        struct(lit("eng").as("role"), lit(100).as("pay"))))
      .withColumn("attrs", map(lit("y"), lit(2), lit("x"), lit(1)))
    val c = new DriftCompare(spark,
      MemorySide("db1", Map("t" -> reordered)),
      MemorySide("db2", Map("t" -> nested())))
    assert(c.dataDrift("t").get.count() == 0)
  }

  test("nested value change IS drift; drift table holds JSON text columns") {
    val mut = nested().withColumn("owner",
      when($"id" === 2, struct(lit("bob").as("name"), lit(31).as("age")))
        .otherwise(struct(lit("ann").as("name"), lit(30).as("age"))))
    val c = new DriftCompare(spark,
      MemorySide("db1", Map("t" -> mut)),
      MemorySide("db2", Map("t" -> nested())))
    val d = c.dataDrift("t").get
    assert(d.count() == 2) // both versions of id=2
    assert(d.schema("owner").dataType.typeName == "string") // JSON-folded
    assert(d.filter($"owner".contains("bob")).count() == 1)
  }
}

/** Golden-string parity with the reference's Jinja rendering: the expected
  * strings below were produced by rendering
  * lotad/reports/db_comparison_report.j2 with Jinja2 over the same rows.
  */
class ReportParitySpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.operators._

  private val full = DriftResult(
    schemaDrift = Seq(
      SchemaDriftRow("customer", "extra", "db1", None, "db2", Some("DOUBLE")),
      SchemaDriftRow("customer", "name", "db1", Some("VARCHAR"), "db2", Some("INTEGER"))),
    missingTables = Seq(MissingTableRow("only_db1", "db1", "db2")),
    dataDrift = Map.empty,
    summary = Seq(DataDriftSummaryRow("orders", "db1", 1L, "db2", 2L)))

  test("full report matches the Jinja rendering byte for byte") {
    val expected =
      "Database Comparison Report\n\nMissing Table Summary\n\"only_db1\" not found in \"db2\"\n\n" +
      "Schema Drift Summary\n\n\"customer\".\"extra\"\n    \"db1\" \"None\"\n    \"db2\" \"DOUBLE\"\n\n" +
      "\"customer\".\"name\"\n    \"db1\" \"VARCHAR\"\n    \"db2\" \"INTEGER\"\n\n" +
      "Data Drift Summary\nFormat:\n    my_table\n        db1 - records only in db1\n" +
      "        db2 - records only in db2\n\norders\n    db1 - 1\n    db2 - 2"
    assert(DriftOutput.report(full) == expected)
  }

  test("empty result renders only the header, no trailing newline") {
    assert(DriftOutput.report(DriftResult(Nil, Nil, Map.empty, Nil)) ==
      "Database Comparison Report")
  }

  test("data-drift-only report omits the other sections") {
    val r = full.copy(schemaDrift = Nil, missingTables = Nil)
    assert(DriftOutput.report(r) ==
      "Database Comparison Report\n\nData Drift Summary\nFormat:\n    my_table\n" +
      "        db1 - records only in db1\n        db2 - records only in db2\n\n" +
      "orders\n    db1 - 1\n    db2 - 2")
  }
}
