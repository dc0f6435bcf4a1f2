package graft

import graft.operators.{DriftCompare, DriftOutput}
import graft.sources.ParquetSide
import org.apache.spark.sql.functions._

/** End-to-end over real Parquet directories (the CLI's layout). */
class ParquetSideSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val (dir1, dir2) = {
    val base = java.nio.file.Files.createTempDirectory("sides").toString
    val t = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "name", "x")
    t.coalesce(1).write.parquet(s"$base/s2/t.parquet")
    t.filter($"id" =!= 2).coalesce(1).write.parquet(s"$base/s1/t.parquet")
    t.coalesce(1).write.parquet(s"$base/s2/extra.parquet")
    (s"$base/s1", s"$base/s2")
  }

  test("ParquetSide lists tables and serves DataFrames") {
    val side = ParquetSide(spark, dir2, "db2")
    assert(side.listTables() == Seq("extra", "t"))
    assert(side.table("t").count() == 3)
    assert(side.schema("t").fieldNames.toSeq == Seq("id", "name", "x"))
  }

  test("compareAll over parquet dirs + write round-trip") {
    val c = new DriftCompare(spark,
      ParquetSide(spark, dir1, "db1"), ParquetSide(spark, dir2, "db2"))
    val r = c.compareAll(parallelism = 2)
    assert(r.missingTables.map(_.tableName) == Seq("extra"))
    assert(r.summary.map(s => (s.tableName, s.rowsOnlyInDb1, s.rowsOnlyInDb2)) ==
      Seq(("t", 0L, 1L)))
    val out = java.nio.file.Files.createTempDirectory("driftout").toString
    DriftOutput.write(spark, r, out)
    val drift = spark.read.parquet(s"$out/t")
    assert(drift.count() == 1 && drift.select("id").as[Long].collect()(0) == 2L)
    val summary = spark.read.parquet(s"$out/lotad_db_data_drift_summary")
    assert(summary.count() == 1)
    val missing = spark.read.parquet(s"$out/lotad_missing_table_drift")
    assert(missing.select("table_name").as[String].collect()(0) == "\"extra\"")
  }
}

/** Cross-format comparison: the Spark analog of the reference's
  * heterogeneous-backend matrix (DuckDB vs Postgres vs SQLite) — a CSV
  * side's inferred types differ from parquet's, and the type-insensitive
  * hash + string-cast normalization must still find no drift
  * (reference: test/data_drift_test.py:40 backend parametrization).
  */
class CrossFormatSpec extends SparkSpecBase {
  import graft.sources.FormatSide
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("parquet side vs csv side of the same data shows no data drift") {
    val base = java.nio.file.Files.createTempDirectory("xfmt").toString
    val t = Seq((1L, "alice", 10.5), (2L, "bob", 20.0), (3L, "carol", 30.25))
      .toDF("id", "name", "score")
    t.coalesce(1).write.parquet(s"$base/p/t.parquet")
    t.coalesce(1).write.option("header", "true").csv(s"$base/c/t.csv")
    val c = new operators.DriftCompare(spark,
      FormatSide(spark, s"$base/p", "parquet", "db1"),
      FormatSide(spark, s"$base/c", "csv", "db2"))
    // schemas differ (csv infers narrower types) but generic equivalence
    // and the type-insensitive hash mean no spurious drift
    val drift = c.dataDrift("t").get
    assert(drift.count() == 0)
    // a real value change IS still caught across formats
    val t2 = t.withColumn("score", when($"id" === 2, lit(99.9)).otherwise($"score"))
    t2.coalesce(1).write.option("header", "true").mode("overwrite").csv(s"$base/c2/t.csv")
    val c2 = new operators.DriftCompare(spark,
      FormatSide(spark, s"$base/p", "parquet", "db1"),
      FormatSide(spark, s"$base/c2", "csv", "db2"))
    assert(c2.dataDrift("t").get.count() == 2)
  }

  test("mergeSchema option surfaces columns added by schema evolution") {
    val base = java.nio.file.Files.createTempDirectory("evolve").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$base/t.parquet")
    Seq((2L, "b", 9.5)).toDF("id", "v", "score")
      .write.mode("append").parquet(s"$base/t.parquet")
    val merged = FormatSide(spark, base, "parquet", "db1",
      options = Map("mergeSchema" -> "true"))
    // the evolved column is part of the unified schema and null-fills
    // for pre-evolution files
    assert(merged.schema("t").fieldNames.toSet == Set("id", "v", "score"))
    val rows = merged.table("t").orderBy("id")
      .collect().map(r => (r.getLong(0), r.isNullAt(2)))
    assert(rows.toSeq == Seq((1L, true), (2L, false)))
  }

  test("parquet side vs orc side: no drift, and ORC scans get pushed filters") {
    val base = java.nio.file.Files.createTempDirectory("orcfmt").toString
    val t = Seq((1L, "alice", 10.5), (2L, "bob", 20.0), (3L, "carol", 30.25))
      .toDF("id", "name", "score")
    t.coalesce(1).write.parquet(s"$base/p/t.parquet")
    t.coalesce(1).write.orc(s"$base/o/t.orc")
    val side = FormatSide(spark, s"$base/o", "orc", "db2")
    assert(side.listTables() == Seq("t"))
    val c = new operators.DriftCompare(spark,
      FormatSide(spark, s"$base/p", "parquet", "db1"), side)
    assert(c.dataDrift("t").get.count() == 0)
    // the ORC source participates in pushdown/pruning like parquet
    val plan = side.table("t").filter($"id" > 1).select("name")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"),
      s"no pushed filter on ORC scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint,name:string>"),
      s"ORC scan not pruned to the projection:\n$plan")
  }
}
