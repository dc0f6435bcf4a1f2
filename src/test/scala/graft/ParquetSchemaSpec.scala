package graft

import java.nio.file.{Files, Paths}

import graft.sources.{FormatSide, ParquetSide}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._

/** `ParquetSide.read` takes a table's schema from one footer on the driver.
  * It must resolve exactly the schema `spark.read.parquet` infers, without
  * running a Spark job, and leave every other layout to Spark's reader.
  */
class ParquetSchemaSpec extends SparkSpecBase {
  import spark.implicits._

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def tablesOf(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.endsWith(".parquet")).sorted

  /** The footer read's schema next to the one Spark infers. */
  private def bothSchemas(path: String) =
    (ParquetSide.read(spark, path).schema, spark.read.parquet(path).schema)

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def withNanosAsLong[T](on: Boolean)(body: => T): T = withConf(nanosKey, on.toString)(body)

  /** Writes (event_id, ts) rows to a file whose `ts` is TIMESTAMP(NANOS),
    * which Spark reads only as a Long under `nanosAsLong` and cannot write
    * itself.
    */
  private def writeNanos(path: String, rows: Seq[(Long, Long)]): String = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val conf = new Configuration()
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(path), conf))
      .withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ts) =>
      writer.write(groups.newGroup().append("event_id", id).append("ts", ts))
    } finally writer.close()
    path
  }

  private lazy val nanosFile: String =
    writeNanos(s"${tmp("nanos")}/events.parquet", (1L to 3L).map(i => (i, i * 1000000000L)))

  test("every catalog table resolves Spark's inferred schema") {
    for (dir <- Seq(sfDir, "perfbench/data/sf0.01"); t <- tablesOf(dir)) {
      val (footer, inferred) = bothSchemas(s"$dir/$t")
      assert(footer == inferred, s"$dir/$t")
    }
  }

  test("Spark-written layouts: multi-part with _SUCCESS, empty, nested and typed columns") {
    val base = tmp("layouts")
    spark.range(0, 300, 1, 3).selectExpr("id", "cast(id AS string) AS s")
      .write.parquet(s"$base/multi.parquet")
    assert(Files.exists(Paths.get(s"$base/multi.parquet/_SUCCESS")))
    assert(new java.io.File(s"$base/multi.parquet").list().count(_.startsWith("part-")) == 3)
    Seq((1L, "a")).toDF("id", "v").limit(0).write.parquet(s"$base/empty.parquet")
    Seq((1L, BigDecimal("12.34"), java.sql.Timestamp.valueOf("2024-01-02 03:04:05"),
        Seq(1, 2), Map("k" -> 1.5), ("x", 7)))
      .toDF("id", "dec", "ts", "arr", "m", "st")
      .withColumn("dec", $"dec".cast("decimal(12,2)"))
      .withColumn("nested", struct($"arr", $"m", array(struct($"id", $"ts"))))
      .write.parquet(s"$base/typed.parquet")
    for (t <- Seq("multi", "empty", "typed")) {
      val (footer, inferred) = bothSchemas(s"$base/$t.parquet")
      assert(footer == inferred, t)
    }
    assert(ParquetSide(spark, base, "x").table("empty").count() == 0)
    assert(ParquetSide(spark, base, "x").table("multi").count() == 300)
  }

  test("events under nanosAsLong: a MICROS ts matches either way, a NANOS ts as Long or not at all") {
    for (on <- Seq(true, false)) withNanosAsLong(on) {
      val (footer, inferred) = bothSchemas(s"$sfDir/events.parquet")
      assert(footer == inferred, s"nanosAsLong=$on")
    }
    withNanosAsLong(on = true) {
      val (footer, inferred) = bothSchemas(nanosFile)
      assert(footer == inferred)
      assert(footer("ts").dataType == org.apache.spark.sql.types.LongType)
      assert(ParquetSide.read(spark, nanosFile).select(sum("ts")).as[Long].head() == 6000000000L)
    }
    withNanosAsLong(on = false) {
      val viaFooter = intercept[Exception](ParquetSide.read(spark, nanosFile).schema)
      val viaSpark = intercept[Exception](spark.read.parquet(nanosFile).schema)
      assert(viaFooter.getClass == viaSpark.getClass)
    }
  }

  test("a NANOS ts without nanosAsLong fails in the footer read, before any Spark job") {
    withNanosAsLong(on = false) {
      val (e, jobs) = withJobCount(intercept[org.apache.spark.sql.AnalysisException](
        ParquetSide.read(spark, nanosFile)))
      assert(e.getCondition == "PARQUET_TYPE_ILLEGAL", e.getMessage)
      assert(jobs == 0)
    }
  }

  test("Tables.events reads a NANOS ts for itself: Tables.t on the file throws before and after") {
    withNanosAsLong(on = false) {
      val dir = new java.io.File(nanosFile).getParent
      intercept[Exception](Tables.t(spark, dir, "events"))
      val events = Tables.events(spark, dir)
      assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      assert(events.orderBy("event_id").select(unix_timestamp($"ts")).as[Long].collect().toSeq ==
        Seq(1L, 2L, 3L))
      assert(spark.conf.get(nanosKey) == "false")
      intercept[Exception](Tables.t(spark, dir, "events"))
    }
  }

  test("ParquetSide schemas and Tables.t run no Spark job; inference runs one per table") {
    val side = ParquetSide(spark, sfDir, "x")
    val names = side.listTables()
    assert(names.nonEmpty)
    val (_, viaSide) = withJobCount(names.map(side.schema))
    assert(viaSide == 0)
    val (_, viaTables) = withJobCount(names.map(Tables.t(spark, sfDir, _).schema))
    assert(viaTables == 0)
    val (_, inferred) = withJobCount(names.map(n => spark.read.parquet(s"$sfDir/$n.parquet").schema))
    assert(inferred >= names.size)
  }

  test("partitioned directories and mergeSchema reads, by option or session conf, keep Spark's reader") {
    val base = tmp("spark-reader")
    Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "v", "p")
      .write.partitionBy("p").parquet(s"$base/part.parquet")
    val (partitioned, jobs) = withJobCount(ParquetSide.read(spark, s"$base/part.parquet").schema)
    assert(jobs >= 1)
    assert(partitioned == spark.read.parquet(s"$base/part.parquet").schema)
    assert(partitioned.fieldNames.toSeq == Seq("id", "v", "p"))

    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$base/t.parquet")
    // no single part file holds every column, so one footer cannot pass for the merge
    Seq((2L, 9.5)).toDF("id", "score").write.mode("append").parquet(s"$base/t.parquet")
    val merged = FormatSide(spark, base, "parquet", "db1", options = Map("mergeSchema" -> "true"))
    val (schema, mergeJobs) = withJobCount(merged.schema("t"))
    assert(mergeJobs >= 1)
    assert(schema.fieldNames.toSet == Set("id", "v", "score"))

    withConf("spark.sql.parquet.mergeSchema", "true") {
      val (footer, inferred) = bothSchemas(s"$base/t.parquet")
      assert(footer == inferred)
      assert(footer.fieldNames.toSet == Set("id", "v", "score"))
    }
  }

  test("a directory without a data file, or no file at all, fails with Spark's error") {
    val empty = tmp("nodata")
    Files.createFile(Paths.get(empty, "_SUCCESS"))
    for (path <- Seq(empty, s"$empty/absent.parquet")) {
      val viaFooter = intercept[Exception](ParquetSide.read(spark, path))
      val viaSpark = intercept[Exception](spark.read.parquet(path))
      assert(viaFooter.getMessage == viaSpark.getMessage, path)
    }
  }

  test("compareAll on a TIMESTAMP(NANOS) column: raw nanos under nanosAsLong, Spark's error without") {
    val base = tmp("nanosdiff")
    val rows = (1L to 3L).map(i => (i, i * 1000000000L))
    for (side <- Seq("a", "b")) Files.createDirectory(Paths.get(base, side))
    writeNanos(s"$base/a/t.parquet", rows)
    writeNanos(s"$base/b/t.parquet", rows.init :+ ((3L, rows.last._2 + 1L)))
    def compare() = new graft.operators.DriftCompare(spark,
      ParquetSide(spark, s"$base/a", "db1"), ParquetSide(spark, s"$base/b", "db2"))
      .compareAll(parallelism = 2)
    withNanosAsLong(on = true) {
      val r = compare()
      try {
        val drift = r.dataDrift("t")
        assert(drift.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        assert(drift.select("observed_in", "event_id", "ts").as[(String, Long, Long)]
          .collect().toSet == Set(("db1", 3L, 3000000000L), ("db2", 3L, 3000000001L)))
        assert(r.summary == Seq(graft.operators.DataDriftSummaryRow("t", "db1", 1L, "db2", 1L)))
      } finally r.dataDrift.values.foreach(_.unpersist())
    }
    withNanosAsLong(on = false) {
      val before = spark.sparkContext.getPersistentRDDs.size
      val e = intercept[org.apache.spark.sql.AnalysisException](compare())
      assert(e.getCondition == "PARQUET_TYPE_ILLEGAL", e.getMessage)
      assert(spark.sparkContext.getPersistentRDDs.size == before)
    }
  }
}
