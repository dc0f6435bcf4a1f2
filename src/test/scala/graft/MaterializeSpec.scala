package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.Materialize
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Storage is checked per frame (`Dataset.storageLevel`, `RDD.getStorageLevel`),
  * never by the session's global persisted-RDD count, which other suites move.
  * Each frame carries a tag no other spec uses, so no cached plan is shared.
  */
class MaterializeSpec extends SparkSpecBase {

  private def tagged(tag: String): DataFrame =
    spark.range(0, 200).withColumn("tag", lit(tag))

  private def leafRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd }

  test("within persists for the body and releases when it returns") {
    val df = tagged("materialize-return")
    val (n, inside) = Materialize.within(df) { d => (d.count(), d.storageLevel) }
    assert(n == 200L)
    assert(inside == StorageLevel.MEMORY_AND_DISK)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("within releases when the body throws") {
    val df = tagged("materialize-throw")
    var inside = StorageLevel.NONE
    val e = intercept[IllegalStateException] {
      Materialize.within(df) { d =>
        d.count()
        inside = d.storageLevel
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(inside == StorageLevel.MEMORY_AND_DISK)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("release frees an eager checkpoint and keeps the persisted frame it read") {
    val upstream = tagged("materialize-upstream").persist()
    try {
      upstream.count()
      val buffers = upstream.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers
      }
      assert(buffers.size == 1)
      val ckpt = upstream.filter(col("id") % 2 === 0).localCheckpoint(eager = true)
      val pinned = leafRdds(ckpt)
      assert(pinned.nonEmpty && pinned.forall(_.getStorageLevel != StorageLevel.NONE))
      Materialize.release(ckpt)
      assert(pinned.forall(_.getStorageLevel == StorageLevel.NONE))
      assert(buffers.head.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally upstream.unpersist()
  }

  test("release frees a checkpoint reached through a derived RDD") {
    // the budget-select shape: createDataFrame over a mapPartitions of the
    // checkpoint's rows, so the checkpoint is not the result's plan leaf
    val ckpt = tagged("materialize-derived").localCheckpoint(eager = true)
    val pinned = leafRdds(ckpt)
    assert(pinned.size == 1 && pinned.head.getStorageLevel != StorageLevel.NONE)
    val derived = spark.createDataFrame(ckpt.rdd.mapPartitions(_.filter(_.getLong(0) < 50L)),
      ckpt.schema)
    assert(derived.count() == 50L)
    assert(!leafRdds(derived).contains(pinned.head))
    Materialize.release(derived)
    assert(pinned.head.getStorageLevel == StorageLevel.NONE)
  }

  test("only Materialize.scala under src/main names LogicalRDD or StorageLevel") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val naming = files.filter { f =>
      val src = new String(Files.readAllBytes(f), UTF_8)
      src.contains("LogicalRDD") || src.contains("StorageLevel")
    }.map(_.getFileName.toString)
    assert(naming == Seq("Materialize.scala"))
  }
}
