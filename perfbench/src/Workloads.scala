package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.Locale
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.SparkEntry
import graft.functions.CanonicalRowHash
import graft.operators.{DriftCompare, DriftOutput, DriftResult}
import graft.sources.{ParquetSide, Side}
import org.apache.spark.PerfbenchListenerBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}

/** Outcome of one operation: wall time, the number of units checked
  * (tables or queries) and those that failed, bytes of output, and the time
  * of each unit where the operation has separately timed units.
  */
final case class OpResult(seconds: Double, attempted: Int, failed: Seq[String], outBytes: Long,
                          units: Map[String, Double] = Map.empty)

/** One workload of the closed loop. */
trait Workload {
  /** The set-up after the session is built: open the inputs. */
  def open(spark: SparkSession, tr: Tracer): Unit
  /** One operation as a user runs it, timed from outside. */
  def run(spark: SparkSession, tr: Tracer): OpResult
  /** Rows of input one operation reads. */
  def inputRows: Long
  /** Warm operations run after the first and before the measured ones: at
    * least as many as it takes the operation time to settle.
    */
  def warmups: Int
  /** Spans of per-layer probes run beside a traced operation; none by default. */
  def probe(spark: SparkSession, tr: Tracer): Unit = ()
  /** A check made once, after the first operation and before the timed
    * loop: the units checked and those that failed.
    */
  def check(spark: SparkSession): (Int, Seq[String]) = (0, Nil)
  /** Bytes of output a user gets from one operation. */
  def outBytes(op: OpResult): Long = op.outBytes
  /** Per-layer metrics of one traced operation. */
  def layerMetrics(spans: Seq[Span], op: Span, probe: Option[Span], listener: StageListener): Map[String, Double]
}

object Workload {
  def sum(spans: Seq[Span], names: String*): Double =
    spans.filter(s => names.contains(s.name)).map(_.seconds).sum

  def groups(spans: Seq[Span]): Set[String] = spans.map(s => Tracer.group(s.id)).toSet

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }

  /** Parquet part files and their bytes under `dir`. */
  def dataFiles(dir: Path): Seq[Long] =
    if (!Files.exists(dir)) Nil
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toSeq
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(Files.size)
      finally walk.close()
    }
}

/** ParquetSide x2 -> DriftCompare.compareAll -> DriftOutput.write ->
  * DriftOutput.report, checked against the fixture's expected result.
  */
final class DiffWorkload(dir1: String, dir2: String, expected: JsonNode, out: Path) extends Workload {
  private val db1 = expected.get("db1").asText
  private val db2 = expected.get("db2").asText
  private def rows(key: String): Seq[Seq[String]] =
    expected.get(key).elements().asScala.toSeq
      .map(_.elements().asScala.toSeq.map(n => if (n.isNull) null else n.asText))
  private val expMissing = rows("missing")
  private val expSchema = rows("schema")
  private val expSummary = rows("summary")
  private val expReport = expected.get("report").asText
  private val tables: Seq[String] =
    (new java.io.File(dir1).list() ++ new java.io.File(dir2).list())
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).distinct.sorted.toSeq

  override val inputRows: Long = expected.get("input_rows").asLong
  // 40 s runs settled at 3.1-3.2 s by the eighth operation; after three
  // warm-ups some processes were still at 4.2 s, others at 3.2 s
  override val warmups = 7
  private val poolSize = math.max(Runtime.getRuntime.availableProcessors().min(8), 1)
  private var cachedBytes = 0L

  private def sides(spark: SparkSession, tr: Tracer): (Side, Side) = {
    val (s1, s2) = (ParquetSide(spark, dir1, db1), ParquetSide(spark, dir2, db2))
    if (tr.enabled) (new TracedSide(s1, tr), new TracedSide(s2, tr)) else (s1, s2)
  }

  override def open(spark: SparkSession, tr: Tracer): Unit = {
    val (s1, s2) = sides(spark, tr)
    require(s1.listTables().nonEmpty && s2.listTables().nonEmpty, s"empty side: $dir1 $dir2")
  }

  override def run(spark: SparkSession, tr: Tracer): OpResult = {
    Workload.deleteTree(out)
    val t0 = System.nanoTime()
    val (result, report) = tr.span("op") {
      val (s1, s2) = sides(spark, tr)
      val compare = new DriftCompare(spark, s1, s2)
      val result = if (tr.enabled) tracedCompareAll(spark, compare, tr) else compare.compareAll()
      tr.span("output.write")(DriftOutput.write(spark, result, out.toString))
      val report = tr.span("output.report") {
        val text = DriftOutput.report(result)
        Files.write(out.resolve("report.txt"), text.getBytes(UTF_8))
        text
      }
      (result, report)
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val failed = mismatches(result, report)
    // compareAll leaves every shared table's frame persisted; release them
    // all, outside the timed region, so operations do not accumulate cache
    spark.catalog.clearCache()
    val bytes = Workload.dataFiles(out).sum + Files.size(out.resolve("report.txt"))
    OpResult(seconds, tables.size + 1, failed, bytes)
  }

  /** compareAll rebuilt from DriftCompare's public calls, so each phase is
    * a span: the catalog (list, schema drift, missing tables), then per
    * table in a pool of compareAll's size the driver-side dataDrift plan
    * and the persist plus summarize. A change to compareAll that this does
    * not mirror shows as tracing overhead.
    */
  private def tracedCompareAll(spark: SparkSession, compare: DriftCompare, tr: Tracer): DriftResult = {
    val (shared, schema, missing) = tr.span("compare.catalog") {
      val shared = compare.sharedTables()
      (shared, shared.flatMap(compare.schemaDrift), compare.missingTableDrift())
    }
    val pool = Executors.newFixedThreadPool(poolSize)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results =
      try tr.span("compare.pool") {
        val parent = tr.currentId
        val futures = shared.map { t =>
          Future {
            tr.span("compare.table", parent) {
              tr.span("compare.plan")(compare.dataDrift(t)).map { df =>
                tr.span("compare.summarize") {
                  val cached = df.persist()
                  (t, cached, compare.summarize(t, cached))
                }
              }
            }
          }
        }
        Await.result(Future.sequence(futures), 1.hour).flatten
      } finally pool.shutdown()
    cachedBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val drifted = results.filter { case (_, _, s) => s.rowsOnlyInDb1 + s.rowsOnlyInDb2 > 0 }
    DriftResult(schema, missing, drifted.map { case (t, df, _) => t -> df }.toMap, drifted.map(_._3))
  }

  /** Tables whose missing-table, schema-drift or summary rows, or written
    * output, differ from the fixture's; "report" when the text differs.
    */
  private def mismatches(r: DriftResult, report: String): Seq[String] = {
    def missingOf(t: String) = r.missingTables.filter(_.tableName == t)
      .map(m => Seq(m.tableName, m.observedIn, m.missingIn))
    def schemaOf(t: String) = r.schemaDrift.filter(_.tableName == t).map { s =>
      Seq(s.tableName, s.columnName, s.db1, s.db1ColumnType.orNull, s.db2, s.db2ColumnType.orNull)
    }.sortBy(_(1))
    def summaryOf(t: String) = r.summary.filter(_.tableName == t)
      .map(s => Seq(s.tableName, s.rowsOnlyInDb1.toString, s.rowsOnlyInDb2.toString))
    val badTables = tables.filterNot { t =>
      val expSum = expSummary.filter(_.head == t)
      val written = expSum.isEmpty || Files.exists(out.resolve(t).resolve("_SUCCESS"))
      missingOf(t) == expMissing.filter(_.head == t) &&
      schemaOf(t) == expSchema.filter(_.head == t).sortBy(_(1)) &&
      summaryOf(t) == expSum && r.summary.count(_.tableName == t) == expSum.size && written
    }
    val unknown = (r.missingTables.map(_.tableName) ++ r.schemaDrift.map(_.tableName) ++
      r.summary.map(_.tableName)).filterNot(tables.contains).distinct
    badTables ++ unknown ++ (if (report == expReport) Nil else Seq("report"))
  }

  /** Per shared table, three `noop` writes over both sides: the projected
    * columns (scan), their canonical row hash (scan + hash), and the
    * dataDrift plan (scan + hash + HashRunScan).
    */
  override def probe(spark: SparkSession, tr: Tracer): Unit = {
    val (s1, s2) = (ParquetSide(spark, dir1, db1), ParquetSide(spark, dir2, db2))
    val compare = new DriftCompare(spark, s1, s2)
    for (t <- compare.sharedTables()) {
      val (d1, d2) = (s1.table(t), s2.table(t))
      val shared = d1.columns.filter(d2.columns.contains).sorted
      val typeOf = (d: DataFrame) => d.schema.fields.map(f => f.name -> f.dataType).toMap
      val (ty1, ty2) = (typeOf(d1), typeOf(d2))
      // the diff's normalization: nested values as JSON, mismatched types as text
      def projected(d: DataFrame, mine: Map[String, org.apache.spark.sql.types.DataType],
                    other: Map[String, org.apache.spark.sql.types.DataType]) =
        d.select(shared.toIndexedSeq.map { c =>
          if (graft.types.TypeRender.isNested(mine(c))) to_json(col(s"`$c`")).as(c)
          else if (mine(c) != other(c)) col(s"`$c`").cast("string").as(c)
          else col(s"`$c`")
        }: _*)
      val both = projected(d1, ty1, ty2).unionByName(projected(d2, ty2, ty1))
      val noop = (d: DataFrame) => d.write.format("noop").mode("overwrite").save()
      tr.span("probe.scan")(noop(both))
      tr.span("probe.hash")(noop(both.select(CanonicalRowHash(struct(shared.toIndexedSeq.map(c => col(s"`$c`")): _*)).as("h"))))
      // dataDrift's construction runs the shuffle already (AQE plans the
      // run-scan's input eagerly), so it belongs inside the span
      tr.span("probe.drift")(compare.dataDrift(t).foreach(noop))
    }
  }

  override def layerMetrics(spans: Seq[Span], op: Span, probe: Option[Span],
                            listener: StageListener): Map[String, Double] = {
    import Workload.sum
    val mine = Tracer.subtree(spans, op.id)
    val pool = mine.find(_.name == "compare.pool")
    val busy = sum(mine, "compare.table")
    val files = Workload.dataFiles(out)
    val probed = probe.map(p => Tracer.subtree(spans, p.id)).getOrElse(Nil)
    val scan = probed.filter(_.name == "probe.scan")
    val drift = probed.filter(_.name == "probe.drift")
    val scanStages = listener.totals(Workload.groups(scan))
    val driftStages = listener.totals(Workload.groups(drift))
    Map(
      "sources.list_s" -> sum(mine, "sources.list"),
      "sources.schema_s" -> sum(mine, "sources.schema", "sources.table"),
      "sources.scan_s" -> total(scan),
      "sources.scan_tasks" -> scanStages.tasks.toDouble,
      "compare.catalog_s" -> sum(mine, "compare.catalog"),
      "compare.plan_s" -> sum(mine, "compare.plan"),
      "compare.summarize_s" -> sum(mine, "compare.summarize"),
      "compare.pool_util" -> pool.map(p => busy / (p.seconds * poolSize)).getOrElse(0.0),
      "compare.cached_bytes" -> cachedBytes.toDouble,
      "hash.s" -> (sum(probed, "probe.hash") - total(scan)),
      "hash.rows" -> inputRows.toDouble,
      "runscan.s" -> (total(drift) - sum(probed, "probe.hash")),
      "runscan.shuffle_write_bytes" -> driftStages.shuffleWrite.toDouble,
      "runscan.shuffle_read_bytes" -> driftStages.shuffleRead.toDouble,
      "runscan.spill_bytes" -> driftStages.spill.toDouble,
      "runscan.tasks" -> driftStages.reduceTasks.toDouble,
      "output.write_s" -> sum(mine, "output.write"),
      "output.report_s" -> sum(mine, "output.report"),
      "output.files" -> files.size.toDouble,
      "output.bytes" -> files.sum.toDouble)
  }

  private def total(spans: Seq[Span]): Double = spans.map(_.seconds).sum
}

/** The listed SparkEntry queries, each one's full result written to the
  * `noop` sink, against the catalog in `dataDir`. Results are checked once,
  * outside the timed loop, against pinned fingerprints.
  */
final class RegistryWorkload(dataDir: String, pinned: Map[String, String]) extends Workload {
  private val queries = pinned.keys.toSeq.sorted
  private var resultBytes = 0L
  private var readRows = 0L

  /** Rows the queries read, from [[check]]. */
  override def inputRows: Long = readRows
  override val warmups = 5

  override def open(spark: SparkSession, tr: Tracer): Unit = {
    val side = ParquetSide(spark, dataDir, "catalog")
    val names = (if (tr.enabled) new TracedSide(side, tr) else side).listTables()
    require(names.nonEmpty, s"empty catalog: $dataDir")
  }

  override def run(spark: SparkSession, tr: Tracer): OpResult = {
    val fns = SparkEntry.queries
    val failed = ArrayBuffer.empty[String]
    val times = tr.span("op") {
      queries.flatMap { q =>
        val t0 = System.nanoTime()
        try {
          tr.span(s"registry.$q") {
            fns(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
          }
          Some(q -> (System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Exception =>
            System.err.println(s"perfbench: $q failed: $e")
            failed += q
            None
        }
      }
    }
    OpResult(times.map(_._2).sum, queries.size, failed.toList, 0L, times.toMap)
  }

  /** Bytes of the full results as canonical text, from [[check]]. */
  override def outBytes(op: OpResult): Long = resultBytes

  /** Queries that throw or whose full result does not match its pinned
    * fingerprint. Also counts the rows the queries read, from the input
    * metrics of the jobs the check runs.
    */
  override def check(spark: SparkSession): (Int, Seq[String]) = {
    val sc = spark.sparkContext
    val listener = new StageListener
    sc.addSparkListener(listener)
    sc.setJobGroup("check", "check")
    val fns = SparkEntry.queries
    val got =
      try queries.map { q =>
        q -> (try Some(Fingerprint(fns(q)(spark, dataDir))) catch {
          case e: Exception => System.err.println(s"perfbench: $q failed: $e"); None
        })
      } finally {
        sc.clearJobGroup()
        PerfbenchListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    readRows = listener.totals(Set("check")).inputRecords
    resultBytes = got.flatMap(_._2).map(_._2).sum
    (queries.size, got.collect {
      case (q, Some((fp, _))) if fp != pinned(q) =>
        System.err.println(s"perfbench: $q fingerprint $fp, pinned ${pinned(q)}")
        q
      case (q, None) => q
    })
  }

  override def layerMetrics(spans: Seq[Span], op: Span, probe: Option[Span],
                            listener: StageListener): Map[String, Double] = {
    val mine = Tracer.subtree(spans, op.id)
    queries.map(q => s"registry.$q.s" -> Workload.sum(mine, s"registry.$q")).toMap
  }
}

/** An order-insensitive fingerprint of a query's full result: column names
  * in order, row count, and the sum of a digest of each row's canonical
  * text, with floating-point values to 9 significant digits so that
  * summation order across partitions does not change it.
  */
object Fingerprint {
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0" else String.format(Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => canon(b.doubleValue)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (fingerprint, bytes of the result's canonical text). */
  def apply(df: DataFrame): (String, Long) = {
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    var n = 0L
    var bytes = 0L
    df.toLocalIterator().asScala.foreach { r =>
      val text = canon(r).getBytes(UTF_8)
      bytes += text.length
      sum += java.nio.ByteBuffer.wrap(md.digest(text)).getLong
      n += 1
    }
    (f"${df.columns.mkString(",")}|$n|$sum%016x", bytes)
  }
}
