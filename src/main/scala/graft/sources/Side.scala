package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** A "side" of a comparison: a named catalog of tables.
  *
  * Plays the role of an attached database in the reference
  * (reference: lotad/connection.py:115-140) — but instead of funneling
  * foreign databases through one engine's ATTACH, a side is any catalog
  * Spark can read: a directory of Parquet tables, a JDBC database, or an
  * in-memory map (tests). Table discovery + schema introspection are
  * dynamic per run, like the reference's information_schema scans
  * (reference: lotad/connection.py:148-162).
  */
trait Side {
  /** Identifier used in `observed_in` metadata and reports. */
  def id: String
  /** Sorted table names present on this side. */
  def listTables(): Seq[String]
  def table(name: String): DataFrame
  def schema(name: String): StructType = table(name).schema
}

/** A directory holding one `<table>.<format>` file/dir per table, for any
  * Spark batch source format (`parquet`, `orc`, `json`, `csv`, ...).
  * CSV/JSON get header + schema inference so dynamic introspection works
  * like the reference's information_schema scans; both infer by scanning
  * the data, in a Spark job, once per table. A parquet table with no
  * options reads one footer on the driver and runs no job
  * ([[ParquetSide.read]]); other parquet reads and ORC keep Spark's own
  * inference.
  *
  * `options` pass through to the reader — e.g. `mergeSchema -> true` for
  * a parquet/orc table whose files were written under an EVOLVING schema
  * (without it the scan samples one footer and silently drops the
  * columns other files added — exactly the drift a comparison must see).
  */
case class FormatSide(spark: SparkSession, dir: String, format: String, id: String,
                      options: Map[String, String] = Map.empty)
    extends Side {
  private val ext = s".$format"
  // schema-inferring formats (csv/json) scan the file at load() time; cache
  // the resolved DataFrame per table so repeated table() calls don't re-infer
  private val tableCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  override def listTables(): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(ext))
      .map(_.stripSuffix(ext))
      .sorted
  }
  override def table(name: String): DataFrame =
    tableCache.computeIfAbsent(name, { n =>
      val path = s"$dir/$n$ext"
      if (format == "parquet" && options.isEmpty) ParquetSide.read(spark, path)
      else {
        val reader = spark.read.format(format)
        val tuned = format match {
          case "csv" => reader.option("header", "true").option("inferSchema", "true")
          case "json" => reader // schema inferred by the source
          case _ => reader
        }
        tuned.options(options).load(path)
      }
    })
}

/** A directory holding one `<table>.parquet` per table; each table's
  * schema comes from one footer read on the driver ([[ParquetSide.read]]).
  */
final case class ParquetSide(spark: SparkSession, dir: String, id: String) extends Side {
  private val inner = FormatSide(spark, dir, "parquet", id)
  override def listTables(): Seq[String] = inner.listTables()
  override def table(name: String): DataFrame = inner.table(name)
}

object ParquetSide {

  /** `path` read as Parquet, with the schema Spark would infer but read
    * from one footer on the driver. `spark.read.parquet` infers it in a
    * Spark job, one per table, which costs more than the footer read
    * itself (the reference learns schemas from metadata at no query cost,
    * lotad/connection.py:148-162).
    *
    * The footer is the one Spark's non-merging inference reads
    * (`ParquetUtils.inferSchema`), converted by Spark's own converter
    * under the session's conf. A partitioned directory, a glob, a
    * session with `spark.sql.parquet.mergeSchema` on (Spark then merges
    * every file's schema), or a path whose footer cannot be read goes to
    * `spark.read.parquet`, so its schema and its errors stay Spark's. A
    * footer the converter rejects (a TIMESTAMP(NANOS) column without
    * `nanosAsLong`) throws the converter's AnalysisException here, the
    * error inference would raise, without running inference's failing job.
    *
    * `nanosAsLong` converts the footer as `spark.sql.legacy.parquet.nanosAsLong`
    * would, for this one read: a TIMESTAMP(NANOS) column resolves to its
    * raw nanos as a Long, which Spark's readers accept once the schema is
    * given, and the session's own setting is left as it is.
    */
  def read(spark: SparkSession, path: String, nanosAsLong: Boolean = false): DataFrame =
    footerSchema(spark, path, nanosAsLong) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession, path: String,
                           nanosAsLong: Boolean): Option[StructType] =
    if (path.exists("{}[]*?\\".contains(_)) ||
      spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val sqlConf = spark.sessionState.conf
      val readConf = if (!nanosAsLong) sqlConf else {
        val c = sqlConf.clone()
        c.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
        c
      }
      schemaFile(fs, fs.getFileStatus(p)).map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(readConf))
      }
    } catch {
      case e: AnalysisException => throw e
      case NonFatal(_) => None
    }

  /** The file Spark's inference takes the schema from: the path itself if
    * it is a file; in a flat directory `_common_metadata`, else
    * `_metadata`, else the first data file in path order. None for a
    * directory with subdirectories or without a data file.
    */
  private def schemaFile(fs: FileSystem, status: FileStatus): Option[FileStatus] =
    if (!status.isDirectory) Some(status)
    else {
      val visible = fs.listStatus(status.getPath).filterNot(s => hidden(s.getPath.getName))
        .sortBy(_.getPath.toString)
      val summaries = Seq("_common_metadata", "_metadata")
      if (visible.exists(_.isDirectory)) None
      else summaries.flatMap(n => visible.find(_.getPath.getName == n)).headOption
        .orElse(visible.find(s => !summaries.contains(s.getPath.getName)))
    }

  /** The names Spark's file listing skips (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))
}

/** In-memory side for tests and programmatic use. */
final case class MemorySide(id: String, tables: Map[String, DataFrame]) extends Side {
  override def listTables(): Seq[String] = tables.keys.toSeq.sorted
  override def table(name: String): DataFrame = tables(name)
}

/** A live JDBC database as a side (the reference reaches Postgres/SQLite
  * via DuckDB scanner extensions, lotad/connection.py:287-312; we read
  * them directly with Spark's JDBC source). Requires the JDBC driver on
  * the classpath.
  *
  * Table discovery goes through `java.sql.DatabaseMetaData.getTables`,
  * which is portable across backends — unlike `information_schema`, which
  * SQLite/Derby don't expose — and involves no SQL string interpolation.
  * Identifiers are double-quote-escaped in `table()` for the same reason.
  * An empty `schemaName` means "no schema filter" (SQLite has none).
  */
final case class JdbcSide(spark: SparkSession, url: String, props: java.util.Properties,
                          schemaName: String, id: String) extends Side {

  private def withConnection[T](f: java.sql.Connection => T): T = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  override def listTables(): Seq[String] = withConnection { conn =>
    val rs = conn.getMetaData.getTables(
      null, if (schemaName.isEmpty) null else schemaName, "%", Array("TABLE"))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    try while (rs.next()) out += rs.getString("TABLE_NAME")
    finally rs.close()
    out.toSeq.sorted
  }

  private def quoted(ident: String): String = {
    require(!ident.contains("\""), s"illegal identifier: $ident")
    "\"" + ident + "\""
  }

  override def table(name: String): DataFrame = {
    val dbtable =
      if (schemaName.isEmpty) quoted(name)
      else s"${quoted(schemaName)}.${quoted(name)}"
    spark.read.jdbc(url, dbtable, props)
  }
}

object JdbcSide {

  /** Register `url` as a DSv2 JDBC catalog named `catalogName` with
    * aggregate/limit pushdown enabled, and return a reader for its
    * tables. Unlike the V1 `spark.read.jdbc` path [[JdbcSide.table]]
    * uses (which can push only filters and column pruning), the DSv2
    * catalog compiles GROUP BY aggregates, LIMIT, and sort-limit into
    * the remote database's SQL — at federation scale the remote side
    * does the aggregation and only grouped rows cross the wire.
    * Identifier case follows the remote catalog's own rules (e.g.
    * Derby uppercases unquoted names).
    */
  def registerCatalog(spark: SparkSession, catalogName: String, url: String): Unit = {
    // CatalogManager caches the catalog instance on first use, after which
    // conf changes are silently ignored — re-registering the same name
    // with a DIFFERENT url would keep serving the old database. Fail loud
    // instead; use a fresh catalog name per url.
    val existing = spark.conf.getOption(s"spark.sql.catalog.$catalogName.url")
    require(existing.forall(_ == url),
      s"catalog '$catalogName' is already bound to ${existing.get}; " +
        s"Spark caches catalog instances, so rebinding to $url would not " +
        "take effect — register a new catalog name instead")
    spark.conf.set(s"spark.sql.catalog.$catalogName",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalogName.url", url)
    spark.conf.set(s"spark.sql.catalog.$catalogName.pushDownAggregate", "true")
    spark.conf.set(s"spark.sql.catalog.$catalogName.pushDownLimit", "true")
  }

  /** A table from a catalog registered via [[registerCatalog]]. */
  def catalogTable(spark: SparkSession, catalogName: String, schemaName: String,
                   table: String): DataFrame =
    spark.table(s"$catalogName.`$schemaName`.`$table`")
}
