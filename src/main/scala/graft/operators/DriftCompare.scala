package graft.operators

import java.util.regex.Pattern

import graft.functions.{CanonicalRowHash, PyFormat}
import graft.sources.Side
import graft.types.TypeRender

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-table comparison rules (reference: lotad/config.py:60-163). */
final case class TableRules(
    ignoreColumns: Set[String] = Set.empty,
    customQuery: Option[String] = None)

/** Diff run configuration (reference: lotad/config.py:166-188). */
final case class DiffConfig(
    targetTables: Seq[String] = Seq.empty,
    ignoreTables: Seq[String] = Seq.empty,
    ignoreDates: Boolean = false,
    tableRules: Map[String, TableRules] = Map.empty) {

  private def anchored(p: String, s: String): Boolean =
    Pattern.compile(p, Pattern.CASE_INSENSITIVE).matcher(s).lookingAt()

  /** Regex include/exclude of table names, case-insensitive, anchored at
    * the start like Python `re.match` (reference: lotad/db_compare.py:196-202).
    */
  def tableSelected(name: String): Boolean = {
    if (ignoreTables.exists(anchored(_, name))) return false
    if (targetTables.nonEmpty) targetTables.exists(anchored(_, name)) else true
  }

  def rules(table: String): TableRules =
    tableRules.getOrElse(table, TableRules())
}

final case class SchemaDriftRow(
    tableName: String, columnName: String,
    db1: String, db1ColumnType: Option[String],
    db2: String, db2ColumnType: Option[String])

final case class MissingTableRow(tableName: String, observedIn: String, missingIn: String)

final case class DataDriftSummaryRow(
    tableName: String, db1: String, rowsOnlyInDb1: Long, db2: String, rowsOnlyInDb2: Long)

/** Results of a full comparison run. */
final case class DriftResult(
    schemaDrift: Seq[SchemaDriftRow],
    missingTables: Seq[MissingTableRow],
    dataDrift: Map[String, DataFrame],
    summary: Seq[DataDriftSummaryRow])

/** The drift comparator: schema drift, missing-table drift, and hash-based
  * row-level data drift between two sides.
  *
  * Spark-first design notes (vs the reference's per-table DuckDB sessions,
  * reference: lotad/db_compare.py:305-377):
  *  - the symmetric hash diff is a single-pass run-scan (see
  *    [[HashRunScan]]): each side is scanned and hashed once, the union
  *    shuffles once on `hashed_row`, and single-side runs stream out with
  *    inline dedup — half the IO of a dual anti-join and no trailing
  *    distinct shuffle.
  *  - projections are declared on the DataFrame, so Catalyst pushes column
  *    pruning into the Parquet scan (only intersection columns are read).
  *  - set semantics are preserved exactly: presence is per-hash, and the
  *    output drops duplicate rows like the reference's UNION
  *    (reference: lotad/queries/duckdb/db_compare_create_tmp_table_merge.sql:28-45).
  */
final class DriftCompare(
    spark: SparkSession,
    side1: Side,
    side2: Side,
    config: DiffConfig = DiffConfig()) {

  require(side1.id != side2.id, "sides must have distinct ids")

  import spark.implicits._

  /** The selected table names of each side, one listing per side. */
  private def listSelected(): (Set[String], Set[String]) =
    (side1.listTables().filter(config.tableSelected).toSet,
      side2.listTables().filter(config.tableSelected).toSet)

  private def shared(t1: Set[String], t2: Set[String]): Seq[String] =
    t1.intersect(t2).toSeq.sorted

  private def missing(t1: Set[String], t2: Set[String]): Seq[MissingTableRow] =
    (t1 -- t2).toSeq.sorted.map(MissingTableRow(_, side1.id, side2.id)) ++
      (t2 -- t1).toSeq.sorted.map(MissingTableRow(_, side2.id, side1.id))

  def sharedTables(): Seq[String] = {
    val (t1, t2) = listSelected()
    shared(t1, t2)
  }

  /** Tables present on exactly one side (reference: lotad/db_compare.py:118-147). */
  def missingTableDrift(): Seq[MissingTableRow] = {
    val (t1, t2) = listSelected()
    missing(t1, t2)
  }

  /** `fields` without `table`'s ignore-columns and, under `ignoreDates`, date-like ones. */
  private def keptFields(table: String, fields: Seq[StructField]): Seq[StructField] = {
    val ignores = config.rules(table).ignoreColumns.map(_.toLowerCase)
    fields
      .filterNot(f => ignores.contains(f.name.toLowerCase))
      .filterNot(f => config.ignoreDates && TypeRender.isDateLike(f.dataType))
  }

  private def effectiveSchema(side: Side, table: String): Seq[StructField] =
    keptFields(table, side.schema(table).fields.toSeq)

  /** Column-level drift for one shared table: columns missing on one side
    * or type-inequivalent after generic-type normalization
    * (reference: lotad/db_compare.py:35-116).
    */
  def schemaDrift(table: String): Seq[SchemaDriftRow] = {
    val s1 = effectiveSchema(side1, table).map(f => f.name -> TypeRender.render(f.dataType)).toMap
    val s2 = effectiveSchema(side2, table).map(f => f.name -> TypeRender.render(f.dataType)).toMap
    val missing2 = (s1.keySet -- s2.keySet).toSeq.sorted.map { c =>
      SchemaDriftRow(table, c, side1.id, Some(s1(c)), side2.id, None)
    }
    val missing1 = (s2.keySet -- s1.keySet).toSeq.sorted.map { c =>
      SchemaDriftRow(table, c, side1.id, None, side2.id, Some(s2(c)))
    }
    val mismatched = s1.keySet.intersect(s2.keySet).toSeq.sorted.flatMap { c =>
      if (!TypeRender.equivalent(s1(c), s2(c)))
        Some(SchemaDriftRow(table, c, side1.id, Some(s1(c)), side2.id, Some(s2(c))))
      else None
    }
    missing2 ++ missing1 ++ mismatched
  }

  /** Normalized projection: intersection columns only, sorted, nested
    * types as JSON text, cross-side type mismatches cast to string
    * (reference: lotad/db_compare.py:267-302).
    */
  private def normalizedProjection(df1: DataFrame, df2: DataFrame): (DataFrame, DataFrame) = {
    val f1 = df1.schema.fields.map(f => f.name -> f.dataType).toMap
    val f2 = df2.schema.fields.map(f => f.name -> f.dataType).toMap
    val shared = f1.keySet.intersect(f2.keySet).toSeq
      .sortWith(PyFormat.cpCompare(_, _) < 0)
    def proj(df: DataFrame, mine: Map[String, DataType], other: Map[String, DataType]) =
      df.select(shared.map { c =>
        val dt = mine(c)
        if (TypeRender.isNested(dt)) to_json(col(s"`$c`")).as(c)
        else if (TypeRender.render(dt) != TypeRender.render(other(c))) col(s"`$c`").cast("string").as(c)
        else col(s"`$c`")
      }: _*)
    (proj(df1, f1, f2), proj(df2, f2, f1))
  }

  /** Each side's input for `table` (its custom query, else the table),
    * resolved once per side, with the ignored columns dropped.
    */
  private def inputs(table: String): (DataFrame, DataFrame) = {
    def input(side: Side): DataFrame = {
      val df = config.rules(table).customQuery match {
        case Some(q) => runCustomQuery(side, q)
        case None => side.table(table)
      }
      df.select(keptFields(table, df.schema.fields.toSeq).map(f => col(s"`${f.name}`")): _*)
    }
    (input(side1), input(side2))
  }

  /** Both sides' [[normalizedProjection]]s of `table`; None when they share no column. */
  private def projected(table: String): Option[(DataFrame, DataFrame)] = {
    val (in1, in2) = inputs(table)
    val (p1, p2) = normalizedProjection(in1, in2)
    if (p1.schema.isEmpty) None else Some((p1, p2))
  }

  /** The union of both projections, each row tagged with `observed_in` and `hashed_row`. */
  private def tagged(p1: DataFrame, p2: DataFrame): DataFrame = {
    val cols = p1.columns
    def tag(df: DataFrame, id: String) = df
      .withColumn("observed_in", lit(id))
      .withColumn("hashed_row", CanonicalRowHash(struct(cols.map(c => col(s"`$c`")): _*)))
    tag(p1, side1.id).unionByName(tag(p2, side2.id))
  }

  /** Run a user query against one side: every table of the side is exposed
    * as a temp view, then plain `spark.sql` — no string rewriting, unlike
    * the reference's regex-qualified attach aliases
    * (reference: lotad/db_compare.py:223-264). CTEs are consequently legal.
    */
  def runCustomQuery(side: Side, query: String): DataFrame = synchronized {
    val names = side.listTables()
    try {
      names.foreach(n => side.table(n).createOrReplaceTempView(n))
      spark.sql(query) // analyzed eagerly; safe to drop the views after
    } finally {
      names.foreach(n => spark.catalog.dropTempView(n))
    }
  }

  /** Row-level drift for one shared table: rows (by canonical hash) present
    * on exactly one side. Output columns: intersection columns (sorted) +
    * `observed_in` + `hashed_row`
    * (reference: lotad/queries/duckdb/db_compare_create_tmp_table_merge.sql).
    * Returns None when the sides share no columns
    * (reference: lotad/db_compare.py:337-339).
    *
    * Rows are compared by `hashed_row` alone, a 64-bit xxh64: two distinct
    * rows with one hash count as the same row, so a row on one side can
    * hide a different row on the other. Over n distinct rows the expected
    * number of colliding pairs is n² / 2^65 (while small, also the chance
    * p of any collision): about 3e-6 at 10^7 rows, 2.7 at 10^10.
    */
  def dataDrift(table: String): Option[DataFrame] =
    // Single-pass plan: each side is scanned and hashed exactly once, the
    // union shuffles once on hashed_row, and a streaming run-scan emits
    // single-side runs. This beats the dual anti-join formulation (which
    // reads and hashes every side twice — once as full left, once as the
    // hash-only build) and needs no trailing dropDuplicates shuffle: the
    // run-scan dedups as it goes.
    projected(table).map { case (p1, p2) => HashRunScan(tagged(p1, p2)) }

  /** Drift localization extension (not in the reference): roll the
    * [[dataDrift]] rows up into key-range buckets — (bucket_lo,
    * observed_in, n_rows) for bucket_lo = floor(key / width) · width —
    * so an operator staring at 40M drifted rows can see WHERE the drift
    * lives (one ingest day? one key shard? uniform?) before reading a
    * single row. At 100 TB this is the triage step that decides whether
    * to re-run one partition's load or diff the whole table.
    *
    * Shape: one map-side-combinable aggregate over the drift output —
    * the bucket count is bounded by key-range/width, and the drift rows
    * already carry the key column (the diff projects the full
    * intersection), so no re-join against either side.
    */
  def driftLocalize(drift: DataFrame, keyCol: String, width: Long): DataFrame = {
    require(width > 0, "width must be positive")
    // bucket_lo = floor-to-width in pure INTEGER arithmetic (pmod is
    // non-negative for any sign, so this is a true floor, and no key
    // ever round-trips through a double)
    val k = col(keyCol).cast("long")
    drift
      .withColumn("bucket_lo", k - pmod(k, lit(width)))
      .groupBy("bucket_lo", "observed_in")
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Distribution-drift extension (not in the reference): per shared
    * NUMERIC column of `table`, the Population Stability Index between
    * the two sides ([[Distribution.psi]]) — row/schema diffs answer
    * "which rows changed"; this answers "has the column's SHAPE moved"
    * even when every individual row legitimately churned. Ignored and
    * date-excluded columns are dropped first, like every other compare.
    */
  def distributionDrift(table: String, nBins: Int = 10): Option[DataFrame] = {
    val (in1, in2) = inputs(table)
    val numeric = in1.schema.fields
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name)
      .intersect(in2.schema.fields
        .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        .map(_.name))
      .sorted
    if (numeric.isEmpty) None
    else Some(Distribution.psiAll(in1, in2, numeric.toIndexedSeq, nBins))
  }

  /** Bag-semantics extension (not in the reference, which is strictly
    * set-based — see SURVEY §2 fine print): rows whose per-side
    * MULTIPLICITY differs. A row occurring twice on one side and once on
    * the other is invisible to [[dataDrift]] but reported here with its
    * per-side counts `n_db1` and `n_db2`.
    *
    * The multiplicity aggregation groups on `hashed_row` ALONE, so the
    * shuffle carries (16-hex-character hash, two counts) per distinct row
    * instead of the full row width. Row values are attached afterwards by
    * joining the union back to the differing-hash set and collapsing the
    * identical copies per hash. Rows are compared by hash alone, as in
    * [[dataDrift]], with the same bound: n² / 2^65 expected colliding
    * pairs over n distinct rows, 2.7 at 10^10 rows.
    *
    * The differing-hash set is joined back WITHOUT a broadcast hint: its
    * size is data-dependent (two heavily-diverged sides approach full
    * distinct-row cardinality, past any broadcast/driver limit), so the
    * strategy is left to AQE, which broadcasts exactly when the measured
    * build side is small and falls back to a shuffled hash join otherwise.
    */
  def dataDriftBag(table: String): Option[DataFrame] =
    projected(table).map { case (p1, p2) =>
      val cols = p1.columns
      val u = tagged(p1, p2)
      val counts = u
        .groupBy("hashed_row")
        .agg(
          count(when(col("observed_in") === side1.id, 1)).as("n_db1"),
          count(when(col("observed_in") === side2.id, 1)).as("n_db2"))
        .filter(col("n_db1") =!= col("n_db2"))
      val rep = u.join(counts, "hashed_row")
        .groupBy("hashed_row")
        .agg(first(col(s"`${cols.head}`")).as(cols.head),
          (cols.tail.map(c => first(col(s"`$c`")).as(c)) ++
            Seq(first("n_db1").as("n_db1"), first("n_db2").as("n_db2"))): _*)
      rep.select((cols.map(c => col(s"`$c`")) ++
        Seq(col("hashed_row"), col("n_db1"), col("n_db2"))): _*)
    }

  /** Per-table drift counts by side (reference:
    * lotad/queries/duckdb/drift_analysis_extend_data_drift_summary.sql).
    * One job and no shuffle: each partition counts its rows per side and
    * the driver adds the counts up. On a persisted `drift` that job also
    * fills the cache.
    */
  def summarize(table: String, drift: DataFrame): DataDriftSummaryRow = {
    val (id1, id2) = (side1.id, side2.id)
    val (n1, n2) = drift.select("observed_in").as[String].rdd.aggregate((0L, 0L))(
      { case ((a, b), o) => if (o == id1) (a + 1, b) else if (o == id2) (a, b + 1) else (a, b) },
      { case ((a1, b1), (a2, b2)) => (a1 + a2, b1 + b2) })
    DataDriftSummaryRow(table, id1, n1, id2, n2)
  }

  /** Full comparison across the catalog. Each side is listed once; then
    * the table is the unit of work: one task per shared table resolves
    * both schemas (schema drift), plans the hash diff, and persists and
    * counts it (summary). Up to `parallelism` tables run at once, so one
    * table's schema reads overlap other tables' shuffles (reference fans
    * out one OS process per table, lotad/db_compare.py:192-217; we submit
    * concurrent jobs in one session instead). Schema-drift and summary
    * rows come back in shared-table order. If a table throws, the call
    * rethrows once every table is done, and releases what it persisted.
    *
    * Each drifted table's frame comes back persisted, so writing it does
    * not recompute the diff; releasing those is the caller's. A table
    * whose summary is zero is released here, as soon as it is counted.
    */
  def compareAll(parallelism: Int = DriftCompare.poolWidth): DriftResult = {
    val (t1, t2) = listSelected()
    val persisted = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val perTable =
      try DriftCompare.inPool(shared(t1, t2), parallelism) { t =>
        val schema = schemaDrift(t)
        val drifted = dataDrift(t).flatMap { df =>
          val cached = df.persist()
          persisted.add(cached)
          val s = summarize(t, cached)
          if (s.rowsOnlyInDb1 + s.rowsOnlyInDb2 > 0) Some((t, cached, s))
          else { cached.unpersist(); None }
        }
        (schema, drifted)
      } catch { case e: Throwable => persisted.forEach(_.unpersist()); throw e }
    val drifted = perTable.flatMap(_._2)
    DriftResult(
      schemaDrift = perTable.flatMap(_._1),
      missingTables = missing(t1, t2),
      dataDrift = drifted.map { case (t, df, _) => t -> df }.toMap,
      summary = drifted.map(_._3))
  }
}

object DriftCompare {

  /** Width of the table pool: one thread per core, at most eight. */
  val poolWidth: Int = Runtime.getRuntime.availableProcessors().min(8)

  /** `f` over `xs` on a pool of at most `width` threads, results in `xs`
    * order. Waits for every task; if any threw, rethrows the exception of
    * the first in `xs` order.
    */
  private[operators] def inPool[A, B](xs: Seq[A], width: Int)(f: A => B): Seq[B] = {
    import scala.jdk.CollectionConverters._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(width.min(xs.size).max(1))
    try {
      val tasks = xs.map(x => (() => f(x)): java.util.concurrent.Callable[B])
      pool.invokeAll(tasks.asJava).asScala.toSeq.map { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }
}

/** Writers + report for drift results (reference: lotad/data_analysis.py). */
object DriftOutput {

  /** The reference wraps summary values in literal double quotes
    * (reference: lotad/data_analysis.py:106-141); reproduced for parity.
    */
  private def q(s: String): String = "\"" + s + "\""

  def schemaDriftDf(spark: SparkSession, rows: Seq[SchemaDriftRow]): DataFrame = {
    val data = rows.map(r => Row(q(r.tableName), q(r.columnName), q(r.db1),
      q(r.db1ColumnType.map(_.replace("'", "")).getOrElse("None")),
      q(r.db2), q(r.db2ColumnType.map(_.replace("'", "")).getOrElse("None"))))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), StructType(Seq(
      StructField("table_name", StringType), StructField("column_name", StringType),
      StructField("db1", StringType), StructField("db1_column_type", StringType),
      StructField("db2", StringType), StructField("db2_column_type", StringType))))
  }

  def missingTablesDf(spark: SparkSession, rows: Seq[MissingTableRow]): DataFrame = {
    val data = rows.map(r => Row(q(r.tableName), q(r.observedIn), q(r.missingIn)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), StructType(Seq(
      StructField("table_name", StringType), StructField("observed_in", StringType),
      StructField("missing_in", StringType))))
  }

  /** Drift counts are LongType: a 100 TB table can drift by more than
    * 2^31 rows, and an Int column would overflow exactly when the report
    * matters most.
    */
  def summaryDf(spark: SparkSession, rows: Seq[DataDriftSummaryRow]): DataFrame = {
    val data = rows.map(r => Row(r.tableName, r.db1, r.rowsOnlyInDb1, r.db2, r.rowsOnlyInDb2))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), StructType(Seq(
      StructField("table_name", StringType), StructField("db1", StringType),
      StructField("rows_only_in_db1", LongType), StructField("db2", StringType),
      StructField("rows_only_in_db2", LongType))))
  }

  /** Write the whole result as a directory of Parquet tables: one per
    * drifted table plus the three summary tables — the Spark analog of the
    * reference's result DuckDB file (reference: lotad/data_analysis.py:143-168).
    * Each table goes to its own directory, so all of them are written
    * concurrently on the table pool; the first write that throws fails
    * the call, after the others have finished.
    */
  def write(spark: SparkSession, result: DriftResult, outDir: String): Unit = {
    val tables = result.dataDrift.toSeq ++ Seq(
      "lotad_table_schema_drift" -> schemaDriftDf(spark, result.schemaDrift),
      "lotad_missing_table_drift" -> missingTablesDf(spark, result.missingTables),
      "lotad_db_data_drift_summary" -> summaryDf(spark, result.summary))
    DriftCompare.inPool(tables, DriftCompare.poolWidth) { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name")
    }
  }

  /** Text report, byte-identical to the reference's Jinja rendering
    * (reference: lotad/reports/db_comparison_report.j2 +
    * data_analysis.py:202-211): empty sections are omitted entirely,
    * missing-table and schema-drift values carry the stored literal
    * quote-wrapping, the data-drift summary does not, rows sort like the
    * reference's ORDER BY clauses, and the output has no trailing newline.
    * The rendered side ids come from the result rows, as in the
    * reference (it renders the stored db ids).
    */
  def report(result: DriftResult): String = {
    val sb = new StringBuilder
    sb.append("Database Comparison Report")
    if (result.missingTables.nonEmpty) {
      sb.append("\n\nMissing Table Summary")
      result.missingTables.sortBy(_.tableName).foreach { r =>
        sb.append(s"\n${q(r.tableName)} not found in ${q(r.missingIn)}")
      }
    }
    if (result.schemaDrift.nonEmpty) {
      sb.append("\n\nSchema Drift Summary")
      result.schemaDrift.sortBy(r => (r.tableName, r.columnName)).foreach { r =>
        sb.append(s"\n\n${q(r.tableName)}.${q(r.columnName)}")
        sb.append(s"\n    ${q(r.db1)} ${q(r.db1ColumnType.map(_.replace("'", "")).getOrElse("None"))}")
        sb.append(s"\n    ${q(r.db2)} ${q(r.db2ColumnType.map(_.replace("'", "")).getOrElse("None"))}")
      }
    }
    if (result.summary.nonEmpty) {
      sb.append("\n\nData Drift Summary")
      sb.append("\nFormat:")
      sb.append("\n    my_table")
      sb.append("\n        db1 - records only in db1")
      sb.append("\n        db2 - records only in db2")
      result.summary.sortBy(_.tableName).foreach { r =>
        sb.append(s"\n\n${r.tableName}")
        sb.append(s"\n    ${r.db1} - ${r.rowsOnlyInDb1}")
        sb.append(s"\n    ${r.db2} - ${r.rowsOnlyInDb2}")
      }
    }
    sb.toString
  }
}
