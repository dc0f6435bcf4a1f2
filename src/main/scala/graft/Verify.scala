package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // r19: shared session config (GraftSession) — identical settings to
    // the r18 verify, now from the one definition site
    val spark = GraftSession.builder("graft-verify", cpus)
      .master(s"local[$cpus]")
      .getOrCreate()
    new java.io.File(outDir).mkdirs()
    // A thrown query must become a red row, never a silent omission: the
    // query's output dir is deleted BEFORE execution (so a stale result
    // from a prior run can't be compared as if fresh), and failures are
    // persisted to errors.json + a per-query _FAILED marker.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Dev-only subset filter (comma-separated names); driver leaves it
    // unset. Blank entries are ignored (an empty var means "no filter",
    // never "run nothing"), and an ACTIVE filter wipes the whole outDir
    // first: skipped queries must show up as loudly-missing dirs, not as
    // stale prior-run parquet a later full compare would read as fresh.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    if (only.isDefined)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    // A filter entry matching no query is a TYPO, not a no-op: without
    // this warning it only surfaces as MISSING in a later full compare —
    // which the wipe note says to expect anyway, masking the mistake.
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] WARNING: SPARK_GRAFT_ONLY names match no query " +
            s"(typo?): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val qDir = new java.io.File(s"$outDir/$name")
      org.apache.commons.io.FileUtils.deleteQuietly(qDir)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        org.apache.commons.io.FileUtils.deleteQuietly(qDir)
        qDir.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_FAILED"), msg)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    // Exit 0 even on per-query failures: the driver's comparator turns
    // the _FAILED marker / empty dir into a red row for just that query;
    // a nonzero exit here could abort the whole round's compare instead.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
  }
}
