package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Plan-dump tool for the optimization rounds: writes each named query's
  * `.explain("formatted")` output to `<outDir>/<name>_<tag>.txt` so plan
  * claims in OPTIMIZATION notes are checkable without running Spark.
  *
  * Usage: runMain graft.ExplainQ <tag> <outDir> <query1> [query2 ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainQ <tag> <outDir> <query...>")
    val tag = args(0)
    val outDir = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    // r19: shared session config (GraftSession), same settings as Bench
    val spark = GraftSession.builder("graft-explain", cpus)
      .master(s"local[$cpus]")
      .getOrCreate()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
            println(s"[explain] wrote $outDir/${name}_$tag.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[explain] $name failed: ${e.getMessage}")
          }
        case None => System.err.println(s"[explain] unknown query: $name")
      }
    }
    spark.stop()
  }
}
