package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the set of programs under src/main. Profiling goes through Bench,
  * ExplainQ and the perfbench harness, all under GraftSession's config; a
  * new `def main` would be a one-off driver with its own session and knobs.
  * Also pins the registry's one table-read path, `Tables`, the canonical
  * hash's one byte writer, the one home of explicit partition widths, and
  * the graph loops' one state tracker.
  */
class EntrypointSpec extends AnyFunSuite {
  private val owner =
    """(?m)^\s*(?:(?:private|final|abstract|sealed|case)\s+)*(?:object|class|trait)\s+(\w+)""".r

  /** Every `.scala` file under `dir`, relative to the repository root. */
  private def sources(dir: String): List[java.nio.file.Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("the only mains under src/main are GraftApp, Bench, Verify and ExplainQ") {
    val owners = sources("src/main/scala").flatMap { f =>
      val src = new String(Files.readAllBytes(f), UTF_8)
      "def main\\(".r.findAllMatchIn(src).map { m =>
        owner.findAllMatchIn(src.substring(0, m.start)).map(_.group(1)).toSeq
          .lastOption.getOrElse(f.toString)
      }
    }
    assert(owners.sorted == Seq("Bench", "ExplainQ", "GraftApp", "Verify"))
  }

  test("registry queries read tables through Tables, never with read.parquet") {
    val direct = sources("src/main/scala/graft/registry")
      .filter(f => new String(Files.readAllBytes(f), UTF_8).contains("read.parquet"))
    assert(direct.isEmpty, s"read.parquet in ${direct.mkString(", ")}; use Tables.t")
  }

  test("partition widths are read only in PrefixSum and GraftSession") {
    val prefixSum = "src/main/scala/graft/operators/PrefixSum.scala"
    val session = "src/main/scala/graft/GraftSession.scala"
    val allowed = Map(
      "spark_partition_id" -> Set(prefixSum),
      "numShufflePartitions" -> Set(prefixSum, session),
      "\"spark.sql.shuffle.partitions\"" -> Set(prefixSum, session))
    val offenders = for {
      f <- sources("src/main/scala")
      src = new String(Files.readAllBytes(f), UTF_8)
      (token, owners) <- allowed
      if src.contains(token) && !owners.contains(f.toString)
    } yield s"$token in $f"
    assert(offenders.isEmpty, s"${offenders.mkString(", ")}; use PrefixSum.width, workPartition or running")
  }

  test("the graph loops free their state only through Materialize.Loop") {
    val offenders = for {
      f <- Seq("src/main/scala/graft/operators/Graph.scala", "src/main/scala/graft/operators/Dedup.scala")
      src = new String(Files.readAllBytes(Paths.get(f)), UTF_8)
      token <- Seq("Materialize.release(", "lastLazy")
      if src.contains(token)
    } yield s"$token in $f"
    assert(offenders.isEmpty, s"${offenders.mkString(", ")}; use Materialize.Loop's keepOnly")
  }

  test("the canonical hash has one writer, over bytes: no StringBuilder in CanonicalHash.scala") {
    val path = Paths.get("src/main/scala/graft/functions/CanonicalHash.scala")
    val src = new String(Files.readAllBytes(path), UTF_8)
    assert(!src.contains("StringBuilder"), "CanonicalHash renders each type once, into its byte buffer")
  }
}
