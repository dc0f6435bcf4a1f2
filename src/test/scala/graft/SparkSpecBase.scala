package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(GraftSession.extensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it ran in this thread,
    * counted under a job group of its own. The status tracker learns of
    * jobs asynchronously, in order, so a marker job run after `body` is
    * waited for before counting.
    */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    def inGroup[U](g: String)(f: => U): U = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    val out = inGroup(group)(body)
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(5)
    assert(sc.statusTracker.getJobIdsForGroup(s"$group-marker").nonEmpty, "marker job never seen")
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
