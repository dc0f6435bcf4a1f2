package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** `Bench.Record`: a query that throws is reported as failed, never timed,
  * and the compact line stays parseable and within its cap.
  */
class BenchSpec extends SparkSpecBase {
  private val mapper = new ObjectMapper()
  private val context = """"sf":"test","rounds":2}"""

  private def parse(line: String): JsonNode = mapper.readTree(line)
  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  test("a throwing query shows as failed: out of the totals, named in both lines") {
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_ok" -> ((s, _) => s.range(100).groupBy((col("id") % 3).as("k")).count()),
      // a filter, so the failing expression survives count()'s pruning
      "q_throws" -> ((s, _) => s.range(10).filter(assert_true(col("id") < 0, lit("forced failure")).isNull).toDF()),
      "q_bad_plan" -> ((_, _) => throw new IllegalStateException("no such table")))
    val record = new Bench.Record(queries.map(_._1))
    record.round(spark, sfDir, queries)
    record.round(spark, sfDir, queries)
    assert(record.failed == Seq("q_throws", "q_bad_plan"))

    val full = parse(record.fullLine(context))
    assert(keys(full.get("queries")) == Set("q_ok"))
    assert(full.get("value").asDouble == full.get("queries").get("q_ok").asDouble)
    assert(full.get("samples").get("q_ok").size == 2)
    assert(full.get("n_failed").asInt == 2)
    assert(full.get("failed").elements().asScala.map(_.asText).toSeq == Seq("q_throws", "q_bad_plan"))

    val compact = parse(record.compactLine(context))
    assert(keys(compact.get("queries")) == Set("q_ok"))
    assert(keys(compact.get("queries_min")) == Set("q_ok"))
    assert(compact.get("n_queries").asInt == 3)
    assert(compact.get("n_failed").asInt == 2)
    assert(compact.get("failed").elements().asScala.map(_.asText).toSeq == Seq("q_throws", "q_bad_plan"))
    assert(compact.get("top").asInt == 1)
  }

  test("the median of an even count is the mean of the two middle samples") {
    assert(math.abs(Bench.median(Seq(0.320, 1.158)) - 0.739) < 1e-12)
    assert(math.abs(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) - 2.5) < 1e-12)
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the compact line stays within its cap when hundreds of queries fail") {
    val failing: Seq[(String, (SparkSession, String) => DataFrame)] =
      (1 to 300).map(i => f"q_failing_query_$i%03d" -> ((_: SparkSession, _: String) => sys.error("boom")))
    val timed: Seq[(String, (SparkSession, String) => DataFrame)] =
      (1 to 30).map(i => f"q_timed_query_$i%03d" -> ((s: SparkSession, _: String) => s.range(i).toDF()))
    val record = new Bench.Record((failing ++ timed).map(_._1))
    record.round(spark, sfDir, failing ++ timed)
    val line = record.compactLine(context)
    assert(line.length <= Bench.compactCap)
    val compact = parse(line)
    assert(compact.get("n_failed").asInt == 300)
    assert(compact.get("failed").size > 0 && compact.get("failed").size < 300)
    assert(compact.get("value").asDouble > 0)
  }
}
