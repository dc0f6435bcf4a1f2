package graft

import graft.operators.Stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Final-plan assertions for [[SmallRangeSort]]: which global sorts plan a
  * one-partition range exchange once AQE has run the stages under them.
  */
class SmallRangeSortSpec extends SparkSpecBase {

  /** The final adaptive plan, without the initial plan printed under it. */
  private def finalPlanOf(df: DataFrame): String = {
    // materialize THIS DataFrame's own QueryExecution, so AQE finalizes it
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    p.split("== Initial Plan ==").head
  }

  /** The partition counts of every range exchange in `plan`. */
  private def rangeWidths(plan: String): Seq[Int] =
    """rangepartitioning\(.*, (\d+)\)""".r.findAllMatchIn(plan).map(_.group(1).toInt).toSeq

  private def weightedMedian: DataFrame =
    Stats.weightedMedian(Tables.t(spark, sfDir, "lineitem"), "l_returnflag",
      "l_extendedprice", "l_quantity")

  test("a sort over small materialized window stages plans one range partition") {
    val q = weightedMedian.orderBy("l_returnflag")
    val p = finalPlanOf(q)
    assert(rangeWidths(p) == Seq(1), s"expected one range exchange of width 1:\n$p")
    val expected = weightedMedian.collect().sortBy(_.getString(0)).toSeq
    assert(q.collect().toSeq == expected)
  }

  test("the same sort keeps its width when its input exceeds the advisory size") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try {
      val p = finalPlanOf(weightedMedian.orderBy("l_returnflag"))
      assert(rangeWidths(p) == Seq(4), s"expected the planned width 4:\n$p")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("an explicit repartitionByRange keeps its width") {
    val q = spark.range(1000).groupBy((col("id") % 10).as("k")).count()
      .repartitionByRange(8, col("k"))
    val p = finalPlanOf(q)
    assert(rangeWidths(p) == Seq(8), s"expected REPARTITION_BY_NUM width 8:\n$p")
  }

  test("a sort over a join keeps its width") {
    val a = spark.range(1000).groupBy((col("id") % 50).as("k")).count()
    val b = spark.range(1000).groupBy((col("id") % 50).as("k")).agg(sum("id").as("s"))
    val p = finalPlanOf(a.join(b, "k").orderBy("k"))
    assert(p.contains("Join"), s"expected a join under the sort:\n$p")
    assert(rangeWidths(p) == Seq(4), s"expected the planned width 4:\n$p")
  }
}
