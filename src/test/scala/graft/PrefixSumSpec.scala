package graft

import graft.operators.{Materialize, PrefixSum}
import org.apache.spark.sql.functions._

/** The one distributed prefix sum: every layout gives the sequential fold,
  * the layout stays pinned until released, and work partitions keep the
  * session's width.
  */
class PrefixSumSpec extends SparkSpecBase {
  import spark.implicits._

  private val rows = (1 to 60).map { i =>
    val n = if (i % 11 == 0) None else Some((i % 5 + 1).toLong)
    (s"g${i % 3}", i.toLong, n, BigDecimal(i) / 4)
  }

  /** (grp, id, cum_n, cum_d) by a sequential fold per group, in id order. */
  private val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
    val byId = rs.sortBy(_._2)
    byId.map(_._2).zip(byId.scanLeft((0L, BigDecimal(0))) { case ((n, d), r) =>
      (n + r._3.getOrElse(0L), d + r._4)
    }.tail).map { case (id, (n, d)) => (g, id, n, d) }
  }.toSet

  test("running sums equal a sequential fold per resetBy value, for 1, 3 and 7 partitions") {
    val df = rows.toDF("grp", "id", "n", "d").withColumn("d", $"d".cast("decimal(10,2)"))
    for (parts <- Seq(1, 3, 7)) {
      val before = spark.sparkContext.getPersistentRDDs.size
      val scan = PrefixSum.running(df, Seq($"id".asc), Seq("n" -> "cum_n", "d" -> "cum_d"),
        resetBy = Some("grp"), nPartitions = parts)
      assert(scan.rows.schema("cum_n").dataType == org.apache.spark.sql.types.LongType)
      assert(scan.rows.schema("cum_d").dataType == org.apache.spark.sql.types.DecimalType(20, 2))
      assert(scan.rows.columns.toSeq == Seq("grp", "id", "n", "d", "cum_n", "cum_d"), parts)
      def got() = scan.rows.select($"grp", $"id", $"cum_n", $"cum_d")
        .as[(String, Long, Long, BigDecimal)].collect().toSet
      assert(got() == expected, parts)
      assert(got() == expected, s"second action over $parts partitions")
      // a null sum input comes back as the 0 the fold added
      assert(scan.rows.filter($"id" === 11L).select("n").as[Long].head() == 0L)
      assert(scan.totals.getLong(0) == rows.flatMap(_._3).sum)
      assert(BigDecimal(scan.totals.getDecimal(1)) == rows.map(_._4).sum)
      Materialize.release(scan.rows)
      assert(spark.sparkContext.getPersistentRDDs.size == before, "release frees the layout")
    }
  }

  test("running rejects sum columns that are not Long or Decimal") {
    val e = intercept[IllegalArgumentException](
      PrefixSum.running(Seq((1, 2)).toDF("k", "v"), Seq($"k".asc), Seq("v" -> "cum")))
    assert(e.getMessage.contains("v is int"))
  }

  test("workPartition keeps the session's width through AQE coalescing") {
    val parted = PrefixSum.workPartition(spark.range(100).toDF("k"), $"k" % 2)
    assert(parted.rdd.getNumPartitions == PrefixSum.width(spark))
  }
}
