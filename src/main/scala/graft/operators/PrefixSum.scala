package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, LongType}

/** Explicit-width partitioning: work-sized partitions, and the distributed
  * prefix sum over a global order that is built on them.
  */
object PrefixSum {

  /** The rows of a [[running]] scan, and one grand total per sum column
    * (a `Long` or a `java.math.BigDecimal`, in `sums` order).
    */
  final case class Scan(rows: DataFrame, totals: Row)

  /** The session's shuffle-partition count: the width of every work
    * partition, and of a [[running]] layout unless the caller sets one.
    */
  def width(spark: SparkSession): Int = spark.sessionState.conf.numShufflePartitions

  /** Hash-partition `df` on `keys` at the session's full width, for a stage
    * whose work grows faster than its shuffled bytes: an edit-distance or
    * pair verify that is quadratic in block size over keys of a few bytes a
    * row, or a write whose cost is one file per partition directory. AQE
    * coalesces reduce partitions by bytes, so left to it such a stage runs
    * on one or two tasks (r18 measured a 7.6 s single-task pair expansion
    * in `Graph.adamicAdar` and a 9.7 s single-task `SemanticIndex` write).
    * A partition count given by the caller is exempt from coalescing, and
    * two sides partitioned this way on their join keys join with no
    * further exchange.
    */
  def workPartition(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(width(df.sparkSession), keys: _*)

  /** Inclusive running sums of `sums` over the global order `order`: the
    * two-pass distributed prefix sum (Blelloch, "Prefix Sums and Their
    * Applications", 1990), with no global window.
    *
    *  - The rows are range-partitioned on `order` into `nPartitions`
    *    partitions (the session's [[width]] when 0), so partition ids
    *    follow the order.
    *  - Pass 1 brings one total per (`resetBy` value, partition) to the
    *    driver and turns them into exclusive offsets.
    *  - Pass 2 sorts each partition by `order` and folds it once from its
    *    offset, with no further exchange.
    *
    * Each `(in, out)` pair of `sums` names a Long or Decimal column and the
    * running-sum column added for it (Long, or Decimal of the type `sum`
    * gives). A null in `in` is read as 0, in both passes and in the rows
    * returned. With `resetBy` the rows are ordered by that column
    * first and each sum restarts at every new value of it; a value spans a
    * contiguous run of partitions, so a large group is still folded by many
    * tasks, where `Window.partitionBy` would send it through one.
    *
    * Determinism: `RangePartitioner` seeds its boundary sampling from the
    * RDD id, so each execution of the range exchange can draw different
    * boundaries, and the offsets of pass 1 would then be added to rows of
    * another layout. That happened: q_domain_budget drifted from 140 to
    * 133 rows between runs. The layout is therefore pinned by one eager
    * `localCheckpoint`, and both passes read it. Pass 2 is a fold, not a
    * `Window.partitionBy(_pid)`, because the checkpoint hides the range
    * partitioning from the planner and such a window would shuffle again.
    *
    * Cost: the range exchange's sampling job, the checkpoint job and the
    * totals collect; the caller's action then runs the fold. Driver state
    * is one row per (`resetBy` value, partition).
    *
    * Release: `rows` reads the checkpoint lazily, so its blocks stay
    * pinned until the caller, after the last action on `rows` or a frame
    * derived from it, calls [[Materialize.release]] on that frame.
    */
  def running(df: DataFrame, order: Seq[Column], sums: Seq[(String, String)],
              resetBy: Option[String] = None, nPartitions: Int = 0): Scan = {
    require(sums.nonEmpty, "running needs at least one sum column")
    val spark = df.sparkSession
    // the type Spark's `sum` gives, so pass 1's totals seed the fold as is
    val cumTypes: Seq[DataType] = sums.map { case (c, _) =>
      df.schema(c).dataType match {
        case LongType => LongType
        case d: DecimalType =>
          DecimalType(math.min(d.precision + 10, DecimalType.MAX_PRECISION), d.scale)
        case t => throw new IllegalArgumentException(
          s"running sums Long or Decimal columns; $c is ${t.simpleString}")
      }
    }
    val keys = resetBy.map(col(_).asc).toSeq ++ order
    val parted = df
      .withColumns(sums.map { case (c, _) =>
        c -> coalesce(col(c), ColumnBridge.column(Literal.default(df.schema(c).dataType)))
      }.toMap)
      .repartitionByRange(if (nPartitions > 0) nPartitions else width(spark), keys: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true)

    // pass 1: exclusive offsets per (resetBy value, partition), summed in
    // partition order within each value
    val zero: Seq[Any] = cumTypes.map {
      case LongType => 0L
      case _ => java.math.BigDecimal.ZERO
    }
    def add(a: Seq[Any], b: Seq[Any]): Seq[Any] = a.zip(b).map {
      case (x: Long, y: Long) => x + y
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
      case (x, y) => throw new IllegalStateException(s"unexpected totals $x, $y")
    }
    val nGroup = resetBy.size + 1
    val aggs = sums.map { case (c, _) => sum(col(c)) }
    val totals = parted.groupBy((resetBy.map(col).toSeq :+ col("_pid")): _*)
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
      .map(r => (if (resetBy.isDefined) r.get(0) else null, r.getInt(nGroup - 1),
        sums.indices.map(j => r.get(nGroup + j))))
    // keyed by the Catalyst form of the resetBy value, the form pass 2 reads
    val offsets: Map[(Any, Int), Seq[Any]] = totals.groupBy(_._1).toSeq.flatMap {
      case (key, parts) =>
        val ordered = parts.sortBy(_._2)
        val catalystKey = CatalystTypeConverters.convertToCatalyst(key)
        ordered.zip(ordered.scanLeft(zero)((acc, p) => add(acc, p._3))).map {
          case ((_, pid, _), off) => (catalystKey, pid) -> off
        }
    }.toMap
    val grandTotals = Row.fromSeq(totals.map(_._3).foldLeft(zero)(add))

    // pass 2: one fold per partition over the pinned layout, sorted within
    // the partition; a resetBy value is contiguous there by the range keys
    val sorted = parted.sortWithinPartitions(keys: _*)
    val in = sorted.schema
    val pidIdx = in.fieldIndex("_pid")
    val sumIdx = sums.map { case (c, _) => in.fieldIndex(c) }
    val sumTypes = sumIdx.map(in(_).dataType)
    val resetIdx = resetBy.map(in.fieldIndex).getOrElse(-1)
    val resetType = resetBy.map(in(_).dataType).orNull
    val offB = spark.sparkContext.broadcast(offsets)
    val folded = sorted.queryExecution.toRdd.mapPartitions[InternalRow] { it =>
      val cum = new GenericInternalRow(sumIdx.length)
      val joined = new JoinedRow()
      var seeded = false
      var curKey: Any = null
      it.map { row =>
        val key = if (resetIdx < 0) null else row.get(resetIdx, resetType)
        if (!seeded || key != curKey) {
          seeded = true
          curKey = InternalRow.copyValue(key)
          offB.value.getOrElse((curKey, row.getInt(pidIdx)), zero).zipWithIndex.foreach {
            case (d: java.math.BigDecimal, j) => cum.update(j, Decimal(d))
            case (v, j) => cum.update(j, v)
          }
        }
        var j = 0
        while (j < sumIdx.length) {
          val i = sumIdx(j)
          sumTypes(j) match {
            case d: DecimalType =>
              cum.update(j, cum.getDecimal(j, d.precision, d.scale) +
                row.getDecimal(i, d.precision, d.scale))
            case _ => cum.setLong(j, cum.getLong(j) + row.getLong(i))
          }
          j += 1
        }
        // the scan over `folded` projects each row to an UnsafeRow
        joined(row, cum)
      }
    }
    val schema = sums.zip(cumTypes).foldLeft(in) { case (st, ((_, out), t)) =>
      st.add(out, t, nullable = false)
    }
    Scan(ColumnBridge.internalCreateDataFrame(spark, folded, schema).drop("_pid"), grandTotals)
  }
}
