package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a range exchange that a global sort
  * planned over a small, already-shuffled input gets one partition.
  *
  * `RangePartitioner` with n > 1 partitions samples its input in a job of
  * its own, which recomputes the whole stage under the exchange before
  * the map stage computes it again. When that input is a materialized
  * shuffle stage whose bytes fit in one advisory-size partition, AQE
  * coalesces the sorted output to one partition anyway; planning
  * `RangePartitioning(order, 1)` gives that layout directly, and a
  * one-partition `RangePartitioner` does not sample.
  *
  * The rewrite applies only to an `ENSURE_REQUIREMENTS` exchange whose
  * child reaches a materialized `ShuffleQueryStageExec` (an
  * `AQEShuffleReadExec` may wrap it) through operators that cannot add
  * rows, and only while that stage's map output is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`. An explicit
  * `repartitionByRange(n, ...)`, a sort over a scan, join, `Generate` or
  * `Expand`, a larger input, and a plan in which one partition would no
  * longer meet every operator's distribution requirement keep their
  * planned width; with AQE coalescing off nothing changes. The rows above
  * the stage can be wider than its bytes (a window adds columns), so the
  * threshold bounds the input, not the sorted output.
  */
object SmallRangeSort extends Rule[SparkPlan] {

  def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else {
      val narrowed = plan.transformUp {
        case e @ ShuffleExchangeExec(RangePartitioning(order, n), child, ENSURE_REQUIREMENTS, _)
            if n > 1 && smallStagedInput(child) =>
          e.copy(outputPartitioning = RangePartitioning(order, 1))
      }
      // EnsureRequirements has already run: an operator that co-partitions
      // the sorted side with another child would now see unequal widths
      if ((narrowed ne plan) && ValidateRequirements.validate(narrowed)) narrowed else plan
    }

  private def smallStagedInput(child: SparkPlan): Boolean =
    stageUnder(child).exists { s =>
      s.isMaterialized && s.mapStats.fold(0L)(_.bytesByPartitionId.sum) <=
        conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    }

  /** The shuffle stage under `p` when every node above it is one that
    * cannot add rows; None when some other node stands in the way. Each
    * such node has one child, so there is one stage.
    */
  private def stageUnder(p: SparkPlan): Option[ShuffleQueryStageExec] = p match {
    case s: ShuffleQueryStageExec => Some(s)
    case AQEShuffleReadExec(s: ShuffleQueryStageExec, _) => Some(s)
    case _: ProjectExec | _: FilterExec | _: SortExec | _: HashAggregateExec |
        _: ObjectHashAggregateExec | _: SortAggregateExec | _: WindowExec =>
      stageUnder(p.children.head)
    case _ => None
  }
}
