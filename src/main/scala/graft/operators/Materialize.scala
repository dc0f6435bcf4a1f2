package graft.operators

import org.apache.spark.sql.DataFrame

/** The one way an operator materializes an intermediate and releases it.
  *
  *  - [[within]] scopes a cache to one function: the frame is persisted
  *    at the session's default level (`spark.sql.defaultCacheStorageLevel`,
  *    MEMORY_AND_DISK in every graft session), the body runs, and the
  *    cache is dropped when the body returns or throws. A body that
  *    returns a frame reading the cache must materialize it first (the
  *    one-row `createDataFrame` results in [[Stats]]).
  *  - [[release]] drops the pinned blocks behind a frame whose cache must
  *    outlive the operator that built it: a `localCheckpoint`ed loop
  *    state, or a result read lazily from a checkpoint (budget selects,
  *    graph results). Call it after the last action on the frame.
  *  - [[Loop]] tracks the state an iterative operator pins round by
  *    round and frees what each checkpoint supersedes.
  */
object Materialize {

  def within[T](df: DataFrame)(body: DataFrame => T): T = {
    val cached = df.persist()
    try body(cached) finally cached.unpersist(blocking = false)
  }

  /** Unpersist every persisted RDD reachable from the frame's
    * `LogicalRDD` leaves. `df.rdd.unpersist` would miss a checkpoint:
    * `.rdd` derives a NEW RDD above the checkpointed one, so the walk
    * starts at the plan's leaves. An eager checkpoint's lineage ends at
    * its `LocalCheckpointRDD`, so the walk never reaches the caches the
    * checkpointed plan read; on a frame derived from a checkpoint's RDD
    * (the rows of [[PrefixSum.running]]) it walks down to the
    * checkpoint. A no-op on frames without `LogicalRDD` leaves.
    */
  def release(df: DataFrame): Unit = {
    def walk(r: org.apache.spark.rdd.RDD[_], depth: Int): Unit =
      if (depth < 20) {
        if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
          r.unpersist(blocking = false)
        r.dependencies.foreach(d => walk(d.rdd, depth + 1))
      }
    df.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => walk(lr.rdd, 0)
      case _ => ()
    }
  }

  /** The state of one iterative loop (nine in [[Graph]], and
    * [[Dedup.connectedComponents]]). Each round's state is an eager
    * [[checkpoint]] on the loop's cadence, which truncates the plan so
    * analysis cost stays flat at any round count; a round off the
    * cadence is a lazy [[persist]], whose cache the next checkpoint's
    * job fills, so its consumers share one computation and the fixed
    * per-job overhead that dominates small graphs is paid once per
    * checkpoint. After a round's checkpoints, [[keepOnly]] with the live
    * frames frees everything older: executor storage stays at one
    * round's state, and the returned frame reads only checkpoints that
    * [[release]] reaches.
    *
    * Call `keepOnly` only when every live frame is an eager checkpoint:
    * a lazy frame is computed by the next job that reads it, which needs
    * the frames it was built from. Keep frames persisted outside the
    * loop (edge lists, degree tables) out of it; a dead checkpoint's
    * release stops at the checkpoint and never reaches them.
    */
  final class Loop {
    /** The frames pinned and not yet freed, each with whether it is a checkpoint. */
    private var pinned = Vector.empty[(DataFrame, Boolean)]

    private def pin(df: DataFrame, eager: Boolean): DataFrame = {
      pinned :+= (df -> eager)
      df
    }

    def checkpoint(df: DataFrame): DataFrame = pin(df.localCheckpoint(eager = true), eager = true)

    def persist(df: DataFrame): DataFrame = pin(df.persist(), eager = false)

    /** Frees every pinned frame but `live`: a checkpoint through
      * [[release]], a lazy cache through `unpersist`, since the plan, not
      * an RDD, holds that cache and [[release]] cannot reach it.
      */
    def keepOnly(live: DataFrame*): Unit = {
      val (kept, dead) = pinned.partition { case (df, _) => live.exists(_ eq df) }
      dead.foreach { case (df, eager) => if (eager) release(df) else df.unpersist(blocking = false) }
      pinned = kept
    }
  }
}
