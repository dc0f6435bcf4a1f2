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
}
