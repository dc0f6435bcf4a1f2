package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** One definition site for the session configuration every graft
  * entrypoint shares (r19, VERDICT item 5: the two r18 AQE settings
  * lived only in Bench/Verify/ExplainQ — the product CLI `GraftApp`
  * got neither, so a library/CLI user missed the near-empty-task win).
  *
  * All values are fixed deployment defaults: they win over a `spark.*`
  * system property or `--conf` of the same key set at launch, and an
  * entrypoint's `.config(...)` after calling [[builder]] wins over them.
  * The size-based settings are parameterised by env so a cluster
  * deployment can raise them without a rebuild:
  *
  *  - `SPARK_GRAFT_CPUS`: core count for `local[n]` masters AND
  *    `spark.sql.shuffle.partitions`. The shuffle-partition count is a
  *    CEILING, not a layout: with AQE coalescing below, actual reduce
  *    partition counts follow data volume via the advisory size. On a
  *    real cluster set it to 2-4x total cores (Spark docs guidance).
  *  - `SPARK_GRAFT_SPLIT_BYTES` (default 8m): parquet split size and
  *    AQE advisory partition size. The local fixture reads single
  *    ~1-40 MB files, so small splits keep all cores busy; on a real
  *    cluster with many large files raise to 128m-1g (guide §6).
  *
  * The two r18 AQE settings (measured on the iterative graph family:
  * q_hits 1663→88 tasks, 287→3 s executor time — per-task fixed costs
  * of near-empty partitions were the whole bill):
  *
  *  - `coalescePartitions.parallelismFirst=false`: respect the advisory
  *    size when coalescing instead of fanning every post-shuffle stage
  *    out to one partition per core (the Spark-docs-recommended
  *    production setting). Scale-safe: partition count still grows
  *    with data volume.
  *  - `canChangeCachedPlanOutputPartitioning=true`: let AQE coalesce
  *    the plans that materialize persist()ed frames; otherwise every
  *    cached intermediate materializes at full shuffle-partition width
  *    and every downstream stage inherits near-empty tasks.
  *
  * CPU-dense operators whose work is quadratic in group size while
  * their shuffled BYTES are tiny (edit-distance verify, LSH verify,
  * percentile/window stages) opt out of byte-based coalescing locally
  * with explicit-width repartitions — see
  * [[graft.operators.PrefixSum.workPartition]].
  *
  * The builder injects one AQE query-stage preparation rule,
  * [[SmallRangeSort]]: a global sort whose input is an already-shuffled
  * stage of at most the advisory size plans its range exchange with one
  * partition instead of `spark.sql.shuffle.partitions`. At n > 1
  * `RangePartitioner` runs a sampling job that recomputes the whole stage
  * under the sort, only for AQE to coalesce the sorted output back to one
  * partition, because coalescing packs partitions up to the advisory
  * size. Using the same advisory size as the threshold keeps the layout
  * the one coalescing would have produced, drops the sampling job, and
  * needs no setting of its own: raising `SPARK_GRAFT_SPLIT_BYTES` raises
  * both together. The rule is added through `withExtensions`, not the
  * `spark.sql.extensions` key, so a user's own extensions still load.
  */
object GraftSession {
  /** Default core count / shuffle-partition ceiling from the env. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Split + advisory size: local default 8m (single small fixture
    * files); raise via env on real clusters (guide §6).
    */
  def splitBytes: String = sys.env.getOrElse("SPARK_GRAFT_SPLIT_BYTES", "8m")

  /** The session extensions every graft session installs. */
  def extensions(e: SparkSessionExtensions): Unit =
    e.injectQueryStagePrepRule(_ => SmallRangeSort)

  /** Builder with the shared graft configuration applied; callers add
    * their master/appName and any entrypoint-specific settings.
    */
  def builder(appName: String, nCpus: String = cpus): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .withExtensions(extensions)
      .config("spark.sql.shuffle.partitions", nCpus)
      .config("spark.sql.files.maxPartitionBytes", splitBytes)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", splitBytes)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // set before the context starts, so its INFO startup lines never print
      .config("spark.log.level", "WARN")
}
