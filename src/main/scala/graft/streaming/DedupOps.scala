package graft.streaming

import graft.operators.{Dedup, Materialize}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** Streaming corpus ingestion with incremental near-dup classification —
  * the continuous form of the daily-crawl loop
  * ([[graft.operators.Dedup.dedupAgainstIndex]] +
  * [[graft.operators.Dedup.appendLshIndex]]): every micro-batch of new
  * documents is classified against the SAVED LSH index (asymmetric
  * new×corpus band join — cost scales with the batch, never the corpus),
  * decisions land in an append-only parquet log, and the batch's NOVEL
  * documents fold into the on-disk index so the NEXT batch deduplicates
  * against them too.
  *
  * Shape notes:
  *   - `foreachBatch` rather than chained stateful operators: the
  *     candidate join's "best match per new id" reduction and the index
  *     append are batch-relational steps; holding corpus-scale sketch
  *     state in the streaming state store would re-implement the index,
  *     worse (state store is per-query, unshareable, and rebuilt on
  *     every restart — the parquet index is durable and shared).
  *   - Restart safety: Spark may REPLAY the last uncommitted batch after
  *     a crash. Decisions are written to an epoch-partitioned directory
  *     with OVERWRITE (a replay rewrites its own epoch, never appends
  *     duplicates — exact-once without a reader-side dedup contract)
  *     and the index append is retry-IDEMPOTENT by construction
  *     (appendLshIndex anti-joins ids already present), so a replayed
  *     batch cannot double-append.
  *   - The index must exist (build/save once from the seed corpus); the
  *     meta table pins the banding, so every batch sketches with the
  *     SAME parameters.
  */
object DedupOps {

  /** Build the writer; caller sets checkpoint/trigger options and calls
    * `.start()`. Decision log schema: (epoch_id, new_id, matched_id,
    * jaccard, is_novel).
    */
  def streamingCorpusIngest(newDocs: DataFrame, textCol: String,
                            idCol: String, threshold: Double,
                            indexPath: String,
                            decisionsPath: String): DataStreamWriter[Row] =
    newDocs.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val idx = Dedup.loadLshIndex(spark, indexPath)
        // one classification pass feeds BOTH writes
        Materialize.within(Dedup
          .dedupAgainstIndex(batch, textCol, idCol, threshold, idx)
          .select("new_id", "matched_id", "jaccard", "is_novel")) { decisions =>
          // epoch-partitioned OVERWRITE, not a flat append: a replayed
          // micro-batch rewrites its own epoch directory instead of
          // appending duplicate (epoch, id) rows — the decision log is
          // replay-safe like the index append, with no reader-side
          // dedup contract. epoch_id comes back as a partition column.
          decisions.write.mode("overwrite")
            .parquet(s"$decisionsPath/epoch_id=$epochId")
          val novelIds = decisions.filter(col("is_novel"))
            .select(col("new_id"))
          val novelDocs = batch.join(novelIds,
            batch(idCol) === novelIds("new_id"), "left_semi")
          Dedup.appendLshIndex(novelDocs, textCol, idCol, indexPath)
        }
      }
      ()
    }

  /** Streaming EMBEDDING ingestion with semantic dedup — the
    * [[streamingCorpusIngest]] shape for vectors: every micro-batch is
    * classified against the SAVED hyperplane-LSH index with
    * [[graft.operators.SemanticIndex.dedupAgainstIndex]] (no corpus
    * near-neighbor + min-id within the batch), decisions land in an
    * epoch-partitioned log, and the batch's survivors fold into the
    * on-disk index so the NEXT batch deduplicates against them too.
    * Per-batch cost is batch-sized: the batch hashes under the index's
    * pinned planes and broadcasts into the collision join; the corpus is
    * NEVER re-hashed, and its scan prunes to the bucket directories the
    * batch touches (r17's version re-hashed the whole corpus parquet
    * every micro-batch — the index is the fix).
    *
    * Same discipline as the text twin: `foreachBatch` (the
    * classification is batch-relational; streaming state would
    * re-implement the index, unshareable and restart-fragile). Restart
    * safety end to end: decisions write to `decisionsPath/epoch_id=N`
    * with OVERWRITE (a replay rewrites its own epoch — no duplicate
    * rows, no reader-side dedup contract), the classification never
    * self-matches a replayed id, and the index append anti-joins ids
    * already present. The index must exist
    * ([[graft.operators.SemanticIndex.build]] once from the seed
    * corpus); its meta pins dim and banding, so every batch hashes with
    * the SAME planes. Decision log: (idCol, is_novel) under the
    * epoch_id partition column.
    */
  def streamingSemanticIngest(newVecs: DataFrame, idCol: String,
                              vecCol: String, minCosine: Double,
                              indexPath: String,
                              decisionsPath: String): DataStreamWriter[Row] =
    newVecs.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      if (!batch.isEmpty) {
        Materialize.within(graft.operators.SemanticIndex
          .dedupAgainstIndex(batch, idCol, vecCol, minCosine, indexPath)) { kept =>
          // materialize the survivors BEFORE appending to the index the
          // plan reads from — the cache, not the re-listed directory,
          // feeds the append
          kept.count()
          batch.select(col(idCol))
            .join(kept.select(col(idCol), lit(true).as("_nv")),
              Seq(idCol), "left")
            .select(col(idCol),
              coalesce(col("_nv"), lit(false)).as("is_novel"))
            .write.mode("overwrite")
            .parquet(s"$decisionsPath/epoch_id=$epochId")
          graft.operators.SemanticIndex
            .append(kept, idCol, vecCol, indexPath)
        }
      }
      ()
    }
}
