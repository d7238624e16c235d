package graft.sinks

import org.apache.spark.sql.SparkSession

/** One-call maintenance for a store table AND its sidecar artifacts —
  * the lifecycle operation a long-running apply loop schedules at
  * micro-batch boundaries (the quiesce contract
  * IndexMaintenanceStreamSpec pins). Running the pieces by hand invites
  * exactly the ordering bugs the individual scaladocs warn about; this
  * fixes the order once:
  *
  *   1. [[ParquetUpsertStore.compact]] — fold buckets and tombstones;
  *      the snapshot at `asBatch` is now the folded truth every
  *      artifact rebuild below reads.
  *   2. [[SecondaryIndex.compact]] per indexed column — postings
  *      rebuilt from that snapshot (zero false positives until the
  *      next append); postings of batches above `asBatch` are carried,
  *      so an indexed-but-unapplied in-flight batch survives.
  *   3. [[KeyBloom.compact]] — one snapshot bloom sized to the live
  *      count replaces the per-batch bloom log at or below `asBatch`.
  *   4. [[ParquetUpsertStore.vacuum]] (opt-in) — history drops LAST,
  *      after nothing above still references it.
  *
  * Shared contract inherited from the pieces: run past the streaming
  * checkpoint's replay horizon (tombstone folding) and only between
  * foreachBatch invocations; time travel below `asBatch` is collapsed
  * afterwards (the artifacts' read paths detect that and degrade to
  * unpruned reads rather than lie). Each step is individually
  * crash-safe — a crash mid-run leaves a working table and working
  * artifacts, and re-running the same maintenance completes it.
  */
object StoreMaintenance {

  /** @param indexColumns the values columns with [[SecondaryIndex]]
    *   postings to rebuild (empty = none)
    * @param asBatch the LAST COMMITTED batch id (a replace-commit,
    *   [[ParquetUpsertStore.compact]]'s convention)
    * @param vacuumRetainBatches when ≥ 0, vacuum to
    *   `asBatch - retain` after the folds — bounds manifest count and
    *   storage at the cost of time travel older than `retain` batches */
  def run(spark: SparkSession, store: ParquetUpsertStore, root: String,
          table: String, indexColumns: Seq[String], asBatch: Long,
          vacuumRetainBatches: Long = -1L): Unit = {
    store.compact(spark, table, asBatch)
    indexColumns.foreach(c =>
      SecondaryIndex.compact(spark, store, root, table, c, asBatch))
    KeyBloom.compact(spark, store, root, table, asBatch)
    if (vacuumRetainBatches >= 0L)
      store.vacuum(spark, table, keepFromBatchId = asBatch - vacuumRetainBatches)
  }

  /** Auto-maintenance policy — the store's `autoCompactManifests`
    * posture extended to its sidecars, which otherwise accumulate one
    * bloom file and one postings append per batch until someone calls
    * [[run]] by hand. Call after every applied batch (a micro-batch
    * boundary, so the quiesce contract holds for free): the check is a
    * couple of driver-side directory listings, and the composite fold
    * fires only when the per-batch bloom count or any index's
    * appends-since-last-fold (its `_cover` markers, exactly one per
    * un-folded indexed batch) exceed `maxSidecarAppends`. With the
    * policy in the loop, sidecar file counts — and therefore every
    * lookup's opened-file count — stay O(maxSidecarAppends) no matter
    * how many batches the stream has applied. Returns whether the fold
    * ran. */
  def auto(spark: SparkSession, store: ParquetUpsertStore, root: String,
           table: String, indexColumns: Seq[String], lastCommitted: Long,
           maxSidecarAppends: Int = 16,
           vacuumRetainBatches: Long = -1L): Boolean = {
    require(maxSidecarAppends > 0,
      s"maxSidecarAppends must be positive, got $maxSidecarAppends")
    val due = KeyBloom.unfoldedBatches(spark, root, table) > maxSidecarAppends ||
      indexColumns.exists(c =>
        SecondaryIndex.unfoldedBatches(spark, root, table, c) > maxSidecarAppends)
    if (due) run(spark, store, root, table, indexColumns, lastCommitted,
      vacuumRetainBatches)
    due
  }
}
