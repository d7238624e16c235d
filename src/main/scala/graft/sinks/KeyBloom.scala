package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-batch KEY BLOOM FILTERS over a [[ParquetUpsertStore]] table —
  * the miss fast path every LSM-shaped store ships (HBase/Kudu bloom
  * blocks, which is where the reference's sinks get theirs): a point
  * lookup for a key that was NEVER written can be answered from a few
  * kilobytes of bloom bytes without opening a single bucket directory.
  *
  * One bloom per applied batch over that batch's `row_key`s (DELETEs
  * included — a deleted key EXISTS in the log, so it must pass to the
  * real lookup, which then correctly returns nothing). A key absent
  * from EVERY batch bloom was never written at all — a definite miss
  * by the bloom's no-false-negative guarantee; false positives just
  * take the normal lookup path. The artifact is one small file per
  * batch under `<root>/__bloom/<table>/` — invisible to the store's
  * manifest readers and vacuum, the [[SecondaryIndex]] layout
  * discipline, and the same ORDERING CONTRACT: write the bloom BEFORE
  * applying the batch, so a crash between the steps leaves an extra
  * bloom (false positives only), never a missing one (permanent false
  * negatives).
  *
  * The per-batch log does not grow forever: [[compact]] folds every
  * bloom at or below a chosen batch id into ONE bloom built from the
  * live snapshot's keys (sized to the live count) — the HFile posture,
  * where bloom blocks compact with their store files. After it the
  * read side opens 1 + batches-since-compaction files, not O(batches).
  *
  * Pruning soundness does not rest on callers never forgetting a
  * bloom: [[filterPresent]] cross-checks the bloom set against the
  * table's committed manifests and disables itself (returns all keys)
  * whenever ANY committed batch lacks coverage — partial adoption or a
  * swallowed [[addBatch]] failure degrades to no pruning, never to a
  * silent false negative. The next [[compact]] restores coverage, since
  * the snapshot bloom covers every batch at or below its id.
  */
object KeyBloom {

  private def safe(s: String): String = s.replaceAll("[^A-Za-z0-9._-]", "_")

  private[graft] def bloomDir(root: String, table: String): String =
    s"$root/__bloom/${safe(table)}"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def batchIds(v: CommitLog.View) = v.ids("batch-", ".bloom")
  private def snapshotIds(v: CommitLog.View) = v.ids("snapshot-", ".bloom")

  /** Commit a bloom file create-once (tmp + rename): a reader never
    * sees a torn bloom, a crash mid-write leaves only a `.tmp` the
    * listings ignore, and a replayed id's bloom is the same bytes. */
  private def writeBloom(spark: SparkSession, root: String, table: String,
                         name: String, bf: BloomFilter): Unit =
    CommitLog.publish(fs(spark, root), bloomDir(root, table), name)(out => bf.writeTo(out))

  /** Per-batch blooms not yet folded into a snapshot bloom —
    * [[StoreMaintenance.auto]]'s trigger. */
  private[sinks] def unfoldedBatches(spark: SparkSession, root: String,
                                     table: String): Int =
    batchIds(CommitLog.list(fs(spark, root), bloomDir(root, table))).size

  /** Build and persist the bloom for the batch applied (or about to be
    * applied) as `batchId`: one pass over the batch's DML rows of
    * `table`. Sized to the batch's ACTUAL key count by default (one
    * cheap count on the pruned projection) — a fixed sizing would
    * allocate the same ~MB file for a 10-row micro-batch as for a
    * 1M-row backfill; pass `expectedItems` to override. Blooms of
    * different batches never merge, so each file carries its own
    * parameters. A replayed batch id builds the same bloom (same rows →
    * same count → same bloom), so publishing it again changes nothing. */
  def addBatch(spark: SparkSession, root: String, table: String,
               batch: DataFrame, batchId: Long,
               expectedItems: Long = -1L, fpp: Double = 0.01): Unit = {
    val proj = UpsertSink.dmlProjection(batch)
      .filter(col("table") === table)
      .select(col("row_key"))
    val n = if (expectedItems > 0) expectedItems
      else math.max(graft.Label.job(spark, s"bloom.size $table b=$batchId")(
        proj.count()), 1L)
    val bf = graft.Label.job(spark, s"bloom.build $table b=$batchId")(
      proj.stat.bloomFilter("row_key", n, fpp))
    writeBloom(spark, root, table, s"batch-$batchId.bloom", bf)
  }

  /** Fold the bloom log: build ONE bloom from the LIVE snapshot's keys
    * as of `asBatch` (sized to the live count), then drop every file it
    * supersedes — batch blooms with id ≤ `asBatch` and older snapshot
    * blooms. Crash-safe in the artifact direction that matters: the
    * snapshot bloom commits first (tmp + rename), the deletes run
    * after, so any crash leaves EXTRA blooms (false positives only),
    * never a coverage hole. Like [[ParquetUpsertStore.compact]] this
    * collapses history — keys whose every row was tombstoned by
    * `asBatch` leave the bloom, so time-travel lookups below the
    * snapshot bloom's id can no longer be pruned; [[filterPresent]]
    * detects that case and passes keys through unpruned. Run it
    * aligned with the store's own compaction cadence. */
  def compact(spark: SparkSession, store: ParquetUpsertStore, root: String,
              table: String, asBatch: Long, fpp: Double = 0.01): Unit = {
    // persist: two consumers (sizing count + bloom build) of one key
    // projection — without it the snapshot's bucket merge runs twice
    val live = store.snapshotAt(spark, table, asBatch).select(col("row_key"))
      .persist()
    val bf =
      try {
        val n = math.max(live.count(), 1L)
        live.stat.bloomFilter("row_key", n, fpp)
      } finally live.unpersist()
    writeBloom(spark, root, table, s"snapshot-$asBatch.bloom", bf)
    val v = CommitLog.list(fs(spark, root), bloomDir(root, table))
    (batchIds(v).filter(_ <= asBatch).map(id => s"batch-$id.bloom") ++
      snapshotIds(v).filter(_ < asBatch).map(id => s"snapshot-$id.bloom"))
      .foreach(n => v.fs.delete(v.path(n), false))
  }

  /** The subset of `keys` that MIGHT exist in the table — keys absent
    * from the newest snapshot bloom and every later batch bloom are
    * definite misses and are dropped here, before any bucket directory
    * is opened. Pruning disables itself (all keys pass) whenever it
    * cannot be sound: no blooms built at all, a committed batch with no
    * covering bloom (the manifest cross-check), or a time-travel read
    * below the snapshot bloom's id (whose folded-out tombstoned keys
    * may have been live then). The bloom files are metadata-sized
    * driver reads (the centroid-collect posture), never a scan. */
  def filterPresent(spark: SparkSession, root: String, table: String,
                    keys: Seq[String],
                    atOrBefore: Option[Long] = None): Seq[String] =
    filterIn(spark, CommitLog.list(fs(spark, root),
      ParquetUpsertStore.tableDir(root, table)), root, table, keys, atOrBefore)

  /** [[filterPresent]] against a table view the caller reads through
    * (taken BEFORE the bloom listing: a batch committed in it wrote its
    * bloom first, so the listing sees it). */
  private def filterIn(spark: SparkSession, tview: CommitLog.View,
                       root: String, table: String, keys: Seq[String],
                       atOrBefore: Option[Long]): Seq[String] = {
    val v = CommitLog.list(fs(spark, root), bloomDir(root, table))
    val batches = batchIds(v)
    val snapId = snapshotIds(v).lastOption
    // no blooms built at all: pruning is off, not a miss for every key
    if (batches.isEmpty && snapId.isEmpty) return keys
    // The store's coverage rule, with the snapshot bloom as the fold
    // and per-batch blooms as the markers. StoreMaintenance.run's
    // ordering (bloom compact before vacuum) always satisfies its
    // floor clause; a direct vacuum call degrades to no pruning until
    // the next compact.
    if (!ParquetUpsertStore.coverageSound(tview, snapId, batches.toSet, atOrBefore))
      return keys
    val useful = batches.filter(id => snapId.forall(id > _))
      .map(id => s"batch-$id.bloom") ++ snapId.map(id => s"snapshot-$id.bloom")
    // A file listed a moment ago may be gone by the read (a concurrent
    // compaction's superseding deletes). Losing ANY bloom loses
    // coverage, so the only sound degradation is no pruning at all —
    // the next lookup sees the post-compaction set and prunes again.
    val blooms =
      try useful.flatMap(n => CommitLog.open(v, n)(in => BloomFilter.readFrom(in)))
      catch { case _: java.io.IOException => return keys }
    if (blooms.size < useful.size) return keys
    keys.filter(k => blooms.exists(_.mightContainString(k)))
  }

  /** [[ParquetUpsertStore.lookup]] behind the miss fast path: one view
    * of the table directory serves the coverage check and the read. */
  def lookup(spark: SparkSession, store: ParquetUpsertStore, root: String,
             table: String, keys: Seq[String],
             atOrBefore: Option[Long] = None): DataFrame = {
    val tview = store.view(spark, table)
    store.lookupIn(spark, tview,
      filterIn(spark, tview, root, table, keys, atOrBefore), atOrBefore)
  }
}
