package graft.sinks

import graft.operators.CdcApply
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Durable, cluster-valid CDC target: one bucket-partitioned,
  * copy-on-write parquet table per CDC table, committed through a
  * manifest log.
  *
  * This is the missing concrete sink behind [[CdcWriter]]'s semantics
  * (reference sink/CDCKudu.java:139-184, sink/CDCTableUtil.java:57-96:
  * create-if-absent, alter on DDL, put-all-columns on I/U, delete on D) —
  * but expressed for Spark's execution model instead of a row-at-a-time
  * client:
  *
  *   - Rows live as `(row_key, op, values map<string,string>, version)`
  *     parquet partitioned by `bucket = pmod(hash(row_key), numBuckets)`.
  *   - Each micro-batch is compacted to the latest change per key
  *     ([[CdcApply.latestByKey]] — one hash shuffle), merged against ONLY
  *     the buckets it touches (partition-pruned read), and written as a
  *     new snapshot directory `snap-<batchId>` holding just those buckets.
  *   - A `manifest-<batchId>` file maps every bucket to the snapshot
  *     directory holding its current data. Readers take the highest
  *     manifest id; writers commit with an atomic rename — the same
  *     log-then-pointer protocol Delta/Iceberg use, at bucket granularity.
  *
  * 100 TB story: per-batch work is proportional to the buckets touched by
  * the batch, not to table size — a 1k-row batch against a 100 TB table
  * rewrites at most `min(rows, numBuckets)` buckets (`numBuckets` sized so
  * a bucket is a few GB). DELETEs are retained as tombstones so replayed
  * or out-of-order batches can never resurrect a deleted row (max-version
  * wins); [[compact]] folds tombstones out once they are past the
  * checkpoint replay horizon. Replaying a batch id is idempotent: it
  * rewrites the same snapshot directory and re-commits the same manifest.
  *
  * Schema evolution (reference CDCKudu.java:78-137) is metadata-only here:
  * the live values travel as the envelope's map<string,string>, so a DDL
  * add/drop updates the schema recorded in the manifest without touching
  * data files — strictly cheaper than the reference's alter-and-flush.
  *
  * Concurrency contract: ONE writer per table — the streaming sink's
  * micro-batch sequence (this matches the reference, whose sinks are fed
  * by a single streaming query). Replays of the same batch id from any
  * number of restarts are safe (idempotent commit, failed rename = noop),
  * but two LIVE writers interleaving different batch ids could each merge
  * against a base missing the other's commit — the store has no
  * optimistic-conflict retry. Readers need no coordination at any
  * parallelism: they see the highest committed manifest atomically.
  */
/** @param autoCompactManifests when > 0, a batch whose commit leaves more
  *   than this many manifests triggers a compaction at the just-committed
  *   batch id (folds the data working set; history manifests remain).
  * @param autoVacuumRetainBatches when ≥ 0 (and auto-compact fired),
  *   vacuum to `batchId - retain` right after the compaction — bounds
  *   manifest count AND storage at the cost of time travel older than
  *   `retain` batches. Keep it comfortably past the streaming
  *   checkpoint's replay horizon (any committed-batch replay is already
  *   shadowed by max-id reads; vacuum only deletes what no retained
  *   manifest references). */
class ParquetUpsertStore(root: String, numBuckets: Int = 16,
                         autoCompactManifests: Int = 0,
                         autoVacuumRetainBatches: Int = -1) extends Serializable {
  import ParquetUpsertStore._

  private def tableDir(table: String): String =
    ParquetUpsertStore.tableDir(root, table)

  /** One listing of the table directory: every question a call asks
    * of the commit log (latest id, coverage, the manifest to read) is
    * answered from it. */
  private[sinks] def view(spark: SparkSession, table: String): CommitLog.View =
    CommitLog.list(fileSystem(spark, root), tableDir(table))

  /** Fault-injection seam (crash-consistency testing): applied to the
    * merged batch just before its parquet write. A test subclass can
    * make a task throw after N rows — the on-disk state is then exactly
    * what a mid-write executor crash leaves (uncommitted `_temporary`
    * junk, no manifest). Production no-op. */
  protected def instrumentMerged(table: String, batchId: Long,
                                 df: DataFrame): DataFrame = df

  /** Fault-injection seam: invoked after the batch's snapshot directory
    * is fully written but BEFORE the manifest commit — the other
    * crash window (data durable, commit missing). Production no-op. */
  protected def beforeCommit(table: String, batchId: Long): Unit = ()

  /** Apply one envelope micro-batch (DDL first, then compacted DML). */
  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    batch.persist()
    try {
      // --- DDL phase (driver-side; at most one row per table per batch)
      // and table discovery, as ONE job: the former separate
      // ddl-collect + dml-distinct-collect cost two full passes over the
      // persisted batch per apply (a streaming sink pays them per
      // micro-batch). collect_list/collect_set skip the nulls the
      // `when` guards produce, so one aggregation yields both. ---
      val head = graft.Label.job(spark, s"store.head-agg b=$batchId")(
        batch.agg(
          collect_list(when(col("ddl").isNotNull,
            struct(col("ddl.table"), col("ddl.schemaJson")))).as("ddls"),
          collect_set(when(col("dml").isNotNull, col("dml.table"))).as("tables"))
          .collect()(0))
      val ddlSchemas: Map[String, StructType] =
        head.getSeq[org.apache.spark.sql.Row](0).map { r =>
          r.getString(0) -> DataType.fromJson(r.getString(1)).asInstanceOf[StructType]
        }.toMap

      // --- DML phase: one latest-per-key merge per table ---
      val dml = UpsertSink.dmlProjection(batch)
      val tables = (head.getSeq[String](1) ++ ddlSchemas.keys).distinct

      // Tables are independent (own manifest, own snapshot dirs, own
      // slice of the persisted batch), so their merge jobs run
      // CONCURRENTLY: a multi-table batch's latency is the slowest
      // table's, not the sum — the reference's sequential per-table loop
      // (CTInputDStream.java:124-133) made batch time grow linearly with
      // table count. Bounded pool; Spark's scheduler interleaves jobs.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(tables.length, 8)))
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(
          Future.sequence(tables.toSeq.map(t => Future(applyTable(
            spark, dml, ddlSchemas, t, batchId)))),
          Duration.Inf)
      } finally pool.shutdown()
    } finally batch.unpersist()
  }

  /** Apply rows ALREADY in the store's projected change shape
    * (`row_key, op, values, version` — exactly what a snapshot read
    * returns) as one change batch of `table`: the SQL INSERT face
    * ([[graft.sources.UpsertRelation.insert]]), and the programmatic
    * shortcut for callers that don't speak the DDL/DML envelope. Same
    * within-batch compaction, merge, and manifest commit as
    * [[applyBatch]] (single table, no DDL phase). */
  def applyProjected(rows: DataFrame, table: String, batchId: Long): Unit = {
    // persist-the-batch: applyTable executes its input in two separate
    // jobs (touched-bucket collect, then the merged write) — a
    // non-deterministic source (INSERT INTO ... SELECT ... LIMIT) must
    // not produce different rows per job, or rows land in buckets the
    // manifest never references (applyBatch guards the same way)
    val dml = rows.select(lit(table).as("table"), col("op"),
      col("row_key"), col("values"), col("version").cast("long"))
      .persist()
    try applyTable(rows.sparkSession, dml, Map.empty, table, batchId)
    finally dml.unpersist()
  }

  /** The batch id a NEW apply should commit at: one past the newest
    * committed manifest (0 for a fresh table) — the auto-increment the
    * SQL INSERT face uses, where no streaming checkpoint hands out ids. */
  def nextBatchId(spark: SparkSession, table: String): Long =
    committedIds(view(spark, table)).lastOption.fold(0L)(_ + 1L)

  private def applyTable(spark: SparkSession, dml: DataFrame,
                     ddlSchemas: Map[String, StructType],
                     t: String, batchId: Long): Unit = {
    val fs = fileSystem(spark, root)
    val tdir = tableDir(t)
    val v = view(spark, t)
    // Refuse to re-apply a batch below the newest commit: a replay of a
    // committed id is already shadowed by max-id readers, and if vacuum
    // dropped its manifest, re-creating one on top of the CURRENT mapping
    // would make time travel at that id return anachronistic data. The
    // streaming checkpoint only ever replays the newest uncommitted-or-
    // equal id, so this guard costs nothing on the normal path.
    if (committedIds(v).lastOption.exists(batchId < _)) {
      // Observable for a direct programmatic caller committing out of
      // order — for them this drop is data loss, not a harmless replay.
      System.err.println(s"ParquetUpsertStore: skipping batch $batchId for " +
        s"table '$t' — a newer batch is already committed (replay shadowed); " +
        "direct callers must commit monotonically increasing batch ids")
      return
    }
    val cur = readManifest(v)
    val nb = cur.map(_.numBuckets).getOrElse(numBuckets)

    // evolve the recorded schema on DDL (metadata-only alter)
    val schemaJson: Option[String] = ddlSchemas.get(t) match {
      case Some(target) =>
        val evolved = cur.flatMap(_.schemaJson)
          .map(j => DataType.fromJson(j).asInstanceOf[StructType]) match {
          case None => target
          case Some(live) =>
            val d = SchemaEvolution.diff(live, target)
            if (d.isEmpty) live
            else StructType(live.fields.filterNot(f =>
              d.dropped.exists(_.equalsIgnoreCase(f.name))) ++ d.added)
        }
        Some(evolved.json)
      case None => cur.flatMap(_.schemaJson)
    }

    // Bucket with the MANIFEST's bucket count, not the constructor's:
    // a store handle opened with a different `numBuckets` must keep
    // writing buckets consistent with the table's recorded mapping,
    // or reads would prune to buckets that don't hold the rows.
    val changes = dml.filter(col("table") === t).drop("table")
      .withColumn("bucket", pmod(hash(col("row_key")), lit(nb)))
    // Touched buckets from the RAW batch: latest-per-key compaction
    // cannot change a batch's key set, so the former pre-compacted form
    // ran a full window shuffle+sort just to learn the buckets — this is
    // one map-side-partial distinct over the persisted batch instead.
    val touched = graft.Label.job(spark, s"store.touched $t b=$batchId")(
      changes.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSet)

    val mapping = cur.map(_.buckets).getOrElse(Map.empty[Int, String])
    if (touched.nonEmpty) {
      val existing = readBuckets(spark, fs, tdir, mapping, touched, nb)
      // ONE latest-per-key window over existing ∪ batch. The former
      // two-phase form (compact the batch per key, then merge the result
      // with the existing buckets) ran two full window shuffles per
      // apply; latest-of-union ≡ latest-of(existing ∪ latest-of(batch))
      // — same winner by version, and version ties within a batch were
      // arbitrary in both forms. Map-side WindowGroupLimit still prunes
      // per-key multiplicity before the single exchange.
      val merged = CdcApply.latestByKey(
        existing.unionByName(changes), Seq("row_key"), col("version"))
      // One file per bucket: without the repartition every shuffle
      // partition writes into every bucket directory it has rows
      // for — O(shufflePartitions × buckets) small files per batch,
      // which murders the file listing at scale. Buckets are sized
      // to a few GB, so one writer per bucket is the right shape.
      graft.Label.job(spark, s"store.merge-write $t b=$batchId")(
        instrumentMerged(t, batchId,
            merged.select(col("row_key"), col("op"), col("values"),
              col("version"), col("bucket")))
          .repartition(math.max(touched.size, 1), col("bucket"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("bucket")
          .parquet(s"$tdir/snap-$batchId"))
    }
    val newMapping = mapping ++ touched.map(_ -> s"snap-$batchId")
    beforeCommit(t, batchId)
    commitManifest(fs, tdir, batchId, Manifest(nb, schemaJson, newMapping))

    // Auto-compact policy: once the manifest count exceeds the configured
    // bound, fold this table's buckets into one compaction snapshot AT THE
    // JUST-COMMITTED batch id (replace-commit). Safe under at-least-once
    // foreachBatch: a replay of THIS batch merges against the compacted
    // state and its manifest re-commit is dropped (id exists), and any
    // older batch's replay commits a lower id that max-id readers never
    // see — so a folded-out tombstone can never resurface. Time travel to
    // ids below the compaction point is untouched (older manifests and
    // their directories stay until vacuum).
    if (autoCompactManifests > 0 &&
        (v.ids("manifest-").toSet + batchId).size > autoCompactManifests) {
      compact(spark, t, batchId)
      if (autoVacuumRetainBatches >= 0)
        vacuum(spark, t, keepFromBatchId = batchId - autoVacuumRetainBatches)
    }
  }

  /** Live rows of `table` at the latest committed snapshot
    * (tombstones filtered): `row_key, op, values, version`. */
  def snapshot(spark: SparkSession, table: String): DataFrame =
    snapshotIn(spark, view(spark, table), atOrBefore = None)

  /** Time travel: live rows as of committed batch `batchId` — the state
    * the table converged to after the largest committed batch ≤ that id.
    * Free by construction: every `manifest-<id>` is retained and each
    * maps the full bucket set to the snapshot directories holding its
    * data at that commit (the same manifest-log trick Delta/Iceberg
    * time travel uses). [[compact]] collapses history — after it, only
    * ids ≥ the compaction id resolve to pre-compaction-free state. */
  def snapshotAt(spark: SparkSession, table: String, batchId: Long): DataFrame =
    snapshotIn(spark, view(spark, table), atOrBefore = Some(batchId))

  /** [[snapshot]]/[[snapshotAt]] over a view the caller already took. */
  private[sinks] def snapshotIn(spark: SparkSession, v: CommitLog.View,
                                atOrBefore: Option[Long]): DataFrame = {
    val m = manifestOrEmpty(v, atOrBefore)
    readBuckets(spark, v.fs, v.dir, m.buckets, m.buckets.keySet, m.numBuckets)
      .filter(col("op") =!= graft.model.OpType.Delete)
      .drop("bucket")
  }

  private def manifestOrEmpty(v: CommitLog.View, atOrBefore: Option[Long]): Manifest =
    readManifest(v, atOrBefore).getOrElse(Manifest(numBuckets, None, Map.empty))

  /** Typed snapshot: live rows re-typed through the manifest's RECORDED
    * schema (the last applied DDL, as evolved by [[SchemaEvolution]]) via
    * the flattener's single re-typing rule — consumers get plain typed
    * columns instead of the envelope's `map<string,string>`. Rows written
    * before a DDL added a column read NULL for it; rows whose map still
    * carries a dropped column lose it by projection — both metadata-only,
    * no data files rewritten. */
  def snapshotTyped(spark: SparkSession, table: String,
                    atOrBefore: Option[Long] = None): DataFrame = {
    val v = view(spark, table)
    val schema = schemaIn(v, atOrBefore).getOrElse(
      throw new IllegalStateException(
        s"table '$table' has no recorded schema — no DDL record has been applied"))
    snapshotIn(spark, v, atOrBefore)
      .select(graft.operators.DmlFlattener.typedColumns(col("values"), schema): _*)
  }

  /** Point lookup: live rows for exactly `keys`, reading ONLY the
    * buckets those keys hash to — the store's bucket layout turned into
    * read pruning. A lookup of k keys on a 100 TB table opens at most
    * `min(k, numBuckets)` bucket directories instead of scanning the
    * table; the in-bucket `row_key IN (...)` filter is pushed to the
    * parquet scan. The bucket ids are computed driver-side with the SAME
    * hash the write path uses (Spark's Murmur3 with the `hash()` default
    * seed), evaluated on literals — no job, no scan. */
  def lookup(spark: SparkSession, table: String, keys: Seq[String],
             atOrBefore: Option[Long] = None): DataFrame =
    lookupIn(spark, view(spark, table), keys, atOrBefore)

  /** [[lookup]] over a view the caller already took (and checked its
    * sidecar coverage against). */
  private[sinks] def lookupIn(spark: SparkSession, v: CommitLog.View,
                              keys: Seq[String],
                              atOrBefore: Option[Long]): DataFrame = {
    val m = manifestOrEmpty(v, atOrBefore)
    val buckets = keys.map(k => bucketOf(k, m.numBuckets)).toSet
    readBuckets(spark, v.fs, v.dir, m.buckets, buckets, m.numBuckets)
      .filter(col("row_key").isin(keys: _*))
      .filter(col("op") =!= graft.model.OpType.Delete)
      .drop("bucket")
  }

  /** Change feed between two committed snapshots: the I/U/D records that
    * transform the live state at `fromBatchId` into the live state at
    * `toBatchId` — CDC of the store itself (Delta's CHANGE DATA FEED
    * shape, computed from the manifest log instead of stored change
    * files). Manifest-pruned: a bucket whose directory mapping is
    * IDENTICAL in both manifests cannot have changed, so only buckets
    * remapped between the two commits are read — a diff across one batch
    * on a 100 TB table reads that batch's touched buckets twice, not the
    * table. Value-level semantics: a row re-written with byte-identical
    * values is not a change. */
  def diff(spark: SparkSession, table: String,
           fromBatchId: Long, toBatchId: Long): DataFrame = {
    val v = view(spark, table)
    // An endpoint below the vacuum floor would resolve to an empty
    // manifest and mis-report every live row (as INSERT for a vacuumed
    // `from`, as DELETE for a vacuumed `to`) — refuse instead. The
    // floor is the smallest manifest id that survived the last vacuum.
    val floor = readFloor(v)
    Seq("fromBatchId" -> fromBatchId, "toBatchId" -> toBatchId).foreach {
      case (what, id) => require(id >= floor,
        s"diff $what=$id is below table '$table' retention floor $floor — " +
          "that history was vacuumed; re-seed from a full snapshot")
    }
    val mFrom = manifestOrEmpty(v, Some(fromBatchId))
    val mTo = manifestOrEmpty(v, Some(toBatchId))
    val changed = (mFrom.buckets.keySet ++ mTo.buckets.keySet)
      .filter(b => mFrom.buckets.get(b) != mTo.buckets.get(b))
    def live(m: Manifest, tag: String) =
      readBuckets(spark, v.fs, v.dir, m.buckets, changed, m.numBuckets)
        .filter(col("op") =!= graft.model.OpType.Delete)
        .select(col("row_key"), col("values").as(s"values_$tag"),
          col("version").as(s"version_$tag"))
    // MapType is not directly comparable; sorted entry arrays are.
    val sameValues = array_sort(map_entries(col("values_from"))) ===
      array_sort(map_entries(col("values_to")))
    live(mFrom, "from").join(live(mTo, "to"), Seq("row_key"), "full_outer")
      .withColumn("diff_op",
        when(col("values_from").isNull, graft.model.OpType.Insert)
          .when(col("values_to").isNull, graft.model.OpType.Delete)
          .when(sameValues, lit(null))
          .otherwise(graft.model.OpType.Update))
      .filter(col("diff_op").isNotNull)
      .select(col("row_key"), col("diff_op"),
        coalesce(col("values_to"), col("values_from")).as("values"),
        col("values_from").as("values_prev"),
        col("version_from"), col("version_to"))
  }

  /** On-disk bytes of the snapshot directories the current (or as-of)
    * manifest references — the optimizer statistic for this table.
    * Driver-side metadata listing (one `getContentSummary` per distinct
    * referenced directory, dozens at most); an over-estimate of live
    * data (tombstones and superseded buckets in shared directories
    * count), which is the SAFE direction for a broadcast decision. */
  def dataSizeInBytes(spark: SparkSession, table: String,
                      atOrBefore: Option[Long] = None): Long = {
    val v = view(spark, table)
    readManifest(v, atOrBefore).fold(0L) { m =>
      m.buckets.values.toSet.iterator.map { (d: String) =>
        try v.fs.getContentSummary(v.path(d)).getLength
        catch { case _: java.io.IOException => 0L }
      }.sum
    }
  }

  /** Recorded live schema of `table` (from the last applied DDL at or
    * before `atOrBefore`, latest when unbounded). */
  def schemaOf(spark: SparkSession, table: String,
               atOrBefore: Option[Long] = None): Option[StructType] =
    schemaIn(view(spark, table), atOrBefore)

  private def schemaIn(v: CommitLog.View,
                       atOrBefore: Option[Long]): Option[StructType] =
    readManifest(v, atOrBefore).flatMap(_.schemaJson)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])

  /** Materialize the typed snapshot as a Z-order-clustered parquet
    * directory — the serving/export layout (Delta's OPTIMIZE ZORDER BY,
    * as a one-shot write): rows are range-partitioned and sorted on the
    * interleaved key of two typed columns, so every file and row group
    * covers a small rectangle in (x, y) and parquet min/max stats prune
    * scans filtered on EITHER dimension. The store's own bucket layout
    * is untouched (it is keyed for point lookups, not range scans); this
    * is the path a downstream analytical consumer reads. Content is
    * exactly [[snapshotTyped]] — layout is the only difference. */
  def exportZOrdered(spark: SparkSession, table: String, outDir: String,
                     xCol: String, yCol: String, bits: Int = 20,
                     numFiles: Int = 8): Unit = {
    val zk = graft.functions.ZOrder.zorderKey(
      coalesce(col(xCol).cast("long"), lit(0L)),
      coalesce(col(yCol).cast("long"), lit(0L)), bits)
    snapshotTyped(spark, table)
      .withColumn("__zk", zk)
      .repartitionByRange(numFiles, col("__zk"))
      .sortWithinPartitions(col("__zk"))
      .drop("__zk")
      .write.mode(SaveMode.Overwrite).parquet(outDir)
  }

  /** Delta-style MERGE INTO, expressed as one change batch: every
    * `source` row upserts into `table` by `keys` (put-all-columns, the
    * store's I/U law) except rows matching `deleteWhen`, which become
    * tombstones — insert-or-update-or-delete in applyBatch's single
    * shuffle + touched-bucket rewrite, no separate matched/not-matched
    * passes. `version` orders rows sharing a key within the batch
    * (latest wins). Follow the batch-id contract: monotonically above
    * the last commit. */
  def merge(table: String, source: DataFrame, keys: Seq[String],
            version: Column, batchId: Long,
            deleteWhen: Column = lit(false)): Unit = {
    val op = when(deleteWhen, graft.model.OpType.Delete)
      .otherwise(graft.model.OpType.Update)
    applyBatch(graft.operators.ChangeFeed.wrapDml(
      source, table, keys, op, version, lit(0L)), batchId)
  }

  /** Re-bucket the table to `newNumBuckets` — the lifecycle operation
    * for a table that outgrew (or over-provisioned) its bucket sizing:
    * buckets should stay at a few GB, and a table that grew 100× since
    * creation needs proportionally more of them. One full rewrite into
    * `snap-<asBatchId>-r` under the NEW hash, committed at `asBatchId`;
    * every later batch and read picks the new count up from the
    * manifest (the write path always buckets with the manifest's count,
    * never the constructor's). Pass the LAST COMMITTED batch id (this
    * is a replace-commit, [[compact]]'s convention) — a fresh id would
    * collide with a resumed stream's next micro-batch id, whose commit
    * would then be dropped as a replay. Unlike [[compact]], tombstones are
    * preserved, so replay safety is unchanged and no checkpoint-horizon
    * caveat applies. History manifests keep their own bucket counts —
    * time travel and diff across the boundary stay correct (a diff
    * spanning it reads everything: every bucket was remapped). */
  def rebucket(spark: SparkSession, table: String, newNumBuckets: Int,
               asBatchId: Long): Unit = {
    require(newNumBuckets > 0, s"newNumBuckets must be positive, got $newNumBuckets")
    val fs = fileSystem(spark, root)
    val tdir = tableDir(table)
    readManifest(view(spark, table))
      .filterNot(_.numBuckets == newNumBuckets) // no-op if already sized
      .foreach { m =>
        // the target count is part of the directory name: two rebuckets
        // replace-committed at the SAME id (the documented convention)
        // must never lazily read the directory they are overwriting
        val rdir = s"snap-$asBatchId-r$newNumBuckets"
        readBuckets(spark, fs, tdir, m.buckets, m.buckets.keySet, m.numBuckets)
          .drop("bucket")
          .withColumn("bucket", pmod(hash(col("row_key")), lit(newNumBuckets)))
          .repartition(newNumBuckets, col("bucket"))
          .write.mode(SaveMode.Overwrite).partitionBy("bucket")
          .parquet(s"$tdir/$rdir")
        // empty table → no bucket dirs were written; see compact
        val mapping =
          if (hasBucketDirs(fs, s"$tdir/$rdir"))
            (0 until newNumBuckets).map(_ -> rdir).toMap
          else Map.empty[Int, String]
        commitManifest(fs, tdir, asBatchId,
          Manifest(newNumBuckets, m.schemaJson, mapping), replace = true)
      }
  }

  /** Fold all buckets into one snapshot directory and drop tombstones.
    * Run only past the streaming checkpoint's replay horizon: once a
    * tombstone is gone, a replay of the batch that deleted it must never
    * happen (the checkpoint guarantees exactly that for committed batches). */
  def compact(spark: SparkSession, table: String, asBatchId: Long): Unit = {
    val fs = fileSystem(spark, root)
    val tdir = tableDir(table)
    // Compaction output lives in its own `-c` directory so it can never
    // collide with the batch snapshot `snap-<id>` a batch of the same id
    // wrote (auto-compact runs at the just-committed batch id).
    val cdir = s"snap-$asBatchId-c"
    // Re-compacting an already-compacted id would read and overwrite the
    // same directory (data loss under lazy evaluation) — no-op instead.
    readManifest(view(spark, table))
      .filterNot(m => m.buckets.nonEmpty && m.buckets.values.forall(_ == cdir))
      .foreach { m =>
      val live = readBuckets(spark, fs, tdir, m.buckets, m.buckets.keySet,
          m.numBuckets)
        .filter(col("op") =!= graft.model.OpType.Delete)
      graft.Label.job(spark, s"store.compact $table b=$asBatchId")(
        live.repartition(math.max(m.buckets.size, 1), col("bucket"))
          .write.mode(SaveMode.Overwrite).partitionBy("bucket")
          .parquet(s"$tdir/$cdir"))
      // A fully-tombstoned table folds to ZERO rows: the write then
      // leaves no bucket directories and a later schema-less parquet
      // read of the dir would fail — commit an empty mapping instead
      // (readBuckets resolves that to the empty snapshot schema).
      val mapping =
        if (hasBucketDirs(fs, s"$tdir/$cdir"))
          m.buckets.keySet.map(_ -> cdir).toMap
        else Map.empty[Int, String]
      commitManifest(fs, tdir, asBatchId,
        Manifest(m.numBuckets, m.schemaJson, mapping), replace = true)
    }
  }

  /** True iff `dir` holds at least one `bucket=` partition directory —
    * i.e. the preceding write actually materialized rows. */
  private def hasBucketDirs(fs: FileSystem, dir: String): Boolean =
    CommitLog.list(fs, dir).names.exists(_.startsWith("bucket="))

  /** Drop history: delete manifests with id < `keepFromBatchId` and every
    * snapshot directory no longer referenced by a retained manifest.
    * Storage is bounded to the retained commits' working set; time
    * travel below the floor is gone afterwards (snapshotAt resolves to
    * an empty table). Run after [[compact]] at the same id to shrink to
    * a single snapshot directory. Safe ordering: data directories are
    * deleted only after the manifests referencing them — a concurrent
    * reader either sees a retained manifest (whose directories survive)
    * or none. */
  def vacuum(spark: SparkSession, table: String, keepFromBatchId: Long): Unit = {
    val v = view(spark, table)
    val manifestIds = committedIds(v)
    if (manifestIds.isEmpty) return
    // never drop the newest commit, whatever the floor says
    val floor = math.min(keepFromBatchId, manifestIds.max)
    val referenced = manifestIds.filter(_ >= floor).flatMap { id =>
      readManifest(v, Some(id)).toSeq.flatMap(_.buckets.values)
    }.toSet
    // Record the retention floor BEFORE deleting anything, so history
    // readers (diff) refuse vacuumed ids instead of silently resolving
    // them to an empty table. The floor is the SMALLEST manifest id
    // that will survive — an id below it may have existed and been
    // deleted, so resolving it is unsafe even when it sits above the
    // requested keepFromBatchId (vacuum(2) over manifests {0,1,3}
    // retains only {3}: id 2 resolves to nothing). Monotone: never
    // lowered by a later vacuum. Crash ordering: a crash after this
    // write refuses a little too much (floor recorded, deletions
    // incomplete) — never too little; a crash inside the replace
    // leaves the old floor or the tmp one, and readFloor reads either.
    // A vacuum that deletes nothing creates no new unsafety — leave the
    // floor alone (raising it would wrongly refuse bootstrap diffs on a
    // table whose history is fully intact).
    val toDelete = manifestIds.filter(_ < floor)
    if (toDelete.nonEmpty) {
      val newFloor = math.max(manifestIds.filter(_ >= floor).min, readFloor(v))
      CommitLog.publishText(v.fs, v.dir, "vacuum-floor", newFloor.toString,
        replace = true)
    }
    // orphaned replace-swap sidecars below the floor are history too
    toDelete.flatMap(id => Seq(s"manifest-$id", s"manifest-$id.old"))
      .filter(v.has).foreach(n => v.fs.delete(v.path(n), false))
    v.names.filter(n => n.startsWith("snap-") && !referenced.contains(n))
      .foreach(n => v.fs.delete(v.path(n), true))
  }

  /** One multi-path scan over exactly the `bucket=` leaf directories the
    * manifest maps for `buckets` — instead of the former union of one
    * whole-directory read per snapshot dir (each paying its own driver
    * listing, parquet footer schema inference, and a per-relation plan
    * subtree; guide §5 driver round-trips, §6 listing). The schema is
    * explicit (no footer reads at plan time), leaf-dir paths make the
    * bucket pruning exact at the listing level (no `isin` filter), and
    * `bucket` is recomputed from `row_key` — by construction every row a
    * manifest references satisfies `bucket = pmod(hash(row_key),
    * manifest.numBuckets)` (applyTable writes with the manifest's count,
    * compact preserves it, rebucket recomputes and commits the new
    * count), so the recomputation is the stored value, codegen'd.
    * Existence filtering handles mappings that reference buckets a
    * compaction/rebucket never materialized (zero live rows) — but a
    * referenced snapshot DIRECTORY that is gone is data loss and stays
    * a loud error, exactly as the former whole-directory read made it. */
  private def readBuckets(spark: SparkSession, fs: FileSystem, tdir: String,
                          mapping: Map[Int, String],
                          buckets: Set[Int], nb: Int): DataFrame = {
    val byDir = mapping.filter { case (b, _) => buckets.contains(b) }
      .groupBy(_._2).view.mapValues(_.keySet).toMap
    val paths = byDir.toSeq.sortBy(_._1).flatMap { case (dir, bs) =>
      val snap = CommitLog.list(fs, s"$tdir/$dir")
      if (!snap.exists) throw new java.io.FileNotFoundException(
        s"snapshot directory ${snap.dir} referenced by the manifest is missing")
      bs.toSeq.sorted.map(b => s"bucket=$b").filter(snap.has)
        .map(n => s"$tdir/$dir/$n")
    }
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        snapshotSchema)
    else
      spark.read.schema(bucketFileSchema).parquet(paths: _*)
        .withColumn("bucket", pmod(hash(col("row_key")), lit(nb)))
  }
}

object ParquetUpsertStore {

  val snapshotSchema: StructType = StructType(Seq(
    StructField("row_key", StringType),
    StructField("op", StringType),
    StructField("values", MapType(StringType, StringType)),
    StructField("version", LongType),
    StructField("bucket", IntegerType)))

  /** What a bucket data FILE holds — [[snapshotSchema]] minus `bucket`
    * (the write's partition column). Explicit on every bucket read, so
    * no scan pays parquet footer schema inference at plan time. */
  private val bucketFileSchema: StructType =
    StructType(snapshotSchema.fields.filterNot(_.name == "bucket"))

  private[sinks] final case class Manifest(
      numBuckets: Int, schemaJson: Option[String], buckets: Map[Int, String])

  private def fileSystem(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[sinks] def tableDir(root: String, table: String): String =
    root + "/" + table.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Ids of every committed manifest in the table view (empty for a
    * table that doesn't exist). Includes orphaned `.old` replace-swap
    * sidecars: their ids are committed history a crashed swap merely
    * hid, and [[CommitLog.read]] restores them on first read. */
  private[sinks] def committedIds(v: CommitLog.View): Seq[Long] =
    (v.ids("manifest-") ++ v.ids("manifest-", ".old")).distinct.sorted

  /** The table's vacuum retention floor: the smallest manifest id that
    * survived the last vacuum — ids below it may have been deleted.
    * Long.MinValue when never vacuumed (or no table). Reads the tmp
    * file when the floor's rename never landed, so a crashed vacuum
    * cannot silently disarm it (over-stating the floor only refuses). */
  private[sinks] def readFloor(v: CommitLog.View): Long =
    CommitLog.read(v, "vacuum-floor", "", tmpFallback = true)
      .flatMap(_.headOption).fold(Long.MinValue)(_.trim.toLong)

  /** THE coverage rule every sidecar's pruning rests on ([[KeyBloom]]'s
    * miss fast path, [[SecondaryIndex]]'s index-first lookups): an
    * artifact may prune a read at horizon `atOrBefore` only if
    *   - every committed id up to the horizon is covered by its `fold`
    *     (the last compaction's id) or by a per-batch `marker` —
    *     partial adoption or a swallowed per-batch write fails this;
    *   - a vacuumed table (floor armed) has a fold at or above the
    *     floor: the deleted manifests may have been uncovered, and
    *     their ids are no longer listable, so the id check alone would
    *     pass vacuously;
    *   - the horizon is not below the fold: compaction rebuilt the
    *     artifact from the live snapshot at the fold, so older
    *     horizons' dead-since keys may be missing from it. */
  private[sinks] def coverageSound(v: CommitLog.View, fold: Option[Long],
                                   markers: Set[Long],
                                   atOrBefore: Option[Long]): Boolean = {
    val floor = readFloor(v)
    committedIds(v).filter(id => atOrBefore.forall(id <= _))
      .forall(id => fold.exists(id <= _) || markers.contains(id)) &&
      (floor == Long.MinValue || fold.exists(_ >= floor)) &&
      fold.forall(f => atOrBefore.forall(f <= _))
  }

  /** Driver-side twin of the write path's `pmod(hash(row_key), nb)`:
    * Spark's `hash()` is Murmur3 with seed 42, so evaluating the same
    * expression on a literal yields the bucket without running a job. */
  private[graft] def bucketOf(key: String, nb: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(key),
        StringType)), 42).eval(null).asInstanceOf[Int]
    ((h % nb) + nb) % nb
  }

  /** Highest-id committed manifest in the view (optionally capped at
    * `atOrBefore` for time travel), or None for a table that doesn't
    * exist. Parsed on every call: a replace-commit rewrites a
    * manifest in place, so no cache keyed on file metadata can tell a
    * stale parse from a current one across processes. */
  private[sinks] def readManifest(v: CommitLog.View,
                                  atOrBefore: Option[Long] = None): Option[Manifest] =
    committedIds(v).filter(id => atOrBefore.forall(id <= _)).lastOption.map { id =>
      val lines = CommitLog.read(v, s"manifest-$id", "graft-upsert-manifest ")
        .getOrElse(throw new java.io.FileNotFoundException(
          s"manifest-$id vanished from ${v.dir}"))
      Manifest(lines.head.split(" ")(1).toInt, lines.lift(1).filter(_ != "-"),
        lines.drop(2).filter(_.nonEmpty).map { line =>
          val Array(b, d) = line.split("\t", 2)
          b.toInt -> d
        }.toMap)
    }

  /** Commit manifest-<id> — the commit point. Create-once for a batch
    * (a lost rename is a replay of identical content); `replace` for
    * compaction's and rebucket's re-commit of an existing id, whose
    * crash window [[CommitLog]] recovers. */
  private[sinks] def commitManifest(fs: FileSystem, tdir: String, id: Long,
                                    m: Manifest, replace: Boolean = false): Unit = {
    val text = new StringBuilder()
      .append("graft-upsert-manifest ").append(m.numBuckets).append('\n')
      .append(m.schemaJson.getOrElse("-")).append('\n')
    m.buckets.toSeq.sortBy(_._1).foreach { case (b, d) =>
      text.append(b).append('\t').append(d).append('\n')
    }
    CommitLog.publishText(fs, tdir, s"manifest-$id", text.toString, replace)
  }
}
