package graft.streaming

import graft.sinks.CommitLog
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LIVE schema-drift monitor over in-band open-schema payloads — the
  * streaming twin of the q64 batch profile (the metadata query an
  * open-schema ingest runs continuously: "which keys and types appear,
  * and which of them are NEW?"). The reference's dynamic in-band-schema
  * stance (reference common/Schemas.java:50-54 — every record carries
  * its schema) read as a monitor: each micro-batch is profiled into
  * key × canonical-type-tier counts in ONE scan, folded into a keyed
  * parquet artifact, and every row is stamped with its drift status
  * against everything the monitor saw in EARLIER batches —
  * `new_key` (first appearance of the key), `new_type` (known key,
  * unseen type tier: the in-band DDL alert), `steady`. Alerting is
  * reading the non-steady rows of the latest batch.
  *
  * Scale shape: the per-batch profile is scan → row-local explode →
  * map-side-combined count (fan-out bounded by keys-per-doc), and the
  * artifact has the SAME bounded lifecycle as the store's other
  * sidecars (blooms, postings): per-batch directories are periodically
  * folded into a `fold-<n>/` generation (full history log + distinct
  * seen set) committed by an atomic `_fold-<n>` pointer create, the
  * previous generation retained one cycle as a reader's grace copy —
  * so a stream of ANY age opens O(foldEvery) directories per ingest
  * and per monitor read, never O(stream age). The seen set is
  * cardinality-GUARDED: up to `maxSeenPairs` distinct (key, tier)
  * pairs it compiles to literal pruning predicates (the metadata-sized
  * fast path); past that — an adversarial open-schema feed minting
  * synthetic keys — stamping degrades to plain joins against the seen
  * frame (AQE broadcasts the small side), never an unbounded driver
  * collect or expression tree.
  *
  * Layout under `dir`:
  * {{{
  *   _fold-<n>      fold pointer (highest n wins); carries
  *                  folded_through — the same manifest-log commit
  *                  discipline as [[graft.sinks.SecondaryIndex]]
  *   fold-<n>/log   every profile row of batches ≤ folded_through
  *   fold-<n>/seen  their distinct (key, vtype) pairs
  *   batch-<id>/    the unfolded tail (one directory per micro-batch)
  * }}}
  * Writes have ONE maintainer (the stream's serial ingest loop — the
  * store's one-writer contract extended to this sidecar); concurrent
  * MONITOR readers need no coordination (pointer discipline + grace
  * copy, re-resolve on a vanished generation).
  */
object DriftMonitor {

  /** Canonical cross-engine type TIER of a `schema_of_variant`
    * spelling — engines disagree on fine-grained types (DECIMAL(3,1)
    * vs DOUBLE, BIGINT vs UBIGINT), the 7-tier vocabulary is what a
    * drift alert should compare (q64's collapse rule). */
  private val TierSql = """CASE
      WHEN sv IN ('BIGINT', 'INT', 'SMALLINT', 'TINYINT') THEN 'integer'
      WHEN sv = 'STRING' THEN 'string'
      WHEN sv = 'BOOLEAN' THEN 'boolean'
      WHEN sv IN ('VOID', 'NULL') THEN 'null'
      WHEN sv LIKE 'ARRAY%' THEN 'array'
      WHEN sv LIKE 'OBJECT%' OR sv LIKE 'STRUCT%' THEN 'object'
      ELSE 'number'
    END"""

  private val monitorSchema = StructType(Seq(
    StructField("epoch", IntegerType), StructField("key", StringType),
    StructField("vtype", StringType), StructField("n", LongType),
    StructField("status", StringType)))

  private val viewCounter = new java.util.concurrent.atomic.AtomicLong()

  /** key × type-tier × count profile of ONE micro-batch of documents
    * (`epoch` int, `v` variant): one scan, `variant_explode` over each
    * document's top level, tier-collapsed `schema_of_variant`,
    * hash-aggregated counts — exactly q64's per-epoch shape, applied
    * to a single batch. */
  def profileBatch(docs: DataFrame): DataFrame = {
    val view = s"graft_drift_docs_${viewCounter.incrementAndGet()}"
    // register AND query on the DataFrame's OWN session: under
    // foreachBatch the batch belongs to an isolated micro-batch session
    // clone, and a view registered there is invisible to the outer one
    docs.createOrReplaceTempView(view)
    docs.sparkSession.sql(s"""
      SELECT epoch, key, $TierSql AS vtype, COUNT(*) AS n
      FROM (
        SELECT epoch, p.key AS key, schema_of_variant(p.value) AS sv
        FROM $view, LATERAL variant_explode(v) AS p)
      GROUP BY epoch, key, vtype""")
  }

  // ---------------------------------------------------------------------
  // artifact state: fold pointer + unfolded batch directories
  // ---------------------------------------------------------------------

  private final case class State(fold: Option[(Long, Long)], // (n, foldedThrough)
                                 batches: Seq[(Long, String)],
                                 foldDirs: Set[Long],
                                 pointers: Set[Long]) {
    def foldedThrough: Long = fold.fold(Long.MinValue)(_._2)
  }

  private final class StaleFold extends RuntimeException

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readState(fs: FileSystem, dir: String): State = {
    val v = CommitLog.list(fs, dir)
    val ptrs = v.ids("_fold-")
    val fold = ptrs.reverseIterator.flatMap { n =>
      CommitLog.read(v, s"_fold-$n", "graft-drift-fold").flatMap(_.collectFirst {
        case l if l.startsWith("folded_through ") =>
          n -> l.stripPrefix("folded_through ").trim.toLong })
    }.nextOption()
    State(fold, v.ids("batch-").map(id => id -> s"$dir/batch-$id"),
      v.ids("fold-").toSet, ptrs.toSet)
  }

  /** Commit `_fold-<n>` create-once (a lost rename is a replay). */
  private def commitPointer(fs: FileSystem, dir: String, n: Long,
                            foldedThrough: Long): Unit =
    CommitLog.publishText(fs, dir, s"_fold-$n",
      s"graft-drift-fold 1\nfolded_through $foldedThrough\n")

  /** Batch directories are append-complete once written, so a plain
    * read suffices; an unreadable (empty) set is just "no rows". */
  private def readDirs(spark: SparkSession, paths: Seq[String]): Option[DataFrame] =
    if (paths.isEmpty) None
    else try Some(spark.read.parquet(paths: _*))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** A fold generation's subdirectory, distinguishing "empty" (exists
    * but no rows — a legitimate answer) from "vanished" (a racing
    * fold's cleanup deleted it — re-resolve, NEVER silently answer
    * without the folded history). */
  private def readFoldPart(spark: SparkSession, fs: FileSystem,
                           path: String): Option[DataFrame] =
    try Some(spark.read.parquet(path))
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        if (fs.exists(new Path(path))) None else throw new StaleFold
    }

  /** The monitor's unfolded-tail read, with the same vanished-vs-empty
    * distinction: a LISTED batch directory that disappeared means a
    * racing fold absorbed it into a newer generation's log — the
    * caller must re-resolve, never silently answer without those
    * batches. (Fold retains the just-folded tail one cycle as a grace
    * copy, so this is only reachable across TWO folds.) */
  private def readTailStrict(spark: SparkSession, fs: FileSystem,
                             paths: Seq[String]): Option[DataFrame] =
    if (paths.isEmpty) None
    else try Some(spark.read.parquet(paths: _*))
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        if (paths.forall(p => fs.exists(new Path(p)))) None
        else throw new StaleFold
    }

  /** Fold one micro-batch's profile into the artifact at `dir`,
    * stamping each row's drift status against the history of batches
    * with SMALLER ids. Each batch writes its OWN `batch-<id>` directory
    * with overwrite semantics, so an at-least-once replay (foreachBatch
    * redelivery, a crash mid-write) recomputes the same rows against
    * the same smaller-id history and overwrites them in place —
    * idempotent, never double-counted alerts; a replay of an
    * already-FOLDED batch is a no-op (its rows live in the fold log).
    * Past `foldEvery` unfolded batch directories the ingest folds the
    * tail itself — zero maintenance calls in the pipeline, O(foldEvery)
    * directory opens per ingest at any stream age. */
  def ingest(spark: SparkSession, dir: String, profile: DataFrame,
             batchId: Long, foldEvery: Int = 8,
             maxSeenPairs: Int = 100000): Unit = {
    require(foldEvery > 0, s"foldEvery must be positive, got $foldEvery")
    require(maxSeenPairs > 0, s"maxSeenPairs must be positive, got $maxSeenPairs")
    // resolve reads on the PROFILE's session: under foreachBatch the
    // batch belongs to a micro-batch session clone, and mixing frames
    // across sessions in one plan is undefined
    val ss = profile.sparkSession
    val fs = fsOf(spark, dir)
    val st = readState(fs, dir)
    if (batchId <= st.foldedThrough) return // folded already: replay no-op
    val foldSeen = st.fold.flatMap { case (n, _) =>
      readFoldPart(ss, fs, s"$dir/fold-$n/seen") }
    val tail = readDirs(ss, st.batches.collect {
      case (id, p) if id > st.foldedThrough && id < batchId => p })
    // persist: the seen set feeds up to three consumers (the guard
    // collect, the key join, the pair join) — the persist-the-batch
    // rule, one distinct shuffle instead of three on the degraded path
    val seenSrc = (foldSeen.toSeq ++
      tail.map(_.select(col("key"), col("vtype"))).toSeq)
      .reduceOption(_.unionByName(_)).map(_.distinct().persist())
    try {
    // Cardinality guard: ONE bounded job decides the stamping path —
    // collect up to maxSeenPairs + 1 pairs; overflow degrades to joins.
    val seenSmall: Option[Array[(String, String)]] = seenSrc match {
      case None => Some(Array.empty)
      case Some(df) =>
        val rows = df.limit(maxSeenPairs + 1).collect()
          .map(r => (r.getString(0), r.getString(1)))
        if (rows.length > maxSeenPairs) None else Some(rows)
    }
    val stamped = seenSmall match {
      case Some(seen) =>
        // NUL-joined pair encoding: unambiguous for any key content (a
        // visible-char join would alias composite keys)
        val seenKeys = seen.map(_._1).distinct.toSeq
        val seenPairs = seen.map { case (k, t) => k + "\u0000" + t }.toSeq
        profile.withColumn("status",
          when(not(col("key").isin(seenKeys: _*)), lit("new_key"))
            .when(not(concat_ws("\u0000", col("key"), col("vtype"))
              .isin(seenPairs: _*)), lit("new_type"))
            .otherwise(lit("steady")))
      case None =>
        // seen set past the guard (adversarial synthetic-key feeds):
        // stamp via two left joins against the seen frame instead of
        // literal predicates — no unbounded driver collect, no
        // unbounded expression tree; AQE broadcasts the small side
        val seen = seenSrc.get
        val keys = seen.select(col("key")).distinct()
          .withColumn("__seen_key", lit(1))
        val pairs = seen.withColumn("__seen_pair", lit(1))
        profile
          .join(keys, Seq("key"), "left")
          .join(pairs, Seq("key", "vtype"), "left")
          .withColumn("status",
            when(col("__seen_key").isNull, lit("new_key"))
              .when(col("__seen_pair").isNull, lit("new_type"))
              .otherwise(lit("steady")))
    }
    stamped
      .select(col("epoch").cast("int"), col("key"), col("vtype"),
        col("n").cast("long"), col("status"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/batch-$batchId")
    } finally seenSrc.foreach(_.unpersist())
    // fold trigger: unfolded dirs EXCLUDING this batch's own (a replay
    // overwrote an already-listed dir — counting it twice would fire a
    // cycle early), plus the one just written
    if (st.batches.count { case (id, _) =>
          id > st.foldedThrough && id != batchId } + 1 > foldEvery)
      fold(spark, dir, upTo = batchId)
  }

  /** Fold every unfolded `batch-<id>` with id ≤ `upTo` into a new
    * generation: the full history log (statuses FROZEN as stamped — a
    * fold never re-adjudicates drift) plus its distinct seen set,
    * committed by an atomic `_fold-<n+1>` create. The PREVIOUS
    * generation survives one cycle as a concurrent reader's grace
    * copy; batch directories are removed only after the commit, so a
    * crash at any point leaves a complete, readable artifact plus
    * harmless extras the next fold removes. */
  def fold(spark: SparkSession, dir: String, upTo: Long): Unit = {
    val fs = fsOf(spark, dir)
    val st = readState(fs, dir)
    val ft = st.foldedThrough
    if (upTo <= ft) return // nothing new to fold (replay)
    val prevN = st.fold.map(_._1)
    val newN = (st.foldDirs ++ st.pointers ++ prevN).maxOption.getOrElse(-1L) + 1
    val prevLog = prevN.flatMap(n => readFoldPart(spark, fs, s"$dir/fold-$n/log"))
    val tail = readDirs(spark, st.batches.collect {
      case (id, p) if id > ft && id <= upTo => p })
    val logDf = (prevLog.toSeq ++ tail.toSeq).reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], monitorSchema))
      .persist()
    try {
      logDf.coalesce(1).write.mode("overwrite").parquet(s"$dir/fold-$newN/log")
      logDf.select(col("key"), col("vtype")).distinct().coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/fold-$newN/seen")
    } finally logDf.unpersist()
    commitPointer(fs, dir, newN, upTo)
    // cleanup, all post-commit: superseded pointers, generations
    // two-or-more behind, and batch directories folded by the PREVIOUS
    // fold — the just-folded tail (ft, upTo] is RETAINED one cycle as
    // the concurrent reader's grace copy (a monitor that resolved the
    // old pointer still has its listed tail dirs on disk; fresh readers
    // ignore dirs ≤ folded_through), exactly the generation-grace rule
    (st.pointers ++ prevN - newN)
      .foreach(n => fs.delete(new Path(dir, s"_fold-$n"), false))
    (st.foldDirs -- prevN - newN)
      .foreach(n => fs.delete(new Path(dir, s"fold-$n"), true))
    st.batches.collect { case (id, _) if id <= ft => id }
      .foreach(id => fs.delete(new Path(dir, s"batch-$id"), true))
  }

  /** The monitor's history table: every ingested batch's profile rows
    * with their stamped drift status — the fold log plus the unfolded
    * tail (O(foldEvery) directory opens at any stream age). A fold
    * racing this read can delete a just-resolved generation (only
    * reachable when the reader stalls across TWO folds — the previous
    * generation is a grace copy); the read re-resolves the pointer
    * instead of erroring or silently answering without the log. */
  def monitor(spark: SparkSession, dir: String): DataFrame = {
    val fs = fsOf(spark, dir)
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      val st = readState(fs, dir)
      try {
        val log = st.fold.flatMap { case (n, _) =>
          readFoldPart(spark, fs, s"$dir/fold-$n/log") }
        val tail = readTailStrict(spark, fs, st.batches.collect {
          case (id, p) if id > st.foldedThrough => p })
        return (log.toSeq ++ tail.toSeq).reduceOption(_.unionByName(_))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], monitorSchema))
      } catch { case _: StaleFold => () }
    }
    throw new java.io.IOException(
      s"DriftMonitor: fold generation under $dir kept vanishing — folds " +
        "are outpacing this reader")
  }
}
