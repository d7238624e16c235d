package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only SECONDARY INDEX over a [[ParquetUpsertStore]] table: a
  * postings table `value → row_key` for one envelope values column,
  * maintained per applied batch, so a selective predicate on a NON-key
  * column answers by point lookups instead of a table scan (the store's
  * own pruning only understands `row_key`).
  *
  * Soundness model — postings are a SUPERSET of the truth, verified at
  * read time:
  *   - no false negatives: a live row whose column currently equals v
  *     was upserted WITH v by some batch at or before the read horizon,
  *     and that batch indexed it;
  *   - false positives (keys that later changed value, died, or were
  *     superseded inside their own batch) survive in the postings but
  *     are pruned by re-verifying the predicate against the store's
  *     LIVE values after the point lookup — never a wrong answer.
  * DELETEs therefore need no index maintenance at all, and a
  * redelivered batch (at-least-once streams) merely appends duplicate
  * postings that the lookup's DISTINCT collapses — the same replay
  * posture as the store itself.
  *
  * The "every batch indexed" premise does not rest on callers never
  * forgetting: each [[indexBatch]] leaves a `_cover-<id>` marker, each
  * [[compact]] records a `covered_through` id in its pointer commit,
  * and every lookup cross-checks that against the store's committed
  * manifests and its vacuum floor. A coverage gap (partial adoption, a
  * swallowed indexBatch failure, a vacuum that outran the index)
  * degrades LOUDLY to an unpruned snapshot filter — the answer stays
  * correct, never a silent false negative.
  *
  * Layout: `<root>/__index/<table>/<column>/` — a sibling of the table
  * directories, invisible to the store's manifest readers and to
  * [[ParquetUpsertStore.vacuum]]:
  * {{{
  *   _layout        value-bucket count (immutable; first writer wins)
  *   _gen-<n>       generation pointer (highest n is current); carries
  *                  covered_through — the store's own manifest-log
  *                  commit discipline, so compaction is READER-ATOMIC
  *   _cover-<id>    per-batch coverage marker (folded by compaction)
  *   gen-<n>/       the postings parquet log of generation n
  * }}}
  * Postings are partitioned by `vb = pmod(hash(v), valueBuckets)`, a
  * HASH of the value, never the raw value itself:
  *   - a raw-value partition column would ship the value through Hive
  *     directory naming, where an empty string becomes
  *     `__HIVE_DEFAULT_PARTITION__` (read back as NULL — a silent
  *     permanent false negative) and numeric-looking strings re-enter
  *     through partition-type inference with changed equality;
  *   - a high-cardinality column (timestamps, free text) would explode
  *     into one directory per distinct value per append.
  * The raw value `v` rides as an ordinary string DATA column (exact
  * equality, no inference), plus `v_num = cast(v as double)` for range
  * predicates; directory count is bounded by `valueBuckets` at any
  * cardinality, and an equality lookup still reads exactly one pruned
  * partition (bucket re-filtered on `v`). The bucket count is recorded
  * once in `_layout` (underscore-prefixed: invisible to parquet
  * readers) — writers and readers must agree on it or pruning would
  * look in the wrong directory, so the recorded value wins over any
  * later parameter, and a layout that cannot be committed AND read
  * back fails loudly (a silently forked bucket count would scatter
  * postings into wrong partitions — permanent false negatives).
  *
  * Generations make [[compact]] atomic for CONCURRENT READERS, not
  * just crash-safe for the one maintainer: the new postings log is
  * written complete into a fresh `gen-<n+1>/`, committed by renaming a
  * new `_gen-<n+1>` pointer into place (an atomic create — nothing a
  * reader might hold is ever deleted-then-recreated), and the PREVIOUS
  * generation survives until the NEXT compaction, so a reader that
  * resolved the old pointer finishes against intact files. A reader
  * that stalls across two full compactions can race the grace window;
  * the read path detects the vanished generation and re-resolves the
  * pointer instead of erroring or answering empty.
  */
object SecondaryIndex {

  /** Default number of hash-bucketed value partitions: enough that a
    * selective lookup reads ~1/64 of the postings, few enough that a
    * per-batch append writes a bounded directory count at ANY value
    * cardinality. */
  val DefaultValueBuckets = 64

  private def safe(s: String): String = s.replaceAll("[^A-Za-z0-9._-]", "_")

  /** A COMPOSITE index target is addressed as its member columns
    * NUL-joined in canonical (sorted) order — NUL cannot appear in a
    * real column name, so the synthetic name never collides, and every
    * internal path (dir resolution, postings filters, probes,
    * enumeration, coverage) treats the pair exactly like a column. */
  private[graft] def compositeName(columns: Seq[String]): String = {
    require(columns.size == 2 && columns.distinct.size == 2,
      s"composite index must name exactly 2 distinct columns, got $columns")
    require(columns.forall(_.indexOf('\u0000') < 0),
      "column names cannot contain NUL")
    columns.sorted.mkString("\u0000")
  }

  /** The directory NAME an index target maps to (pair targets get a
    * collision-proof `__pair__` prefix). */
  private def indexDirName(column: String): String =
    if (column.indexOf('\u0000') >= 0)
      "__pair__" + column.split('\u0000').map(safe).mkString("__")
    else safe(column)

  private[graft] def indexDir(root: String, table: String,
                              column: String): String =
    s"$root/__index/${safe(table)}/${indexDirName(column)}"

  /** Every index directory name of the table, from ONE listing - the
    * planning paths' existence oracle. On an object store each exists
    * probe is a metadata round-trip; with k equality conjuncts the
    * per-lookup cost would be k singles + C(k,2) pair probes, so the
    * single listing answers them all. */
  private def indexDirNames(fs: FileSystem, root: String,
                            table: String): Set[String] =
    CommitLog.list(fs, s"$root/__index/${safe(table)}").names

  /** The indexed value of `column` in a live envelope row: the raw map
    * entry for a single column; for a composite target, the members'
    * values NUL-joined — null (unindexed) when ANY member is null, so
    * composite postings exist exactly for rows every member equality
    * could match. A member value CONTAINING NUL can alias another
    * pair's encoding; that only ever ADDS candidates (the lookup's
    * per-member live re-verification prunes them), never drops one:
    * a query's (v1, v2) always encodes to the same string the write
    * side produced for rows holding exactly (v1, v2). */
  private def valueExpr(column: String): org.apache.spark.sql.Column =
    if (column.indexOf('\u0000') < 0)
      try_element_at(col("values"), lit(column))
    else {
      val parts = column.split('\u0000').toSeq
        .map(c => try_element_at(col("values"), lit(c)))
      when(parts.map(_.isNotNull).reduce(_ && _),
        concat_ws("\u0000", parts: _*))
    }

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Named error instead of Spark's path-not-found when a lookup hits a
    * column that was never indexed (the V1 config-validation posture). */
  private def requireIndexed(st: IndexState, table: String,
                             column: String): Unit =
    require(st.view.exists,
      s"SecondaryIndex: no index exists for '$table.$column' — run " +
        "indexBatch per applied batch (or compact once) before looking up")

  // ---------------------------------------------------------------------
  // generation pointers (the manifest-log discipline) + coverage markers
  // ---------------------------------------------------------------------

  /** Postings statistics recorded in the pointer at compaction time:
    * total row count and rows per value bucket. Ordering metadata ONLY
    * (conjunct planning): appends since the compaction drift the
    * numbers, and correctness never depends on them — enumeration
    * still decides which conjunct actually fits. */
  private final case class GenStats(rows: Long, bucketRows: Map[Int, Long])

  private final case class Pointer(n: Long, coveredThrough: Option[Long],
                                   stats: Option[GenStats] = None)

  private def genPath(dir: String, n: Long): String = s"$dir/gen-$n"

  /** Everything the driver needs about an index, from ONE directory
    * listing: current pointer, coverage markers, generation and
    * pointer numbers (orphans of crashed compactions included), and
    * the recorded layout, read on first use. */
  private final class IndexState(val view: CommitLog.View) {
    val pointerNumbers: Seq[Long] = view.ids("_gen-")
    val pointer: Option[Pointer] =
      pointerNumbers.reverseIterator.flatMap(readPointer(view, _)).nextOption()
    val covers: Set[Long] = view.ids("_cover-").toSet
    val genNumbers: Set[Long] = view.ids("gen-").toSet
    def current: Long = pointer.fold(0L)(_.n)
    lazy val layout: Option[Int] = CommitLog.read(view, "_layout",
      "graft-secondary-index").flatMap(_.collectFirst {
        case l if l.startsWith("value_buckets ") =>
          l.stripPrefix("value_buckets ").trim.toInt })
    def valueBuckets: Int = layout.getOrElse(DefaultValueBuckets)
  }

  private def readState(fs: FileSystem, dir: String): IndexState =
    new IndexState(CommitLog.list(fs, dir))

  private def readPointer(v: CommitLog.View, n: Long): Option[Pointer] =
    CommitLog.read(v, s"_gen-$n", "graft-secondary-index-gen").map { lines =>
      def field(k: String) = lines.collectFirst {
        case l if l.startsWith(k + " ") => l.stripPrefix(k + " ").trim }
      val stats = field("rows").map(r => GenStats(r.toLong,
        field("bucket_rows").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
          .map { kv =>
            val Array(b, c) = kv.split(":", 2)
            b.toInt -> c.toLong
          }.toMap))
      Pointer(n, field("covered_through").filter(_ != "-").map(_.toLong), stats)
    }

  /** Commit `_gen-<n>` create-once — an atomic create, never a delete a
    * concurrent reader could observe; a lost rename is a replay. */
  private def commitPointer(fs: FileSystem, dir: String, n: Long,
                            coveredThrough: Option[Long],
                            stats: Option[GenStats] = None): Unit = {
    val statLines = stats.fold("") { st =>
      s"rows ${st.rows}\n" + "bucket_rows " + st.bucketRows.toSeq.sorted
        .map { case (b, c) => s"$b:$c" }.mkString(",") + "\n"
    }
    CommitLog.publishText(fs, dir, s"_gen-$n", "graft-secondary-index-gen 1\n" +
      s"covered_through ${coveredThrough.fold("-")(_.toString)}\n" + statLines)
  }

  /** Record (first writer wins) or read back the layout's bucket count,
    * and make sure a generation pointer exists; returns the index state.
    * A layout that can neither be committed nor read back fails
    * LOUDLY: proceeding with the caller's parameter could fork the
    * bucket count between writers — postings scattered into wrong vb
    * partitions, silent permanent false negatives. */
  private def ensureLayout(fs: FileSystem, dir: String,
                           valueBuckets: Int): IndexState = {
    require(valueBuckets > 0,
      s"valueBuckets must be positive, got $valueBuckets")
    val first = readState(fs, dir)
    val st = if (first.layout.nonEmpty) first else {
      // first writer wins: a lost rename means another writer's layout
      CommitLog.publishText(fs, dir, "_layout",
        s"graft-secondary-index 2\nvalue_buckets $valueBuckets\n")
      readState(fs, dir)
    }
    if (st.layout.isEmpty) throw new java.io.IOException(
      s"SecondaryIndex: cannot commit or read back _layout in $dir — " +
        "refusing to proceed with an unrecorded bucket count")
    if (st.pointer.isEmpty) commitPointer(fs, dir, 0L, None)
    st
  }

  /** Per-batch appends not yet folded by a compaction (one `_cover`
    * marker each) — [[StoreMaintenance.auto]]'s trigger. */
  private[sinks] def unfoldedBatches(spark: SparkSession, root: String,
                                     table: String, column: String): Int =
    CommitLog.list(fsOf(spark, root), indexDir(root, table, column))
      .ids("_cover-").size

  /** Current postings directory — the test/observability hook for plan
    * and file-count assertions against the LIVE generation. */
  private[graft] def postingsDir(spark: SparkSession, root: String,
                                 table: String, column: String): String = {
    val dir = indexDir(root, table, column)
    genPath(dir, readState(fsOf(spark, root), dir).current)
  }

  /** Full postings of the CURRENT generation (compacted base ∪ the
    * `_appends/` flush log), explicit schema — the test/observability
    * read hook; empty frame when the generation doesn't exist yet. */
  private[graft] def readPostings(spark: SparkSession, root: String,
                                  table: String, column: String): DataFrame = {
    val st = readState(fsOf(spark, root), indexDir(root, table, column))
    readGenPostings(spark, st)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], postingsSchema))
  }

  // ---------------------------------------------------------------------
  // coverage: is index-first pruning provably sound right now?
  // ---------------------------------------------------------------------

  /** True iff every batch whose rows can be live at the read horizon is
    * provably indexed — the store's one coverage rule
    * ([[ParquetUpsertStore.coverageSound]]) with this index's
    * compaction (`covered_through`) as the fold and its `_cover`
    * markers as the per-batch evidence. */
  private def coverageSound(table: CommitLog.View, st: IndexState,
                            atOrBefore: Option[Long]): Boolean =
    ParquetUpsertStore.coverageSound(table,
      st.pointer.flatMap(_.coveredThrough), st.covers, atOrBefore)

  private def warnUnpruned(table: String, column: String, why: String): Unit =
    System.err.println(s"SecondaryIndex: index-first pruning for " +
      s"'$table.$column' is not provably sound ($why) — answering from an " +
      "unpruned snapshot filter; run indexBatch per applied batch and " +
      "compact to restore coverage")

  // ---------------------------------------------------------------------
  // predicates (shared by the API lookups and the DSv2 pushdown)
  // ---------------------------------------------------------------------

  /** One index-answerable conjunct. Equality compares the raw string
    * value (the envelope's own rendering); ranges compare
    * `try_cast(v as double)` — non-numeric values are NULL and never
    * match (a non-numeric value is not in any numeric range). */
  private[graft] sealed trait Pred { def column: String; def describe: String }
  private[graft] final case class EqPred(column: String, v: String) extends Pred {
    def describe = s"value '$v' of '$column'"
  }
  private[graft] final case class RangePred(column: String, lo: Double,
                                            hi: Double) extends Pred {
    def describe = s"range [$lo, $hi] of '$column'"
  }
  /** IN — a disjunction of equalities on ONE column, still bucket-pruned
    * (the postings read touches only the values' hash buckets). */
  private[graft] final case class InPred(column: String,
                                         vs: Seq[String]) extends Pred {
    def describe = s"values (${vs.mkString(", ")}) of '$column'"
  }
  /** One-sided numeric bound (`> v` / `>= v`) — deliberately NOT a
    * closed `[v, Double.MaxValue]` range: Spark's comparison semantics
    * order NaN above every value and +Infinity above MaxValue, so a
    * closed upper clamp would silently drop indexed values like '1e400'
    * (casts to +Inf) or 'NaN' that the re-applied exact filter matches —
    * the superset contract broken. An open bound keeps them in. */
  private[graft] final case class GtPred(column: String, v: Double,
                                         strict: Boolean) extends Pred {
    def describe = s"values ${if (strict) ">" else ">="} $v of '$column'"
  }
  /** One-sided numeric bound (`< v` / `<= v`) — open below, so indexed
    * -Infinity values ('-1e400') stay in the candidate set. */
  private[graft] final case class LtPred(column: String, v: Double,
                                         strict: Boolean) extends Pred {
    def describe = s"values ${if (strict) "<" else "<="} $v of '$column'"
  }
  /** Numeric IN — a disjunction of numeric equalities on ONE column,
    * answered through the `v_num` cast like [[RangePred]] (the same
    * nearest-rounding monotonicity makes the candidates a sound
    * superset of the exact-typed matches). */
  private[graft] final case class NumInPred(column: String,
                                            vs: Seq[Double]) extends Pred {
    def describe = s"numeric values (${vs.mkString(", ")}) of '$column'"
  }
  /** String prefix (`LIKE 'p%'`). Hash buckets can't prune a prefix, so
    * the candidate enumeration scans the (narrow) postings table with
    * the StartsWith filter PUSHED to its parquet scan — bounded by
    * postings size, never the store. */
  private[graft] final case class PrefixPred(column: String,
                                             prefix: String) extends Pred {
    def describe = s"prefix '$prefix' of '$column'"
  }

  /** Composite-pair predicates synthesizable from a set of EQUALITY
    * conjuncts: every 2-subset whose canonical pair index EXISTS on
    * disk becomes an [[EqPred]] on the synthetic NUL-joined column —
    * candidate-duty only (each member conjunct is still re-verified
    * against live values), so discovering one can only tighten the
    * candidate set, never change an answer. */
  private def compositePreds(dirNames: Set[String],
                             eqs: Seq[(String, String)]): Seq[Pred] =
    eqs.distinct.sortBy(_._1).combinations(2).collect {
      case Seq((c1, v1), (c2, v2)) if c1 != c2 =>
        EqPred(c1 + "\u0000" + c2, v1 + "\u0000" + v2)
    }.filter(p => dirNames.contains(indexDirName(p.column))).toSeq

  private def postingsFilter(p: Pred, nb: Int): DataFrame => DataFrame = p match {
    case EqPred(_, v) =>
      _.filter(col("vb") === ParquetUpsertStore.bucketOf(v, nb))
        .filter(col("v") === v)
    case RangePred(_, lo, hi) =>
      _.filter(col("v_num") >= lo && col("v_num") <= hi)
    case GtPred(_, v, strict) =>
      _.filter(if (strict) col("v_num") > v else col("v_num") >= v)
    case LtPred(_, v, strict) =>
      _.filter(if (strict) col("v_num") < v else col("v_num") <= v)
    case InPred(_, vs) =>
      val buckets = vs.map(ParquetUpsertStore.bucketOf(_, nb)).distinct
      _.filter(col("vb").isin(buckets: _*)).filter(col("v").isin(vs: _*))
    case NumInPred(_, vs) =>
      _.filter(col("v_num").isin(vs: _*))
    case PrefixPred(_, p) =>
      _.filter(col("v").startsWith(lit(p)))
  }

  /** Re-verify a predicate against the store's LIVE values — the read
    * side of the superset model. */
  private def verify(df: DataFrame, p: Pred): DataFrame = p match {
    case EqPred(c, v) =>
      df.filter(try_element_at(col("values"), lit(c)) === v)
    case RangePred(c, lo, hi) =>
      df.filter(try_element_at(col("values"), lit(c)).try_cast("double")
        .between(lo, hi))
    case GtPred(c, v, strict) =>
      val n = try_element_at(col("values"), lit(c)).try_cast("double")
      df.filter(if (strict) n > v else n >= v)
    case LtPred(c, v, strict) =>
      val n = try_element_at(col("values"), lit(c)).try_cast("double")
      df.filter(if (strict) n < v else n <= v)
    case InPred(c, vs) =>
      df.filter(try_element_at(col("values"), lit(c)).isin(vs: _*))
    case NumInPred(c, vs) =>
      df.filter(try_element_at(col("values"), lit(c)).try_cast("double")
        .isin(vs: _*))
    case PrefixPred(c, p) =>
      df.filter(try_element_at(col("values"), lit(c)).startsWith(lit(p)))
  }

  // ---------------------------------------------------------------------
  // postings reads (stale-pointer-safe)
  // ---------------------------------------------------------------------

  private final class StaleGeneration extends RuntimeException

  /** The generation's full postings — compacted BASE (vb-partitioned
    * directories; hidden `_appends/` is skipped by the listing's
    * hidden-path filter) unioned with the `_appends/` flush log (vb as
    * a data column). Both reads carry [[postingsSchema]] explicitly, so
    * no postings read pays footer schema inference, and both sides come
    * back column-identical. None when the generation directory itself
    * doesn't exist yet. */
  private def readGenPostings(spark: SparkSession,
                              st: IndexState): Option[DataFrame] = {
    val dir = st.view.dir
    val n = st.current
    // a generation the listing missed may have landed since: only a
    // directory that does not exist now means "no postings yet"
    if (!st.view.has(s"gen-$n") && !st.view.fs.exists(new Path(genPath(dir, n))))
      return None
    val base = spark.read.schema(postingsSchema).parquet(genPath(dir, n))
    // The `_appends/` directory name is hidden from Spark's source
    // resolution (underscore prefix — which is what keeps the base read
    // of the generation from double-counting it), so the flush log is
    // read as explicit FILE paths from one listing; the files themselves
    // are ordinary part files.
    val appends = CommitLog.list(st.view.fs, appendsPath(dir, n))
    val apFiles = appends.names.toSeq.sorted
      .filterNot(nm => nm.startsWith("_") || nm.startsWith("."))
      .map(appends.path(_).toString)
    Some(if (apFiles.isEmpty) base
      else base.unionByName(spark.read.schema(postingsSchema).parquet(apFiles: _*)))
  }

  /** Run `body` against the CURRENT generation's postings (None = no
    * generation directory yet — every append so far matched zero rows,
    * so "no candidates" is the correct answer under sound coverage).
    * The pointer is re-resolved and the body retried when a concurrent
    * compaction's cleanup deletes the generation out from under the
    * read — the race is only reachable when a reader stalls across TWO
    * compactions (the previous generation is retained as a grace
    * copy), and the sound response is to re-resolve, never to error or
    * answer empty. */
  private def withPostings[T](spark: SparkSession, first: IndexState)
                             (body: Option[DataFrame] => T): T = {
    val v = first.view
    var st = first
    var attempt = 0
    while (true) {
      attempt += 1
      if (attempt > 1) st = readState(v.fs, v.dir)
      try {
        return body(readGenPostings(spark, st))
      } catch {
        case e @ (_: StaleGeneration | _: org.apache.spark.SparkException |
                  _: java.io.FileNotFoundException) =>
          // Retry ONLY failures the stale-generation race explains: the
          // pointer moved under us, or the failure is FileNotFound-rooted
          // (the racing cleanup's signature). A deterministic failure
          // (e.g. a corrupt postings file) rethrows immediately instead
          // of re-running the full enumeration five times.
          val raceShaped = e match {
            case _: StaleGeneration | _: java.io.FileNotFoundException => true
            case se: org.apache.spark.SparkException =>
              Iterator.iterate(se: Throwable)(_.getCause)
                .takeWhile(_ != null).take(16)
                .exists(_.isInstanceOf[java.io.FileNotFoundException]) ||
                readState(v.fs, v.dir).current != st.current
          }
          if (!raceShaped) throw e
          if (attempt >= 5) e match {
            case _: StaleGeneration => throw new java.io.IOException(
              s"SecondaryIndex: generation under ${v.dir} kept vanishing " +
                "across retries — compactions are outpacing this reader")
            case other => throw other
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Candidate keys for one predicate, bounded by `maxKeys`; None when
    * the predicate matches more than `maxKeys` distinct keys. */
  private def enumerate(spark: SparkSession, st: IndexState, p: Pred,
                        atOrBefore: Option[Long],
                        maxKeys: Int): Option[Seq[String]] =
    withPostings(spark, st) {
      case None => Some(Seq.empty)
      case Some(posts) =>
        val horizon = candidatePostings(posts, st, p, atOrBefore)
        val keys = graft.Label.job(spark, s"index.enumerate ${p.column}")(
          horizon.select(col("row_key")).distinct()
            .limit(maxKeys + 1).collect()).map(_.getString(0)).toSeq.sorted
        if (keys.length > maxKeys) None else Some(keys)
    }

  /** Cheap selectivity probe: the predicate's posting-ROW count, capped
    * at `cap` — an upper bound on its distinct-key count, used only to
    * ORDER conjuncts cheapest-first (enumeration decides fitness).
    * Test hook: counts every probe that had to run a JOB, so specs can
    * pin that post-compaction ordering is a metadata read. */
  private[graft] val probeJobs = new java.util.concurrent.atomic.AtomicLong()

  private def probe(spark: SparkSession, st: IndexState, p: Pred,
                    atOrBefore: Option[Long], cap: Int): Long = {
    probeJobs.incrementAndGet()
    withPostings(spark, st) {
      case None => 0L
      case Some(posts) =>
        graft.Label.job(spark, s"index.probe ${p.column}")(
          candidatePostings(posts, st, p, atOrBefore).limit(cap).count())
    }
  }

  /** The postings rows a predicate selects, batch-bounded under time
    * travel. */
  private def candidatePostings(posts: DataFrame, st: IndexState, p: Pred,
                                atOrBefore: Option[Long]): DataFrame = {
    val matching = postingsFilter(p, st.valueBuckets)(posts)
    atOrBefore.fold(matching)(h => matching.filter(col("batch") <= h))
  }

  /** Conjunct-ordering cost, as METADATA where possible: the last
    * compaction recorded total and per-bucket posting row counts in the
    * pointer, so an equality's cost is its value's bucket count and any
    * other predicate's is the generation total — zero jobs. Appends
    * since the compaction drift the numbers (a heuristic, not a bound);
    * an index never compacted falls back to the probe job. */
  private def orderCost(spark: SparkSession, st: IndexState, p: Pred,
                        atOrBefore: Option[Long], cap: Int): Long = {
    val nb = st.valueBuckets
    st.pointer.flatMap(_.stats) match {
      case Some(gs) => p match {
        case EqPred(_, v) =>
          gs.bucketRows.getOrElse(ParquetUpsertStore.bucketOf(v, nb), 0L)
        case InPred(_, vs) =>
          vs.map(v => ParquetUpsertStore.bucketOf(v, nb)).distinct
            .map(b => gs.bucketRows.getOrElse(b, 0L)).sum
        case _ => gs.rows
      }
      case None => probe(spark, st, p, atOrBefore, cap)
    }
  }

  // ---------------------------------------------------------------------
  // maintenance: per-batch appends and reader-atomic compaction
  // ---------------------------------------------------------------------

  /** The postings columns derived from an envelope projection: raw
    * string value, numeric cast for range predicates, hash bucket.
    * Repartitioned BY the bucket before the partitioned write — without
    * it every task writes into every vb directory it has rows for,
    * O(tasks × valueBuckets) small files per append (the same
    * file-explosion the store's bucket write guards against) — and
    * sorted within partitions by (vb, v_num, v) so each written file's
    * row groups carry tight min/max stats: the pushed range/equality
    * filters then prune at the parquet footer. The shuffle is one pass
    * over the postings — rows the write was about to move anyway.
    * Compaction-only since the LSM split (see [[indexBatch]]): the
    * rebuilt BASE is the long-lived, lookup-heavy artifact where the
    * vb directory layout pays for its file count. */
  private def shapeBase(rows: DataFrame, nb: Int): DataFrame =
    rows
      .withColumn("v_num", col("v").try_cast("double")) // non-numeric → NULL
      .withColumn("vb", pmod(hash(col("v")), lit(nb)))
      // EXPLICIT partition count: a bare repartition(col) is AQE-
      // coalescible, and a byte-small rebuild collapses to 1-2 tasks
      // that then create all `nb` bucket files SERIALLY (~1 s of the
      // compaction at sf0.1). min(nb, parallelism) spreads the file
      // creation while keeping one file per bucket directory.
      .repartition(
        math.min(nb, graft.operators.Compute.parallelism(rows)), col("vb"))
      .sortWithinPartitions(col("vb"), col("v_num"), col("v"))

  /** Per-batch APPEND shape — the LSM memtable-flush posture: the same
    * postings columns with `vb` as an ordinary DATA column, sorted by
    * (vb, v_num, v) within each input partition, written UNPARTITIONED
    * into the generation's `_appends/` sidecar. No shuffle (guide §2.4)
    * and O(input partitions) files per append instead of one file per
    * touched vb directory — a streaming sink appending every few
    * seconds would otherwise grow the index by `valueBuckets` small
    * files per micro-batch (guide §6). Readers still prune: the sort
    * gives every appended file tight (vb, v_num) row-group stats, so
    * the same `vb =`/`v_num` predicates push down to the parquet scan;
    * only the compacted base keeps directory-level pruning, which is
    * where the volume lives. */
  private def shapeAppend(rows: DataFrame, nb: Int): DataFrame =
    rows
      .withColumn("v_num", col("v").try_cast("double")) // non-numeric → NULL
      .withColumn("vb", pmod(hash(col("v")), lit(nb)))
      .sortWithinPartitions(col("vb"), col("v_num"), col("v"))

  /** One postings schema for every read: explicit, so no postings read
    * ever pays parquet footer schema inference (a per-read driver
    * round-trip), and the base read (where `vb` is a partition
    * directory) and the appends read (where `vb` is a data column)
    * come back column-identical for the union. */
  private[graft] val postingsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("row_key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("batch",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v_num",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("vb",
        org.apache.spark.sql.types.IntegerType)))

  private def appendsPath(dir: String, n: Long): String =
    s"${genPath(dir, n)}/_appends"

  /** Index the envelope batch applied (or about to be applied) as
    * `batchId`: one posting `(row_key, batch, v, v_num)` per non-DELETE
    * DML row of `table` whose values carry a non-null `column`. Rows
    * missing the column contribute nothing — a null value is not an
    * indexable predicate target. One SHUFFLE-FREE pass over the batch
    * written unpartitioned into the generation's `_appends/` sidecar
    * (the LSM flush shape — [[shapeAppend]]; compaction folds appends
    * into the vb-partitioned base), then a `_cover-<batchId>`
    * marker: the marker commits LAST, so a crash mid-append leaves an
    * unclaimed (possibly partial) append that the coverage check
    * refuses to trust — degraded pruning, never a false negative.
    *
    * ORDERING CONTRACT: index BEFORE applying the batch to the store.
    * A crash between the two steps then leaves postings for rows the
    * store never got — harmless false positives the lookup's live
    * re-verification prunes (the keys simply aren't live with that
    * value). The reverse order turns the same crash into MISSING
    * postings — which the coverage cross-check would catch (the
    * committed manifest has no marker), but catching it costs the
    * whole index's pruning until the next compaction.
    * SecondaryIndexSpec pins the index-ahead-of-store case.
    *
    * Concurrency: ONE maintainer per index — the store's own
    * one-writer-per-table contract extended to its sidecar (the
    * streaming apply loop is serial, so this costs nothing); replays
    * from restarts are safe at any count. Concurrent READERS need no
    * coordination (the generation-pointer discipline). */
  def indexBatch(root: String, table: String, column: String,
                 batch: DataFrame, batchId: Long,
                 valueBuckets: Int = DefaultValueBuckets): Unit = {
    val dir = indexDir(root, table, column)
    val fs = fsOf(batch.sparkSession, root)
    val st = ensureLayout(fs, dir, valueBuckets)
    graft.Label.job(batch.sparkSession, s"index.append $table b=$batchId")(
      shapeAppend(
        UpsertSink.dmlProjection(batch)
          .filter(col("table") === table)
          .filter(col("op") =!= graft.model.OpType.Delete)
          .select(col("row_key"), lit(batchId).as("batch"),
            valueExpr(column).as("v"))
          .filter(col("v").isNotNull), st.valueBuckets)
        .write.mode("append")
        .parquet(appendsPath(dir, st.current)))
    // coverage marker: claim AFTER the evidence is durable
    CommitLog.mark(fs, dir, s"_cover-$batchId")
  }

  /** COMPOSITE index maintenance: postings on the NUL-joined value PAIR
    * of two columns — for conjunctions where each member is too popular
    * to bound a point lookup but the pair is selective (city='X' AND
    * type='Y' at scale: both enumerations overflow `maxKeys`, the pair
    * doesn't). Same layout, generations, coverage, and replay semantics
    * as a single-column index; [[lookupByAll]] and the SQL pushdown
    * discover it automatically for matching equality conjunctions.
    * Column order is canonicalized (sorted), so (a, b) and (b, a) are
    * the same index. */
  def indexBatchComposite(root: String, table: String, columns: Seq[String],
                          batch: DataFrame, batchId: Long,
                          valueBuckets: Int = DefaultValueBuckets): Unit =
    indexBatch(root, table, compositeName(columns), batch, batchId,
      valueBuckets)

  /** [[compact]] for a composite index — same fold, rebuilt from the
    * live snapshot's value PAIRS. */
  def compactComposite(spark: SparkSession, store: ParquetUpsertStore,
                       root: String, table: String, columns: Seq[String],
                       asBatch: Long): Unit =
    compact(spark, store, root, table, compositeName(columns), asBatch)

  /** Compact the postings log: rebuild everything at or below `asBatch`
    * from the LIVE snapshot as of that id — one linear store scan
    * replacing the folded history, after which every folded posting is
    * current (zero false positives until the next append) and the log
    * stops growing with batch count. Postings from batches ABOVE
    * `asBatch` are carried over verbatim: an in-flight batch that was
    * indexed but not yet applied (the index-first ordering) keeps its
    * postings, so a compaction racing the apply loop at a micro-batch
    * boundary folds away nothing it shouldn't.
    *
    * READER-ATOMIC: the new generation is written complete, committed
    * by an atomic pointer-file create (`_gen-<n+1>`), and the previous
    * generation is RETAINED until the next compaction — a concurrent
    * reader resolves the old pointer or the new one and either way
    * reads intact files; there is no window with no postings directory
    * (the r15 rename-aside swap's weakness). Cleanup deletes only
    * generations two-or-more behind and superseded pointer/cover
    * files, all after the commit; a crash at ANY point leaves a
    * committed, complete index plus harmless extra files the next
    * compaction removes.
    *
    * Like [[ParquetUpsertStore.compact]], this collapses history: every
    * rebuilt posting carries `asBatch`, so `lookupByValue(atOrBefore=t)`
    * for t < asBatch can no longer be batch-bounded — the coverage
    * check detects that case and the lookup degrades to an unpruned
    * snapshot filter (correct, slower) instead of answering from
    * collapsed postings. */
  def compact(spark: SparkSession, store: ParquetUpsertStore,
              root: String, table: String, column: String,
              asBatch: Long): Unit = {
    val dir = indexDir(root, table, column)
    val fs = fsOf(spark, root)
    val st = ensureLayout(fs, dir, DefaultValueBuckets)
    val ptr = st.pointer.getOrElse(Pointer(0L, None))
    val newN = (st.genNumbers ++ st.pointerNumbers + ptr.n).max + 1
    // The fold horizon is CLAMPED to the last committed manifest id: an
    // `asBatch` above it would (a) vouch (`covered_through`) for future
    // batch ids that may later commit WITHOUT an indexBatch — permanent
    // silent pruning unsoundness on API misuse — and (b) fold away
    // postings of index-ahead-of-apply in-flight batches whose rows the
    // empty-so-far snapshot cannot rebuild. With nothing committed yet
    // the rebuild is empty, EVERY posting is carried verbatim, and no
    // new coverage is claimed.
    val tview = store.view(spark, table)
    val committedMax = ParquetUpsertStore.committedIds(tview).lastOption
    val asb: Long = committedMax.fold(Long.MinValue)(math.min(asBatch, _))
    val later = readGenPostings(spark, st)
      .map(_.filter(col("batch") > asb)
        .select(col("row_key"), col("batch"), col("v")))
    val rebuilt = store.snapshotIn(spark, tview, Some(asb))
      .select(col("row_key"), lit(asb).as("batch"),
        valueExpr(column).as("v"))
      .filter(col("v").isNotNull)
    graft.Label.job(spark, s"index.compact-rebuild $table asBatch=$asb")(
      shapeBase(later.fold(rebuilt)(rebuilt.unionByName(_)), st.valueBuckets)
        .write.mode("overwrite").partitionBy("vb").parquet(genPath(dir, newN)))
    // covered_through never regresses: an older-id re-compaction carries
    // the later-stamped postings forward, so prior coverage still holds.
    val covT: Option[Long] =
      (committedMax.map(math.min(asBatch, _)).toSeq ++ ptr.coveredThrough).maxOption
    // postings stats ride the pointer so conjunct ordering becomes a
    // metadata read (one small aggregation over the narrow postings
    // just written, instead of two jobs per conjunct per future lookup)
    val stats = {
      // explicit schema: an all-tombstoned rebuild leaves ZERO files in
      // the new generation, which with inference used to throw — with
      // the schema it is simply an empty aggregation
      val byVb = graft.Label.job(spark, s"index.stats $table")(
        spark.read.schema(postingsSchema).parquet(genPath(dir, newN))
          .groupBy(col("vb")).count().collect())
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      Some(GenStats(byVb.values.sum, byVb))
    }
    commitPointer(fs, dir, newN, covT, stats)
    val committed = readState(fs, dir)
    require(committed.pointer.exists(_.n >= newN),
      s"SecondaryIndex.compact: pointer _gen-$newN did not commit in $dir")
    // cleanup (all post-commit; crash leaves only harmless extras):
    // generations two-or-more behind, superseded pointers, folded covers
    (committed.genNumbers - ptr.n - newN)
      .foreach(n => fs.delete(new Path(genPath(dir, n)), true))
    committed.pointerNumbers.filter(_ != newN)
      .foreach(n => fs.delete(new Path(dir, s"_gen-$n"), false))
    covT.foreach(ct => committed.covers.filter(_ <= ct)
      .foreach(id => fs.delete(new Path(dir, s"_cover-$id"), false)))
    // Legacy pre-generation layout (postings written as root-level
    // `vb=*` directories, no pointer): those files are never read by
    // the generation-resolved paths — an upgraded index runs DEGRADED
    // (unpruned, loud) until this first compact rebuilds full coverage
    // from the snapshot, at which point the orphans are removed here.
    committed.view.names.filter(_.startsWith("vb="))
      .foreach(n => fs.delete(committed.view.path(n), true))
  }

  // ---------------------------------------------------------------------
  // lookups
  // ---------------------------------------------------------------------

  private def scanFallback(spark: SparkSession, store: ParquetUpsertStore,
                           tview: CommitLog.View, preds: Seq[Pred],
                           atOrBefore: Option[Long]): DataFrame =
    preds.foldLeft(store.snapshotIn(spark, tview, atOrBefore))(verify)

  /** The single-predicate lookup core: coverage-checked index-first
    * candidates + verified point lookup, or the loud unpruned fallback. */
  private def lookupOne(spark: SparkSession, store: ParquetUpsertStore,
                        root: String, table: String, p: Pred,
                        atOrBefore: Option[Long], maxKeys: Int): DataFrame = {
    // table first: a batch committed in this view wrote its `_cover`
    // marker before its commit, so the index listing below sees it
    val tview = store.view(spark, table)
    val st = readState(fsOf(spark, root), indexDir(root, table, p.column))
    requireIndexed(st, table, p.column)
    if (!coverageSound(tview, st, atOrBefore)) {
      warnUnpruned(table, p.column, "coverage gap or collapsed history")
      return scanFallback(spark, store, tview, Seq(p), atOrBefore)
    }
    enumerate(spark, st, p, atOrBefore, maxKeys) match {
      case Some(keys) =>
        verify(store.lookupIn(spark, tview, keys, atOrBefore), p)
      case None => throw new IllegalArgumentException(
        s"SecondaryIndex: ${p.describe} of '$table' matches more than " +
          s"$maxKeys candidate keys — too popular for an index-first point " +
          "lookup; filter the snapshot instead")
    }
  }

  /** Live rows whose CURRENT `column` value equals `v`, index-first:
    * read the one postings partition `v` hashes to (directory-pruned,
    * re-filtered on the raw value column, batch-bounded under time
    * travel), collect the DISTINCT candidate keys, point-look the store
    * (min(keys, buckets) bucket reads, the pushed `row_key IN` filter),
    * and re-verify the predicate against the live values. */
  def lookupByValue(spark: SparkSession, store: ParquetUpsertStore,
                    root: String, table: String, column: String, v: String,
                    atOrBefore: Option[Long] = None,
                    maxKeys: Int = 100000): DataFrame =
    lookupOne(spark, store, root, table, EqPred(column, v), atOrBefore, maxKeys)

  /** Live rows whose CURRENT `column` value, read as a number, lies in
    * `[lo, hi]` — the range twin of [[lookupByValue]]. Hash buckets
    * can't prune a range, so the postings read spans partitions, but
    * the `v_num` predicate is PUSHED to the parquet scan and the
    * sorted-write layout gives each row group tight min/max stats — the
    * scan touches postings files overlapping the range, never the
    * table, and the candidates it yields take the same bounded
    * point-lookup + live re-verification path. */
  def lookupByRange(spark: SparkSession, store: ParquetUpsertStore,
                    root: String, table: String, column: String,
                    lo: Double, hi: Double,
                    atOrBefore: Option[Long] = None,
                    maxKeys: Int = 100000): DataFrame =
    lookupOne(spark, store, root, table, RangePred(column, lo, hi),
      atOrBefore, maxKeys)

  /** Live rows whose CURRENT `column` value starts with `prefix` — the
    * `LIKE 'p%'` face. The hash-bucket layout can't prune a prefix, so
    * the candidate scan reads the narrow postings table (StartsWith
    * pushed to its parquet scan) instead of one partition — still
    * bounded by postings size, never the store, and the same verified
    * point-lookup path. */
  def lookupByPrefix(spark: SparkSession, store: ParquetUpsertStore,
                     root: String, table: String, column: String,
                     prefix: String, atOrBefore: Option[Long] = None,
                     maxKeys: Int = 100000): DataFrame =
    lookupOne(spark, store, root, table, PrefixPred(column, prefix),
      atOrBefore, maxKeys)

  /** Candidate keys for a conjunction, INTERSECTED across its sound
    * conjuncts (the bitmap-AND face): enumerate cheapest-first, each
    * further fitting conjunct's candidates intersect the running set,
    * and stop early once the set is at or under [[IntersectStop]] keys —
    * past that point another postings read costs more than it could
    * save at the point lookup (a few-thousand-key lookup opens at most
    * that many bucket reads with a small pushed IN filter at ANY table
    * size). Soundness: each conjunct's candidates are a superset of its
    * true matches, so the intersection is still a superset of the
    * conjunction's matches — and a subset of any single conjunct's set,
    * so the store lookup reads fewer buckets and verifies fewer rows.
    * Over-`maxKeys` conjuncts contribute nothing (skipped); None when
    * NO conjunct fits. */
  private val IntersectStop = 4096

  private def intersectCandidates(spark: SparkSession,
                                  ordered: Seq[(Pred, IndexState)],
                                  atOrBefore: Option[Long],
                                  maxKeys: Int): Option[Seq[String]] = {
    var acc: Option[Set[String]] = None
    val it = ordered.iterator
    while (it.hasNext && acc.forall(_.size > IntersectStop)) {
      val (p, st) = it.next()
      enumerate(spark, st, p, atOrBefore, maxKeys).foreach { ks =>
        acc = Some(acc.fold(ks.toSet)(_.intersect(ks.toSet)))
      }
    }
    acc.map(_.toSeq.sorted)
  }

  /** The conjuncts (composite pairs included) whose index coverage is
    * sound against `tview`, cheapest-first — one listing per index
    * directory, shared by the coverage check, the ordering and the
    * enumeration. */
  private def soundOrdered(spark: SparkSession, root: String, table: String,
                           tview: CommitLog.View, indexed: Seq[Pred],
                           atOrBefore: Option[Long],
                           maxKeys: Int): Seq[(Pred, IndexState)] = {
    val states = indexed.map(_.column).distinct.map(c =>
      c -> readState(fsOf(spark, root), indexDir(root, table, c))).toMap
    val sound = indexed.map(p => p -> states(p.column))
      .filter { case (_, st) => coverageSound(tview, st, atOrBefore) }
    if (sound.lengthCompare(1) <= 0) sound
    else sound.map { case ps @ (p, st) =>
      ps -> orderCost(spark, st, p, atOrBefore, maxKeys + 1)
    }.sortBy(_._2).map(_._1)
  }

  /** Live rows satisfying EVERY given predicate, index-first. Planning
    * is CHEAPEST-FIRST: conjunct postings costs come from compaction
    * metadata (or a bounded probe), and the fitting conjuncts' candidate
    * sets are INTERSECTED via [[intersectCandidates]] — every conjunct
    * is still verified against live values at the store lookup (the
    * superset model requires it anyway), so a popular conjunct can
    * never fail a query a selective one answers. The guard only fires
    * when NO conjunct fits under `maxKeys` — every index is too
    * unselective for a point lookup, and the error says to filter the
    * snapshot instead. Conjuncts whose coverage is unsound are skipped
    * for candidate duty (their verification still runs); if no sound
    * conjunct exists the whole lookup degrades loudly to the unpruned
    * snapshot filter. */
  def lookupByAll(spark: SparkSession, store: ParquetUpsertStore,
                  root: String, table: String,
                  equalTo: Map[String, String],
                  inRange: Map[String, (Double, Double)] = Map.empty,
                  atOrBefore: Option[Long] = None,
                  maxKeys: Int = 100000): DataFrame = {
    require(equalTo.nonEmpty || inRange.nonEmpty,
      "SecondaryIndex.lookupByAll: at least one predicate is required")
    val preds: Seq[Pred] =
      equalTo.toSeq.map { case (c, v) => EqPred(c, v) } ++
        inRange.toSeq.map { case (c, (lo, hi)) => RangePred(c, lo, hi) }
    val names = indexDirNames(fsOf(spark, root), root, table)
    // composite pair indexes join the candidate pool: when every single
    // conjunct is too popular, a selective PAIR still bounds the lookup
    val pairs = compositePreds(names, equalTo.toSeq)
    // every named column must have an index — its own, or a composite
    // pair covering it (the V1 named-error posture); a pair-only
    // deployment is legitimate: the pair supplies candidates and every
    // conjunct still re-verifies against live values
    preds.foreach { p =>
      require(names.contains(indexDirName(p.column)) ||
          pairs.exists(_.column.split('\u0000').contains(p.column)),
        s"SecondaryIndex: no index exists for '$table.${p.column}' - run " +
          "indexBatch per applied batch (or compact once) before looking up")
    }
    val tview = store.view(spark, table)
    val ordered = soundOrdered(spark, root, table, tview, preds ++ pairs,
      atOrBefore, maxKeys)
    if (ordered.isEmpty) {
      warnUnpruned(table, preds.map(_.column).mkString(","),
        "no conjunct has sound coverage")
      return scanFallback(spark, store, tview, preds, atOrBefore)
    }
    val candidates = intersectCandidates(spark, ordered,
      atOrBefore, maxKeys).getOrElse(throw new IllegalArgumentException(
      s"SecondaryIndex: every conjunct of " +
        preds.map(_.describe).mkString("(", " AND ", ")") +
        s" on '$table' matches more than $maxKeys candidate keys — too " +
        "popular for an index-first point lookup; filter the snapshot " +
        "instead"))
    preds.foldLeft(store.lookupIn(spark, tview, candidates, atOrBefore))(verify)
  }

  // ---------------------------------------------------------------------
  // DSv2 pushdown seam (graft-upsert relation)
  // ---------------------------------------------------------------------

  /** Best-effort candidate keys for a conjunction of pushed filters —
    * the [[graft.sources.UpsertRelation]] seam. NEVER throws for "index
    * can't help" reasons: returns None (full-scan fallback) when no
    * named column has an index, coverage is unsound, or every indexed
    * conjunct is over `maxKeys`. The returned keys are a SUPERSET of
    * the matching live keys (sound coverage + intersection of fitting
    * conjuncts); the relation's scan re-applies every filter above, so
    * pruning here is purely an optimization. */
  private[graft] def candidatesForScan(spark: SparkSession, root: String,
                                       table: String, preds: Seq[Pred],
                                       atOrBefore: Option[Long],
                                       maxKeys: Int): Option[Seq[String]] = {
    val fs = fsOf(spark, root)
    val names = indexDirNames(fs, root, table)
    // pair indexes are discovered from the pushed string equalities —
    // candidate-duty only; the relation re-applies every filter above
    val pairs = compositePreds(names,
      preds.collect { case EqPred(c, v) => c -> v })
    val indexed = pairs ++ preds.filter(p =>
      names.contains(indexDirName(p.column)))
    val tview = CommitLog.list(fs, ParquetUpsertStore.tableDir(root, table))
    intersectCandidates(spark, soundOrdered(spark, root, table, tview, indexed,
      atOrBefore, maxKeys), atOrBefore, maxKeys)
  }
}
