package graftbench

import graft.sources.{ChangeFeedProvider, ChangeTrackingStore}
import graft.streaming.CtPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.collection.mutable.ArrayBuffer

/** One committed micro-batch, from its `StreamingQueryProgress`. Times
  * are [[Clock]] ms; `end` is the trigger's start plus its
  * `triggerExecution` duration, i.e. when the batch's changes became
  * durable and visible. Offsets are the source's change versions. */
final case class BatchRec(id: Long, start: Double, end: Double, rows: Long,
                          startOff: Long, endOff: Long, latestOff: Long,
                          dur: Map[String, Long], stateRows: Long, stateCommitMs: Long) {
  def ms(phase: String): Double = dur.getOrElse(phase, 0L).toDouble
}

object BatchRec {
  private def off(json: String): Long =
    if (json == null) 0L else scala.util.Try(json.trim.toLong).getOrElse(0L)

  def of(p: StreamingQueryProgress): BatchRec = {
    import scala.jdk.CollectionConverters._
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = Clock.wallToMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val src = p.sources.headOption
    BatchRec(p.batchId, start, start + dur.getOrElse("triggerExecution", 0L), p.numInputRows,
      src.map(s => off(s.startOffset)).getOrElse(0L), src.map(s => off(s.endOffset)).getOrElse(0L),
      src.map(s => off(s.latestOffset)).getOrElse(0L), dur,
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.commitTimeMs).sum)
  }

  /** Every data-carrying batch the query has reported so far. */
  def all(q: StreamingQuery): Seq[BatchRec] =
    q.recentProgress.filter(_.numInputRows > 0).map(of).toSeq.sortBy(_.id)
}

/** The canonical CT pipeline — `ChangeFeedProvider` → `CtPipeline
  * .toEnvelope` → `graft-upsert` with a `payload` secondary index,
  * key blooms, `autoMaintain` and vacuum — and the two ways the
  * benchmark feeds it. */
object Ct {
  val Table = "dbo.t"
  /** `autoMaintain` = 2: the composite maintenance fold runs on every
    * third micro-batch (batch ids 2, 5, 8, ...), so a run of whole fold
    * cycles sees a fixed share of maintenance. */
  val AutoMaintain = 2
  val Cycle: Int = AutoMaintain + 1
  def isFold(batchId: Long): Boolean = batchId % Cycle == Cycle - 1
  /** Each fold vacuums history older than one cycle, so the bytes under
    * the store root stay bounded however many batches a run commits. */
  val VacuumRetain = 3
  private val schemaJson = StructType(Seq(
    StructField("key", LongType), StructField("payload", StringType))).json

  /** The source database: one CT-enabled table. */
  final class Feed(name: String) {
    ChangeTrackingStore.drop(name)
    val ct: ChangeTrackingStore = ChangeTrackingStore.get(name)
    ct.setSchema(Table, schemaJson)

    /** Appends changes `[from, until)` of `c`, keeping `model` in step.
      * Returns the version of the last one. */
    def append(c: CtGen.Chunk, model: Model, from: Int = 0, until: Int = -1): Long = {
      val end = if (until < 0) c.size else until
      var v = 0L
      var i = from
      while (i < end) {
        v = ct.append(Table, CtGen.OpNames(c.ops(i)), c.keys(i), c.payloads(i).toString)
        model.apply(c.ops(i), c.keys(i), c.payloads(i), v)
        i += 1
      }
      v
    }
  }

  def start(spark: SparkSession, feed: String, root: String, ckpt: String,
            maxBatch: Int, cpus: Int): StreamingQuery =
    CtPipeline.toEnvelope(spark.readStream.format(classOf[ChangeFeedProvider].getName)
        .option("store", feed).option("numPartitions", cpus.toString)
        .option("maxBatchSize", maxBatch.toString).option("emitDdl", "true").load())
      .writeStream.format("graft-upsert")
      .option("checkpointLocation", ckpt).option("path", root).option("table", Table)
      .option("indexColumns", "payload").option("blooms", "true")
      .option("autoMaintain", AutoMaintain.toString).option("vacuumRetainBatches", VacuumRetain.toString)
      .start()

  final case class Released(chunk: Int, at: Double)

  /** Closed-loop drain: one chunk is always waiting while one is in
    * flight, so every micro-batch carries exactly one chunk (the source's
    * `maxBatchSize` = chunk size) and the pipeline never idles.
    * `releaseNext` appends the next chunk to the source; chunks 1 and 2
    * are released before the query starts. On the commit of chunk `c`,
    * `more(c, batch)` decides whether chunk `c + 2` is released. The loop
    * ends when every released chunk has committed, or fails at
    * `deadlineMs`. */
  def closedLoop(releaseNext: () => Unit, chunkSize: Int, startQuery: () => StreamingQuery, deadlineMs: Double)
                (more: (Int, BatchRec) => Boolean): (StreamingQuery, Seq[BatchRec], Seq[Released]) = {
    val released = ArrayBuffer.empty[Released]
    def release(): Unit = {
      val at = Clock.nowMs
      releaseNext()
      released += Released(released.size + 1, at)
    }
    release(); release()
    val q = startQuery()
    val batches = ArrayBuffer.empty[BatchRec]
    var seen = -1L
    var done = false
    while (!done) {
      if (Clock.nowMs > deadlineMs) { q.stop(); throw new IllegalStateException("closed-loop drain missed its deadline") }
      q.exception.foreach(e => throw e)
      val p = q.lastProgress
      if (p != null && p.batchId > seen && p.numInputRows > 0) {
        seen = p.batchId
        val b = BatchRec.of(p)
        batches += b
        val c = (b.endOff / chunkSize).toInt
        if (released.size == c + 1 && more(c, b)) release()
        done = c == released.size
      } else Thread.sleep(2)
    }
    (q, batches.toSeq, released.toSeq)
  }

  /** `more` for a measured drain: chunks up to `warm` are untimed
    * warm-up, then `cycles` whole cycles of `cycle` batches are measured
    * — a fixed amount of work, so every run measures the same batches.
    * `measureStart` receives the warm-up's last commit time. */
  def measuredCycles(warm: Int, cycle: Int, cycles: Int, measureStart: Double => Unit): (Int, BatchRec) => Boolean =
    (c, b) => {
      if (c == warm) measureStart(b.end)
      c + 2 <= warm + cycles * cycle
    }

  /** Commit of each batch minus the release of the chunk it carried. */
  def chunkLags(batches: Seq[BatchRec], released: Seq[Released], chunk: Int): Seq[(Double, Long)] = {
    val at = released.map(r => r.chunk -> r.at).toMap
    batches.map(b => ((b.end - at((b.endOff / chunk).toInt)) / 1000.0, chunk.toLong))
  }

  /** How long after each commit the feeder released the chunk that
    * commit called for: the closed-loop generator's own lateness. */
  def releaseLate(batches: Seq[BatchRec], released: Seq[Released], chunk: Int): Seq[Double] = {
    val at = released.map(r => r.chunk -> r.at).toMap
    batches.flatMap(b => at.get((b.endOff / chunk).toInt + 2).map(_ - b.end))
  }

  /** `cycleChanges` and `cycleMs`: the changes committed by the whole
    * fold cycles after the fold batch measuring started at, and the time
    * those cycles took (fold commit to fold commit). */
  final case class Trickle(batches: Seq[BatchRec], firstVersion: Long, count: Int,
                           scheduled: Int => Double, appendLate: Array[Double], uncommitted: Long,
                           cycleChanges: Long, cycleMs: Double)

  /** Open-loop trickle: one generator thread appends change `j` at
    * `t0 + j / rate` whether or not the pipeline keeps up. The first
    * `warmS` seconds are untimed warm-up that ends at the first commit
    * of a fold batch; the changes scheduled in the `seconds` after that
    * commit are measured. After them the generator runs on, unmeasured,
    * until the batch before a fold commits, so the run ends on a fold:
    * every run starts and ends at the same phase of the maintenance
    * cycle. Then the pipeline gets `drainS` seconds to commit everything.
    * `changes` must hold enough changes for all of it. */
  def trickle(q: StreamingQuery, feed: Feed, model: Model, changes: CtGen.Chunk, rate: Double,
              warmS: Double, seconds: Int, drainS: Double): Trickle = {
    val late = new Array[Double](changes.size)
    val base = feed.ct.currentVersion
    val t0 = Clock.nowMs + 5
    def due(j: Int) = t0 + j * 1000.0 / rate
    @volatile var stopAt = changes.size // first change not generated
    val gen = new Thread(() => {
      var j = 0
      while (j < stopAt) {
        val upTo = math.min(stopAt, math.floor((Clock.nowMs - t0) * rate / 1000.0).toInt + 1)
        while (j < upTo) {
          feed.append(changes, model, j, j + 1)
          late(j) = Clock.nowMs - due(j)
          j += 1
        }
        if (j < stopAt) Thread.sleep(1)
      }
    }, "bench-trickle-generator")
    gen.setDaemon(true)
    gen.start()
    var from = -1 // first measured change
    var until = -1 // first change after the measured ones
    var fold: BatchRec = null // the fold batch measuring started at
    var seen = -1L
    while (stopAt == changes.size && gen.isAlive && q.exception.isEmpty) {
      val p = q.lastProgress
      if (p != null && p.batchId > seen && p.numInputRows > 0) {
        seen = p.batchId
        val b = BatchRec.of(p)
        if (from < 0 && b.end >= t0 + warmS * 1000 && isFold(b.id)) {
          fold = b
          from = math.ceil((b.end - t0) * rate / 1000.0).toInt
          until = from + (seconds * rate).toInt
        } else if (from >= 0 && b.start >= due(until) && isFold(b.id + 1))
          stopAt = math.min(changes.size, math.floor((Clock.nowMs - t0) * rate / 1000.0).toInt + 1)
      } else Thread.sleep(2)
    }
    gen.join()
    q.exception.foreach(e => throw e)
    if (stopAt == changes.size) throw new IllegalStateException("trickle ran out of changes before its fold")
    val first = base + from + 1
    val last = base + stopAt
    val drainDeadline = Clock.nowMs + drainS * 1000
    def committed = Option(q.lastProgress).map(p => BatchRec.of(p).endOff).getOrElse(0L)
    while (committed < last && Clock.nowMs < drainDeadline && q.exception.isEmpty) Thread.sleep(5)
    q.exception.foreach(e => throw e)
    val all = BatchRec.all(q)
    val lastFold = all.filter(b => isFold(b.id) && b.id > fold.id).lastOption.getOrElse(all.last)
    Trickle(all.filter(b => b.endOff >= first && b.startOff < base + until), first, until - from,
      j => due(from + j), late.slice(from, until), math.max(0L, last - committed),
      lastFold.endOff - fold.endOff, lastFold.end - fold.end)
  }
}
