package graftbench

import graft.sinks.ParquetUpsertStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, element_at}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** What one run needs: the session, its knobs and where it may write. */
final case class Ctx(spark: SparkSession, cpus: Int, seed: Long, seconds: Int, work: Path,
                     tracer: Option[Tracer], corruptModel: Boolean, scale: Double = 1.0) {
  /** A batch size, scaled down for the smoke check. */
  def n(size: Int): Int = math.max(100, (size * scale).toInt)
  /** A store/checkpoint location; under the counting scheme when traced. */
  def dir(name: String, counted: Boolean = false): String = {
    val p = work.resolve(name).toAbsolutePath.toString
    if (counted && tracer.isDefined) s"${CountingFs.Scheme}://$p" else p
  }
  def localPath(uri: String): Path = Paths.get(uri.stripPrefix(s"${CountingFs.Scheme}://"))
}

/** Everything a workload measured; [[Main]] turns it into metrics. */
final case class Outcome(
    setupEnd: Double,
    writeBatches: Seq[BatchRec],
    changes: Long,
    drainMs: Double,
    lags: Seq[(Double, Long)], // (lag in s, number of changes with that lag)
    storeBytes: Long,
    reads: Seq[ReadRec],
    checks: Seq[ReadRec], // model-checked reads outside the read metrics
    genLate: Seq[Double],
    attempted: Long,
    failures: Seq[String],
    failed: Long,
    samples: Map[String, Long])

object Workloads {
  val KeySpace = 200000
  val TrickleKeySpace = 20000

  val names: Seq[String] = Seq("ct_bulk", "ct_trickle", "gg_bulk")

  def run(name: String, ctx: Ctx): Outcome = name match {
    case "ct_bulk" => ctBulk(ctx)
    case "ct_trickle" => ctTrickle(ctx)
    case "gg_bulk" => Gg.bulk(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  // ---------------------------------------------------------------- gates

  /** The store snapshot must equal the model: same live count and the
    * same order-insensitive hash of `(row_key, values)`. */
  def snapshotGate(ctx: Ctx, store: ParquetUpsertStore, table: String, model: Model): Seq[String] = {
    val rows = store.snapshot(ctx.spark, table)
      .select(col("row_key"), element_at(col("values"), "payload"), element_at(col("values"), "version"),
        element_at(col("values"), "key"))
      .collect()
    val hash = rows.iterator.map(r => Model.rowHash(r.getString(0), r.getString(1), r.getString(2))).foldLeft(0L)(_ + _)
    val keyMismatch = rows.count(r => r.getString(0) != r.getString(3))
    Seq(
      if (rows.length != model.size) Some(s"snapshot has ${rows.length} live rows, model ${model.size}") else None,
      if (hash != model.hash) Some("snapshot (row_key, values) hash differs from the model") else None,
      if (keyMismatch > 0) Some(s"$keyMismatch rows whose row_key is not their key value") else None
    ).flatten
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Runs `reads` one after another (one closed-loop client). */
  def readLoop(reader: Reader, model: Model, next: () => Read, until: Int => Boolean): Seq[ReadRec] = {
    val out = ArrayBuffer.empty[ReadRec]
    var n = 0
    while (!until(n)) { out += reader.run(n, next(), model); n += 1 }
    out.toSeq
  }

  /** After a drain: point lookups of two keys (the first few untimed,
    * as the drain never ran the read path) whose latencies are the
    * drain's read metrics — how the store it just wrote answers — and
    * one model-checked read of every other kind. */
  private def postDrainReads(ctx: Ctx, store: ParquetUpsertStore, root: String,
                             model: Model, keySpace: Int): (Seq[ReadRec], Seq[ReadRec]) = {
    val reader = new Reader(ctx.spark, store, root, Ct.Table, ctx.tracer.isDefined)
    val gen = new ReadGen(ctx.seed * 31 + 7, model.liveKeys, keySpace, 20000)
    val checks = gen.oneOfEach().zipWithIndex.map { case (r, i) => reader.run(-1 - i, r, model) }
    val warm = gen.pkProbes(5).zipWithIndex.map { case (r, i) => reader.run(-100 - i, r, model) }
    val probes = gen.pkProbes(30).zipWithIndex.map { case (r, i) => reader.run(i, r, model) }
    (probes, checks ++ warm)
  }

  private def readFailures(reads: Seq[ReadRec]): Seq[String] =
    reads.filterNot(_.ok).map(r => s"read ${r.n} (${r.kind}) wrong or failed ${r.error}")

  private def gateModel(ctx: Ctx, m: Model): Model = if (ctx.corruptModel) m.corrupted else m

  // ------------------------------------------------------------ workloads

  /** Closed-loop drain of a CT backlog: 30k-change micro-batches over a
    * 200k-key space. One untimed fold cycle warms the JVM and fills the
    * store; then one fold cycle (three batches, about 6 s on 4 vCPUs) is
    * measured per whole 10 s of `seconds` (at least one). The store it
    * leaves, just folded, is then read by the [[readMix]] for 40% of
    * `seconds`: the read metrics of this workload. */
  def ctBulk(ctx: Ctx): Outcome = {
    val chunk = ctx.n(30000)
    val cycles = math.max(1, ctx.seconds / 10)
    val gen = new CtGen(ctx.seed, KeySpace)
    val model = new Model
    val feed = new Ct.Feed(s"bulk-${ctx.seed}")
    val root = ctx.dir("store", counted = true)
    val warm = Ct.Cycle
    var measureStart = Double.NaN
    val (q, batches, released) = Ct.closedLoop(() => feed.append(gen.chunk(chunk), model), chunk,
      () => Ct.start(ctx.spark, s"bulk-${ctx.seed}", root, ctx.dir("ckpt"), chunk, ctx.cpus),
      deadlineMs = Clock.nowMs + 150000)(Ct.measuredCycles(warm, Ct.Cycle, cycles, measureStart = _))
    q.stop()
    val measured = batches.filter(_.endOff > warm.toLong * chunk)
    val store = new ParquetUpsertStore(root)
    val gm = gateModel(ctx, model)
    val gate = snapshotGate(ctx, store, Ct.Table, gm)
    val storeBytes = dirBytes(ctx.localPath(root))
    val (reads, checks) = readMix(ctx, store, root, gm)
    Outcome(measureStart, measured, measured.size.toLong * chunk, measured.last.end - measureStart,
      Ct.chunkLags(measured, released, chunk), storeBytes, reads, checks,
      Ct.releaseLate(measured, released, chunk), attempted = measured.size + reads.size + checks.size + 1L,
      failures = gate ++ readFailures(reads ++ checks),
      failed = (if (gate.nonEmpty) 1 else 0) + (reads ++ checks).count(!_.ok),
      samples = Map("batches" -> measured.size.toLong, "changes" -> measured.size.toLong * chunk,
        "reads" -> reads.size.toLong))
  }

  /** One closed-loop client on `store`: one untimed read of every kind,
    * then whole rounds of the seeded mix for at least 40% of `seconds`.
    * Returns (timed reads, untimed reads); both are model-checked. */
  private def readMix(ctx: Ctx, store: ParquetUpsertStore, root: String,
                      model: Model): (Seq[ReadRec], Seq[ReadRec]) = {
    val reader = new Reader(ctx.spark, store, root, Ct.Table, ctx.tracer.isDefined)
    val gen = new ReadGen(ctx.seed * 31 + 7, model.liveKeys, KeySpace, 20000)
    val warm = gen.oneOfEach().zipWithIndex.map { case (r, i) => reader.run(-1 - i, r, model) }
    val stopAt = Clock.nowMs + ctx.seconds * 400.0
    val mix = gen.mix()
    // whole rounds of the mix, so every run reads the same shares
    (readLoop(reader, model, () => mix.next(), n => n % ReadGen.Round == 0 && Clock.nowMs >= stopAt), warm)
  }

  /** Open-loop trickle at a fixed rate well under capacity into a store
    * preloaded with one 20k-change batch. The trickle's 20k keys are
    * nearly all live after the preload, so the store's size does not
    * depend on how many changes a run sends. */
  def ctTrickle(ctx: Ctx): Outcome = {
    val rate = 1000.0
    val gen = new CtGen(ctx.seed, TrickleKeySpace)
    val model = new Model
    val feedName = s"trickle-${ctx.seed}"
    val feed = new Ct.Feed(feedName)
    val root = ctx.dir("store", counted = true)
    val preload = feed.append(gen.chunk(ctx.n(20000)), model)
    val q = Ct.start(ctx.spark, feedName, root, ctx.dir("ckpt"), ctx.n(20000), ctx.cpus)
    while (Option(q.lastProgress).forall(p => BatchRec.of(p).endOff < preload) && q.exception.isEmpty)
      Thread.sleep(5)
    val t = Ct.trickle(q, feed, model, gen.chunk((rate * (ctx.seconds + 30)).toInt), rate,
      warmS = 3, ctx.seconds, drainS = 30)
    val setupEnd = t.scheduled(0)
    q.stop()
    val measured = t.batches
    // per change: commit of the first batch covering it minus its scheduled time
    val lags = ArrayBuffer.empty[(Double, Long)]
    var bi = 0
    for (j <- 0 until t.count) {
      val v = t.firstVersion + j
      while (bi < measured.size && measured(bi).endOff < v) bi += 1
      if (bi < measured.size) lags += (((measured(bi).end - t.scheduled(j)) / 1000.0, 1L))
    }
    // overload guard: the uncommitted backlog at each commit must not grow
    // over the last quarter of batches
    val backlog = measured.map { b =>
      val generated = math.min(t.count.toDouble, math.floor((b.end - t.scheduled(0)) * rate / 1000.0) + 1)
      generated - (b.endOff - t.firstVersion + 1)
    }
    val q4 = math.max(1, backlog.size / 4)
    val (early, lastQ) = backlog.splitAt(backlog.size - q4)
    val growing = early.nonEmpty && Stats.mean(lastQ) > 1.5 * Stats.mean(early) + rate
    val store = new ParquetUpsertStore(root)
    val gate = snapshotGate(ctx, store, Ct.Table, gateModel(ctx, model))
    val (reads, checks) = postDrainReads(ctx, store, root, gateModel(ctx, model), TrickleKeySpace)
    val failures = gate ++
      (if (t.uncommitted > 0) Seq(s"${t.uncommitted} changes uncommitted at the drain deadline") else Nil) ++
      (if (growing) Seq(f"backlog grows over the last quarter of batches (${Stats.mean(lastQ)}%.0f vs ${Stats.mean(early)}%.0f)") else Nil) ++
      readFailures(reads ++ checks)
    Outcome(setupEnd, measured, t.cycleChanges, t.cycleMs, lags.toSeq,
      dirBytes(ctx.localPath(root)), reads, checks, t.appendLate.toSeq,
      attempted = measured.size + t.count + reads.size + checks.size + 1L, failures = failures,
      failed = (if (gate.nonEmpty) 1 else 0) + t.uncommitted + (if (growing) 1 else 0) +
        (reads ++ checks).count(!_.ok),
      samples = Map("batches" -> measured.size.toLong, "changes" -> lags.size.toLong, "reads" -> reads.size.toLong))
  }
}
