package graftbench

import graft.sinks.{ParquetUpsertStore, UpsertSink}
import graft.sources.{GoldenGateAvro, GoldenGateDml, GoldenGateFeed, MessageLog}
import org.apache.spark.sql.functions.{col, element_at}

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The GoldenGate workload: a seeded Kafka-shaped Avro trail drained
  * through `GoldenGateDml.fromFeed` → `UpsertSink.stream` into a plain
  * `ParquetUpsertStore` (no index, bloom or maintenance). */
object Gg {
  val Table = "ORCL.T"

  val SchemaJson: String =
    """{"type":"record","name":"T","namespace":"ORCL","fields":[
      | {"name":"table","type":"string"},
      | {"name":"op_type","type":"string"},
      | {"name":"primary_keys","type":{"type":"array","items":"string"}},
      | {"name":"before","type":["null",{"type":"record","name":"columns","fields":[
      |   {"name":"id","type":"long"},{"name":"id_isMissing","type":"boolean"},
      |   {"name":"payload","type":["null","string"]},{"name":"payload_isMissing","type":"boolean"},
      |   {"name":"amount","type":["null","long"]},{"name":"amount_isMissing","type":"boolean"}]}]},
      | {"name":"after","type":["null","columns"]}]}""".stripMargin
  private lazy val fingerprint = org.apache.avro.SchemaNormalization.parsingFingerprint64(
    new org.apache.avro.Schema.Parser().parse(SchemaJson))
  private val wrapperAnnouncement =
    """{"type":"record","name":"generic_wrapper","namespace":"oracle.goldengate","fields":[]}"""

  /** key -> (payload, amount, version): the live rows the store must hold. */
  final class GgModel {
    val live: mutable.HashMap[Long, (String, Long, Long)] = mutable.HashMap.empty
    def hash: Long = live.iterator.map { case (k, (p, a, v)) => rowHash(k.toString, p, a.toString, v) }.sum
  }
  def rowHash(k: String, p: String, a: String, v: Long): Long = Model.rowHash(k, s"$p|$a", v.toString)

  /** Seeded trail: I/U/D = 30/60/10 against the generator's own view of
    * the table, so before images are exact. An update leaves unchanged
    * columns `_isMissing`; 3% of updates move the primary key. */
  final class Trail(seed: Long, keySpace: Int) {
    private val rnd = new SplittableRandom(seed)
    private val state = mutable.HashMap.empty[Long, (String, Long)]
    private val present = ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    private var offset = 0L
    val model = new GgModel

    private def add(k: Long, row: (String, Long)): Unit = {
      if (!pos.contains(k)) { pos(k) = present.size; present += k }
      state(k) = row
    }
    private def remove(k: Long): Unit = pos.remove(k).foreach { i =>
      val last = present.remove(present.size - 1)
      if (last != k) { present(i) = last; pos(last) = i }
      state.remove(k)
    }
    private def absentKey(): Long = {
      var k = rnd.nextInt(keySpace).toLong
      while (state.contains(k)) k = rnd.nextInt(keySpace).toLong
      k
    }
    private def image(k: Long, row: (String, Long), missing: Set[String] = Set.empty) = Map[String, Any](
      "id" -> k, "id_isMissing" -> false,
      "payload" -> (if (missing("payload")) null else row._1), "payload_isMissing" -> missing("payload"),
      "amount" -> (if (missing("amount")) null else row._2), "amount_isMissing" -> missing("amount"))
    private def msg(op: String, before: Any, after: Any): Array[Byte] =
      GoldenGateAvro.encodeWrapper(Table, fingerprint, GoldenGateAvro.encodeRecord(SchemaJson,
        Map[String, Any]("table" -> Table, "op_type" -> op, "primary_keys" -> Seq("id"),
          "before" -> before, "after" -> after)))
    private def newRow() = (s"p${rnd.nextInt(1000000)}", rnd.nextInt(1000000).toLong)

    /** The next `n` messages; the trail opens with the wrapper and schema
      * announcements. */
    def next(n: Int): Seq[Array[Byte]] = {
      val out = ArrayBuffer.empty[Array[Byte]]
      if (offset == 0) {
        out += wrapperAnnouncement.getBytes(UTF_8)
        out += SchemaJson.getBytes(UTF_8)
        offset = 2
      }
      while (out.size < n) {
        val v = offset
        val r = rnd.nextInt(10)
        if (r < 3 || present.isEmpty) {
          val k = absentKey(); val row = newRow()
          out += msg("I", null, image(k, row)); add(k, row); model.live(k) = (row._1, row._2, v)
        } else {
          val k = present(rnd.nextInt(present.size))
          val old = state(k)
          if (r == 9) {
            out += msg("D", image(k, old), null); remove(k); model.live.remove(k)
          } else if (rnd.nextInt(100) < 3) {
            val k2 = absentKey(); val row = (old._1, rnd.nextInt(1000000).toLong)
            out += msg("U", image(k, old), image(k2, row))
            remove(k); model.live.remove(k); add(k2, row); model.live(k2) = (row._1, row._2, v)
          } else {
            val which = rnd.nextInt(3) // 0: payload only, 1: amount only, 2: both
            val fresh = newRow()
            val row = (if (which != 1) fresh._1 else old._1, if (which != 0) fresh._2 else old._2)
            val missing = Set(if (which == 1) "payload" else "", if (which == 0) "amount" else "")
            out += msg("U", image(k, old), image(k, row, missing)); add(k, row); model.live(k) = (row._1, row._2, v)
          }
        }
        offset += 1
      }
      out.toSeq
    }
  }

  /** The first `n` messages of a seed's trail (the smoke check's digest). */
  def trail(seed: Long, n: Int): Seq[Array[Byte]] = new Trail(seed, 200000).next(n)

  /** Closed-loop drain of the trail in 20k-message micro-batches: two
    * untimed warm-up batches, then three measured batches (about 2 s each
    * on 4 vCPUs) per 10 s of `seconds` (at least one); then a snapshot
    * gate and two-key primary-key reads (5 untimed, then 50 timed), all
    * checked against the trail's model. */
  def bulk(ctx: Ctx): Outcome = {
    val chunk = ctx.n(20000)
    val measuredBatches = math.max(1, ctx.seconds * 3 / 10)
    val warm = 2
    val trail = new Trail(ctx.seed, 200000)
    val logName = s"gg-${ctx.seed}"
    MessageLog.drop(logName)
    val log = MessageLog.get(logName)
    val root = ctx.dir("store", counted = true)
    val store = new ParquetUpsertStore(root)
    var measureStart = Double.NaN
    val (q, batches, released) = Ct.closedLoop(() => trail.next(chunk).foreach(log.append), chunk,
      () => UpsertSink.stream(GoldenGateDml.fromFeed(ctx.spark, logName, GoldenGateFeed.EarliestSentinel, chunk),
        store, ctx.dir("ckpt")),
      deadlineMs = Clock.nowMs + 150000)(Ct.measuredCycles(warm, 1, measuredBatches, measureStart = _))
    q.stop()
    val measured = batches.filter(_.endOff > warm.toLong * chunk)

    val snap = store.snapshot(ctx.spark, Table)
      .select(col("row_key"), element_at(col("values"), "payload"), element_at(col("values"), "amount"), col("version"))
      .collect()
    val model = trail.model
    if (ctx.corruptModel) model.live.keys.toSeq.sorted.headOption.foreach { k =>
      val (p, a, v) = model.live(k); model.live(k) = (p + "x", a, v)
    }
    val hash = snap.iterator.map(r => rowHash(r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).sum
    val gate = Seq(
      if (snap.length != model.live.size) Some(s"snapshot has ${snap.length} live rows, model ${model.live.size}") else None,
      if (hash != model.hash) Some("snapshot (row_key, values, version) hash differs from the model") else None).flatten
    // primary-key lookups of one live and one never-written key
    val rnd = new SplittableRandom(ctx.seed * 31 + 7)
    val keys = model.live.keys.toArray.sorted
    def read(n: Int): ReadRec = {
      val ks = Seq(keys(rnd.nextInt(keys.length)).toString, s"${200000 + rnd.nextInt(1000)}")
      val t0 = Clock.nowMs
      val got = scala.util.Try(store.lookup(ctx.spark, Table, ks)
        .select(col("row_key"), element_at(col("values"), "payload"), element_at(col("values"), "amount"), col("version"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet)
      val t1 = Clock.nowMs
      val want = ks.flatMap(k => model.live.get(k.toLong).map { case (p, a, v) => (k, p, a.toString, v) }).toSet
      ReadRec(n, "pk", t0, t1, got.toOption.contains(want), got.map(_.size).getOrElse(0))
    }
    val warmReads = (1 to 5).map(i => read(-i))
    val reads = (0 until 50).map(read)
    val all = warmReads ++ reads
    val failures = gate ++ all.filterNot(_.ok).map(r => s"read ${r.n} (pk) wrong or failed")
    Outcome(measureStart, measured, measured.size.toLong * chunk, measured.last.end - measureStart,
      Ct.chunkLags(measured, released, chunk),
      Workloads.dirBytes(ctx.localPath(root)), reads, warmReads,
      Ct.releaseLate(measured, released, chunk),
      attempted = measured.size + all.size + 1L, failures = failures,
      failed = (if (gate.nonEmpty) 1 else 0) + all.count(!_.ok),
      samples = Map("batches" -> measured.size.toLong, "changes" -> measured.size.toLong * chunk,
        "reads" -> reads.size.toLong))
  }
}
