package graftbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded change generator for the change-tracking (CT) workloads. The
  * program only ever sees what this emits, appended to a
  * `ChangeTrackingStore`; the [[Model]] it feeds is the benchmark's own
  * answer key.
  *
  * Op mix I/U/D = 30/60/10. Keys: `hotShare` of the changes hit a small
  * hot set, the rest are uniform over `keySpace`. Payloads are integer
  * strings in `[0, payloadSpace)`, so the `payload` secondary index
  * answers equality and numeric-range probes.
  */
final class CtGen(seed: Long, val keySpace: Int, hotKeys: Int = 1000,
                  hotShare: Double = 0.2, val payloadSpace: Int = 20000) {
  private val rnd = new SplittableRandom(seed)

  /** `n` changes as parallel arrays (ops as 0=I, 1=U, 2=D). */
  def chunk(n: Int): CtGen.Chunk = {
    val ops = new Array[Byte](n)
    val keys = new Array[Long](n)
    val payloads = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = rnd.nextInt(10)
      ops(i) = (if (r < 3) 0 else if (r < 9) 1 else 2).toByte
      keys(i) =
        if (rnd.nextDouble() < hotShare) rnd.nextInt(hotKeys).toLong
        else rnd.nextInt(keySpace).toLong
      payloads(i) = rnd.nextInt(payloadSpace)
      i += 1
    }
    CtGen.Chunk(ops, keys, payloads)
  }
}

object CtGen {
  val OpNames: Array[String] = Array("INSERT", "UPDATE", "DELETE")

  final case class Chunk(ops: Array[Byte], keys: Array[Long], payloads: Array[Int]) {
    def size: Int = ops.length
  }
}

/** The answer key: the latest live version of every key, deletes
  * removed — what the store snapshot must equal after a drain. Values
  * are exactly the map the CT envelope carries (`key`, `payload`,
  * `version`). */
final class Model {
  // key -> (payload, version)
  private val live = mutable.HashMap.empty[Long, (Int, Long)]

  def apply(op: Byte, key: Long, payload: Int, version: Long): Unit =
    if (op == 2) live.remove(key) else live.update(key, (payload, version))

  def size: Int = live.size
  def liveKeys: Array[Long] = live.keysIterator.toArray.sorted

  /** Order-insensitive hash of every live `(row_key, values)` pair. */
  def hash: Long = live.iterator.map { case (k, (p, v)) => Model.rowHash(k.toString, p.toString, v.toString) }
    .foldLeft(0L)(_ + _)

  def byPayload(p: Int): Set[Model.Row] = live.iterator
    .collect { case (k, (pp, v)) if pp == p => Model.Row(k.toString, pp.toString, v) }.toSet

  def byPayloadRange(lo: Int, hi: Int): Set[Model.Row] = live.iterator
    .collect { case (k, (pp, v)) if pp >= lo && pp <= hi => Model.Row(k.toString, pp.toString, v) }.toSet

  def byKeys(keys: Seq[String]): Set[Model.Row] = keys.flatMap { k =>
    scala.util.Try(k.toLong).toOption.flatMap(kl => live.get(kl).map { case (p, v) => Model.Row(k, p.toString, v) })
  }.toSet

  /** A corrupted copy (one live row's payload changed) — the smoke check
    * proves the gate catches it. */
  def corrupted: Model = {
    val m = new Model
    live.foreach { case (k, pv) => m.live.update(k, pv) }
    m.live.keysIterator.toSeq.sorted.headOption.foreach { k =>
      val (p, v) = m.live(k); m.live.update(k, ((p + 1) % 20000, v))
    }
    m
  }
}

object Model {
  final case class Row(rowKey: String, payload: String, version: Long)

  def rowHash(rowKey: String, payload: String, version: String): Long = {
    val s = s"$rowKey\u0001key=$rowKey\u0001payload=$payload\u0001version=$version"
    // 64-bit FNV-1a, then a murmur finalizer — cheap and order-free when summed
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }
}

/** One read of the seeded read mix, with the model's expected answer
  * computed at execution time. */
sealed trait Read { def kind: String }
object Read {
  /** `ParquetUpsertStore.lookup` of a few keys. */
  final case class Pk(keys: Seq[String]) extends Read { val kind = "pk" }
  /** `KeyBloom.lookup`; part of the keys were never written. */
  final case class Bloom(keys: Seq[String], absent: Int) extends Read { val kind = "bloom" }
  /** `SecondaryIndex.lookupByValue(payload = v)`. */
  final case class IndexEq(v: Int) extends Read { val kind = "index_eq" }
  /** `SecondaryIndex.lookupByRange(payload in [lo, hi])`. */
  final case class IndexRange(lo: Int, hi: Int) extends Read { val kind = "index_range" }
  /** `graft-upsert` read with a pushed `row_key IN (...)` filter. */
  final case class Sql(keys: Seq[String]) extends Read { val kind = "sql" }

  val Kinds: Seq[String] = Seq("pk", "bloom", "index_eq", "index_range", "sql")
}

/** Seeded read mix over a store whose live keys are `liveKeys`. Absent
  * keys are drawn outside the generator's key space, so they were never
  * written. */
final class ReadGen(seed: Long, liveKeys: Array[Long], keySpace: Int, payloadSpace: Int) {
  private val rnd = new SplittableRandom(seed)
  private def present(): String = liveKeys(rnd.nextInt(liveKeys.length)).toString
  private def absent(): String = (keySpace.toLong + rnd.nextInt(1000000)).toString

  private def pk(n: Int) = Read.Pk(Seq.fill(n)(present()))
  private def bloom(nPresent: Int, nAbsent: Int) =
    Read.Bloom(Seq.fill(nPresent)(present()) ++ Seq.fill(nAbsent)(absent()), nAbsent)
  private def sql(n: Int) = Read.Sql(Seq.fill(n)(present()))
  private def indexEq() = Read.IndexEq(rnd.nextInt(payloadSpace))
  private def indexRange() = { val lo = rnd.nextInt(payloadSpace - 20); Read.IndexRange(lo, lo + 10) }

  /** The mix in rounds of [[ReadGen.Round]] reads — pk 8, bloom 6,
    * sql 3, index_eq 2, index_range 1, with fixed key counts and a
    * seeded order — so every run reads the same shapes whatever its
    * seed; only the keys, values and order change. The point and bloom
    * reads are 70% of a round, so the median falls inside that group
    * rather than at its edge with the slower SQL and index reads, and the
    * 95th percentile falls among the index reads. */
  def mix(): Iterator[Read] = Iterator.continually {
    val round = Seq[() => Read](() => pk(1), () => pk(1), () => pk(2), () => pk(2), () => pk(2), () => pk(3),
      () => pk(3), () => pk(4),
      () => bloom(1, 1), () => bloom(1, 2), () => bloom(1, 3), () => bloom(2, 1), () => bloom(2, 2),
      () => bloom(2, 3),
      () => sql(1), () => sql(2), () => sql(4),
      () => indexEq(), () => indexEq(), () => indexRange())
    shuffle(round).map(_())
  }.flatten

  /** One read of each kind. */
  def oneOfEach(): Seq[Read] = Seq(pk(2), bloom(1, 2), indexEq(), indexRange(), sql(2))

  /** `n` point lookups of two live keys each. */
  def pkProbes(n: Int): Seq[Read] = Seq.fill(n)(pk(2))

  private def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

object ReadGen {
  val Round = 20
}
