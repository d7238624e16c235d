package graftbench

import graft.sinks.{KeyBloom, ParquetUpsertStore, SecondaryIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, element_at}

/** One executed read: its latency, and whether it threw or disagreed
  * with the model. `pruned`/`absent` count the never-written keys a
  * bloom read dropped before opening a bucket (traced runs only). */
final case class ReadRec(n: Int, kind: String, start: Double, end: Double, ok: Boolean,
                         rows: Int, absent: Int = 0, pruned: Int = 0, error: String = "") {
  def ms: Double = end - start
}

/** Executes [[Read]]s against a store through the program's public read
  * APIs and checks each answer against the [[Model]]. */
final class Reader(spark: SparkSession, store: ParquetUpsertStore, root: String, table: String,
                   traced: Boolean) {

  private def rows(df: DataFrame): Set[Model.Row] =
    df.select(col("row_key"), element_at(col("values"), "payload"), element_at(col("values"), "version"))
      .collect().map(r => Model.Row(r.getString(0), r.getString(1), r.getString(2).toLong)).toSet

  private def answer(r: Read): Set[Model.Row] = r match {
    case Read.Pk(keys) => rows(store.lookup(spark, table, keys))
    case Read.Bloom(keys, _) => rows(KeyBloom.lookup(spark, store, root, table, keys))
    case Read.IndexEq(v) => rows(SecondaryIndex.lookupByValue(spark, store, root, table, "payload", v.toString))
    case Read.IndexRange(lo, hi) =>
      rows(SecondaryIndex.lookupByRange(spark, store, root, table, "payload", lo.toDouble, hi.toDouble))
    case Read.Sql(keys) => rows(spark.read.format("graft-upsert").option("path", root)
      .option("table", table).load().filter(col("row_key").isin(keys: _*)))
  }

  private def expected(r: Read, model: Model): Set[Model.Row] = r match {
    case Read.Pk(keys) => model.byKeys(keys)
    case Read.Bloom(keys, _) => model.byKeys(keys)
    case Read.IndexEq(v) => model.byPayload(v)
    case Read.IndexRange(lo, hi) => model.byPayloadRange(lo, hi)
    case Read.Sql(keys) => model.byKeys(keys)
  }

  def run(n: Int, r: Read, model: Model): ReadRec = {
    val t0 = Clock.nowMs
    val got = scala.util.Try(answer(r))
    val t1 = Clock.nowMs
    val (absent, pruned) = r match {
      case Read.Bloom(keys, nAbsent) if traced =>
        // outside the timed span: how many never-written keys the blooms drop
        val ghosts = keys.takeRight(nAbsent)
        (nAbsent, nAbsent - KeyBloom.filterPresent(spark, root, table, ghosts).size)
      case _ => (0, 0)
    }
    got match {
      case scala.util.Success(rs) =>
        ReadRec(n, r.kind, t0, t1, rs == expected(r, model), rs.size, absent, pruned)
      case scala.util.Failure(e) =>
        ReadRec(n, r.kind, t0, t1, ok = false, 0, absent, pruned, error = String.valueOf(e.getMessage).take(200))
    }
  }
}
