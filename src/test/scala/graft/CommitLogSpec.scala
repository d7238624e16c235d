package graft

import graft.operators.ChangeFeed
import graft.sinks.{KeyBloom, ParquetUpsertStore, SecondaryIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The store's commit protocol as seen from outside: every entry point
  * lists each directory it needs ONCE and answers its coverage check
  * and its read from that one view (counted through
  * [[CountingFileSystem]]), and a manifest rewritten out of band is
  * seen by the next read through the same store handle — no parse is
  * served from a cache keyed on file metadata. */
class CommitLogSpec extends SparkSuite {
  import spark.implicits._

  private def env(rows: Seq[(String, String, String, Long)]) =
    ChangeFeed.wrapDml(rows.toDF("user_id", "val", "op0", "ver"),
      "t", Seq("user_id"), col("op0"), col("ver"), lit(0L))

  private def liveSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
    df.select(col("row_key"), col("version")).as[(String, Long)].collect().toSet

  test("each entry point lists the table and index directories once") {
    CountingFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val root = CountingFileSystem.uri(checkpointDir("commitlog-lists"))
    val store = new ParquetUpsertStore(root, numBuckets = 4)
    val tdir = s"$root/t"
    val idir = SecondaryIndex.indexDir(root, "t", "val")
    val batches = Seq(
      env((1 to 20).map(i => (s"k$i", if (i % 2 == 0) "a" else "b", "INSERT", 1L))),
      env(Seq(("k1", "a", "UPDATE", 2L), ("k2", "b", "DELETE", 2L))))
    batches.zipWithIndex.foreach { case (b, id) =>
      SecondaryIndex.indexBatch(root, "t", "val", b, id.toLong)
      KeyBloom.addBatch(spark, root, "t", b, id.toLong)
      if (id == 1) CountingFileSystem.reset()
      store.applyBatch(b, id.toLong)
    }
    assert(CountingFileSystem.listCalls(tdir) == 1,
      "single-table applyBatch must list the table directory once")

    def counted[T](body: => T): (T, Long, Long) = {
      CountingFileSystem.reset()
      val out = body
      (out, CountingFileSystem.listCalls(tdir), CountingFileSystem.listCalls(idir))
    }
    val probes = Seq("k1", "k2", "k3", "ghost-1")
    val expected = liveSet(store.snapshot(spark, "t").filter(col("row_key").isin(probes: _*)))

    val (byLookup, lookupLists, _) = counted(liveSet(store.lookup(spark, "t", probes)))
    assert(byLookup == expected)
    assert(lookupLists == 1, "store.lookup must list the table directory once")

    val (byBloom, bloomLists, _) =
      counted(liveSet(KeyBloom.lookup(spark, store, root, "t", probes)))
    assert(byBloom == expected)
    assert(bloomLists == 1, "KeyBloom.lookup must list the table directory once")

    val (byIndex, indexTableLists, indexDirLists) = counted(liveSet(
      SecondaryIndex.lookupByValue(spark, store, root, "t", "val", "a")))
    assert(byIndex == liveSet(store.snapshot(spark, "t")
      .filter(try_element_at(col("values"), lit("val")) === "a")))
    assert(byIndex.map(_._1).contains("k1"), "the index lookup had to prune")
    assert(indexTableLists == 1,
      "SecondaryIndex.lookupByValue must list the table directory once")
    assert(indexDirLists == 1,
      "SecondaryIndex.lookupByValue must list the index directory once")
  }

  test("a manifest replaced out of band with equal length and mtime is read fresh") {
    val root = checkpointDir("commitlog-stale")
    val store = new ParquetUpsertStore(root, numBuckets = 4)
    val keys = (1 to 12).map(i => s"k$i")
    store.applyBatch(env(keys.map(k => (k, "old", "INSERT", 1L))), 0L)
    store.applyBatch(env(keys.map(k => (k, "new", "UPDATE", 2L))), 1L)
    def values = store.snapshot(spark, "t")
      .select(col("row_key"), try_element_at(col("values"), lit("val")))
      .as[(String, String)].collect().toMap
    assert(values == keys.map(_ -> "new").toMap)

    // Remap one bucket of manifest-1 back to batch 0's snapshot: the
    // same byte length (`snap-1` → `snap-0`), the same mtime — the
    // shape of another process's replace-commit landing within the
    // filesystem's mtime granularity.
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new Path(s"$root/t/manifest-1")
    val before = fs.getFileStatus(manifest)
    val text = {
      val in = fs.open(manifest)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val b = ParquetUpsertStore.bucketOf("k1", 4)
    assert(text.contains(s"\n$b\tsnap-1\n"))
    val remapped = text.replace(s"\n$b\tsnap-1\n", s"\n$b\tsnap-0\n")
    val out = fs.create(manifest, true)
    try out.write(remapped.getBytes("UTF-8")) finally out.close()
    fs.setTimes(manifest, before.getModificationTime, -1)
    val after = fs.getFileStatus(manifest)
    assert(after.getLen == before.getLen &&
      after.getModificationTime == before.getModificationTime)

    val inB = keys.filter(k => ParquetUpsertStore.bucketOf(k, 4) == b).toSet
    assert(values == keys.map(k => k -> (if (inB(k)) "old" else "new")).toMap,
      "the same store handle served a stale manifest parse")
  }
}
