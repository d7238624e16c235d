package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** The native PortableHashExpr must agree exactly with the pure-builtins
  * higher-order formulation (and therefore with the DuckDB oracle). */
class TextFunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("native portable hash == HOF portable hash on fixture texts") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val diff = docs.select(
      TextFunctions.portableHash($"text").as("native"),
      TextFunctions.portableHashHof($"text").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff == 0)
    // and on edge cases incl. empty + non-ascii (codepoint semantics)
    val edge = Seq("", "a", "hello world", "café", "你好").toDF("t")
    val rows = edge.select(TextFunctions.portableHash($"t").as("n"),
      TextFunctions.portableHashHof($"t").as("h")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("native dot product == HOF dot product on fixture embeddings") {
    import graft.functions.VectorFunctions
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(100)
    // The parity claim is scoped to equal-length inputs (DotProductExpr
    // scaladoc) — assert the fixture satisfies it.
    assert(emb.select(size($"embedding")).distinct().count() == 1)
    val pairs = emb.select($"vec_id".as("ia"), $"embedding".as("a"))
      .crossJoin(emb.select($"vec_id".as("ib"), $"embedding".as("b")))
      .filter($"ia" < $"ib" && $"ib" < 20)
    val diff = pairs.select(
      VectorFunctions.dotProduct($"a", $"b").as("native"),
      VectorFunctions.dotProductHof($"a", $"b").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff == 0)
  }

  test("generalized dot product == HOF fold for float×double and double×double") {
    import graft.functions.VectorFunctions
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(50)
    assert(emb.select(size($"embedding")).distinct().count() == 1)
    // float corpus × derived double vector (the centroid/rescoring shape)
    // and double × double — bit-exact equality against the interpreted
    // HOF fold, the contract every hot-path swap relies on.
    val withD = emb.select($"vec_id", $"embedding",
      transform($"embedding", x => x.cast("double") * 1.0000001).as("dv"))
    val pairs = withD.select($"vec_id".as("ia"), $"embedding".as("fa"), $"dv".as("da"))
      .crossJoin(withD.select($"vec_id".as("ib"), $"embedding".as("fb"), $"dv".as("db")))
      .filter($"ia" < $"ib" && $"ib" < 15)
    val diff = pairs.select(
      VectorFunctions.dotProductAny($"fa", $"db").as("n_fd"),
      VectorFunctions.dotProductHof($"fa", $"db").as("h_fd"),
      VectorFunctions.dotProductAny($"da", $"db").as("n_dd"),
      VectorFunctions.dotProductHof($"da", $"db").as("h_dd"),
      VectorFunctions.cosineAny($"fa", $"db").as("c_n"),
      VectorFunctions.cosineHof($"fa", $"db").as("c_h"))
      .filter($"n_fd" =!= $"h_fd" || $"n_dd" =!= $"h_dd" || $"c_n" =!= $"c_h")
      .count()
    assert(diff == 0)
  }

  test("native shingle hash seq/set and winnow == HOF chains, bit-equal") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // fixture texts: sequence, distinct set, and window-min selection
    val diff = docs.select(
      TextFunctions.shingleHashSeq(TextFunctions.tokens($"text"), 3).as("ns"),
      TextFunctions.shingleHashSeqHof(TextFunctions.tokens($"text"), 3).as("hs"),
      TextFunctions.shingleHashes($"text", 3).as("nd"),
      TextFunctions.shingleHashesHof($"text", 3).as("hd"),
      TextFunctions.winnowSelect(
        TextFunctions.shingleHashSeqHof(TextFunctions.tokens($"text"), 3), 4).as("nw"),
      TextFunctions.winnowSelectHof(
        TextFunctions.shingleHashSeqHof(TextFunctions.tokens($"text"), 3), 4).as("hw"))
      .filter($"ns" =!= $"hs" || $"nd" =!= $"hd" || $"nw" =!= $"hw")
      .count()
    assert(diff == 0)
    // edge cases the scaladoc contracts name: NULL text (→ empty array,
    // never null), short/empty docs, repeated separators (empty tokens
    // keep their '_'), tokens containing '_', non-ASCII codepoints, and
    // docs shorter than the winnow window
    val edge = Seq("", "a", "a b", "a b c d e a b c d",
      "x  y", "a_b c _ d", "café né 你好 a café né", null)
      .toDF("t")
    val rows = edge.select(
      TextFunctions.shingleHashSeq(TextFunctions.tokens($"t"), 2).as("ns"),
      TextFunctions.shingleHashSeqHof(TextFunctions.tokens($"t"), 2).as("hs"),
      TextFunctions.shingleHashes($"t", 2).as("nd"),
      TextFunctions.shingleHashesHof($"t", 2).as("hd"),
      TextFunctions.winnowSelect(
        TextFunctions.shingleHashSeqHof(TextFunctions.tokens($"t"), 2), 3).as("nw"),
      TextFunctions.winnowSelectHof(
        TextFunctions.shingleHashSeqHof(TextFunctions.tokens($"t"), 2), 3).as("hw"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"seq diverges: $r")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), s"set diverges: $r")
      assert(r.getSeq[Long](4) == r.getSeq[Long](5), s"winnow diverges: $r")
      assert(!r.isNullAt(0) && !r.isNullAt(4), s"native must never be null: $r")
    }
    // null-bearing hash arrays (an ARRAY<BIGINT> that admits nulls):
    // null elements are skipped as array_min skips them, and a window
    // of nulls only selects NULL in both forms
    val withNulls = Seq(Seq(Some(3L), None, Some(1L), Some(5L)),
      Seq(None, None, Some(7L)), Seq(None),
      Seq(Some(4L), None, None, None, Some(2L), Some(2L))).toDF("hs")
    val winnowed = withNulls.select(
      TextFunctions.winnowSelect($"hs", 2).as("nw"),
      TextFunctions.winnowSelectHof($"hs", 2).as("hw")).collect()
    winnowed.foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1), s"winnow diverges on nulls: $r")
    }
    assert(winnowed.map(_.getSeq[Any](0)).toSeq == Seq(Seq(3L, 1L),
      Seq(null, 7L), Seq(null), Seq(4L, null, 2L)))
  }

  test("native minhash signature == HOF signature on fixture shingle sets") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val hs = docs.select($"doc_id",
      TextFunctions.shingleHashes($"text", 3).as("h")).repartition($"doc_id")
    // The parity claim is scoped to non-empty hash sets (MinHashSigExpr
    // scaladoc: empty → 0-sentinel vs HOF NULL) — assert the fixture
    // satisfies it.
    assert(hs.filter(size($"h") === 0).count() == 0)
    val diff = hs.select(
      TextFunctions.minhashSignature($"h", 16).as("native"),
      TextFunctions.minhashSignatureHof($"h", 16).as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff == 0)
  }

  test("native set jaccard == builtins jaccard on fixture pairs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"doc_id" < 40)
    val hs = docs.select($"doc_id".as("id"),
      TextFunctions.shingleHashes($"text", 3).as("h")).repartition($"id")
    val pairs = hs.as("a").join(hs.as("b"), $"a.id" < $"b.id")
    val diff = pairs.select(
      TextFunctions.jaccard($"a.h", $"b.h").as("native"),
      TextFunctions.jaccardHof($"a.h", $"b.h").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff == 0)
  }

  test("merge-only jaccard on pre-sorted sets == sorting jaccard") {
    import org.apache.spark.sql.functions.sort_array
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"doc_id" < 40)
    val hs = docs.select($"doc_id".as("id"),
      sort_array(TextFunctions.shingleHashes($"text", 3)).as("h"))
      .repartition($"id")
    val pairs = hs.as("a").join(hs.as("b"), $"a.id" < $"b.id")
    val diff = pairs.select(
      TextFunctions.jaccardSorted($"a.h", $"b.h").as("sorted"),
      TextFunctions.jaccard($"a.h", $"b.h").as("general"))
      .filter($"sorted" =!= $"general").count()
    assert(diff == 0)
  }

  test("native sorted-overlap == builtins array_intersect size") {
    import org.apache.spark.sql.functions.{array_intersect, size, sort_array}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"doc_id" < 40)
    val hs = docs.select($"doc_id".as("id"),
      sort_array(TextFunctions.shingleHashes($"text", 3)).as("h"))
      .repartition($"id")
    val pairs = hs.as("a").join(hs.as("b"), $"a.id" < $"b.id")
    val diff = pairs.select(
      TextFunctions.overlapSorted($"a.h", $"b.h").as("native"),
      size(array_intersect($"a.h", $"b.h")).as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff == 0)
  }
}
