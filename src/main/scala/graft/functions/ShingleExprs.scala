package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the shingle-hash pipeline (guide
  * §1.2 step 2 / §4.1: no interpreted expressions in the hot path).
  *
  * [[ShingleHashSeqExpr]] replaces the interpreted HOF chain
  * `transform(shingles(tokens(text), n), portableHash)` — per position:
  * a `sequence` element, a `slice` array copy, a `concat_ws` string
  * allocation, and an interpreted lambda invocation — with one pass
  * that hashes each token once and combines per shingle with modular
  * arithmetic. BIT-PARITY CONTRACT (TextFunctionsSpec pins it against
  * the retained HOF form): the polynomial hash is a homomorphism —
  * hash(s1 ++ s2) = (hash(s1) * 31^len(s2) + hash(s2)) mod M exactly,
  * because per-step and deferred reduction mod M are congruent and
  * every intermediate stays below 2^62 (h, P, H < M = 2^31-1). The
  * separator and null-token handling replicate `concat_ws("_", ...)`:
  * null tokens are skipped WITH their separator, empty tokens keep
  * theirs.
  *
  * [[WinnowSelectExpr]] replaces the window-min selection
  * `array_distinct(transform(sequence(1, greatest(size-w+1, 1)),
  * i => array_min(slice(hs, i, w))))` — O(len·w) interpreted slice
  * allocations — with the same O(len·w) arithmetic on a primitive
  * array (no allocations, no lambdas), keeping array_distinct's
  * first-occurrence order.
  *
  * Null semantics shared by both (and pinned in the spec): a NULL
  * input column yields an EMPTY array, never NULL — exactly what the
  * HOF forms produce through `when(size(x) >= n, ...).otherwise(empty)`
  * (size(NULL) is NULL, and a NULL `when` condition falls through to
  * `otherwise`). Hence `nullable = false` and a custom null branch in
  * both eval and codegen instead of nullSafeEval.
  */
case class ShingleHashSeqExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_hash_seq requires ARRAY<STRING> input, got ${other.sql}")
    }
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) ShingleExprs.emptyLongArray()
    else ShingleExprs.shingleHashSeq(v.asInstanceOf[ArrayData], n)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = ${c.isNull}
        ? graft.functions.ShingleExprs.emptyLongArray()
        : graft.functions.ShingleExprs.shingleHashSeq(${c.value}, $n);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): ShingleHashSeqExpr =
    copy(child = newChild)
  override def prettyName: String = "shingle_hash_seq"
}

/** Window-min fingerprint selection over a position-ordered hash
  * sequence — the native form of [[TextFunctions.winnowSelect]]'s HOF
  * chain; see [[ShingleHashSeqExpr]]'s scaladoc for the shared
  * null-to-empty contract. Null ELEMENTS (possible only when the input
  * type says `containsNull`) are skipped exactly as the HOF's
  * `array_min` skips them: a window holding only nulls selects NULL. */
case class WinnowSelectExpr(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, s"winnow window must be >= 1, got $w")
  private def elemNulls: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = elemNulls)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"winnow_select requires ARRAY<BIGINT> input, got ${other.sql}")
    }
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) ShingleExprs.emptyLongArray()
    else ShingleExprs.winnowSelect(v.asInstanceOf[ArrayData], w, elemNulls)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = ${c.isNull}
        ? graft.functions.ShingleExprs.emptyLongArray()
        : graft.functions.ShingleExprs.winnowSelect(${c.value}, $w, $elemNulls);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): WinnowSelectExpr =
    copy(child = newChild)
  override def prettyName: String = "winnow_select"
}

object ShingleExprs {
  final val Mod = 2147483647L

  private val Empty: ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array.emptyLongArray)

  def emptyLongArray(): ArrayData = Empty

  /** Position-ordered shingle hashes (NOT distinct — the ordered
    * sequence winnowing needs; compose with array_distinct for the set
    * form). Hashes each token once into (H = hash, P = 31^codepoints
    * mod M), then combines per shingle: h ← (h * P_t + H_t) mod M with
    * a '_' (codepoint 95) step between non-null tokens. */
  def shingleHashSeq(toks: ArrayData, n: Int): ArrayData = {
    val sz = toks.numElements()
    if (sz < n) return Empty
    val h = new Array[Long](sz)
    val p = new Array[Long](sz)
    val nul = new Array[Boolean](sz)
    var j = 0
    while (j < sz) {
      if (toks.isNullAt(j)) nul(j) = true
      else {
        val s = toks.getUTF8String(j)
        var hh = 0L
        var pp = 1L
        val nBytes = s.numBytes()
        if (s.numChars() == nBytes) {
          val bytes = s.getBytes
          var i = 0
          while (i < nBytes) {
            hh = (hh * 31 + (bytes(i) & 0xff)) % Mod
            pp = (pp * 31) % Mod
            i += 1
          }
        } else {
          val it = s.toString.codePoints().iterator()
          while (it.hasNext) {
            hh = (hh * 31 + it.next()) % Mod
            pp = (pp * 31) % Mod
          }
        }
        h(j) = hh
        p(j) = pp
      }
      j += 1
    }
    val m = sz - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var first = true
      var k = i
      val end = i + n
      while (k < end) {
        if (!nul(k)) {
          if (!first) acc = (acc * 31 + 95) % Mod // '_' separator
          acc = (acc * p(k) + h(k)) % Mod
          first = false
        }
        k += 1
      }
      out(i) = acc
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Distinct window minima in first-occurrence order — array_distinct
    * ∘ per-window array_min, allocation-free. With `containsNull`, null
    * elements are skipped and an all-null window selects NULL (kept
    * once, at its first occurrence), as array_min and array_distinct
    * do. */
  def winnowSelect(hs: ArrayData, w: Int, containsNull: Boolean): ArrayData = {
    val sz = hs.numElements()
    if (sz < 1) return Empty
    val m = math.max(sz - (w - 1), 1)
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new Array[Long](m)
    var outN = 0
    var nullAt = -1
    var i = 0
    while (i < m) {
      var min = java.lang.Long.MAX_VALUE
      var any = false
      var k = i
      val end = math.min(i + w, sz)
      while (k < end) {
        if (!containsNull || !hs.isNullAt(k)) {
          val v = hs.getLong(k)
          if (v < min) min = v
          any = true
        }
        k += 1
      }
      if (!any) { if (nullAt < 0) { nullAt = outN; outN += 1 } }
      else if (seen.add(min)) { out(outN) = min; outN += 1 }
      i += 1
    }
    if (nullAt < 0)
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(java.util.Arrays.copyOf(out, outN))
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate[Any](outN)(j => if (j == nullAt) null else out(j)))
  }
}
