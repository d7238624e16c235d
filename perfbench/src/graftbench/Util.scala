package graftbench

/** Percentiles, as Python's `statistics.quantiles(..., method='inclusive')`
  * and numpy's default interpolate them. */
object Stats {
  def quantile(xs: Seq[Double], p: Double): Double =
    weightedQuantile(xs.map(_ -> 1L), p)

  /** Quantile of a multiset given as (value, count) pairs. */
  def weightedQuantile(xs: Seq[(Double, Long)], p: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    if (s.isEmpty) return Double.NaN
    val n = s.map(_._2).sum
    val rank = p * (n - 1)
    def at(i: Long): Double = {
      var cum = 0L
      s.find { case (_, w) => cum += w; cum > i }.get._1
    }
    val lo = math.floor(rank).toLong
    val frac = rank - lo
    if (frac == 0.0) at(lo) else at(lo) * (1 - frac) + at(lo + 1) * frac
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A minimal JSON writer: maps, sequences, strings, numbers, booleans. */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(v, sb); sb.toString }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(x, sb)
    case s: String => str(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else num(d))
    case f: Float => write(f.toDouble, sb)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(k.toString, sb); sb += ':'; write(x, sb)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; write(x, sb) }
      sb += ']'
    case other => str(other.toString, sb)
  }

  /** Every digit of the measurement; whole numbers without a fraction. */
  private def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  private def str(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
