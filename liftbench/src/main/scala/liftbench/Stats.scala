package liftbench

/** Order statistics and a minimal JSON writer. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The value at the highest percentile with at least ten samples beyond
    * it, but never below the 90th: with fewer than 100 samples that rule
    * falls below p90 (to the median or under it at 20 samples or fewer),
    * so the interpolated p90 is reported instead. Returns (value,
    * percentile, n). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    val q = math.max(0.9, 1.0 - 10.0 / math.max(1, n))
    (quantile(xs, q), 100.0 * q, n)
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double             => d.toString
    case f: Float              => apply(f.toDouble)
    case n: Number             => n.toString
    case o: Option[_]          => o.map(apply).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(String.valueOf(k)) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]       => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_]          => xs.map(apply).mkString("[", ",", "]")
    case other                 => quote(String.valueOf(other))
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}
