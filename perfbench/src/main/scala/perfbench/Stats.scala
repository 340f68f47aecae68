package perfbench

/** Summary statistics and a minimal JSON writer for the run record. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** First and third quartile, by the same rule as Python's
    * `statistics.quantiles(xs, n=4)` (method "exclusive"). */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val ld = s.size
    if (ld == 0) (Double.NaN, Double.NaN)
    else if (ld == 1) (s.head, s.head)
    else {
      val m = ld + 1
      def q(i: Int): Double = {
        val j = math.min(math.max(i * m / 4, 1), ld - 1)
        val delta = i * m - j * 4
        (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
      }
      (q(1), q(3))
    }
  }

  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1,
      math.max(0, math.ceil(p * sorted.size).toInt - 1)))

  def summary(xs: Seq[Double]): Map[String, Any] = {
    val (q1, q3) = quartiles(xs)
    Map("median" -> median(xs), "q1" -> q1, "q3" -> q3, "n" -> xs.size,
      "values" -> xs)
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
