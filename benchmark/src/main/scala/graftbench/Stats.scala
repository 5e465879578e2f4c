package graftbench

/** Order statistics and a minimal JSON writer (the benchmark has no JSON
  * dependency of its own). */
object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private val Ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail: the highest ladder percentile that still has at least ten
    * samples beyond it, as (percentile, value, samples beyond). With fewer
    * than 20 samples no percentile above the median qualifies and the
    * tail is the median itself, reported as p50 with its real count. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    val p = Ladder.find(p => n - math.ceil(p / 100 * n) >= 10).getOrElse(50.0)
    (p, quantile(xs, p / 100), n - math.ceil(p / 100 * n).toInt)
  }

  // --------------------------------------------------------------- JSON

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator).toSeq
      .foldLeft(scala.collection.immutable.ListMap.empty[String, Any])(_ + _))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
