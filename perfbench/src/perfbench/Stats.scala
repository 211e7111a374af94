package perfbench

import java.util.Locale

/** Percentiles as the benchmark reports them: the median, and the highest
  * percentile of a fixed ladder that still has at least ten samples beyond
  * it (the median when there are too few samples for any tail).
  */
object Stats {

  final case class Pct(value: Double, pct: Double, n: Int)

  private val Ladder = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  def p50(xs: Seq[Double]): Pct = Pct(median(xs), 50.0, xs.size)

  def tail(xs: Seq[Double]): Pct =
    Ladder.find(p => xs.size * (100.0 - p) / 100.0 >= 10.0) match {
      case Some(p) => Pct(percentile(xs, p), p, xs.size)
      case None => p50(xs)
    }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** Minimal JSON writer for the result and trace lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => Stats.fmt(d)
    case o: Option[_] => o.map(value).getOrElse("null")
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case p: Stats.Pct => obj(Seq("value" -> p.value, "percentile" -> p.pct, "samples" -> p.n))
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
