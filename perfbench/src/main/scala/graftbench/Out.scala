package graftbench

import scala.collection.mutable

/** Minimal JSON rendering and order statistics for the harness. */
object Out {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  /** Render nested Maps, Seqs, Strings, numbers and booleans. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(kv: _*)

  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest tail percentile (p99, p95, p90, p75) that leaves at
    * least ten samples above it. */
  def supportedPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90, 75).find(p => n * (100 - p) / 100.0 >= 10)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
