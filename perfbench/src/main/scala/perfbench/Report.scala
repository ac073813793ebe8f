package perfbench

import scala.collection.mutable

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]); 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Outcome of one benchmark run: metrics by name with their unit, and the
  * output checks made. */
final class Report {
  final case class Metric(value: Double, unit: String)
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = Metric(value, unit)

  /** Record one checked operation; `problems` empty means it passed. */
  def check(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) failures += s"$what: ${problems.mkString("; ")}"
  }

  def failed: Int = failures.size
  def correct: Boolean = failures.isEmpty && attempted > 0

  /** The JSON result; a metric a failed run did not reach reads 0. */
  def resultLine(names: Seq[(String, String)]): String = {
    val ms = names.map { case (n, unit) =>
      val m = metrics.getOrElse(n, Metric(0.0, unit))
      s"${Json.str(n)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}"
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }
}
