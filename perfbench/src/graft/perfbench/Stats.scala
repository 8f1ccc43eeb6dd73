package graft.perfbench

import java.util.Locale

/** Summary statistics and the result line. Every number is printed with
  * `Locale.ROOT` and all its digits, so the line parses under any JVM
  * locale and no timing is rounded into a repeating value. */
object Stats {

  /** Samples that must lie strictly beyond a percentile before it is
    * reported: with fewer, the tail is one or two ops, not a percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Nearest-rank percentile `p` (0 < p < 100), or None when fewer than
    * [[MinBeyond]] samples lie beyond it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile $p out of (0, 100)")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    if (s.isEmpty || s.length - rank < MinBeyond) None else Some(s(rank - 1))
  }

  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"non-finite metric value $x")
    java.math.BigDecimal.valueOf(x).stripTrailingZeros.toPlainString
  }

  def fmt(pattern: String, args: Any*): String =
    String.format(Locale.ROOT, pattern, args.map(_.asInstanceOf[AnyRef]): _*)

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= fmt("\\u%04x", c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }

  final case class Metric(name: String, value: Double, unit: String)

  /** The contract line: exactly correct, attempted, failed and metrics. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[Metric]): String = {
    require(attempted >= 1, "a run attempts at least one op")
    val ms = metrics.map(m =>
      s"${quote(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${quote(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** A flat JSON object of already-rendered values (the trace record). */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${quote(k)}: $v" }.mkString("{", ", ", "}")
}
