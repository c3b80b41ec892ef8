package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** One reported metric. */
final case class Metric(name: String, value: Double, unit: String)

/** The benchmark's output: human-readable metric lines, then one JSON
  * object as the last stdout line. */
object Report {

  def line(m: Metric): String = s"${m.name} ${fmt(m.value)} ${m.unit}"

  /** Full-precision JSON number; non-finite values (a ratio with an
    * empty base) are reported as 0 so the line always parses. */
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** `{"correct": …, "attempted": …, "failed": …, "metrics": {name:
    * {"value": …, "unit": …}}}` — metric names are unique; a repeated
    * name is a benchmark bug and fails loudly. */
  def finalLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric]): String = {
    require(attempted >= 1, "attempted must be at least 1")
    val dup = metrics.groupBy(_.name).collect { case (n, ms) if ms.size > 1 => n }
    require(dup.isEmpty, s"duplicate metric names: ${dup.mkString(", ")}")
    val ms = metrics.map(m =>
      s"${str(m.name)}: {\"value\": ${fmt(m.value)}, \"unit\": ${str(m.unit)}}")
    s"{\"correct\": $correct, \"attempted\": $attempted, " +
      s"\"failed\": $failed, \"metrics\": {${ms.mkString(", ")}}}"
  }
}
