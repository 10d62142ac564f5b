package perfbench

import scala.collection.mutable

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

object Stats {
  /** Linear-interpolated quantile of unsorted values (0 when empty). */
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

  /** The highest percentile that keeps at least ten samples above it,
    * capped at p99 and floored at the median. */
  def tailQ(n: Int): Double = math.max(0.5, math.min(0.99, 1.0 - 10.0 / math.max(n, 1)))
}

/** What one run reports: the result line's counters and its metrics. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
  }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}
