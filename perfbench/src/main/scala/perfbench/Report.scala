package perfbench

import scala.collection.mutable

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Full precision, locale-independent; non-finite values become 0. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Least-squares slope of y against x. */
  def slope(pts: collection.Seq[(Double, Double)]): Double =
    if (pts.size < 2) 0.0
    else {
      val mx = pts.map(_._1).sum / pts.size
      val my = pts.map(_._2).sum / pts.size
      val den = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (den == 0) 0.0 else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / den
    }
}

/** What one run hands back: operation counts, failures, and metrics
  * by name with unit and sample count. */
final class Report(val workload: String) {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  private val info = mutable.LinkedHashMap.empty[String, String]

  /** Count one checked operation; `ok` false records a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }

  def put(name: String, value: Double, unit: String, n: Int = 1): Unit =
    metrics(name) = (value, unit, n)

  def note(key: String, value: String): Unit = info(key) = value

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u, n)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)},\"n\":$n}"
    }.mkString("{", ",", "}")
    val inf = info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val fs = failures.take(50).map(Json.str).mkString("[", ",", "]")
    s"""{"workload":${Json.str(workload)},"attempted":$attempted,"failed":${failures.size},"failures":$fs,"metrics":$ms,"info":$inf}"""
  }
}
