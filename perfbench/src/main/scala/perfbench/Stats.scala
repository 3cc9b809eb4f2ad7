package perfbench

import scala.collection.mutable

/** Sample statistics and the result line. */
object Stats {
  /** Linear-interpolated percentile (`q` in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** VmHWM of this process in MB (peak resident set). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Ordered metric map plus operation accounting for the result line. */
final class Report {
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count one operation; `ok = false` counts it failed. */
  def op(ok: Boolean, what: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] FAILED: $what") }
  }

  def json: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}
