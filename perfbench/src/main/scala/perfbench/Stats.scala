package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Order statistics over the measured units. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p99/p90/p50 with at least ten samples beyond it.
    * Fewer than twenty samples support no tail; the median stands in (the
    * maximum of a handful of units moves by more than any bound). */
  def tail(xs: Seq[Double]): (String, Double) =
    Seq("p99" -> 0.99, "p90" -> 0.90)
      .find { case (_, q) => xs.size * (1 - q) >= 10 }
      .map { case (label, q) => label -> quantile(xs, q) }
      .getOrElse((if (xs.size >= 20) "p50" else s"p50, only ${xs.size} units") -> median(xs))

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) { covered += curEnd - curStart; curStart = s; curEnd = e }
      else curEnd = math.max(curEnd, e)
    }
    covered + (curEnd - curStart)
  }
}

/** The report lines as JSON, written by Jackson: Scala maps, sequences
  * and options render as objects, arrays and values; a `ListMap` keeps
  * its key order. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(value: Any): String = mapper.writeValueAsString(value)
}
