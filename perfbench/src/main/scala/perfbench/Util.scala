package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result and span files, with the Jackson that Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  /** Sample median. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Harrell–Davis estimate of quantile `q`: a Beta-weighted average of
    * all order statistics. With the few ops a run of a slow workload
    * holds, it is far steadier than the one or two middle samples, and
    * it equals the sample quantile's expectation for a smooth
    * distribution. Samples may carry weights (Akinshin's weighted form,
    * with the Kish effective sample size); by default all weigh the same. */
  def quantile(xs: Seq[Double], q: Double, weights: Seq[Double] = Nil): Double = {
    val (s, w) = xs.zip(if (weights.isEmpty) xs.map(_ => 1.0) else weights).sortBy(_._1).unzip
    if (s.size == 1) s.head
    else {
      val total = w.sum
      val n = total * total / w.map(x => x * x).sum
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        q * (n + 1), (1 - q) * (n + 1))
      var acc = 0.0
      s.zip(w).map { case (x, wi) =>
        val lo = beta.cumulativeProbability(acc / total)
        acc += wi
        x * (beta.cumulativeProbability(math.min(acc / total, 1.0)) - lo)
      }.sum
    }
  }

  /** The quantile `op_tail_ms` and the named tails report, the same in
    * every run so that runs of different lengths compare. */
  val TailQ = 0.9

  def tail(xs: Seq[Double], weights: Seq[Double] = Nil): Double = quantile(xs, TailQ, weights)
}
