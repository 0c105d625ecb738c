package graft.perfbench

/** How one operation (a series load or a query) ended. */
sealed abstract class Outcome(val label: String)

object Outcome {
  /** Completed; its time is a latency sample. */
  case object Ok extends Outcome("ok")
  /** Refused by the quality gate, as the input demanded. Not a failure, and
    * not a latency sample: it did not do the work of a loaded series.
    */
  case object Rejected extends Outcome("rejected")
  /** Threw, or its output was wrong. Never timed. */
  case object Failed extends Outcome("failed")
}

/** One finished operation. `latencyS` and `obs` are set only for `Ok`. */
final case class OpResult(kind: String, key: String, outcome: Outcome,
                          latencyS: Option[Double], obs: Long, error: Option[String])

object Ops {
  /** Runs one operation. The body returns its outcome and the observations
    * it delivered; a throw becomes `Failed` with no time and no observations.
    */
  def run(kind: String, key: String)(body: => (Outcome, Long)): OpResult = {
    val t0 = System.nanoTime()
    try {
      val (outcome, obs) = body
      val secs = (System.nanoTime() - t0) / 1e9
      outcome match {
        case Outcome.Ok => OpResult(kind, key, outcome, Some(secs), obs, None)
        case _ => OpResult(kind, key, outcome, None, 0L, None)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        OpResult(kind, key, Outcome.Failed, None, 0L, Some(e.toString.take(500)))
    }
  }

  /** `p`-quantile (0..1) of `xs` by linear interpolation, as numpy's default. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}
