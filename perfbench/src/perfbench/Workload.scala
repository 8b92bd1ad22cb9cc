package perfbench

import org.apache.spark.sql.SparkSession

/** What one op reports besides its timing: whether its output check passed,
  * the input lines it processed and the rows its read returned. */
final case class Done(ok: Boolean, lines: Long = 0L, rows: Long = 0L)

/** One op as the client saw it. `latencyNs` excludes the time spent in its
  * output check; `span` is the op's root span when traced, else -1. */
final case class Outcome(kind: String, ok: Boolean, latencyNs: Long,
                         lines: Long, rows: Long, span: Int)

/** A workload: seeded inputs, a closed-loop op sequence, and a model of the
  * expected outputs that every op is checked against. */
trait Workload {
  /** Generates the inputs under `dir` (and builds any fixture); returns a
    * digest of everything generated. */
  def setup(spark: SparkSession, dir: String): String
  /** Ops run once, checked, before any timing. */
  def warmupKinds: Seq[String]
  /** The next op of the seeded sequence. */
  def nextKind(): String
  /** Whether the ops so far end a round of the sequence; a window closes
    * only at a round's end, so its mix of op kinds does not depend on
    * where the deadline fell. */
  def roundEnd: Boolean = true
  def run(kind: String): Done
  /** Op kinds whose medians make up `op_p50_ms`. */
  def latencyKinds: Seq[String]
  /** The workload's own end-to-end figures, printed beside the result. */
  def report(ops: Seq[Outcome], wallS: Double): Seq[(String, Double, String)]
  /** Storage counts of the table the workload writes, measured untimed. */
  def storage(): Map[String, Double] = Map.empty
  /** Called after a failed op, so the next op starts from a known state. */
  def recover(): Unit = ()
  /** Called before each timed window. */
  def startWindow(): Unit = ()
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
