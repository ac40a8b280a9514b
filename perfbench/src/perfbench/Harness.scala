package perfbench

import scala.collection.mutable

/** Op accounting shared by every workload: each timed op or correctness
  * gate is attempted once; an unexpected exception, a missing expected
  * refusal or a failed gate counts it as failed. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** Runs a timed op; returns its wall seconds, or None when it threw. */
  def op(what: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch { case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${msg(e)}"); None }
  }

  /** An op that must be refused with an exception of type `E` whose
    * message contains `needle`; returns its wall seconds. */
  def refusal[E <: Exception](what: String, needle: String)(body: => Unit)(
      implicit ct: scala.reflect.ClassTag[E]): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try { body; fail(s"$what: expected refusal did not happen"); None }
    catch {
      case ct(e) if msg(e).contains(needle) => Some((System.nanoTime() - t0) / 1e9)
      case e: Exception => fail(s"$what: wrong refusal ${e.getClass.getSimpleName}: ${msg(e)}"); None
    }
  }

  /** A correctness gate. A gate that throws fails as well. */
  def check(what: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch { case e: Exception => fail(s"$what: ${msg(e)}"); return }
    if (!ok) fail(what)
  }

  private def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples: every op of this kind failed")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** A named metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One workload: input generation (repeated; `setup_s` is the session
  * start plus the median generation), then the measured phase. */
trait Workload {
  /** Generates the inputs and checks them against the generator spec. */
  def generate(): Unit
  /** The measured phase; its open-ended part runs until `deadlineNs`. */
  def run(deadlineNs: Long): Unit
  /** The workload's own end-to-end metrics, by their per-workload names. */
  def named: Seq[Metric]
  /** The contract metrics every workload reports, minus `setup_s`. */
  def common: Seq[Metric]
  /** Tracer-only per-layer metrics the workload can compute. */
  def layerExtras(tr: Tracer): Seq[Metric]
  /** Human-readable lines printed after the run. */
  def report(tr: Option[Tracer]): Seq[String] = Nil
}
