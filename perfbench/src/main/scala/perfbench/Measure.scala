package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

final case class Metric(value: Double, unit: String)

/** Failure accounting: every call the loop attempts and every output check
  * is counted; a thrown call or a failed check is recorded with its
  * message. A failed call returns None, so it never yields a latency or
  * throughput sample. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]

  def call[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => fail(what, e); None }
  }

  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; errors += s"check $what: $detail" }
  }

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
  }

  def successRate: Double = if (attempted == 0) 0.0 else 1.0 - failed.toDouble / attempted
}

object Stats {
  def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); with ten samples or fewer, the maximum. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n <= 10) (100.0, xs.max)
    else {
      val p = math.floor(100.0 * (n - 10) / n)
      (p, quantile(xs, p / 100.0))
    }
  }
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Map[String, Metric]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
