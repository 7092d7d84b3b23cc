package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Order statistics used by every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: the value, its percentile rank and the sample count. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest percentile that has at least ten samples beyond it: with
    * `n` samples sorted ascending, index `n - 11` (0-based) is the highest
    * one with ten strictly higher ranks. Fewer than eleven samples support
    * no such percentile; the median is reported then, at rank 50.
    */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n >= 11) {
      val i = n - 11
      Tail(s(i), 100.0 * (i + 1) / n, n)
    } else Tail(median(xs), 50.0, n)
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }
}

/** Counts every timed operation and every correctness check, and which
  * layer each failure belongs to. A thrown operation and a check whose
  * output is wrong both count as failed.
  */
final class Ledger {
  var attempted = 0
  var failed = 0
  val failedByLayer: mutable.Map[String, Int] = mutable.LinkedHashMap.empty

  private def fail(layer: String, what: String, why: String): Unit = synchronized {
    failed += 1
    failedByLayer(layer) = failedByLayer.getOrElse(layer, 0) + 1
    System.err.println(s"[perfbench] FAILED $layer/$what: $why")
  }

  /** Run one operation; a throw is recorded as a failure and yields None. */
  def attempt[A](layer: String, what: String)(body: => A): Option[A] = {
    synchronized { attempted += 1 }
    try Some(body)
    catch { case NonFatal(e) => fail(layer, what, e.toString.take(400)); None }
  }

  /** A correctness check: false, or a throw while computing it, fails. */
  def check(layer: String, what: String)(ok: => Boolean): Boolean = {
    synchronized { attempted += 1 }
    val passed = try ok catch { case NonFatal(e) => System.err.println(e); false }
    if (!passed) fail(layer, what, "output differs from the expected value")
    passed
  }

  def errorRate: Double = synchronized { if (attempted == 0) 0.0 else failed.toDouble / attempted }
}

/** Metrics of one run, in the order they are printed. */
final class Report {
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  /** Lines printed before the result, e.g. the state-rows series. */
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def json(correct: Boolean, ledger: Ledger, names: Seq[String]): String = {
    val missing = names.filterNot(metrics.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val body = names.map { n =>
      val (v, u) = metrics(n)
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${ledger.attempted}, "failed": ${ledger.failed}, "metrics": {$body}}"""
  }
}
