package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** Full-precision number; non-finite values become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One timed operation: its kind, wall time and round (-1: set-up). */
final case class Op(kind: String, ms: Double, round: Int)

/**
 * A run's tally: timed operations (kind, wall ms, round), attempted and
 * failed counts, and the named figures the run reports. A failed check
 * prints its first differing row and the run goes on.
 */
final class Report(val workload: String) {
  val ops = ArrayBuffer.empty[Op]
  val roundMs = ArrayBuffer.empty[Double]
  /** Operator outputs written for the oracle check: (query, round). */
  val outputs = ArrayBuffer.empty[(String, Int)]
  val figures = LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0
  var failed = 0

  /** Run `n` whole rounds of the same operations. The count is fixed per
    * run, so every run stops at the same point of the process's warm-up. */
  def rounds(n: Int)(round: Int => Unit): Unit =
    (0 until n).foreach { r =>
      val before = ops.length
      round(r)
      roundMs += ops.drop(before).map(_.ms).sum
    }

  /** Time `body` as one operation of `kind` (`round` -1: a set-up
    * operation, checked and counted but outside the rounds); returns its
    * value. */
  def timed[T](kind: String, round: Int)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = body
    ops += Op(kind, (System.nanoTime() - t0) / 1e6, round)
    out
  }

  /** Record the outcome of checking an operation's output: `None` is a
    * pass, `Some(diff)` a failure described by its first differing row. */
  def check(what: String, outcome: Option[String]): Unit = outcome.foreach { d =>
    failed += 1
    println(s"[perfbench] FAILED $what: $d")
  }

  /** An operation that threw: counted as failed, the run continues. */
  def crashed(what: String, e: Throwable): Unit = {
    failed += 1
    println(s"[perfbench] FAILED $what: ${e.getClass.getSimpleName}: ${e.getMessage}")
  }

  def figure(name: String, value: Double, unit: String): Unit =
    figures(name) = (value, unit)

  /** Wall times of `kind`: its set-up operations, and its operations in
    * every round after the warm-up round when there is more than one. */
  def msOf(kind: String): Seq[Double] = {
    val first = if (roundMs.length > 1) 1 else 0
    ops.filter(o => o.kind == kind && (o.round < 0 || o.round >= first)).map(_.ms).toSeq
  }
}
