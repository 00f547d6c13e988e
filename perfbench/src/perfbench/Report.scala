package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** What one benchmark run prints: operations attempted and failed, output
  * checks, and named metrics with units. */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def metric(name: String, value: Double, unit: String): Unit = {
    check(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += what; Console.err.println(s"CHECK FAILED: $what") }

  def correct: Boolean = failures.isEmpty

  /** One operation: a throw counts as failed and yields None, so its time is
    * never scored. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body) catch {
      case NonFatal(e) =>
        failed += 1
        Console.err.println(s"OPERATION FAILED: $what: $e")
        e.printStackTrace()
        None
    }
  }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Report {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}
