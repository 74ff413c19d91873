package perfbench

import scala.collection.mutable

/** What one run reports. `metrics` holds every figure that has a
  * unit; the launcher keeps the ones `BENCHMARK.json` declares in the
  * result line and moves the rest to the detail line. `detail` holds
  * everything else (phase times, samples, percentiles, check
  * verdicts). A run is correct when nothing went into `problems`. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  private val born = System.nanoTime()

  /** Marks the end of a run phase, in seconds since the run began. */
  def mark(phase: String): Unit =
    note(s"t_$phase", (System.nanoTime() - born) / 1e9)

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def note(name: String, value: Any): Unit = detail(name) = value

  /** Counts one attempted operation; a failed one also counts as failed. */
  def op(ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) failed += 1
  }

  /** A correctness check outside the timed window: a failure fails
    * the run and counts as a failed operation. */
  def check(name: String)(ok: => Boolean): Unit = {
    val passed =
      try ok
      catch { case e: Exception => problems += s"$name: $e"; false }
    if (!passed && !problems.exists(_.startsWith(s"$name:")))
      problems += s"$name: failed"
    op(passed)
    detail(s"check.$name") = passed
  }

  def correct: Boolean = problems.isEmpty
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  /** The contract line: correct, attempted, failed, metrics. */
  def result(r: Report): String = {
    val ms = r.metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    s"""{"correct": ${r.correct}, "attempted": ${math.max(1L, r.attempted)}, """ +
      s""""failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }
}
