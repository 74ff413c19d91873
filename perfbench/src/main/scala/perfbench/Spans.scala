package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.SparkShim.Job

/** One span: a timed call into a layer, or one stream micro-batch,
  * with the Spark jobs attributed to it. */
final case class Span(name: String, startMs: Long, endMs: Long, jobs: Seq[Job]) {
  def wallS: Double = (endMs - startMs) / 1000.0

  /** Busy time: the union of this span's job intervals, clipped to
    * the span. */
  def jobS: Double = {
    val iv = jobs.map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total / 1000.0
  }

  def driverGapS: Double = math.max(0.0, wallS - jobS)
  def inputBytes: Long = jobs.map(_.inputBytes).sum
  def shuffleBytes: Long = jobs.map(_.shuffleBytes).sum
  def spillBytes: Long = jobs.map(_.spillBytes).sum
}

/** The spans of a traced run. A call on the benchmark's threads runs
  * under its own job group, `pb:<name>#<n>`; a stream micro-batch is
  * recorded from its progress report, and its jobs are those Spark
  * files under the stream's run id with `batch = <id>` in their
  * description. Jobs are read from Spark's status store once, when the
  * run reports ([[finished]]). */
final class Spans {
  import Spans.Open

  private val recorded = new ConcurrentLinkedQueue[Open]()
  private val seq = new AtomicLong(0)

  /** Runs `body` as one span named `name` on this thread. */
  def run[T](sc: SparkContext, name: String)(body: => T): T = {
    val group = s"pb:$name#${seq.incrementAndGet()}"
    val start = System.currentTimeMillis()
    sc.setJobGroup(group, name)
    try body
    finally {
      sc.clearJobGroup()
      recorded.add(Open(name, _.group.contains(group), start,
        System.currentTimeMillis()))
    }
  }

  /** Records a stream micro-batch from its progress report. */
  def batch(runId: String, batchId: Long, startMs: Long, endMs: Long): Unit =
    recorded.add(Open("streaming.batch",
      j => j.group.contains(runId) && j.description.flatMap(Spans.batchOf).contains(batchId),
      startMs, endMs))

  /** The spans of each name, with their jobs out of `jobs`. */
  def finished(jobs: Seq[Job]): Map[String, Seq[Span]] =
    recorded.asScala.toSeq.map(o => Span(o.name, o.startMs, o.endMs, jobs.filter(o.owns)))
      .groupBy(_.name)
}

object Spans {
  private final case class Open(name: String, owns: Job => Boolean,
      startMs: Long, endMs: Long)

  private val BatchOf = "batch = (\\d+)".r

  /** The micro-batch id in a stream job's description. */
  def batchOf(description: String): Option[Long] =
    BatchOf.findFirstMatchIn(description).map(_.group(1).toLong)
}
