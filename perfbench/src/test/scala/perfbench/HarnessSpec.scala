package perfbench

import java.nio.file.Files

import org.apache.spark.perfbench.SparkShim
import org.scalatest.funsuite.AnyFunSuite

/** The harness's own arithmetic and log parsing. Run from `perfbench/`
  * with `sbt test`. */
class HarnessSpec extends AnyFunSuite {

  test("median: odd count takes the middle, even count the mean of two") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("tail: the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    // rank 90 of 100: samples 91..100 lie beyond it
    assert(t.value == 90.0 && t.percentile == 90.0 && t.n == 100 && t.beyond == 10)
    val t2 = Stats.tail((1 to 1000).map(_.toDouble).reverse)
    assert(t2.value == 990.0 && t2.percentile == 99.0)
    assert(Stats.tail((1 to 25).map(_.toDouble)).value == 15.0)
  }

  test("tail: ten samples or fewer fall back to the maximum, flagged") {
    val t = Stats.tail(Seq(5.0, 9.0, 1.0))
    assert(t.value == 9.0 && t.percentile == 100.0 && t.beyond == 0 && t.n == 3)
    assert(Stats.tail((1 to 10).map(_.toDouble)).beyond == 0)
    assert(Stats.tail((1 to 11).map(_.toDouble)).value == 1.0)
  }

  test("source log: entries map file names to batch ids, other lines skipped") {
    val lines = Seq("v1",
      """{"path":"file:///w/src/f-00000.jsonl","timestamp":1,"batchId":0}""",
      """{"path":"file:///w/src/f-00001.jsonl","timestamp":2,"batchId":3}""",
      "")
    assert(SourceLog.parse(lines) ==
      Seq("f-00000.jsonl" -> 0L, "f-00001.jsonl" -> 3L))
  }

  test("source log: plain and compacted log files are both read") {
    val ckpt = Files.createTempDirectory("pb-ckpt").toFile
    val dir = new java.io.File(ckpt, "sources/0")
    dir.mkdirs()
    def write(name: String, entries: (String, Int)*): Unit =
      Files.write(new java.io.File(dir, name).toPath,
        ("v1" +: entries.map { case (f, b) =>
          s"""{"path":"file:///s/$f","timestamp":0,"batchId":$b}""" })
          .mkString("\n").getBytes("UTF-8"))
    write("9.compact", "a" -> 0, "b" -> 4, "c" -> 9)
    write("10", "d" -> 10, "e" -> 10)
    write(".10.crc")
    assert(SourceLog.fileToBatch(ckpt.getPath) ==
      Map("a" -> 0L, "b" -> 4L, "c" -> 9L, "d" -> 10L, "e" -> 10L))
  }

  private def job(group: String, desc: String, start: Long, end: Long) =
    SparkShim.Job(Some(group), Some(desc), start, end, inputBytes = 10,
      shuffleBytes = 2, spillBytes = 0, taskCpuNs = 5)

  test("span job time is the union of its jobs, clipped to the span") {
    val s = Span("x", startMs = 1000L, endMs = 5000L, jobs = Seq(
      job("g", "", 1100L, 1600L), job("g", "", 1500L, 2000L),
      job("g", "", 3000L, 3500L), job("g", "", 4800L, 6000L)))
    // 1100..2000 + 3000..3500 + 4800..5000
    assert(math.abs(s.jobS - 1.6) < 1e-9)
    assert(math.abs(s.driverGapS - 2.4) < 1e-9)
    assert(s.jobs.size == 4 && s.inputBytes == 40 && s.shuffleBytes == 8)
  }

  test("spans own their job group's jobs, and a batch its stream's batch") {
    val sp = new Spans
    sp.batch("run-1", 7L, 100L, 200L)
    val jobs = Seq(
      job("run-1", "id = q, runId = run-1, batch = 7", 110L, 150L),
      job("run-1", "id = q, runId = run-1, batch = 70", 160L, 170L),
      job("run-2", "id = q, runId = run-2, batch = 7", 120L, 130L),
      job("other", "batch = 7", 120L, 130L))
    val got = sp.finished(jobs)("streaming.batch")
    assert(got.size == 1 && got.head.jobs == jobs.take(1))
    assert(Spans.batchOf("x, batch = 12") == Some(12L) && Spans.batchOf("x").isEmpty)
  }
}
