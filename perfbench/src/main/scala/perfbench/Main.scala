package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <events|events-wide> --seed <n>
  *   --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <file>
  *   [--master local[k]]
  * }}}
  *
  * Writes the detail line and the result line to `--out`; the
  * launcher (`run.py`) prints them. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, work: File, out: File, master: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val cores = Runtime.getRuntime.availableProcessors()
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--data"), new File(need("--work")),
      new File(need("--out")), m.getOrElse("--master", s"local[$cores]"))
  }

  def session(a: Args): SparkSession = {
    val cores = a.master.stripPrefix("local[").stripSuffix("]")
    val s = SparkSession.builder()
      .master(a.master)
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      // the job counts are read from the status store; keep every job
      .config("spark.ui.retainedJobs", "100000")
      .config("spark.ui.retainedStages", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val report = new Report
    val spark = session(a)
    report.mark("session")
    report.note("workload", a.workload)
    report.note("seed", a.seed)
    report.note("master", a.master)
    report.note("seconds", a.seconds)
    report.note("heap_max_mb",
      Runtime.getRuntime.maxMemory() / (1024.0 * 1024.0))
    val w = new Workloads(spark, a, report, if (a.trace) Some(new Spans) else None)
    try a.workload match {
      case "events" => w.events(days = 2)
      case "events-wide" => w.events(days = 4)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        report.problems += s"run: $e"
        report.op(false)
        e.printStackTrace()
    }
    Heap.checkpoint()
    report.metric("heap_live_peak_mb", Heap.peakMb, "MB")
    report.note("problems", report.problems.toSeq)
    Files.write(a.out.toPath, (Json.value(report.detail) + "\n" +
      Json.result(report) + "\n").getBytes(UTF_8))
    spark.stop()
  }
}

/** Live heap: the old generation's occupancy right after a full
  * collection, forced at each phase boundary of a run, so the figure
  * does not depend on when the collector happened to run. */
object Heap {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
  @volatile private var peak = 0L

  def checkpoint(): Unit = {
    System.gc()
    val used = oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    synchronized { peak = math.max(peak, used) }
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

