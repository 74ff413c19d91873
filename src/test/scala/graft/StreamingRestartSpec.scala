package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.model.EventAdapter
import graft.sources.{SnapshotEventStore, Tables}
import graft.streaming.StreamingIngest

/** Restart-from-checkpoint: the ingest pipeline must resume exactly
  * once — files processed before a stop are not re-ingested by a new
  * query on the same checkpoint, and new files are picked up. */
class StreamingRestartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("file-source ingest resumes from checkpoint without duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("restart_src_").toString
    val out = Files.createTempDirectory("restart_out_").toString
    val ckpt = Files.createTempDirectory("restart_ckpt_").toString

    val ke = EventAdapter.keycloakEvents(Tables.events(spark, TestSpark.sf))
      .orderBy(col("time"), col("id"))
    val lines = StreamingIngest.toJsonLines(ke).collect().toSeq
    val (batch1, batch2) = lines.splitAt(400)

    def writeFile(name: String, ls: Seq[String]): Unit =
      Files.write(Paths.get(src, name),
        ls.mkString("\n").getBytes("UTF-8"))

    def runOnce(): Unit = {
      val stream = spark.readStream.textFile(src)
      val q = StreamingIngest.toSnapshotEventStore(
        StreamingIngest.fromJsonLines(stream), out, ckpt)
      try q.processAllAvailable() finally q.stop()
    }

    writeFile("part-000.json", batch1)
    runOnce()
    assert(SnapshotEventStore.read(spark, out).count() == batch1.size)

    // restart with a NEW query on the same checkpoint + a new file
    writeFile("part-001.json", batch2)
    runOnce()
    val landed = SnapshotEventStore.read(spark, out)
    assert(landed.count() == lines.size, "no duplicates, nothing lost")
    assert(landed.select(col("id")).distinct().count() == lines.size)
  }
}
