package perfbench

import java.io.File

/** Reads a file-source checkpoint's source log, the record of which
  * input files each micro-batch consumed. Each log file (`<batch>` or
  * `<batch>.compact`) holds a version line and one JSON entry per
  * file: `{"path":"file:/...","timestamp":...,"batchId":N}`. A
  * compact file repeats every entry up to its batch. */
object SourceLog {

  private val PathField = "\"path\":\"([^\"]*)\"".r
  private val BatchField = "\"batchId\":(\\d+)".r

  /** (file name, batch id) for each entry line; other lines skipped. */
  def parse(lines: Seq[String]): Seq[(String, Long)] =
    lines.flatMap { l =>
      for {
        p <- PathField.findFirstMatchIn(l)
        b <- BatchField.findFirstMatchIn(l)
      } yield (p.group(1).split('/').last, b.group(1).toLong)
    }

  /** File name → batch id over every log file under
    * `<checkpoint>/sources/0`. */
  def fileToBatch(checkpoint: String): Map[String, Long] = {
    val dir = new File(checkpoint, "sources/0")
    val files = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isFile && !f.getName.startsWith("."))
    files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try parse(src.getLines().toList) finally src.close()
    }.toMap
  }
}
