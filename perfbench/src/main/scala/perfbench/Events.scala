package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{AdminEventQuery, EventQuery, GraftEventStoreProvider}
import graft.model.{EventAdapter, KeycloakAdminEvent, KeycloakEvent}
import graft.sources.{SnapshotEventStore, Tables}
import graft.streaming.StreamingIngest

/** The Keycloak side's inputs and store, derived from the source
  * `events` table and the workload seed.
  *
  * The source is the table's first `days` days (the store's file
  * count, and with it every store verb's cost, grows with the hours
  * it spans), put in time order (time, then id). The earliest
  * [[BulkShare]] of it is bulk-loaded; the rest is the stream's tail,
  * cut into files of [[FileEvents]] JSON lines. Each file after the
  * first also redelivers a seeded [[RedeliverShare]] of the previous
  * file's lines, the at-least-once source the upsert mode exists for. */
final class Events(spark: SparkSession, dataDir: String, seed: Long,
    days: Int) {
  import Events._
  import spark.implicits._

  /** The table's first `days` days. */
  private val raw: DataFrame = {
    val ev = Tables.events(spark, dataDir)
    val t0 = ev.agg(min(col("ts"))).head().getLong(0) / 1000000L
    ev.filter(col("ts") < (t0 - t0 % DayMs + days * DayMs) * 1000000L)
  }

  private val source: DataFrame = EventAdapter.keycloakEvents(raw)
  private val adminSource: DataFrame = EventAdapter.keycloakAdminEvents(raw)

  /** (time, id, JSON line) of every source row, in time order: one
    * pass through the adapter and the wire encoder. */
  private val lines: IndexedSeq[(Long, String, String)] =
    StreamingIngest.toJsonLines(source).collect()
      .map(l => (TimeField.findFirstMatchIn(l).get.group(1).toLong,
        IdField.findFirstMatchIn(l).get.group(1), l))
      .sortBy(x => (x._1, x._2)).toIndexedSeq

  val nSource: Int = lines.size
  val nBulk: Int = (nSource * BulkShare).toInt

  /** Source rows strictly before the `i`-th in time order. */
  private def before(df: DataFrame, i: Int): DataFrame =
    if (i >= lines.size) df
    else {
      val (t, id, _) = lines(i)
      df.filter(col("time") < t || (col("time") === t && col("id") < id))
    }

  val bulk: DataFrame = before(source, nBulk)
  val bulkAdmin: DataFrame = before(adminSource, nBulk)

  /** The store's expected content once the first `nFiles` tail files
    * have landed: the bulk rows plus those files' events. */
  def expected(nFiles: Int): DataFrame =
    before(source, nBulk + nFiles * FileEvents)
  def expectedAdmin: DataFrame = bulkAdmin

  /** The tail cut into files of JSON lines, each file after the first
    * carrying redelivered lines of the one before. */
  val files: IndexedSeq[Seq[String]] = {
    val rnd = new Random(seed * 31 + 7)
    val chunks = lines.drop(nBulk).map(_._3).grouped(FileEvents)
      .filter(_.size == FileEvents).toIndexedSeq
    chunks.indices.map { i =>
      val redelivered =
        if (i == 0) Nil
        else chunks(i - 1).filter(_ => rnd.nextDouble() < RedeliverShare)
      redelivered ++ chunks(i)
    }
  }

  /** Bulk-loads the store. */
  def load(p: GraftEventStoreProvider): Unit = {
    p.onEvents(bulk.as[KeycloakEvent])
    p.onAdminEvents(bulkAdmin.as[KeycloakAdminEvent])
  }

  /** Writes the tail files under `staged`. */
  def stage(staged: File): Unit = {
    staged.mkdirs()
    files.zipWithIndex.foreach { case (content, i) =>
      Files.write(new File(staged, fileName(i)).toPath,
        content.mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }

  /** The text stream the provider's ingest consumes, one file per
    * trigger. */
  def stream(src: File) =
    spark.readStream.option("maxFilesPerTrigger", 1L).text(src.getPath).as[String]

  /** The serve mix: the four shapes in turn from the `first`-th,
    * each with seeded parameters, so every run serves the same mix of
    * shapes. */
  def queries(clientSeed: Long, first: Int = 0): Iterator[Query] = {
    val rnd = new Random(clientSeed)
    val (t0, t1) = (lines.head._1, lines(nBulk - 1)._1)
    val bulkDays = math.max(1, ((t1 - t0) / DayMs).toInt)
    Iterator.from(first).map(i => (i % 4) match {
      case 0 =>
        val types = rnd.shuffle(EventTypes).take(2 + rnd.nextInt(2))
        val realm = s"realm-${rnd.nextInt(3)}"
        val client = s"client-${rnd.nextInt(7)}"
        Query("a5", s"types=${types.mkString("+")} $realm $client",
          EventQueryShape(q => q.types(types: _*).realm(realm)
            .client(client).orderByAscTime))
      case 1 =>
        val day = t0 - t0 % DayMs + rnd.nextInt(bulkDays) * DayMs
        val off = rnd.nextInt(50)
        Query("a6", s"day=$day off=$off", EventQueryShape(q =>
          q.fromDate(day).toDate(day + DayMs - 1).orderByDescTime
            .firstResult(off).maxResults(100)))
      case 2 =>
        val u = rnd.nextInt(NUsers)
        Query("user", s"user-$u", EventQueryShape(q =>
          q.user(s"user-$u").orderByDescTime.maxResults(50)))
      case _ =>
        val ops = rnd.shuffle(AdminOps).take(1 + rnd.nextInt(2))
        val rt = if (rnd.nextBoolean()) "USER" else "CLIENT"
        val realm = s"realm-${rnd.nextInt(3)}"
        Query("a7", s"ops=${ops.mkString("+")} $rt $realm",
          AdminQueryShape(q => q.operation(ops: _*).resourceType(rt)
            .authRealm(realm).orderByAscTime.maxResults(500)))
    })
  }

  /** A query's answer from the store equals the same query over the
    * adapter's frame of what the store should hold. */
  def agrees(p: GraftEventStoreProvider, q: Query, nFiles: Int,
      jobGroup: String): Boolean = {
    val sc = spark.sparkContext
    sc.setJobGroup(jobGroup, q.kind)
    val got = try q.shape match {
      case EventQueryShape(f) => f(p.createQuery()).toDF.collect()
      case AdminQueryShape(f) => f(p.createAdminQuery()).toDF.collect()
    } finally sc.clearJobGroup()
    val want = q.shape match {
      case EventQueryShape(f) => f(EventQuery(expected(nFiles))).toDF
      case AdminQueryShape(f) => f(AdminEventQuery(expectedAdmin)).toDF
    }
    val names = want.columns.toSeq
    got.toSeq.map(r => names.map(r.getAs[Any])) ==
      want.collect().toSeq.map(r => names.map(r.getAs[Any]))
  }

  /** Exactly once: the store holds the expected rows, each once, with
    * every column as the source has it. */
  def exactlyOnce(p: GraftEventStoreProvider, nFiles: Int): Boolean = {
    val want = expected(nFiles)
    val cols = want.columns.map(col).toSeq
    val got = p.events.select(cols: _*)
    val n = got.count()
    n == want.count() && got.exceptAll(want.select(cols: _*)).isEmpty
  }

  /** Data files on disk under the store. */
  def dataFiles(path: String): Set[String] = {
    def walk(f: File): Seq[File] =
      if (f.isFile) Seq(f) else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new File(path)).map(_.getPath).filter(_.endsWith(".parquet")).toSet
  }

  /** Bytes on disk under the store ÷ landed rows. */
  def bytesPerRow(p: GraftEventStoreProvider, eventsPath: String): Double =
    du(new File(eventsPath)).toDouble / p.events.count()

  /** The store's manifest counts, as the ops card reads them. */
  def storeStats(path: String): Map[String, Double] = {
    val r = SnapshotEventStore.snapshotStoreStats(spark, path, 1).head()
    Map(
      "live_files" -> r.getAs[Long]("n_live_files").toDouble,
      "grace_files" -> r.getAs[Long]("n_grace_files").toDouble,
      "orphan_files" -> r.getAs[Long]("n_orphan_files").toDouble,
      "snapshots" -> r.getAs[Long]("n_snapshots").toDouble,
      "fragmented_partitions" ->
        r.getAs[Long]("n_fragmented_partitions").toDouble,
      "store_bytes" -> du(new File(path)).toDouble)
  }
}

object Events {
  val BulkShare = 0.8
  private val TimeField = ",\"time\":(-?\\d+)".r
  private val IdField = "^\\{\"id\":\"([^\"]*)\"".r
  val FileEvents = 200
  val RedeliverShare = 0.05
  val DayMs = 86400000L
  val NUsers = 1500
  val EventTypes = Seq("SIGNUP", "CLICK", "ERROR", "VIEW", "PURCHASE")
  val AdminOps = Seq("CREATE", "UPDATE", "DELETE", "ACTION")

  sealed trait Shape
  final case class EventQueryShape(f: EventQuery => EventQuery) extends Shape
  final case class AdminQueryShape(f: AdminEventQuery => AdminEventQuery)
    extends Shape
  final case class Query(kind: String, params: String, shape: Shape)

  def fileName(i: Int): String = f"f-$i%05d.jsonl"

  /** Moves a staged file into the watched directory in one rename, so
    * the source never lists a half-written file. */
  def release(staged: File, src: File, i: Int): Unit =
    Files.move(new File(staged, fileName(i)).toPath,
      new File(src, fileName(i)).toPath, StandardCopyOption.ATOMIC_MOVE)

  def du(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
}
