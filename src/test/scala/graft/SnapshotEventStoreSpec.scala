package graft

import java.nio.file.Files

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotEventStore

/** The event store's snapshot discipline — manifest-defined reads
  * racing maintenance that rewrites the physical directories. The
  * legacy [[graft.sources.EventStore]] swap verbs expose a path-based
  * reader to the rename window (silently missing a partition, or
  * scanning just-renamed paths); a snapshot reader resolves one
  * manifest and scans only immutable, grace-retained files — so a
  * read loop concurrent with compaction + retention sweeps must
  * NEVER error and never see a state that was not a published
  * snapshot. */
class SnapshotEventStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Base = 1704067200000L // 2024-01-01T00:00:00Z

  /** `n` events per hour over `hours` hours, realms round-robin. */
  private def events(hours: Int, perHour: Int,
      idOffset: Long = 0L): DataFrame = {
    import spark.implicits._
    (0 until hours).flatMap { h =>
      (0 until perHour).map { i =>
        val id = idOffset + h.toLong * perHour + i
        (id.toString, "LOGIN", s"realm-${i % 3}", s"user-$i",
          Base + h * 3600000L + i * 1000L)
      }
    }.toDF("id", "eventtype", "realmid", "userid", "time")
  }

  /** The relation a snapshot read scans. */
  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  private def freshDir(): String = {
    val dir = Files.createTempDirectory("graft_snap_").toString
    new java.io.File(dir).mkdirs()
    dir
  }

  test("init + append + read: snapshot reads agree with what landed") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(4, 10), dir)
    assert(SnapshotEventStore.read(spark, dir).count() == 40L)
    SnapshotEventStore.append(events(4, 10, idOffset = 1000L), dir)
    val back = SnapshotEventStore.read(spark, dir)
    assert(back.count() == 80L)
    // dt/hour stay partition columns, and time predicates still prune
    assert(back.columns.contains("dt") && back.columns.contains("hour"))
    val pruned = back.filter(col("hour") === 2)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters"), "pruning lost through the manifest")
    assert(pruned.count() == 20L)
  }

  test("compact is invisible to results; replaced files retire one cycle later") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    (0 until 3).foreach(k =>
      SnapshotEventStore.append(events(2, 5, idOffset = 100L * k), dir))
    val before = SnapshotEventStore.read(spark, dir)
      .groupBy("hour").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // a reader pinned BEFORE the compaction…
    val pinned = SnapshotEventStore.read(spark, dir)
    assert(SnapshotEventStore.compact(spark, dir,
      maxFilesPerPartition = 1) == 2)
    // …still scans its snapshot's files (grace-retained on disk)
    assert(pinned.count() == 30L)
    val after = SnapshotEventStore.read(spark, dir)
      .groupBy("hour").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(after == before, s"compaction changed results: $before -> $after")
    // a second maintenance cycle retires the replaced files: the
    // directory shrinks to the manifest's view
    SnapshotEventStore.compact(spark, dir, maxFilesPerPartition = 1)
    SnapshotEventStore.retire(spark, dir, keepSnapshots = 0)
    val live = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_"))
      .flatMap(_.listFiles).flatMap(_.listFiles)
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(live == 2, s"retire must reclaim replaced files, saw $live")
    assert(SnapshotEventStore.read(spark, dir).count() == 30L)
  }

  test("clearExpired: whole partitions leave metadata-only, boundary rewrites") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(4, 10), dir)
    // cutoff mid hour-1: hour 0 drops whole, hour 1 keeps survivors
    val cut = Base + 3600000L + 5000L
    assert(SnapshotEventStore.clearExpired(spark, dir, cut) == 1)
    val back = SnapshotEventStore.read(spark, dir)
    assert(back.count() == 25L) // 5 survivors in hour 1 + 2 full hours
    assert(back.agg(min(col("time"))).head().getLong(0) >= cut)
    // metadata-only: the dropped hour's directory is STILL on disk
    // (one-cycle grace) even though no snapshot read can see it
    assert(new java.io.File(s"$dir/dt=2024-01-01/hour=0").exists(),
      "whole-partition drop must be metadata-only until retire")
    // a no-op sweep publishes nothing
    assert(SnapshotEventStore.clearExpired(spark, dir, cut) == 0)
  }

  test("clearRealm purges one realm only; null realms survive") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    val withNull = events(2, 9)
      .withColumn("realmid", when(col("userid") === "user-0",
        lit(null: String)).otherwise(col("realmid")))
    SnapshotEventStore.append(withNull, dir)
    val touched = SnapshotEventStore.clearRealm(spark, dir, "realm-1")
    assert(touched == 2)
    val back = SnapshotEventStore.read(spark, dir)
    assert(back.filter(col("realmid") === "realm-1").count() == 0)
    assert(back.filter(col("realmid").isNull).count() == 2L,
      "null-realm rows must survive a realm purge")
    assert(back.count() == 12L) // 18 - 6 realm-1 rows
  }

  test("THE window: a read loop racing compact + retention sweeps never errors") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(6, 8), dir)
    SnapshotEventStore.append(events(6, 8, idOffset = 500L), dir)

    // legal totals: any published snapshot's count — appends done, so
    // maintenance preserves (compact) or cuts to a sweep state
    val legal = Set(96L, // pre-sweep
      96L - 16L, // after sweep 1 (hour 0 gone: 2 appends × 8)
      96L - 32L) // after sweep 2
    @volatile var readerErr: Option[Throwable] = None
    @volatile var stop = false
    var reads = 0
    val reader = new Thread(() => {
      try {
        while (!stop) {
          val c = SnapshotEventStore.read(spark, dir).count()
          assert(legal.contains(c), s"illegal observed state: $c")
          reads += 1
        }
      } catch { case e: Throwable => readerErr = Some(e) }
    })
    reader.start()
    try {
      // back-to-back maintenance outruns the default one-cycle grace,
      // so size keepSnapshots to the burst — the production knob for
      // stores whose queries can span several maintenance cycles
      SnapshotEventStore.compact(spark, dir, maxFilesPerPartition = 1,
        keepSnapshots = 4)
      SnapshotEventStore.clearExpired(spark, dir, Base + 3600000L,
        keepSnapshots = 4)
      SnapshotEventStore.compact(spark, dir, maxFilesPerPartition = 1,
        keepSnapshots = 4)
      SnapshotEventStore.clearExpired(spark, dir, Base + 2 * 3600000L,
        keepSnapshots = 4)
    } finally { stop = true; reader.join(60000) }
    assert(readerErr.isEmpty,
      s"reader failed during maintenance: $readerErr")
    assert(reads >= 1, "reader loop never completed a read")
    assert(SnapshotEventStore.read(spark, dir).count() == 64L)
  }

  test("appendBatch is exactly-once: a replayed batch id lands nothing, even across maintenance") {
    val dir = freshDir()
    // auto-seals: the streaming sink is the store's first writer
    SnapshotEventStore.appendBatch(events(2, 5), dir, batchId = 0L)
    assert(SnapshotEventStore.read(spark, dir).count() == 10L)
    // the REPLAY: same batch id redelivered (crash after commit) —
    // the manifest's atomic #batch watermark covers it, nothing lands
    SnapshotEventStore.appendBatch(events(2, 5), dir, batchId = 0L)
    assert(SnapshotEventStore.read(spark, dir).count() == 10L,
      "replayed batch must land NOTHING — the exactly-once claim")
    // a maintenance publish in between must CARRY the watermark
    // forward (losing it would re-open the replay window)
    SnapshotEventStore.compact(spark, dir, maxFilesPerPartition = 1)
    SnapshotEventStore.appendBatch(events(2, 5), dir, batchId = 0L)
    assert(SnapshotEventStore.read(spark, dir).count() == 10L,
      "watermark lost across maintenance: replay landed rows")
    // the NEXT batch lands normally
    SnapshotEventStore.appendBatch(events(2, 5, idOffset = 100L), dir,
      batchId = 1L)
    assert(SnapshotEventStore.read(spark, dir).count() == 20L)
    // a DIFFERENT stream's restarted ids are NOT replays: a new
    // pipeline (fresh checkpoint → new identity) starting at batch 0
    // must land, not be silently discarded by the other stream's
    // watermark — the data-loss shape an un-keyed watermark has
    SnapshotEventStore.appendBatch(events(2, 5, idOffset = 200L), dir,
      batchId = 0L, streamId = "pipeline-b")
    assert(SnapshotEventStore.read(spark, dir).count() == 30L,
      "a new stream's batch 0 must land")
    // and each stream's own watermark still dedups its own replays
    SnapshotEventStore.appendBatch(events(2, 5, idOffset = 200L), dir,
      batchId = 0L, streamId = "pipeline-b")
    assert(SnapshotEventStore.read(spark, dir).count() == 30L)
  }

  test("upsertBatch screens under the writer lease: two writers never both land an id") {
    val dir = freshDir()
    SnapshotEventStore.append(events(1, 5), dir)
    val x = events(1, 1, idOffset = 900L)
    // writer A's id passes a gate that blocks the first time Spark
    // evaluates it, so A stops mid-batch wherever its batch is first
    // computed
    val gated = udf((id: String) => { UpsertGate.pass(); id })
      .asNondeterministic()
    @volatile var outcomeA: scala.util.Try[Long] = null
    val writerA = new Thread(() => outcomeA = scala.util.Try(
      SnapshotEventStore.upsertBatch(x.withColumn("id", gated(col("id"))),
        dir, 0L, "stream-a")))
    writerA.start()
    try {
      assert(UpsertGate.entered.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "writer A never evaluated its batch")
      // A is blocked inside its batch: B, delivering the same id from
      // another stream, must meet A's lease instead of landing X
      val busy = intercept[IllegalStateException](
        SnapshotEventStore.upsertBatch(x, dir, 0L, "stream-b"))
      assert(busy.getMessage.contains("snapUpsertBatch"), busy.getMessage)
    } finally UpsertGate.release.countDown()
    writerA.join(120000L)
    assert(outcomeA != null && outcomeA.isSuccess, s"writer A failed: $outcomeA")
    // B's retry screens against A's published snapshot
    SnapshotEventStore.upsertBatch(x, dir, 0L, "stream-b")
    val back = SnapshotEventStore.read(spark, dir)
    assert(back.filter(col("id") === "900").count() == 1L,
      "id 900 landed more than once")
    assert(back.count() == 6L)
  }

  /** Descriptions of the jobs `body` ran under job group `group`. A
    * marker job run after it is delivered to the listener after every
    * event `body` posted. */
  private def jobsOf(group: String)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add((e.properties.getProperty("spark.jobGroup.id"),
          Option(e.properties.getProperty("spark.job.description"))
            .getOrElse("")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (!started.asScala.exists(_._1 == s"$group-marker") &&
        System.currentTimeMillis() < deadline) Thread.sleep(20L)
      started.asScala.filter(_._1 == group).map(_._2).toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** Spark's parallel listing of a scan's files. */
  private def listing(description: String): Boolean =
    description.startsWith("Listing leaf files")

  /** The file count from which Spark lists a scan's files with a job. */
  private def listingThreshold: Int = spark.conf
    .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt

  test("upsertBatch job count: a covered batch id runs no Spark job, a fresh batch runs 3") {
    val dir = freshDir()
    // one file per hour, past the listing threshold
    SnapshotEventStore.append(events(listingThreshold + 8, 2).coalesce(1), dir)
    val fresh = jobsOf("graft-upsert-fresh")(SnapshotEventStore
      .upsertBatch(events(1, 3, idOffset = 10000L), dir, 0L, "s"))
    val replay = jobsOf("graft-upsert-replay")(SnapshotEventStore
      .upsertBatch(events(1, 3, idOffset = 20000L), dir, 0L, "s"))
    assert(replay.isEmpty, s"a covered batch id ran jobs: $replay")
    // the screened write's own three: the batch's and the store's id
    // shuffles and the write; the screen's scan plans from the
    // manifest, so no listing, no aggregate and no second resolve
    assert(fresh.size == 3 && !fresh.exists(listing),
      s"a fresh upsert batch ran: $fresh")
    assert(SnapshotEventStore.read(spark, dir).count() ==
      (listingThreshold + 8) * 2L + 3L)
  }

  test("compact and clearRealm scan from the manifest: no listing job past the threshold") {
    val dir = freshDir()
    val hours = listingThreshold + 8
    // two files per hour: every partition is over a cap of one
    SnapshotEventStore.append(events(hours, 2).coalesce(1), dir)
    SnapshotEventStore.append(events(hours, 2, idOffset = 100000L)
      .coalesce(1), dir)
    var compacted = 0
    val compactJobs = jobsOf("graft-compact") {
      compacted = SnapshotEventStore.compact(spark, dir,
        maxFilesPerPartition = 1)
    }
    assert(compacted == hours)
    assert(compactJobs.nonEmpty && !compactJobs.exists(listing),
      s"compact ran: $compactJobs")
    var touched = 0
    val clearJobs = jobsOf("graft-clear-realm") {
      touched = SnapshotEventStore.clearRealm(spark, dir, "realm-0")
    }
    assert(touched == hours)
    assert(clearJobs.nonEmpty && !clearJobs.exists(listing),
      s"clearRealm ran: $clearJobs")
    val back = SnapshotEventStore.read(spark, dir)
    // i = 0 is the one realm-0 row per hour per append
    assert(back.count() == hours * 2L)
    assert(back.filter(col("realmid") === "realm-0").count() == 0L)
  }

  test("a path-only manifest reads the same rows with typed dt/hour, prunes, and the next write records statuses") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.types.{DateType, IntegerType}
    val dir = freshDir()
    SnapshotEventStore.append(events(6, 5).repartition(2), dir)
    val want = SnapshotEventStore.read(spark, dir)
    val wantRows = want.collect().map(_.toString).sorted.toSeq
    val n = SnapshotEventStore.currentSnapshot(spark, dir).get
    // rewrite the live manifest as an earlier release wrote it: the
    // headers, then one store-relative path per line
    val p = new Path(dir, s"_graft_snapshots/snap_$n")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toSeq finally in.close()
    assert(lines.filterNot(_.startsWith("#")).forall(_.split('\t').length == 3),
      s"a publish writes length and modification time: $lines")
    val out = fs.create(p, true)
    try out.write(lines.map(_.split('\t')(0)).mkString("\n").getBytes("UTF-8"))
    finally out.close()

    val back = SnapshotEventStore.read(spark, dir)
    assert(back.schema == want.schema)
    assert(back.schema("dt").dataType == DateType &&
      back.schema("hour").dataType == IntegerType)
    assert(back.collect().map(_.toString).sorted.toSeq == wantRows)
    // a dt/hour predicate prunes to exactly that partition's files
    val q = back.filter(col("dt") === "2024-01-01" && col("hour") === 2)
    val scan = q.queryExecution.sparkPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    val scanned = scan.relation.location
      .listFiles(scan.partitionFilters, Nil).flatMap(_.files)
      .map(_.getPath.getName).sorted
    val inHour = SnapshotEventStore.manifestFiles(spark, dir, n)
      .filter(_.startsWith("dt=2024-01-01/hour=2/")).map(_.split('/').last)
    assert(inHour.nonEmpty && scanned == inHour.sorted,
      s"pruned scan read $scanned, the hour holds $inHour")
    assert(q.count() == 5L)

    // the next write verb's manifest carries every file's real status
    SnapshotEventStore.append(events(1, 5, idOffset = 1000L), dir)
    val next = SnapshotEventStore.currentSnapshot(spark, dir).get
    val in2 = fs.open(new Path(dir, s"_graft_snapshots/snap_$next"))
    val written = try scala.io.Source.fromInputStream(in2, "UTF-8")
      .getLines().filterNot(_.startsWith("#")).toSeq finally in2.close()
    assert(written.size == SnapshotEventStore.manifestFiles(spark, dir, next).size)
    written.foreach { l =>
      val Array(rel, len, mtime) = l.split('\t')
      val st = fs.getFileStatus(new Path(dir, rel))
      assert(len.toLong == st.getLen && mtime.toLong == st.getModificationTime, l)
    }
    assert(SnapshotEventStore.read(spark, dir).count() == 35L)
  }

  test("a fully-swept store still reads with its SCHEMA (typed empty frame)") {
    import org.apache.spark.sql.functions.col
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(2, 5), dir)
    // sweep EVERYTHING: the live manifest is empty
    SnapshotEventStore.clearExpired(spark, dir, Base + 10 * 3600000L)
    val swept = SnapshotEventStore.read(spark, dir)
    assert(swept.count() == 0L)
    // the schema survives — a dashboard's time filter must not throw
    // on a just-swept store
    assert(swept.filter(col("time") >= 0L).count() == 0L)
    assert(swept.columns.contains("realmid") &&
      swept.columns.contains("dt"))
    // and new data lands normally afterwards
    SnapshotEventStore.append(events(1, 3, idOffset = 500L), dir)
    assert(SnapshotEventStore.read(spark, dir).count() == 3L)
  }

  test("time travel reads an explicit kept snapshot; a retired one fails loudly") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir) // snap 1 (empty)
    SnapshotEventStore.append(events(2, 5), dir) // snap 2
    SnapshotEventStore.append(events(2, 5, idOffset = 100L), dir) // snap 3
    // snap 2 is within the default one-cycle grace: time travel works
    assert(SnapshotEventStore.readSnapshot(spark, dir, 2L).count() == 10L)
    assert(SnapshotEventStore.readSnapshot(spark, dir, 3L).count() == 20L)
    // retire aggressively, then the old snapshot fails loudly
    SnapshotEventStore.retire(spark, dir, keepSnapshots = 0)
    val e = intercept[IllegalArgumentException] {
      SnapshotEventStore.readSnapshot(spark, dir, 2L)
    }
    assert(e.getMessage.contains("retired") && e.getMessage.contains("3"))
  }

  test("vacuumOrphans reclaims crash leftovers without touching referenced files") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(2, 5), dir)
    // fabricate the crash: a file MOVED into a live partition dir but
    // never published (death between move and publish)
    events(1, 3, idOffset = 900L).write.mode("overwrite")
      .parquet(s"$dir/.vac_tmp")
    val orphanSrc = new java.io.File(s"$dir/.vac_tmp")
      .listFiles.filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(orphanSrc.toPath,
      new java.io.File(s"$dir/dt=2024-01-01/hour=0/orphan-vac.parquet").toPath)
    assert(SnapshotEventStore.vacuumOrphans(spark, dir) == 1,
      "exactly the planted orphan must be reclaimed")
    assert(!new java.io.File(s"$dir/dt=2024-01-01/hour=0/orphan-vac.parquet").exists())
    assert(SnapshotEventStore.read(spark, dir).count() == 10L,
      "vacuum must never touch referenced files")
    assert(SnapshotEventStore.vacuumOrphans(spark, dir) == 0)
  }

  test("snapshotStoreStats: live/grace/orphan file classes and stream watermarks counted exactly") {
    val dir = freshDir()
    SnapshotEventStore.appendBatch(events(2, 3), dir, batchId = 0L,
      streamId = "s-a")
    SnapshotEventStore.appendBatch(events(2, 3, idOffset = 100L), dir,
      batchId = 0L, streamId = "s-b")
    // compaction replaces the appended files → they become GRACE
    // files (on disk, referenced only by older snapshots)
    SnapshotEventStore.compact(spark, dir, maxFilesPerPartition = 1)
    // plant one orphan (moved-but-unpublished crash leftover)
    events(1, 1, idOffset = 900L).write.mode("overwrite")
      .parquet(s"$dir/.st_tmp")
    val src = new java.io.File(s"$dir/.st_tmp").listFiles
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(s"$dir/dt=2024-01-01/hour=0/orphan-st.parquet").toPath)
    val r = SnapshotEventStore.snapshotStoreStats(spark, dir).head()
    assert(r.getAs[Long]("n_live_files") == 2L, s"$r")     // 1/partition
    assert(r.getAs[Long]("n_grace_files") > 0L, s"$r")     // replaced
    assert(r.getAs[Long]("n_orphan_files") == 1L, s"$r")   // planted
    assert(r.getAs[Long]("n_streams") == 2L, s"$r")        // s-a, s-b
    assert(r.getAs[Long]("live_snapshot") ==
      SnapshotEventStore.currentSnapshot(spark, dir).get)
    // vacuum + retire reconcile the classes back to live-only
    SnapshotEventStore.vacuumOrphans(spark, dir)
    SnapshotEventStore.retire(spark, dir, keepSnapshots = 0)
    val r2 = SnapshotEventStore.snapshotStoreStats(spark, dir).head()
    assert(r2.getAs[Long]("n_grace_files") == 0L &&
      r2.getAs[Long]("n_orphan_files") == 0L, s"$r2")
  }

  test("evolved schema: the carried header surfaces new columns over old files") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(2, 4), dir) // pre-evolution
    SnapshotEventStore.append(
      events(2, 4, idOffset = 100L).withColumn("channel", lit("WEB")),
      dir) // evolved: adds a column
    val back = SnapshotEventStore.read(spark, dir)
    assert(back.columns.contains("channel"),
      "the evolved column must not vanish behind a sampled file schema")
    assert(back.filter(col("channel").isNull).count() == 8L,
      "pre-evolution rows surface null, the mergeSchema contract")
    assert(back.filter(col("channel") === "WEB").count() == 8L)
    // time travel reads under the SNAPSHOT'S OWN schema: the
    // pre-evolution snapshot never had the column
    val live = SnapshotEventStore.currentSnapshot(spark, dir).get
    assert(!SnapshotEventStore.readSnapshot(spark, dir, live - 1)
      .columns.contains("channel"))
    // a NARROWING append (source stopped sending the attribute) must
    // not lose the column for the files that carry it
    SnapshotEventStore.append(events(1, 2, idOffset = 200L), dir)
    val after = SnapshotEventStore.read(spark, dir)
    assert(after.columns.contains("channel"))
    assert(after.filter(col("channel") === "WEB").count() == 8L)
  }

  test("a type-conflicting append refuses BEFORE any file lands") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(
      events(1, 3).withColumn("channel", lit("WEB")), dir)
    // same column, different type: must refuse loudly at append time
    // — silently keeping the carried type would poison every later
    // read with a parquet conversion error
    val e = intercept[IllegalArgumentException] {
      SnapshotEventStore.append(
        events(1, 2, idOffset = 100L).withColumn("channel", lit(7)),
        dir)
    }
    assert(e.getMessage.contains("channel") &&
      e.getMessage.contains("type"), e.getMessage)
    // nothing landed, nothing published — the store is unchanged
    assert(SnapshotEventStore.read(spark, dir).count() == 3L)
    assert(SnapshotEventStore.snapshotStoreStats(spark, dir).head()
      .getAs[Long]("n_orphan_files") == 0L,
      "the refusal must fire before files move into the live tree")
  }

  test("manifest sizing receipt: flat-list publish + resolve stay cheap to 1e5 files") {
    // the disclosed A17 sizing constraint, MEASURED: every publish
    // rewrites the full live-file list and every resolve re-reads it.
    // The receipt (printed below, recorded in SURVEY §11m) shows the
    // driver-side cost is ms-scale through 1e5 lines — the
    // retention×compaction-bounded regime. Ceilings are deliberately
    // loose (CI-safe); the printed numbers are the data.
    val dir = freshDir()
    var live = SnapshotEventStore.liveOf(spark, dir)
    for (n <- Seq(1000, 10000, 100000)) {
      val files = (0 until n).map(i => SnapshotEventStore.Entry(
        f"dt=2024-01-01/hour=${i % 24}/part-$i%06d.parquet", 1024L,
        Base + i))
      val t0 = System.nanoTime()
      live = SnapshotEventStore.publish(spark, dir, live, files)
      val t1 = System.nanoTime()
      val got = SnapshotEventStore.manifestFiles(spark, dir, live.n)
      val t2 = System.nanoTime()
      assert(got.size == n)
      info(f"n=$n%6d publish=${(t1 - t0) / 1e6}%8.1f ms " +
        f"resolve=${(t2 - t1) / 1e6}%8.1f ms")
      assert((t1 - t0) / 1e9 < 10.0 && (t2 - t1) / 1e9 < 10.0,
        s"manifest arithmetic blew the loose ceiling at n=$n")
    }
  }

  /** Store-relative data files on disk, whatever the manifests say. */
  private def dataFiles(dir: String): Set[String] = {
    val root = new java.io.File(dir)
    root.listFiles.filter(d => d.isDirectory && d.getName.startsWith("dt="))
      .flatMap(dt => dt.listFiles.filter(_.isDirectory).flatMap(h =>
        h.listFiles.filter(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
          .map(f => s"${dt.getName}/${h.getName}/${f.getName}"))).toSet
  }

  private def snapshotNames(dir: String): Seq[String] =
    new java.io.File(s"$dir/_graft_snapshots").listFiles.map(_.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq // `.crc` sidecars

  private def plant(dir: String, name: String, lines: Seq[String]): Unit = {
    val w = new java.io.FileWriter(s"$dir/_graft_snapshots/$name")
    try w.write(lines.mkString("\n")) finally w.close()
  }

  test("one manifest per write: 20 appends leave exactly the live and the kept full manifest") {
    val dir = freshDir()
    (0 until 20).foreach(k =>
      SnapshotEventStore.append(events(1, 2, idOffset = 100L * k), dir))
    val live = SnapshotEventStore.currentSnapshot(spark, dir).get
    assert(snapshotNames(dir) == Seq(s"snap_${live - 1}", s"snap_$live"))
    assert(SnapshotEventStore.read(spark, dir).count() == 40L)
  }

  test("retire prunes only the partition directories its deletions emptied") {
    val dir = freshDir()
    // hours 0..25: all of 2024-01-01 and hours 0, 1 of 2024-01-02
    SnapshotEventStore.append(events(26, 2), dir)
    // an empty partition directory no deletion empties stays as it is
    new java.io.File(s"$dir/dt=2024-01-03/hour=5").mkdirs()
    // sweep the first day and 2024-01-02 hour 0 (metadata-only), then
    // retire the snapshots that still reference them
    assert(SnapshotEventStore.clearExpired(spark, dir,
      Base + 25 * 3600000L) == 25)
    assert(new java.io.File(s"$dir/dt=2024-01-01/hour=0").exists())
    SnapshotEventStore.retire(spark, dir, keepSnapshots = 0)
    def exists(rel: String) = new java.io.File(s"$dir/$rel").exists()
    assert(!exists("dt=2024-01-01"), "the emptied day must be pruned")
    assert(!exists("dt=2024-01-02/hour=0"), "the emptied hour must be pruned")
    assert(exists("dt=2024-01-02/hour=1"))
    assert(exists("dt=2024-01-03/hour=5"),
      "retire pruned a directory its deletions did not empty")
    assert(dataFiles(dir).forall(_.startsWith("dt=2024-01-02/hour=1/")))
    assert(SnapshotEventStore.read(spark, dir).count() == 2L)
  }

  test("legacy delta manifests: read unchanged, adopted as full manifests by the first write") {
    val dir = freshDir()
    // land three batches' files (a: hours 0-1, b: hour 0, c: hours
    // 0-2), then replace the manifests with the delta format earlier
    // releases wrote: full snap_1 = a, snapd_2 = +b, snapd_3 = +c
    // minus a's hour-0 files
    def landed(df: DataFrame): Seq[String] = {
      val before = dataFiles(dir)
      SnapshotEventStore.append(df, dir, keepSnapshots = 10)
      (dataFiles(dir) -- before).toSeq.sorted
    }
    val a = landed(events(2, 5))                     // ids 0..9
    val b = landed(events(1, 4, idOffset = 100L))    // ids 100..103
    val c = landed(events(3, 2, idOffset = 300L))    // ids 300..305
    val schema = new java.io.File(s"$dir/_graft_snapshots").listFiles
      .filter(_.getName.startsWith("snap_")).flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toList finally src.close()
      }.find(_.startsWith("#schema=")).get
    new java.io.File(s"$dir/_graft_snapshots").listFiles.foreach(_.delete())
    val aHour0 = a.filter(_.contains("/hour=0/"))
    plant(dir, "snap_1", Seq("#batch=s:0", schema) ++ a)
    plant(dir, "snapd_2", Seq("#batch=s:1", schema) ++ b.map("+" + _))
    plant(dir, "snapd_3", Seq("#batch=s:2", schema) ++ c.map("+" + _) ++
      aHour0.map("-" + _))
    def ids(df: DataFrame) =
      df.select("id").collect().map(_.getString(0).toLong).toSet
    val snap2 = (0L to 9L).toSet ++ (100L to 103L)
    val snap3 = (5L to 9L).toSet ++ (100L to 103L) ++ (300L to 305L)
    // a lease-free reader resolves the deltas before any write
    assert(ids(SnapshotEventStore.read(spark, dir)) == snap3)
    assert(ids(SnapshotEventStore.readSnapshot(spark, dir, 2L)) == snap2)
    assert(SnapshotEventStore.committedBatches(spark, dir, 3L) ==
      Map("s" -> 2L))
    // the first write adopts: no delta survives it, reads stay exact
    SnapshotEventStore.appendBatch(events(1, 2, idOffset = 900L), dir,
      batchId = 3L, streamId = "s")
    assert(!snapshotNames(dir).exists(_.startsWith("snapd_")),
      s"a delta survived the first write: ${snapshotNames(dir)}")
    val live = snap3 ++ Set(900L, 901L)
    assert(ids(SnapshotEventStore.read(spark, dir)) == live)
    assert(ids(SnapshotEventStore.readSnapshot(spark, dir, 3L)) == snap3)
    // the carried watermarks still screen replays
    SnapshotEventStore.appendBatch(events(1, 2, idOffset = 800L), dir,
      batchId = 2L, streamId = "s")
    SnapshotEventStore.appendBatch(events(1, 2, idOffset = 900L), dir,
      batchId = 3L, streamId = "s")
    assert(ids(SnapshotEventStore.read(spark, dir)) == live,
      "a replay of a carried batch id landed rows")
    // a DANGLING non-live delta (a crashed retire's leftover: its base
    // is gone) never wedges stats and is swept by the next write verb
    plant(dir, "snapd_1", Seq("+dt=2024-01-01/hour=0/ghost.parquet"))
    SnapshotEventStore.snapshotStoreStats(spark, dir).head()
    SnapshotEventStore.vacuumOrphans(spark, dir)
    assert(!snapshotNames(dir).contains("snapd_1"),
      "the dangling delta must be swept, not wedge the verb")
    assert(ids(SnapshotEventStore.read(spark, dir)) == live)
    // a dangling LIVE delta: retire and vacuum refuse, deleting nothing
    val n = SnapshotEventStore.currentSnapshot(spark, dir).get
    plant(dir, s"snapd_${n + 2}", Seq("+dt=2024-01-01/hour=0/ghost.parquet"))
    val onDisk = dataFiles(dir)
    intercept[IllegalArgumentException](
      SnapshotEventStore.retire(spark, dir, keepSnapshots = 0))
    intercept[IllegalArgumentException](
      SnapshotEventStore.vacuumOrphans(spark, dir))
    assert(dataFiles(dir) == onDisk, "a refusing verb deleted data files")
    assert(snapshotNames(dir).contains(s"snapd_${n + 2}"))
    new java.io.File(s"$dir/_graft_snapshots/snapd_${n + 2}").delete()
    assert(ids(SnapshotEventStore.read(spark, dir)) == live)
  }

  test("crash leftovers are invisible: orphan files and tmp roots never surface") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(2, 6), dir)
    // fabricate a crash: a half-landed append (tmp root) AND an
    // orphan data file moved into a live partition dir but never
    // published
    events(1, 3, idOffset = 900L).write.mode("overwrite")
      .parquet(s"$dir/.snap_append_tmp_crashed")
    val orphanSrc = new java.io.File(s"$dir/.snap_append_tmp_crashed")
      .listFiles.filter(f => f.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(orphanSrc.toPath,
      new java.io.File(s"$dir/dt=2024-01-01/hour=0/orphan-crashed.parquet").toPath)
    assert(SnapshotEventStore.read(spark, dir).count() == 12L,
      "unpublished files must be invisible to snapshot readers")
    // and the next append does not accidentally adopt them
    SnapshotEventStore.append(events(1, 2, idOffset = 950L), dir)
    assert(SnapshotEventStore.read(spark, dir).count() == 14L)
  }

  test("appendBatch auto-seal adopts a legacy store's full schema: pre-seal-only columns survive a narrower append") {
    val dir = freshDir()
    // a plain dt/hour directory, written before the store had
    // manifests, whose files carry a column ('extra') the streaming
    // batches will NOT have
    graft.sources.EventStore.withPartitionColumns(
      events(2, 4).withColumn("extra", concat(lit("x"), col("id"))))
      .write.mode("append").partitionBy("dt", "hour").parquet(dir)
    // first streaming delivery auto-seals (no explicit init) with a
    // NARROWER batch schema — the seal must derive the #schema=
    // header from the adopted files' merged footers, or the explicit
    // header read drops 'extra' silently
    SnapshotEventStore.appendBatch(events(1, 2, idOffset = 500L), dir,
      batchId = 0L)
    val back = SnapshotEventStore.read(spark, dir)
    assert(back.columns.contains("extra"),
      s"adopted legacy column vanished: ${back.columns.mkString(",")}")
    assert(back.filter(col("extra").isNotNull).count() == 8L,
      "pre-seal rows must keep their adopted-column values")
    assert(back.count() == 10L)
  }

  test("memoized read: an unchanged store serves one relation and identical rows") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(4, 10), dir)
    val a = SnapshotEventStore.read(spark, dir)
    val b = SnapshotEventStore.read(spark, dir)
    assert(relationOf(b) eq relationOf(a),
      "a second read of an unchanged store re-resolved its scan")
    def rows(df: DataFrame) = df.orderBy("id").collect().toSeq
    assert(rows(a).size == 40 && rows(b) == rows(a))
    // a time-travel read of the live snapshot shares the entry
    val live = SnapshotEventStore.currentSnapshot(spark, dir).get
    assert(relationOf(SnapshotEventStore.readSnapshot(spark, dir, live))
      eq relationOf(a))
  }

  test("memoized read: append, compact, clearExpired and clearRealm are each seen by the next read") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(4, 9), dir)
    def seen(expect: Long)(verb: => Any): Unit = {
      val before = relationOf(SnapshotEventStore.read(spark, dir))
      verb
      val after = SnapshotEventStore.read(spark, dir)
      assert(relationOf(after) ne before, "a write verb's publish was not seen")
      assert(after.count() == expect)
    }
    seen(72L)(SnapshotEventStore.append(events(4, 9, idOffset = 1000L), dir))
    seen(72L)(SnapshotEventStore.compact(spark, dir, maxFilesPerPartition = 1))
    // hour 0 leaves: 2 appends × 9 rows
    seen(54L)(SnapshotEventStore.clearExpired(spark, dir, Base + 3600000L))
    // realm-1 is 3 of every hour's 9 rows
    seen(36L)(SnapshotEventStore.clearRealm(spark, dir, "realm-1"))
  }

  test("memoized read: a store deleted and rebuilt under the same snapshot number is re-resolved") {
    val dir = freshDir()
    def build(idOffset: Long): Long = {
      SnapshotEventStore.init(spark, dir)
      SnapshotEventStore.append(events(4, 10, idOffset), dir)
      SnapshotEventStore.currentSnapshot(spark, dir).get
    }
    def ids() = SnapshotEventStore.read(spark, dir).select("id").collect()
      .map(_.getString(0).toLong).toSet
    val n = build(1000L)
    assert(ids() == (1000L until 1040L).toSet)
    // a raw delete bypasses EventStore.clearAll, so nothing drops the
    // entry: the rebuilt manifest has the old one's number and length
    // (same partitions, same-width ids) but is a new file. Sleeping
    // past a coarse filesystem clock keeps its modification time new.
    Thread.sleep(1100L)
    val root = new org.apache.hadoop.fs.Path(dir)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(root, true)
    assert(build(2000L) == n)
    assert(ids() == (2000L until 2040L).toSet,
      "a rebuilt store served the deleted store's scan")
  }

  test("memoized read: a new session resolves its own scan") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(2, 5), dir)
    val mine = relationOf(SnapshotEventStore.read(spark, dir))
    val other: SparkSession = spark.newSession()
    val theirs = relationOf(SnapshotEventStore.read(other, dir))
    assert(theirs ne mine)
    assert(theirs.sparkSession eq other)
    assert(relationOf(SnapshotEventStore.read(other, dir)) eq theirs)
    assert(relationOf(SnapshotEventStore.read(spark, dir)) eq mine,
      "one session's entry must not evict another's")
  }

  test("memoized read: two reads of one store join on id unambiguously") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(2, 10), dir)
    val reads = Seq.fill(3)(SnapshotEventStore.read(spark, dir))
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    reads.combinations(2).foreach { case Seq(a, b) =>
      assert((ids(a) & ids(b)).isEmpty, "two reads share attribute ids")
      assert(a.join(b, a("id") === b("id")).count() == 20L)
    }
  }

  test("memoized read: concurrent readers racing an append see the old snapshot or the new one") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(4, 10), dir)
    assert(SnapshotEventStore.read(spark, dir).count() == 40L)
    val seen = new ConcurrentLinkedQueue[Long]()
    @volatile var appended = false
    // each reader keeps reading until the append has published, then
    // reads once more
    def reader(): Unit = {
      var last = false
      while (!last) {
        last = appended
        seen.add(SnapshotEventStore.read(spark, dir).count())
      }
    }
    graft.Par.run(() => reader(), () => reader(), () => reader(), () => {
      SnapshotEventStore.append(events(4, 10, idOffset = 1000L), dir)
      appended = true
    })
    val counts = seen.asScala.toSeq
    assert(counts.forall(Set(40L, 80L)), s"a reader saw an unpublished state: $counts")
    assert(counts.count(_ == 80L) >= 3, s"every reader's last read sees the append: $counts")
  }

  test("readSnapshot of an empty snapshot is typed by that snapshot's own header") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(events(1, 4), dir, keepSnapshots = 5)
    // sweep everything: an empty snapshot that still carries the schema
    SnapshotEventStore.clearExpired(spark, dir, Base + 3600000L,
      keepSnapshots = 5)
    val empty = SnapshotEventStore.currentSnapshot(spark, dir).get
    SnapshotEventStore.append(events(1, 4, idOffset = 100L)
      .withColumn("extra", lit("x")), dir, keepSnapshots = 5)
    assert(SnapshotEventStore.read(spark, dir).columns.contains("extra"))
    val back = SnapshotEventStore.readSnapshot(spark, dir, empty)
    assert(back.count() == 0L)
    assert(back.columns.toSeq ==
      Seq("id", "eventtype", "realmid", "userid", "time", "dt", "hour"),
      s"the empty snapshot took the live schema: ${back.columns.mkString(",")}")
  }
}

/** The gate writer A's batch passes in the two-writer upsert spec: the
  * first evaluation signals `entered` and blocks until `release`. */
object UpsertGate {
  val entered = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
  private val first = new java.util.concurrent.atomic.AtomicBoolean(true)

  def pass(): Unit =
    if (first.getAndSet(false)) {
      entered.countDown()
      release.await(120, java.util.concurrent.TimeUnit.SECONDS)
    }
}
