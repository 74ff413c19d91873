package graft

import java.nio.file.Files

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
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
    // retention×compaction-bounded regime — and the scaladoc names
    // the delta-manifest escape hatch beyond it. Ceilings are
    // deliberately loose (CI-safe); the printed numbers are the data.
    val dir = freshDir()
    for (n <- Seq(1000, 10000, 100000)) {
      val files = (0 until n).map(i =>
        f"dt=2024-01-01/hour=${i % 24}/part-$i%06d.parquet")
      val t0 = System.nanoTime()
      val snap = SnapshotEventStore.publish(spark, dir, files)
      val t1 = System.nanoTime()
      val got = SnapshotEventStore.manifestFiles(spark, dir, snap)
      val t2 = System.nanoTime()
      assert(got.size == n)
      info(f"n=$n%6d publish=${(t1 - t0) / 1e6}%8.1f ms " +
        f"resolve=${(t2 - t1) / 1e6}%8.1f ms")
      assert((t1 - t0) / 1e9 < 10.0 && (t2 - t1) / 1e9 < 10.0,
        s"manifest arithmetic blew the loose ceiling at n=$n")
    }
    // the DELTA side: a 10-file append against the 1e5-file store
    // WRITES O(changes) bytes (a ~KB delta instead of a ~5 MB full
    // list — the storage/IO term that accumulates per micro-batch);
    // publish LATENCY stays resolve-bound (it must diff against the
    // previous list), same tens-of-ms class as the flat publish
    val big = SnapshotEventStore
      .manifestFiles(spark, dir,
        SnapshotEventStore.currentSnapshot(spark, dir).get)
    val appended = big ++ (0 until 10).map(i =>
      f"dt=2024-01-02/hour=0/part-extra-$i%02d.parquet")
    val t0 = System.nanoTime()
    val snap = SnapshotEventStore.publish(spark, dir, appended)
    val t1 = System.nanoTime()
    assert(SnapshotEventStore.manifestFiles(spark, dir, snap).size
      == big.size + 10)
    info(f"delta publish (+10 vs 1e5 live)=${(t1 - t0) / 1e6}%8.1f ms")
    assert(new java.io.File(s"$dir/_graft_snapshots/snapd_$snap").exists(),
      "a 10-file change against 1e5 live files must publish as a delta")
  }

  test("delta manifests: chain resolution, checkpoint cadence, retire materializes") {
    val dir = freshDir()
    SnapshotEventStore.init(spark, dir) // snap 1, full
    // appends against a growing store publish as deltas (small change
    // sets); results identical to the flat discipline throughout
    SnapshotEventStore.append(events(2, 6), dir, keepSnapshots = 30)
    (1 to 3).foreach(k => SnapshotEventStore.append(
      events(1, 4, idOffset = 1000L * k), dir, keepSnapshots = 30))
    assert(SnapshotEventStore.read(spark, dir).count() == 24L)
    val snapDir = new java.io.File(s"$dir/_graft_snapshots")
    assert(snapDir.listFiles.exists(_.getName.startsWith("snapd_")),
      "small appends must publish as deltas")
    // exactly-once watermarks and schema headers ride the deltas
    SnapshotEventStore.appendBatch(events(1, 2, idOffset = 9000L), dir,
      batchId = 0L, keepSnapshots = 30)
    SnapshotEventStore.appendBatch(events(1, 2, idOffset = 9000L), dir,
      batchId = 0L, keepSnapshots = 30)
    assert(SnapshotEventStore.read(spark, dir).count() == 26L,
      "the replay watermark must survive delta publishes")
    // time travel through the chain
    assert(SnapshotEventStore.readSnapshot(spark, dir, 2L).count() == 12L)
    // maintenance (compact rewrites most files → publishes full or
    // delta, either way equivalent) and RETIRE: the oldest kept
    // snapshot materializes as a full checkpoint so its chain never
    // dangles
    SnapshotEventStore.compact(spark, dir, maxFilesPerPartition = 1,
      keepSnapshots = 30)
    val live = SnapshotEventStore.currentSnapshot(spark, dir).get
    SnapshotEventStore.retire(spark, dir, keepSnapshots = 1)
    assert(new java.io.File(
      s"$dir/_graft_snapshots/snap_${live - 1}").exists(),
      "retire must leave the oldest kept snapshot as a FULL checkpoint")
    assert(SnapshotEventStore.read(spark, dir).count() == 26L)
    assert(SnapshotEventStore.readSnapshot(spark, dir, live - 1)
      .count() == 26L)
    // a long append run crosses the checkpoint cadence: at least one
    // LATER full checkpoint appears mid-chain and reads stay exact
    (1 to 18).foreach(k => SnapshotEventStore.append(
      events(1, 1, idOffset = 20000L + k), dir, keepSnapshots = 40))
    assert(SnapshotEventStore.read(spark, dir).count() == 44L)
    val fulls = snapDir.listFiles.map(_.getName)
      .filter(_.startsWith("snap_"))
      .map(_.stripPrefix("snap_").toLong).sorted
    assert(fulls.exists(_ > live),
      s"the checkpoint cadence must force a full manifest; saw $fulls")
    // a DANGLING delta (the crashed-retire shape: a retired delta
    // whose base is gone) must never wedge the maintenance verbs —
    // plant one below the live chain and prove retire/vacuum/stats
    // skip it while the live read stays exact
    val liveCount = SnapshotEventStore.read(spark, dir).count()
    val orphanDelta = new java.io.File(snapDir, "snapd_1")
    val w = new java.io.FileWriter(orphanDelta)
    try w.write("+dt=2024-01-01/hour=0/ghost.parquet")
    finally w.close()
    assert(SnapshotEventStore.read(spark, dir).count() == liveCount)
    SnapshotEventStore.vacuumOrphans(spark, dir)
    SnapshotEventStore.snapshotStoreStats(spark, dir).head()
    SnapshotEventStore.retire(spark, dir, keepSnapshots = 1)
    assert(!orphanDelta.exists(),
      "retire must sweep the dangling delta, not wedge on it")
    assert(SnapshotEventStore.read(spark, dir).count() == liveCount)
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
