package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.model.EventAdapter
import graft.sources.{EventStore, SnapshotEventStore, Tables}

/** The dt/hour store layout through its snapshot face: partitioned
  * appends, planning-time partition pruning, compaction, the
  * partition-pruned retention sweep, realm purges, and the adoption
  * of a plain dt/hour directory. */
class EventStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshStore(): String = {
    val dir = Files.createTempDirectory("graft_store_").toString
    val ke = EventAdapter.keycloakEvents(Tables.events(spark, TestSpark.sf))
    SnapshotEventStore.append(ke, dir)
    dir
  }

  private def read(dir: String): DataFrame = SnapshotEventStore.read(spark, dir)

  /** Live manifest files, store-relative (`dt=…/hour=…/part-…`). */
  private def liveFiles(dir: String): Seq[String] =
    SnapshotEventStore.manifestFiles(spark, dir,
      SnapshotEventStore.currentSnapshot(spark, dir).get)

  test("write lands hive-partitioned dt/hour and reads back complete") {
    val dir = freshStore()
    val back = read(dir)
    val n = Tables.events(spark, TestSpark.sf).count()
    assert(back.count() == n)
    assert(back.columns.contains("dt") && back.columns.contains("hour"))
    val dtDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_")) // _graft_snapshots
    assert(dtDirs.nonEmpty && dtDirs.forall(_.getName.startsWith("dt=")))
    assert(dtDirs.head.listFiles().exists(_.getName.startsWith("hour=")))
  }

  test("dt/hour predicates prune partitions at planning time") {
    import org.apache.spark.sql.functions._
    val dir = freshStore()
    val q = read(dir)
      .filter(col("dt") === "2024-01-02" && col("hour") === 5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    // pruned scan must touch only the one matching partition
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scanned.contains("dt=2024-01-02") || plan.contains("dt#"),
      "partition filter not pushed")
    assert(q.count() ==
      read(dir)
        .filter(col("dt") === "2024-01-02" && col("hour") === 5).count())
  }

  test("sortWithin layout prunes files on the clustered column") {
    import org.apache.spark.sql.functions._
    // dense single-hour partition so within-partition clustering is
    // what decides file min/max ranges: 20k rows, one dt/hour, 40
    // users, ~500-row files → sorted layout gives each file a narrow
    // userid range
    val base = 1704067200000L
    val events = spark.range(20000).select(
      col("id").cast("string").as("id"),
      lit("LOGIN").as("eventtype"),
      lit("realm-0").as("realmid"), lit("Realm 0").as("realmname"),
      lit("c").as("clientid"),
      concat(lit("user-"), lpad((col("id") % 40).cast("string"), 2, "0")).as("userid"),
      lit("s").as("sessionid"), lit("ip").as("ipaddress"),
      lit(null).cast("string").as("error"),
      (lit(base) + (col("id") % 1000)).as("time"),
      lit("{}").as("detailsjson"))

    def scanRows(dir: String): Long = {
      val q = read(dir).filter(col("userid") === "user-07")
      assert(q.count() == 500)
      q.collect()
      q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    }

    val plain = Files.createTempDirectory("graft_plain_").toString
    SnapshotEventStore.append(events, plain, maxRecordsPerFile = 500)
    val sorted = Files.createTempDirectory("graft_sorted_").toString
    SnapshotEventStore.append(events, sorted, maxRecordsPerFile = 500,
      sortWithin = Seq("userid"))

    val (p, s) = (scanRows(plain), scanRows(sorted))
    // sorted: user-07's rows live in ~1-2 of the 40 files → row-group
    // stats skip the rest; unsorted: every file spans all users
    assert(s <= 2000, s"sorted layout scanned $s rows of 20000")
    assert(s * 5 <= p, s"expected >=5x pruning advantage: sorted=$s plain=$p")
  }

  test("compact rewrites fragmented partitions to single files, content intact") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_compact_").toString
    val ke = EventAdapter.keycloakEvents(Tables.events(spark, TestSpark.sf))
      .limit(500)
    // fragment: many tiny appends (the streaming micro-batch pattern)
    (0 until 5).foreach { i =>
      SnapshotEventStore.append(ke.filter(col("id").cast("long") % 5 === i), dir)
    }
    val before = read(dir)
    val nBefore = before.count()
    val sumBefore = before.agg(sum(col("time"))).head.getLong(0)

    val compacted = SnapshotEventStore.compact(spark, dir,
      maxFilesPerPartition = 1)
    assert(compacted > 0)
    val after = read(dir)
    assert(after.count() == nBefore)
    assert(after.agg(sum(col("time"))).head.getLong(0) == sumBefore)
    // every hour partition of the live snapshot now holds exactly one
    // data file (the replaced ones stay on disk for reader grace)
    for ((part, files) <- liveFiles(dir).groupBy(_.split("/").take(2).toSeq))
      assert(files.size == 1, s"$part has ${files.size} live files")
  }

  test("schema evolution: old partitions readable after a column is added") {
    import org.apache.spark.sql.functions._
    val dir = freshStore()
    // later deployment logs an extra attribute
    val evolved = EventAdapter.keycloakEvents(Tables.events(spark, TestSpark.sf))
      .limit(100)
      .withColumn("time", col("time") + 30L * 86400000L) // lands in new partitions
      .withColumn("devicetype", lit("mobile"))
    SnapshotEventStore.append(evolved, dir)
    val all = read(dir)
    assert(all.columns.contains("devicetype"))
    val n = Tables.events(spark, TestSpark.sf).count()
    assert(all.count() == n + 100)
    // pre-evolution rows surface null, evolved rows their value
    assert(all.filter(col("devicetype").isNull).count() == n)
    assert(all.filter(col("devicetype") === "mobile").count() == 100)
  }

  test("dt/hour derivation is session-timezone independent (matches UTC)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2024-01-01T01:30:00Z — in America/Los_Angeles this renders as
    // 2023-12-31, so a date_format-based derivation would disagree
    // with clearExpired's UTC partition math
    val t = 1704072600000L
    val df = Seq(t).toDF("time")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      for (tz <- Seq("UTC", "America/Los_Angeles", "Asia/Tokyo")) {
        spark.conf.set("spark.sql.session.timeZone", tz)
        val row = EventStore.withPartitionColumns(df)
          .select(col("dt"), col("hour")).head
        assert(row.getString(0) == "2024-01-01", s"dt wrong under $tz")
        assert(row.getInt(1) == 1, s"hour wrong under $tz")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("no-op clearExpired (cutoff at/before the first partition) touches nothing") {
    import org.apache.spark.sql.functions._
    val dir = freshStore()
    val minT = read(dir).agg(min(col("time"))).head.getLong(0)
    val snap = SnapshotEventStore.currentSnapshot(spark, dir)
    // cutoff exactly at the earliest hour-partition start: nothing is
    // strictly older, so neither drop nor boundary rewrite applies
    val cutoff = (minT / 3600000L) * 3600000L
    val dropped = SnapshotEventStore.clearExpired(spark, dir, cutoff)
    assert(dropped == 0)
    assert(SnapshotEventStore.currentSnapshot(spark, dir) == snap,
      "a no-op sweep must publish nothing")
  }

  test("clearExpired drops whole old partitions and rewrites the boundary hour") {
    import org.apache.spark.sql.functions._
    val dir = freshStore()
    val all = read(dir).cache()
    val minT = all.agg(min(col("time"))).head.getLong(0)
    // cutoff mid-hour, ~26h after the first event → whole partitions
    // below, one boundary hour rewritten
    val cutoff = ((minT / 3600000L) + 26) * 3600000L + 1800000L
    val expectedSurvivors = all.filter(col("time") >= cutoff).count()
    // whole partitions dropped = hour buckets entirely before the cutoff
    // that actually contain data (sparse hours have no directory)
    val expectedDropped = all
      .select(expr("time DIV 3600000").as("hs")).distinct()
      .filter((col("hs") + 1) * 3600000L <= cutoff).count()
    all.unpersist()

    val dropped = SnapshotEventStore.clearExpired(spark, dir, cutoff)
    assert(dropped == expectedDropped,
      s"expected $expectedDropped whole partitions dropped, got $dropped")
    val after = read(dir)
    assert(after.count() == expectedSurvivors)
    assert(after.agg(min(col("time"))).head.getLong(0) >= cutoff)
  }

  /** Synthetic events: realm-A only in hours 0-1, realm-B in hours
    * 0-5, a few null-realm rows in hour 0 — so a realm-A purge has
    * partitions it must NOT touch. */
  private def realmStore(): (String, Long) = {
    import spark.implicits._
    val base = 1704067200000L // 2024-01-01T00:00:00Z
    val rows = (0L until 200L).map { i =>
      val (realm, hour) =
        if (i % 40 == 39) (null: String, 0L)
        else if (i % 4 == 0) ("realm-A", (i / 4) % 2)
        else ("realm-B", i % 6)
      (i.toString, "LOGIN", realm, "R", "c", s"u-$i", "s", "ip",
        null: String, base + hour * 3600000L + i % 1000, "{}")
    }
    val df = rows.toDF("id", "eventtype", "realmid", "realmname",
      "clientid", "userid", "sessionid", "ipaddress", "error", "time",
      "detailsjson")
    val dir = Files.createTempDirectory("graft_realm_").toString
    SnapshotEventStore.append(df, dir, sortWithin = Seq("realmid"))
    (dir, base)
  }

  test("clearRealm purges one realm, touches only its partitions, keeps null realms") {
    import org.apache.spark.sql.functions._
    val (dir, _) = realmStore()
    val before = read(dir).cache()
    val nA = before.filter(col("realmid") === "realm-A").count()
    val nB = before.filter(col("realmid") === "realm-B").count()
    val nNull = before.filter(col("realmid").isNull).count()
    assert(nA > 0 && nB > 0 && nNull > 0)
    before.unpersist()

    // crash posture: an orphaned rewrite root from an interrupted
    // earlier purge is invisible to readers and cleaned on the next call
    val tmp = new java.io.File(dir, ".snap_rewrite_tmp")
    assert(tmp.mkdir())
    assert(read(dir).count() == nA + nB + nNull)

    val touched = SnapshotEventStore.clearRealm(spark, dir, "realm-A")
    assert(touched == 2, s"realm-A lives in hours 0-1 only, touched $touched")
    assert(!tmp.exists())
    val after = read(dir)
    assert(after.filter(col("realmid") === "realm-A").count() == 0)
    assert(after.filter(col("realmid") === "realm-B").count() == nB)
    assert(after.filter(col("realmid").isNull).count() == nNull,
      "null-realm rows belong to no realm and must survive")
    // idempotent: nothing left to purge
    assert(SnapshotEventStore.clearRealm(spark, dir, "realm-A") == 0)
  }

  test("clearRealm with olderThan keeps the realm's newer rows") {
    import org.apache.spark.sql.functions._
    val (dir, base) = realmStore()
    val cutoff = base + 2 * 3600000L // start of hour 2
    val before = read(dir).cache()
    val expectGone = before.filter(col("realmid") === "realm-B" &&
      col("time") < cutoff).count()
    val nB = before.filter(col("realmid") === "realm-B").count()
    val total = before.count()
    before.unpersist()
    assert(expectGone > 0 && expectGone < nB)

    val touched = SnapshotEventStore.clearRealm(spark, dir, "realm-B",
      Some(cutoff))
    assert(touched == 2, s"old realm-B rows live in hours 0-1, touched $touched")
    val after = read(dir)
    assert(after.filter(col("realmid") === "realm-B").count() == nB - expectGone)
    assert(after.filter(col("realmid") === "realm-B")
      .agg(min(col("time"))).head.getLong(0) >= cutoff)
    assert(after.count() == total - expectGone)
  }

  test("clearRealm deletes a partition outright when every row matches; clearAll drops the store") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = 1704067200000L
    // hour 0 is 100% realm-X; hour 1 is mixed
    val rows = (0L until 60L).map { i =>
      val (realm, hour) = if (i < 30) ("realm-X", 0L)
        else if (i % 2 == 0) ("realm-X", 1L) else ("realm-Y", 1L)
      (i.toString, "LOGIN", realm, "R", "c", s"u-$i", "s", "ip",
        null: String, base + hour * 3600000L + i, "{}")
    }
    val df = rows.toDF("id", "eventtype", "realmid", "realmname",
      "clientid", "userid", "sessionid", "ipaddress", "error", "time",
      "detailsjson")
    val dir = Files.createTempDirectory("graft_realmx_").toString
    SnapshotEventStore.append(df, dir)
    assert(SnapshotEventStore.clearRealm(spark, dir, "realm-X") == 2)
    // hour 0 left the live snapshot entirely, not rewritten empty
    assert(!liveFiles(dir).exists(_.contains("/hour=0/")))
    val after = read(dir)
    assert(after.count() == 15 && after.filter(col("realmid") === "realm-X").count() == 0)

    EventStore.clearAll(spark, dir)
    assert(!new java.io.File(dir).exists())
    // clearing an absent store is a no-op, and a provider reads it
    // back as a store with nothing to purge
    EventStore.clearAll(spark, dir)
    val p = new graft.api.GraftEventStoreProvider(spark, dir, s"$dir-admin")
    assert(p.clear("realm-X") == 0)
  }

  test("interrupted swap recovers: no crash window loses rows") {
    import org.apache.hadoop.fs.Path
    // a plain dt/hour directory, written before the store had manifests
    val dir = Files.createTempDirectory("graft_adopt_").toString + "/store"
    val ke = EventAdapter.keycloakEvents(Tables.events(spark, TestSpark.sf))
    EventStore.withPartitionColumns(ke)
      .write.partitionBy("dt", "hour").parquet(dir)
    val total = ke.count()
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dtDirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("dt="))
      .map(_.getPath)
    def hours(dt: Path) = fs.listStatus(dt)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("hour="))
      .map(_.getPath)

    // crash state A: an hour renamed aside, its rewrite never renamed
    // in — the hour's only copy is under the dot name
    val partA = hours(dtDirs(0)).head
    fs.rename(partA, new Path(dtDirs(0), "." + partA.getName + ".old"))
    // crash state B: a swap completed but its aside not dropped
    val partB = hours(dtDirs(1)).head
    org.apache.hadoop.fs.FileUtil.copy(fs, partB, fs,
      new Path(dtDirs(1), "." + partB.getName + ".old"), false,
      spark.sparkContext.hadoopConfiguration)
    // crash state C: an orphaned pre-swap rewrite and compaction temp
    fs.mkdirs(new Path(dtDirs(0), ".hour=99.rewrite"))
    fs.mkdirs(new Path(root, ".compact_tmp"))

    // adoption restores A, and neither B's stale copy nor C's temps
    // are adopted
    SnapshotEventStore.init(spark, dir)
    assert(read(dir).count() == total)
    assert(fs.exists(partA))
  }
}
