package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftEventStoreProvider
import graft.model.{EventAdapter, KeycloakEvent}
import graft.sources.Tables

/** The provider facade: the reference EventStoreProvider journey —
  * log events, query them back, expire old ones — through one object. */
class ProviderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A provider over a fresh base, and its event store. */
  private def snapshotProvider(
      prefix: String): (GraftEventStoreProvider, String) = {
    val f = graft.api.GraftEventStoreProviderFactory.fromConfig(Map(
      "enabled" -> "true",
      "basePath" -> Files.createTempDirectory(prefix).toString))
    (f.create(spark), f.settings.eventsPath)
  }

  /** One LOGIN per hour for `hours` hours from 2024-01-01, ids
    * `idBase` onwards. */
  private def hourly(hours: Int, idBase: Int): Seq[KeycloakEvent] =
    (0 until hours).map(h => KeycloakEvent(s"e${idBase + h}", "LOGIN", "r",
      "realm", "client", s"u$h", "s", "10.0.0.1", None,
      1704067200000L + h * 3600000L, "{}"))

  test("log → query → retention round trip (user + admin)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_provider_").toString
    val p = new GraftEventStoreProvider(spark, s"$base/events", s"$base/admin")

    // a never-written store answers queries with empty results, like
    // the reference's empty result stream — not PATH_NOT_FOUND
    assert(p.createQuery().types("ERROR").toDF.count() == 0)
    assert(p.createAdminQuery().operation("CREATE").toDF.count() == 0)

    val ev = EventAdapter.keycloakEvents(Tables.events(spark, TestSpark.sf))
    val adm = EventAdapter.keycloakAdminEvents(Tables.events(spark, TestSpark.sf))
    p.onEvents(ev.as[graft.model.KeycloakEvent])
    p.onAdminEvents(adm.as[graft.model.KeycloakAdminEvent])

    assert(p.events.count() == ev.count())
    assert(p.adminEvents.count() == adm.count())

    val errors = p.createQuery().types("ERROR").maxResults(10).results(spark).collect()
    assert(errors.nonEmpty && errors.forall(_.eventtype == "ERROR"))

    val creates = p.createAdminQuery().operation("CREATE").maxResults(10)
      .results(spark).collect()
    assert(creates.nonEmpty && creates.forall(_.operationtype == "CREATE"))

    import org.apache.spark.sql.functions._
    val minT = p.events.agg(min(col("time"))).head.getLong(0)
    val cutoff = minT + 12 * 3600000L
    assert(p.clearExpired(cutoff) > 0)
    assert(p.events.agg(min(col("time"))).head.getLong(0) >= cutoff)
    // admin store untouched by the user-event sweep
    assert(p.adminEvents.agg(min(col("time"))).head.getLong(0) == minT)
    assert(p.clearExpiredAdmin(cutoff) > 0)
  }

  test("drainBacklog and startIngestUpsert land through the facade") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t0 = 1704067200000L
    def ev(id: String, t: Long) =
      s"""{"id":"$id","type":"LOGIN","realmid":"r","userid":"u","time":$t,"detailsjson":"{}"}"""

    val base = Files.createTempDirectory("graft_provider2_").toString
    val p = new GraftEventStoreProvider(spark, s"$base/events", s"$base/admin")

    val drainSrc = MemoryStream[String](spark)
    drainSrc.addData(Seq(ev("d1", t0), ev("d2", t0 + 1000)))
    val q1 = p.drainBacklog(drainSrc.toDS(),
      Files.createTempDirectory("graft_drain_ck_").toString)
    assert(q1.awaitTermination(60000))
    assert(p.createQuery().toDF.count() == 2)

    val upsertSrc = MemoryStream[String](spark)
    val q2 = p.startIngestUpsert(upsertSrc.toDS(),
      Files.createTempDirectory("graft_ups_ck_").toString)
    try {
      upsertSrc.addData(Seq(ev("d2", t0 + 1000), ev("u1", t0 + 2000)))
      q2.processAllAvailable()
      // d2 replayed through upsert → still one copy; u1 appended
      assert(p.createQuery().toDF.count() == 3)
    } finally q2.stop()
  }

  test("factory: keyed defaults, blank-as-absent, invalid numerics fall back") {
    import graft.api.GraftEventStoreProviderFactory
    import GraftEventStoreProviderFactory.IngestMode

    val defaults = GraftEventStoreProviderFactory.fromConfig(Map.empty).settings
    assert(!defaults.enabled) // opt-in, like the reference's firehoseEnabled
    assert(defaults.eventsPath == "/tmp/graft-event-store/events")
    assert(defaults.adminEventsPath == "/tmp/graft-event-store/admin-events")
    assert(defaults.retentionMs.isEmpty)
    assert(defaults.ingestMode == IngestMode.Append)

    val s = GraftEventStoreProviderFactory.fromConfig(Map(
      "enabled" -> "true",
      "basePath" -> "/data/store",
      "adminEventsPath" -> "/elsewhere/admin",
      "retentionMs" -> "86400000",
      "ingestMode" -> "Upsert")).settings
    assert(s.enabled)
    assert(s.eventsPath == "/data/store/events") // basePath-derived
    assert(s.adminEventsPath == "/elsewhere/admin") // explicit wins
    assert(s.retentionMs.contains(86400000L))
    assert(s.ingestMode == IngestMode.Upsert)

    // blank = absent; unparseable/zero numerics fall back to default
    val junk = GraftEventStoreProviderFactory.fromConfig(Map(
      "eventsPath" -> "   ",
      "retentionMs" -> "not-a-number",
      "ingestMode" -> "carrier-pigeon")).settings
    assert(junk.eventsPath == "/tmp/graft-event-store/events")
    assert(junk.retentionMs.isEmpty)
    assert(junk.ingestMode == IngestMode.Append)
    assert(GraftEventStoreProviderFactory.fromConfig(
      Map("retentionMs" -> "0")).settings.retentionMs.isEmpty)
    // parseBoolean semantics: junk is false, never a crash
    assert(!GraftEventStoreProviderFactory.fromConfig(
      Map("enabled" -> "yes")).settings.enabled)
    assert(GraftEventStoreProviderFactory.fromConfig(
      Map("enabled" -> "TRUE")).settings.enabled)
  }

  test("factory: disabled gate refuses create; enabled factory wires a working provider") {
    import spark.implicits._
    import graft.api.GraftEventStoreProviderFactory

    val off = GraftEventStoreProviderFactory.fromConfig(Map.empty)
    assert(!off.isSupported)
    intercept[IllegalStateException] { off.create(spark) }

    val base = Files.createTempDirectory("graft_factory_").toString
    val f = GraftEventStoreProviderFactory.fromConfig(Map(
      "enabled" -> "true", "basePath" -> base, "retentionMs" -> "43200000"))
    assert(f.isSupported)
    val p = f.create(spark)
    val ev = EventAdapter.keycloakEvents(Tables.events(spark, TestSpark.sf))
    p.onEvents(ev.as[graft.model.KeycloakEvent])
    assert(p.createQuery().types("ERROR").toDF.count() > 0)

    // configured retention: now = minT + 12h + retention(12h) expires
    // everything below minT + 12h
    import org.apache.spark.sql.functions._
    val minT = p.events.agg(min(col("time"))).head.getLong(0)
    assert(f.applyRetention(p, minT + 12 * 3600000L + 43200000L) > 0)
    assert(p.events.agg(min(col("time"))).head.getLong(0) >= minT + 12 * 3600000L)
    // no retention configured → no-op
    val noRet = GraftEventStoreProviderFactory.fromConfig(
      Map("enabled" -> "true", "basePath" -> base))
    assert(noRet.applyRetention(p, System.currentTimeMillis()) == 0)
  }

  test("storeMode=snapshot: the full provider journey rides the manifest discipline") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.api.GraftEventStoreProviderFactory
    import graft.sources.SnapshotEventStore

    val base = Files.createTempDirectory("graft_snap_provider_").toString
    val f = GraftEventStoreProviderFactory.fromConfig(Map(
      "enabled" -> "true", "basePath" -> base, "storeMode" -> "snapshot"))
    val p = f.create(spark)

    // a never-written snapshot store answers queries empty, like legacy
    assert(p.createQuery().types("ERROR").toDF.count() == 0)

    val ev = EventAdapter.keycloakEvents(Tables.events(spark, TestSpark.sf))
    p.onEvents(ev.as[graft.model.KeycloakEvent])
    // the append SEALED the store: manifests exist and define the read
    assert(SnapshotEventStore.currentSnapshot(spark, s"$base/events").isDefined)
    assert(p.events.count() == ev.count())
    val errors = p.createQuery().types("ERROR").maxResults(10)
      .results(spark).collect()
    assert(errors.nonEmpty && errors.forall(_.eventtype == "ERROR"))

    // maintenance through the facade: compaction preserves results
    val before = p.events.count()
    p.compactEvents(maxFilesPerPartition = 1)
    assert(p.events.count() == before)

    // retention rides the snapshot sweep
    val minT = p.events.agg(min(col("time"))).head.getLong(0)
    val cutoff = minT + 12 * 3600000L
    assert(p.clearExpired(cutoff) > 0)
    assert(p.events.agg(min(col("time"))).head.getLong(0) >= cutoff)

    // realm purge rides the snapshot rewrite
    val someRealm = p.events.filter(col("realmid").isNotNull)
      .select(col("realmid")).head.getString(0)
    assert(p.clear(someRealm) > 0)
    assert(p.events.filter(col("realmid") === someRealm).count() == 0)
  }

  test("storeMode=snapshot: streaming ingest through the facade is exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.api.GraftEventStoreProviderFactory
    val t0 = 1704067200000L
    def ev(id: String, t: Long) =
      s"""{"id":"$id","type":"LOGIN","realmid":"r","userid":"u","time":$t,"detailsjson":"{}"}"""

    val base = Files.createTempDirectory("graft_snap_ingest_").toString
    val p = GraftEventStoreProviderFactory.fromConfig(Map(
      "enabled" -> "true", "basePath" -> base, "storeMode" -> "snapshot"))
      .create(spark)

    // drain mode lands through the manifest commit
    val drainSrc = MemoryStream[String](spark)
    drainSrc.addData(Seq(ev("d1", t0), ev("d2", t0 + 1000)))
    val q1 = p.drainBacklog(drainSrc.toDS(),
      Files.createTempDirectory("graft_snap_drain_ck_").toString)
    assert(q1.awaitTermination(60000))
    assert(p.createQuery().toDF.count() == 2)

    // continuous mode: batches land once; the manifest watermark is
    // what makes a replay a no-op (covered row-level by
    // SnapshotEventStoreSpec — here the facade wiring is the subject)
    val src = MemoryStream[String](spark)
    val q2 = p.startIngest(src.toDS(),
      Files.createTempDirectory("graft_snap_ing_ck_").toString)
    try {
      src.addData(Seq(ev("s1", t0 + 2000)))
      q2.processAllAvailable()
      assert(p.createQuery().toDF.count() == 3)
    } finally q2.stop()

    // upsert mode closes the window the batch watermark cannot: a
    // SOURCE retry redelivering an already-landed id in a LATER
    // batch (fresh checkpoint = fresh stream identity, so the
    // watermark treats everything as new) — the id anti-join lands
    // only the genuinely new event
    val upsSrc = MemoryStream[String](spark)
    val q3 = p.startIngestUpsert(upsSrc.toDS(),
      Files.createTempDirectory("graft_snap_ups_ck_").toString)
    try {
      upsSrc.addData(Seq(ev("s1", t0 + 2000), ev("u1", t0 + 3000)))
      q3.processAllAvailable()
      assert(p.createQuery().toDF.count() == 4,
        "a source-level id redelivery must not duplicate")
    } finally q3.stop()
  }

  test("factory: fromSparkConf reads the spark.graft.eventStore.* scope") {
    import graft.api.GraftEventStoreProviderFactory
    spark.conf.set("spark.graft.eventStore.enabled", "true")
    spark.conf.set("spark.graft.eventStore.basePath", "/conf/base")
    try {
      val s = GraftEventStoreProviderFactory.fromSparkConf(spark).settings
      assert(s.enabled && s.eventsPath == "/conf/base/events")
    } finally {
      spark.conf.unset("spark.graft.eventStore.enabled")
      spark.conf.unset("spark.graft.eventStore.basePath")
    }
  }

  test("storeMode=snapshot: clear() and a fresh append republish the same snapshot, never the old files") {
    import spark.implicits._
    val (p, store) = snapshotProvider("graft_snap_clear_")
    def ids() = p.createQuery().toDF.select("id").as[String].collect().toSet
    p.onEvents(hourly(6, 100).toDS())
    val n = graft.sources.SnapshotEventStore.currentSnapshot(spark, store)
    assert(ids() == hourly(6, 100).map(_.id).toSet)
    p.clear()
    // same hours, same-width ids: the rebuilt store's manifest has
    // the cleared one's number
    p.onEvents(hourly(6, 200).toDS())
    assert(graft.sources.SnapshotEventStore
      .currentSnapshot(spark, store) == n)
    assert(ids() == hourly(6, 200).map(_.id).toSet,
      "a cleared store's scan was served after the rebuild")
  }

  test("storeMode=snapshot: a warm query runs only its own jobs, no file listing") {
    import spark.implicits._
    val sc = spark.sparkContext
    val (p, _) = snapshotProvider("graft_snap_warm_")
    // one file per hour, past the file count from which Spark lists a
    // scan's files with a job
    val threshold = spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    p.onEvents(hourly(threshold + 8, 0).toDS().coalesce(1))

    val started = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add((e.properties.getProperty("spark.jobGroup.id"),
          Option(e.properties.getProperty("spark.job.description"))
            .getOrElse("")))
    }
    /** Descriptions of the jobs `body` ran under job group `group`. A
      * marker job run after it is delivered to the listener after
      * every event `body` posted. */
    def jobsOf(group: String)(body: => Unit): Seq[String] = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (!started.asScala.exists(_._1 == s"$group-marker") &&
        System.currentTimeMillis() < deadline) Thread.sleep(20L)
      started.asScala.filter(_._1 == group).map(_._2).toSeq
    }
    def listing(d: String) = d.startsWith("Listing leaf files")

    sc.addSparkListener(listener)
    try {
      val cold = jobsOf("graft-provider-cold")(p.createQuery().toDF.collect())
      val warm = jobsOf("graft-provider-warm")(p.createQuery().toDF.collect())
      assert(cold.exists(listing),
        s"the first query after a publish lists the store's files: $cold")
      assert(warm.nonEmpty && !warm.exists(listing),
        s"a warm query re-listed the store: $warm")
      assert(warm.size == cold.count(d => !listing(d)),
        s"a warm query must run exactly the query's own jobs: $cold vs $warm")
    } finally sc.removeSparkListener(listener)
  }

  test("storeMode set to legacy, set to snapshot, or absent yields the same snapshot-sealed provider") {
    import spark.implicits._
    import graft.api.GraftEventStoreProviderFactory
    import graft.sources.SnapshotEventStore
    for (mode <- Seq(Some("legacy"), Some("snapshot"), None)) {
      val base = Files.createTempDirectory("graft_mode_").toString
      val f = GraftEventStoreProviderFactory.fromConfig(Map(
        "enabled" -> "true", "basePath" -> base) ++
        mode.map("storeMode" -> _))
      assert(f.settings == GraftEventStoreProviderFactory.fromConfig(Map(
        "enabled" -> "true", "basePath" -> base)).settings)
      val p = f.create(spark)
      p.onEvents(hourly(3, 0).toDS())
      assert(SnapshotEventStore.currentSnapshot(spark, s"$base/events")
        .isDefined, s"storeMode=$mode: the append did not seal the store")
      assert(p.createQuery().toDF.count() == 3L)
    }
  }

  test("opening a provider adopts a plain dt/hour store, restoring an hour a crashed swap left aside") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import graft.sources.{EventStore, SnapshotEventStore}
    val base = Files.createTempDirectory("graft_adopt_").toString
    val store = s"$base/events"
    val rows = hourly(6, 0)
    EventStore.withPartitionColumns(rows.toDF())
      .write.partitionBy("dt", "hour").parquet(store)
    // a directory-swap sweep crashed after renaming hour 2 aside
    val dt = new Path(store, "dt=2024-01-01")
    val fs = dt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(dt, "hour=2"), new Path(dt, ".hour=2.old")))

    def ids(p: GraftEventStoreProvider) =
      p.createQuery().toDF.select("id").as[String].collect().toSet
    val p1 = new GraftEventStoreProvider(spark, store, s"$base/admin")
    assert(ids(p1) == rows.map(_.id).toSet)
    val n = SnapshotEventStore.currentSnapshot(spark, store)
    assert(n.isDefined)
    // a sealed store is not adopted again: nothing is published
    val p2 = new GraftEventStoreProvider(spark, store, s"$base/admin")
    assert(SnapshotEventStore.currentSnapshot(spark, store) == n)
    assert(ids(p2) == rows.map(_.id).toSet)
  }
}
