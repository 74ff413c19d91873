package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

import graft.api.GraftEventStoreProviderFactory.StoreMode
import graft.model.{KeycloakAdminEvent, KeycloakEvent}
import graft.sources.{EventStore, SnapshotEventStore}
import graft.streaming.StreamingIngest

/** The provider facade — the library's equivalent of the reference's
  * EventStoreProvider (FirehoseEventStoreProvider.java): one object a
  * caller holds to log events, run queries, and manage retention.
  *
  * | reference                              | here                       |
  * |----------------------------------------|----------------------------|
  * | onEvent → Firehose putRecord (:123-131)| onEvents / ingest stream   |
  * | onEvent(admin) (:133-141)              | onAdminEvents              |
  * | createQuery (Athena SQL)               | createQuery (EventQuery)   |
  * | createAdminQuery                       | createAdminQuery           |
  * | clear/clearAdmin/clearExpired (:102-121 | clearExpired (real,       |
  * |   — declared no-ops, S3 lifecycle)     |   partition-pruned)        |
  *
  * Batch `onEvents` appends directly to the partitioned store;
  * `startIngest` attaches the Structured-Streaming path for a
  * continuous JSON-lines source (the Firehose analog).
  *
  * `storeMode` selects the store DISCIPLINE every verb runs on
  * (config key `storeMode`, FirehoseEventStoreProviderFactory.java's
  * config-driven store wiring re-expressed):
  *
  *   - [[StoreMode.Legacy]] — the dt/hour directory store; maintenance
  *     is [[EventStore]]'s swap-in (crash-safe for the writer; a
  *     reader racing a sweep can observe the rename window);
  *   - [[StoreMode.Snapshot]] — [[SnapshotEventStore]]'s manifests:
  *     reads resolve immutable snapshots, maintenance never deletes
  *     what a pinned reader can see, streaming ingest is exactly-once
  *     (the batch id commits atomically with the manifest), and
  *     retention/realm purges are the same verbs snapshot-isolated.
  *     The reference gets this class of isolation from Glue/Athena
  *     metadata (terraform/main.tf:84-96); here it is one config key.
  *
  * The two disciplines are mutually exclusive per path and the legacy
  * verbs REFUSE on a sealed store (EventStore.requireNotSealed), so a
  * mis-configured provider fails loudly instead of corrupting
  * manifests.
  */
final class GraftEventStoreProvider(
    spark: SparkSession,
    eventsPath: String,
    adminEventsPath: String,
    storeMode: StoreMode = StoreMode.Legacy) {
  import spark.implicits._

  private def snapshotMode: Boolean = storeMode == StoreMode.Snapshot

  /** Snapshot-mode append: seal the store on first write (a fresh
    * path inits to an empty snapshot), then land through the manifest
    * discipline. */
  private def appendSnapshot(df: DataFrame, path: String): Unit = {
    if (SnapshotEventStore.currentSnapshot(spark, path).isEmpty)
      SnapshotEventStore.init(spark, path)
    SnapshotEventStore.append(df, path)
  }

  /** Append a batch of user events (typed). */
  def onEvents(events: Dataset[KeycloakEvent]): Unit =
    if (snapshotMode) appendSnapshot(events.toDF(), eventsPath)
    else EventStore.write(events.toDF(), eventsPath)

  /** Append a batch of admin events (typed). */
  def onAdminEvents(events: Dataset[KeycloakAdminEvent]): Unit =
    if (snapshotMode) appendSnapshot(events.toDF(), adminEventsPath)
    else EventStore.write(events.toDF(), adminEventsPath)

  /** Attach a streaming JSON-lines source (reference wire format) to
    * the user-event store. Snapshot mode upgrades the sink to the
    * exactly-once manifest commit ([[StreamingIngest
    * .toSnapshotEventStore]]); legacy mode is the plain partitioned
    * parquet sink. */
  def startIngest(jsonLines: Dataset[String], checkpoint: String): StreamingQuery =
    if (snapshotMode)
      StreamingIngest.toSnapshotEventStore(
        StreamingIngest.fromJsonLines(jsonLines), eventsPath, checkpoint)
    else StreamingIngest.toPartitionedSink(
      StreamingIngest.fromJsonLines(jsonLines), eventsPath, checkpoint)

  /** Drain the source's current backlog into the store, then stop
    * (Trigger.AvailableNow) — the scheduled-ingest deployment mode.
    * Caller awaits termination. */
  def drainBacklog(jsonLines: Dataset[String], checkpoint: String): StreamingQuery =
    if (snapshotMode)
      StreamingIngest.toSnapshotEventStore(
        StreamingIngest.fromJsonLines(jsonLines), eventsPath, checkpoint,
        availableNow = true)
    else StreamingIngest.drainAvailableNow(
      StreamingIngest.fromJsonLines(jsonLines), eventsPath, checkpoint)

  /** Attach the source with ID-KEYED redelivery safety. Legacy mode
    * UPSERTS by event id (replayed ids replace their earlier copies);
    * snapshot mode anti-joins each micro-batch against the live
    * snapshot before the exactly-once append
    * ([[StreamingIngest.toSnapshotUpsertSink]]) — the batch watermark
    * alone covers only Spark's own replays, not a source retrying an
    * id in a later batch or a pipeline restarted after checkpoint
    * loss, which are exactly the cases this mode exists for. */
  def startIngestUpsert(jsonLines: Dataset[String], checkpoint: String): StreamingQuery =
    if (snapshotMode)
      StreamingIngest.toSnapshotUpsertSink(
        StreamingIngest.fromJsonLines(jsonLines), eventsPath, checkpoint)
    else StreamingIngest.toUpsertSink(
      StreamingIngest.fromJsonLines(jsonLines), eventsPath, checkpoint)

  /** Fluent user-event query over the store (EventQuery semantics of
    * AthenaEventQuery.java). */
  def createQuery(): EventQuery = EventQuery(events)

  /** Fluent admin-event query (AthenaAdminEventQuery semantics). */
  def createAdminQuery(): AdminEventQuery = AdminEventQuery(adminEvents)

  def events: DataFrame =
    readOrEmpty(eventsPath, Encoders.product[KeycloakEvent].schema)
  def adminEvents: DataFrame =
    readOrEmpty(adminEventsPath, Encoders.product[KeycloakAdminEvent].schema)

  /** A store that has never been written to is a valid empty store —
    * the reference returns an empty result stream, not an error, so a
    * fresh deployment can query before the first event lands. In
    * snapshot mode the read resolves the live manifest with one
    * listing, reusing the session's memoized scan while the manifest
    * is unchanged ([[SnapshotEventStore.read]]); an un-sealed or
    * still-schemaless store falls back to the same typed empty frame
    * as a missing legacy directory. */
  private def readOrEmpty(path: String, schema: StructType): DataFrame = {
    def empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      schema.add("dt", StringType).add("hour", IntegerType))
    if (snapshotMode)
      SnapshotEventStore.readIfSealed(spark, path)
        .filter(_.columns.nonEmpty).getOrElse(empty)
    else {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) EventStore.read(spark, path)
      else empty
    }
  }

  /** Mode-routed retention sweep: a store with nothing to sweep (or
    * never written) returns 0 in both modes. */
  private def routeClearExpired(path: String, olderThanMs: Long): Int =
    if (snapshotMode) {
      if (SnapshotEventStore.currentSnapshot(spark, path).isEmpty) 0
      else SnapshotEventStore.clearExpired(spark, path, olderThanMs)
    } else EventStore.clearExpired(spark, path, olderThanMs)

  private def routeClearRealm(path: String, realmId: String,
      olderThanMs: Option[Long]): Int =
    if (snapshotMode) {
      if (SnapshotEventStore.currentSnapshot(spark, path).isEmpty) 0
      else SnapshotEventStore.clearRealm(spark, path, realmId, olderThanMs)
    } else EventStore.clearRealm(spark, path, realmId, olderThanMs)

  /** Delete user events older than the cutoff (epoch ms). The
    * reference declares this a no-op and delegates to S3 lifecycle
    * (FirehoseEventStoreProvider.java:102-121); a standalone engine
    * owns it: partition-pruned directory drops + one boundary-hour
    * rewrite (legacy) or the metadata-only manifest sweep (snapshot).
    * Returns whole partitions dropped. */
  def clearExpired(olderThanMs: Long): Int =
    routeClearExpired(eventsPath, olderThanMs)

  /** Delete admin events older than the cutoff (epoch ms). */
  def clearExpiredAdmin(olderThanMs: Long): Int =
    routeClearExpired(adminEventsPath, olderThanMs)

  /** Compact fragmented hour partitions of the user-event store —
    * streaming micro-batches land one file per trigger per task, the
    * small-file problem at scale. Routed by mode (the snapshot verb
    * leaves replaced files one reader-grace cycle; legacy swaps
    * directories). Returns partitions compacted. */
  def compactEvents(maxFilesPerPartition: Int = 4): Int =
    if (snapshotMode) {
      if (SnapshotEventStore.currentSnapshot(spark, eventsPath).isEmpty) 0
      else SnapshotEventStore.compact(spark, eventsPath, maxFilesPerPartition)
    } else EventStore.compact(spark, eventsPath, maxFilesPerPartition)

  /** Compact the admin-event store. */
  def compactAdminEvents(maxFilesPerPartition: Int = 4): Int =
    if (snapshotMode) {
      if (SnapshotEventStore.currentSnapshot(spark, adminEventsPath).isEmpty) 0
      else SnapshotEventStore.compact(spark, adminEventsPath, maxFilesPerPartition)
    } else EventStore.compact(spark, adminEventsPath, maxFilesPerPartition)

  /** Drop the whole user-event store — `clear()`
    * (FirehoseEventStoreProvider.java:103). Legal in BOTH modes: it
    * drops the manifests with the data (a whole-store reset, not a
    * half-discipline mutation). */
  def clear(): Unit = EventStore.clearAll(spark, eventsPath)

  /** Delete every user event of one realm — `clear(realm)`
    * (FirehoseEventStoreProvider.java:106). Touched-partitions-only
    * rewrite (realmid is not a partition column); returns partitions
    * touched. */
  def clear(realmId: String): Int =
    routeClearRealm(eventsPath, realmId, None)

  /** Delete one realm's user events with time < olderThanMs —
    * `clear(realm, olderThan)` (FirehoseEventStoreProvider.java:109). */
  def clear(realmId: String, olderThanMs: Long): Int =
    routeClearRealm(eventsPath, realmId, Some(olderThanMs))

  /** Drop the whole admin-event store — `clearAdmin()`
    * (FirehoseEventStoreProvider.java:115). */
  def clearAdmin(): Unit = EventStore.clearAll(spark, adminEventsPath)

  /** Delete every admin event of one realm — `clearAdmin(realm)`
    * (FirehoseEventStoreProvider.java:118). */
  def clearAdmin(realmId: String): Int =
    routeClearRealm(adminEventsPath, realmId, None)

  /** Delete one realm's admin events with time < olderThanMs —
    * `clearAdmin(realm, olderThan)`
    * (FirehoseEventStoreProvider.java:121). */
  def clearAdmin(realmId: String, olderThanMs: Long): Int =
    routeClearRealm(adminEventsPath, realmId, Some(olderThanMs))
}
