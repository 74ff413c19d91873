package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

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
  * Both stores are [[SnapshotEventStore]]s: reads resolve immutable
  * snapshots, maintenance never deletes what a pinned reader can see,
  * streaming ingest is exactly-once (the batch id commits atomically
  * with the manifest), and retention/realm purges are snapshot
  * isolated. The reference gets this class of isolation from
  * Glue/Athena metadata (terraform/main.tf:84-96).
  *
  * Batch `onEvents` appends directly to the store; `startIngest`
  * attaches the Structured-Streaming path for a continuous JSON-lines
  * source (the Firehose analog).
  *
  * Opening a provider ADOPTS a plain dt/hour directory written before
  * the store had manifests: a store that is un-sealed and holds
  * partition directories is sealed once with [[SnapshotEventStore
  * .init]], which first finishes interrupted directory swaps. A
  * sealed or empty store is left as it is.
  */
final class GraftEventStoreProvider(
    spark: SparkSession,
    eventsPath: String,
    adminEventsPath: String) {

  Seq(eventsPath, adminEventsPath).foreach { path =>
    def holdsPartitions = {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try fs.listStatus(root).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith("dt="))
      catch { case _: java.io.FileNotFoundException => false }
    }
    if (SnapshotEventStore.currentSnapshot(spark, path).isEmpty &&
      holdsPartitions) SnapshotEventStore.init(spark, path)
  }

  /** Append a batch of user events (typed). */
  def onEvents(events: Dataset[KeycloakEvent]): Unit =
    SnapshotEventStore.append(events.toDF(), eventsPath)

  /** Append a batch of admin events (typed). */
  def onAdminEvents(events: Dataset[KeycloakAdminEvent]): Unit =
    SnapshotEventStore.append(events.toDF(), adminEventsPath)

  /** Attach a streaming JSON-lines source (reference wire format) to
    * the user-event store through the exactly-once manifest commit
    * ([[StreamingIngest.toSnapshotEventStore]]). */
  def startIngest(jsonLines: Dataset[String], checkpoint: String): StreamingQuery =
    StreamingIngest.toSnapshotEventStore(
      StreamingIngest.fromJsonLines(jsonLines), eventsPath, checkpoint)

  /** Drain the source's current backlog into the store, then stop
    * (Trigger.AvailableNow) — the scheduled-ingest deployment mode.
    * Caller awaits termination. */
  def drainBacklog(jsonLines: Dataset[String], checkpoint: String): StreamingQuery =
    StreamingIngest.toSnapshotEventStore(
      StreamingIngest.fromJsonLines(jsonLines), eventsPath, checkpoint,
      availableNow = true)

  /** Attach the source with ID-KEYED redelivery safety: each
    * micro-batch is anti-joined by id against the live snapshot inside
    * the exactly-once append, under the store's writer lease
    * ([[StreamingIngest.toSnapshotUpsertSink]]), so an id lands once
    * in the store, whichever stream delivers it, and keeps its first
    * payload. The batch watermark alone covers only Spark's own
    * replays, not a source retrying an id in a later batch or a
    * pipeline restarted after checkpoint loss, which are exactly the
    * cases this mode exists for. A second writer that finds the lease
    * busy fails its batch at once. */
  def startIngestUpsert(jsonLines: Dataset[String], checkpoint: String): StreamingQuery =
    StreamingIngest.toSnapshotUpsertSink(
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
    * fresh deployment can query before the first event lands. The
    * read resolves the live manifest with one listing, reusing the
    * session's memoized scan while the manifest is unchanged
    * ([[SnapshotEventStore.read]]); an un-sealed or still-schemaless
    * store reads as the typed empty frame. */
  private def readOrEmpty(path: String, schema: StructType): DataFrame =
    SnapshotEventStore.readIfSealed(spark, path)
      .filter(_.columns.nonEmpty)
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        schema.add("dt", StringType).add("hour", IntegerType)))

  /** A maintenance verb on one store: a never-written store has
    * nothing to maintain and returns 0. */
  private def ifSealed(path: String)(verb: (SparkSession, String) => Int): Int =
    if (SnapshotEventStore.currentSnapshot(spark, path).isEmpty) 0
    else verb(spark, path)

  /** Delete user events older than the cutoff (epoch ms). The
    * reference declares this a no-op and delegates to S3 lifecycle
    * (FirehoseEventStoreProvider.java:102-121); a standalone engine
    * owns it: whole hours leave the manifest metadata-only and one
    * boundary hour is rewritten. Returns whole partitions dropped. */
  def clearExpired(olderThanMs: Long): Int =
    ifSealed(eventsPath)(SnapshotEventStore.clearExpired(_, _, olderThanMs))

  /** Delete admin events older than the cutoff (epoch ms). */
  def clearExpiredAdmin(olderThanMs: Long): Int =
    ifSealed(adminEventsPath)(
      SnapshotEventStore.clearExpired(_, _, olderThanMs))

  /** Compact fragmented hour partitions of the user-event store —
    * streaming micro-batches land one file per trigger per task, the
    * small-file problem at scale. Replaced files stay on disk for one
    * reader-grace cycle. Returns partitions compacted. */
  def compactEvents(maxFilesPerPartition: Int = 4): Int =
    ifSealed(eventsPath)(
      SnapshotEventStore.compact(_, _, maxFilesPerPartition))

  /** Compact the admin-event store. */
  def compactAdminEvents(maxFilesPerPartition: Int = 4): Int =
    ifSealed(adminEventsPath)(
      SnapshotEventStore.compact(_, _, maxFilesPerPartition))

  /** Drop the whole user-event store — `clear()`
    * (FirehoseEventStoreProvider.java:103), manifests with the data. */
  def clear(): Unit = EventStore.clearAll(spark, eventsPath)

  /** Delete every user event of one realm — `clear(realm)`
    * (FirehoseEventStoreProvider.java:106). Touched-partitions-only
    * rewrite (realmid is not a partition column); returns partitions
    * touched. */
  def clear(realmId: String): Int =
    ifSealed(eventsPath)(SnapshotEventStore.clearRealm(_, _, realmId))

  /** Delete one realm's user events with time < olderThanMs —
    * `clear(realm, olderThan)` (FirehoseEventStoreProvider.java:109). */
  def clear(realmId: String, olderThanMs: Long): Int =
    ifSealed(eventsPath)(
      SnapshotEventStore.clearRealm(_, _, realmId, Some(olderThanMs)))

  /** Drop the whole admin-event store — `clearAdmin()`
    * (FirehoseEventStoreProvider.java:115). */
  def clearAdmin(): Unit = EventStore.clearAll(spark, adminEventsPath)

  /** Delete every admin event of one realm — `clearAdmin(realm)`
    * (FirehoseEventStoreProvider.java:118). */
  def clearAdmin(realmId: String): Int =
    ifSealed(adminEventsPath)(
      SnapshotEventStore.clearRealm(_, _, realmId))

  /** Delete one realm's admin events with time < olderThanMs —
    * `clearAdmin(realm, olderThan)`
    * (FirehoseEventStoreProvider.java:121). */
  def clearAdmin(realmId: String, olderThanMs: Long): Int =
    ifSealed(adminEventsPath)(
      SnapshotEventStore.clearRealm(_, _, realmId, Some(olderThanMs)))
}
