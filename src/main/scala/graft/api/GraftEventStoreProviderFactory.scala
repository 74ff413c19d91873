package graft.api

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Config-driven construction of [[GraftEventStoreProvider]] — the
  * analog of the reference's provider factory
  * (FirehoseEventStoreProviderFactory.java:62-117): a string-keyed
  * config scope with per-key defaults, blank-as-absent handling,
  * invalid-numeric fallback, and an `isSupported` enable gate that
  * defaults to OFF (the reference gates on `firehoseEnabled=false` by
  * default so merely installing the module changes nothing).
  *
  * Where the reference resolves AWS client endpoints, this resolves
  * store paths and the ingest mode; retention — a no-op delegated to
  * S3 lifecycle in the reference — is a first-class keyed setting
  * here because a standalone engine owns its own sweep. Keys it does
  * not know are ignored, `storeMode` among them: every provider runs
  * on [[graft.sources.SnapshotEventStore]].
  */
object GraftEventStoreProviderFactory {

  val ProviderId = "graft-parquet-store"

  /** How [[ingest]] attaches a JSON-lines source to the store. */
  sealed trait IngestMode
  object IngestMode {
    /** Continuous append (exactly-once per checkpoint; duplicates
      * possible on checkpoint loss). */
    case object Append extends IngestMode
    /** Continuous upsert by event id (safe under redelivery;
      * insert-if-absent: a replayed id keeps its first payload). */
    case object Upsert extends IngestMode
    /** Drain the current backlog then stop (scheduled-batch mode). */
    case object Drain extends IngestMode
  }

  /** Resolved configuration (all defaults applied). */
  final case class Settings(
      enabled: Boolean,
      eventsPath: String,
      adminEventsPath: String,
      retentionMs: Option[Long],
      ingestMode: IngestMode)

  private val DefaultBasePath = "/tmp/graft-event-store"

  /** Blank values are absent, like the reference's nullIfBlank. */
  private def get(config: Map[String, String], key: String): Option[String] =
    config.get(key).map(_.trim).filter(_.nonEmpty)

  /** Invalid numerics fall back to the default instead of failing
    * startup (resolveLong in the reference). */
  private def getLong(config: Map[String, String], key: String): Option[Long] =
    get(config, key).flatMap(v => v.toLongOption match {
      case some @ Some(_) => some
      case None =>
        System.err.println(s"[graft] invalid numeric configuration for $key: $v")
        None
    })

  def fromConfig(config: Map[String, String]): GraftEventStoreProviderFactory = {
    val base = get(config, "basePath").getOrElse(DefaultBasePath)
    val settings = Settings(
      // Boolean.parseBoolean semantics like the reference's
      // scope.getBoolean: anything but case-insensitive "true" is
      // false, never a parse failure
      enabled = get(config, "enabled").exists(_.equalsIgnoreCase("true")),
      eventsPath = get(config, "eventsPath").getOrElse(s"$base/events"),
      adminEventsPath = get(config, "adminEventsPath").getOrElse(s"$base/admin-events"),
      retentionMs = getLong(config, "retentionMs").filter(_ > 0),
      ingestMode = get(config, "ingestMode").map(_.toLowerCase) match {
        case Some("upsert") => IngestMode.Upsert
        case Some("drain") => IngestMode.Drain
        case Some("append") | None => IngestMode.Append
        case Some(other) =>
          System.err.println(s"[graft] unknown ingestMode '$other', using append")
          IngestMode.Append
      })
    new GraftEventStoreProviderFactory(settings)
  }

  /** Read the `spark.graft.eventStore.*` scope of the session conf —
    * the deployment path where config arrives via `--conf` flags. */
  def fromSparkConf(spark: SparkSession,
      prefix: String = "spark.graft.eventStore."): GraftEventStoreProviderFactory =
    fromConfig(spark.conf.getAll.collect {
      case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v
    })
}

final class GraftEventStoreProviderFactory private (
    val settings: GraftEventStoreProviderFactory.Settings) {
  import GraftEventStoreProviderFactory._

  /** The reference's EnvironmentDependentProviderFactory gate: a
    * deployment that hasn't opted in gets no provider. */
  def isSupported: Boolean = settings.enabled

  def create(spark: SparkSession): GraftEventStoreProvider = {
    if (!isSupported) throw new IllegalStateException(
      s"$ProviderId is disabled; set enabled=true to opt in")
    new GraftEventStoreProvider(spark, settings.eventsPath,
      settings.adminEventsPath)
  }

  /** Attach a JSON-lines source using the CONFIGURED ingest mode. */
  def ingest(provider: GraftEventStoreProvider, jsonLines: Dataset[String],
      checkpoint: String): StreamingQuery = settings.ingestMode match {
    case IngestMode.Append => provider.startIngest(jsonLines, checkpoint)
    case IngestMode.Upsert => provider.startIngestUpsert(jsonLines, checkpoint)
    case IngestMode.Drain => provider.drainBacklog(jsonLines, checkpoint)
  }

  /** Run the configured retention sweep against both stores; no-op
    * (returns 0) when no retention is configured. Returns whole
    * partitions dropped across the two stores. */
  def applyRetention(provider: GraftEventStoreProvider, nowMs: Long): Int =
    settings.retentionMs match {
      case Some(r) =>
        provider.clearExpired(nowMs - r) + provider.clearExpiredAdmin(nowMs - r)
      case None => 0
    }
}
