package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** dt/hour-partitioned parquet event store — the Spark-native
  * re-expression of the reference's Firehose→S3 landing zone
  * (terraform/main.tf:84-96: `dt=yyyy-MM-dd/hour=H` partition
  * projection over Snappy parquet).
  *
  * - Writes are hive-partitioned on (dt, hour), so any query with a
  *   time predicate prunes partitions at planning time — the Spark
  *   analog of Athena partition projection, visible as
  *   "PartitionFilters" in `.explain`.
  * - `maxRecordsPerFile` caps file size; at 100 TB the knob that
  *   matters is files-per-partition ≈ ingest parallelism, and hourly
  *   partitions keep each directory listing small.
  * - Retention (clearExpiredEvents) is declared a no-op in the
  *   reference (FirehoseEventStoreProvider.java:102-121, lifecycle
  *   delegated to S3); a standalone engine must own it, so we
  *   implement a partition-pruned sweep: whole partitions strictly
  *   older than the cutoff are dropped by directory delete (no data
  *   scan), and only the single boundary hour is rewritten.
  */
object EventStore {

  /** Mutual exclusion with the snapshot discipline: once a store is
    * SEALED ([[SnapshotEventStore.init]] published a manifest), its
    * physical directories legitimately hold replaced-but-not-retired
    * grace files, and these legacy verbs — which rename/delete by
    * DIRECTORY — would move files out from under every manifest:
    * pinned snapshot reads start throwing missing-file errors, and a
    * re-init would double-count grace files. One missed call site
    * silently corrupts the store's flagship guarantee, so every
    * legacy MUTATING verb refuses loudly instead (the A17 "must be
    * maintained through the snapshot face" contract, enforced in
    * code, not documentation). [[clearAll]] stays legal: it drops the
    * manifests WITH the data — a whole-store reset, not a
    * half-discipline mutation. */
  private def requireNotSealed(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, verb: String, snapVerb: String): Unit = {
    val snaps = new Path(root, SnapshotEventStore.SnapDirName)
    if (fs.exists(snaps)) throw new IllegalStateException(
      s"EventStore.$verb on snapshot-sealed store '$root': the store " +
        "has published manifests and its directories hold " +
        "grace-retained files a directory-grain verb would corrupt — " +
        s"use SnapshotEventStore.$snapVerb (or clearAll to drop the " +
        "whole store, manifests included)")
  }

  /** Add the dt/hour partition columns derived from epoch-ms `time`.
    *
    * Pure integer epoch arithmetic (floor-division via pmod), NOT
    * date_format over a timestamp: the latter renders in the session
    * timezone, so a non-UTC session would disagree with the UTC
    * partition-start math in [[clearExpired]] and break its
    * `partStartMs <= time < partStartMs + 1h` invariant. This form is
    * timezone- and sign-independent (UTC calendar by construction).
    */
  def withPartitionColumns(events: DataFrame): DataFrame =
    events
      .withColumn("dt", date_from_unix_date(
        expr("(time - pmod(time, 86400000)) DIV 86400000").cast("int"))
        .cast("string"))
      .withColumn("hour", expr("pmod(time, 86400000) DIV 3600000").cast("int"))

  /** Append a KeycloakEvent-shaped batch, partitioned dt/hour.
    *
    * `sortWithin` optionally clusters rows inside each hour partition
    * by secondary columns (e.g. userid): combined with
    * maxRecordsPerFile this yields files with tight parquet min/max
    * stats on those columns, so selective equality queries skip whole
    * files/row-groups — the single-dimension analog of Z-ordering,
    * and the cheap answer for "point lookups on a non-partition
    * column" at scale. */
  def write(events: DataFrame, path: String,
      maxRecordsPerFile: Int = 1000000,
      sortWithin: Seq[String] = Nil): Unit = {
    val root = new Path(path)
    requireNotSealed(root.getFileSystem(
      events.sparkSession.sparkContext.hadoopConfiguration),
      root, "write", "append")
    val partitioned = withPartitionColumns(events)
    val arranged =
      if (sortWithin.isEmpty) partitioned
      else partitioned
        .repartition(col("dt"), col("hour"))
        .sortWithinPartitions(
          (Seq("dt", "hour") ++ sortWithin).map(col): _*)
    arranged
      .write
      .mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy("dt", "hour")
      .parquet(path)
  }

  /** Read the store; time predicates prune dt/hour partitions.
    *
    * `mergeSchema = true` reconciles files written with different
    * (compatible) schemas — an event store accretes attributes over
    * its lifetime, and old partitions must stay readable, surfacing
    * null for columns that postdate them. Off by default: schema
    * merging opens every file footer, which is the expensive part of
    * planning on a large store. */
  def read(spark: SparkSession, path: String,
      mergeSchema: Boolean = false): DataFrame =
    if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(path)
    else spark.read.parquet(path)

  /** Crash-safe partition-directory swap: old aside → new in → drop
    * aside. At every instant the rows exist in a live or dot-prefixed
    * (discovery-invisible) directory, so a crash anywhere loses
    * nothing; [[recoverSwaps]] finishes an interrupted swap. (The
    * previous delete→rename ordering had a window where the partition
    * was simply gone from discovery.) */
  private def swapIn(fs: org.apache.hadoop.fs.FileSystem,
      target: Path, fresh: Path): Unit = {
    val aside = new Path(target.getParent, "." + target.getName + ".old")
    if (fs.exists(aside)) fs.delete(aside, true)
    if (fs.exists(target)) fs.rename(target, aside)
    fs.rename(fresh, target)
    fs.delete(aside, true)
  }

  /** Repair interrupted [[swapIn]]s: an aside dir (`.hour=H.old`)
    * whose live partition is missing is renamed back; one whose live
    * partition exists is a completed swap's leftover and is dropped,
    * as are orphaned `.rewrite` temp dirs. Returns partitions
    * restored. Safe to call any time; [[compact]] and [[clearExpired]]
    * run it first. */
  def recoverSwaps(spark: SparkSession, path: String): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    var restored = 0
    for (dtDir <- fs.listStatus(root) if dtDir.isDirectory;
         entry <- fs.listStatus(dtDir.getPath) if entry.isDirectory) {
      val name = entry.getPath.getName
      if (name.startsWith(".") && name.endsWith(".old")) {
        val live = new Path(dtDir.getPath,
          name.stripPrefix(".").stripSuffix(".old"))
        if (fs.exists(live)) fs.delete(entry.getPath, true)
        else { fs.rename(entry.getPath, live); restored += 1 }
      } else if (name.startsWith(".") && name.endsWith(".rewrite")) {
        fs.delete(entry.getPath, true) // pre-swap temp; original intact
      }
    }
    restored
  }

  /** Compact fragmented partitions: any hour directory with more than
    * `maxFilesPerPartition` data files is rewritten as a single file
    * (streaming micro-batches land one file per trigger per task —
    * at an hourly partition grain that accumulates into the
    * small-file problem that kills scan throughput at scale).
    * Partition-local: only oversized partitions are touched, each
    * rewritten and swapped in. The partition scan runs FIRST: a no-op
    * compaction (nothing oversized) touches nothing — in particular it
    * does not drop the `_spark_metadata` streaming log, so an attached
    * streaming sink survives a no-op call. When at least one partition
    * will be rewritten the log is dropped (it no longer describes the
    * store; readers fall back to partition discovery, and re-attaching
    * a streaming sink needs a fresh checkpoint). Returns the number of
    * partitions compacted.
    *
    * Crash posture: the rewrite lands in a dot-prefixed temp dir that
    * partition discovery ignores, so a crash before the swap leaves
    * the store intact plus an invisible leftover; the swap itself is
    * the aside→in→drop sequence of [[swapIn]], recoverable at any
    * point by [[recoverSwaps]] (run automatically on entry).
    */
  def compact(spark: SparkSession, path: String,
      maxFilesPerPartition: Int = 4): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    requireNotSealed(fs, root, "compact", "compact")
    recoverSwaps(spark, path)

    val oversized =
      for (dtDir <- fs.listStatus(root).toSeq
           if dtDir.isDirectory && dtDir.getPath.getName.startsWith("dt=");
           hourDir <- fs.listStatus(dtDir.getPath)
           if hourDir.isDirectory && hourDir.getPath.getName.startsWith("hour=");
           dataFiles = fs.listStatus(hourDir.getPath)
             .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
               !f.getPath.getName.startsWith("."))
           if dataFiles.length > maxFilesPerPartition)
      yield hourDir.getPath
    if (oversized.isEmpty) return 0

    val metadataLog = new Path(root, "_spark_metadata")
    if (fs.exists(metadataLog)) fs.delete(metadataLog, true)

    // ONE job rewrites every oversized partition: read exactly those
    // hour directories (basePath keeps dt/hour as columns), cluster
    // one task per partition value, land under a dot-prefixed temp
    // root invisible to discovery, then swap directory by directory.
    // A per-partition loop would cost one Spark job each — O(minutes
    // of pure scheduling) on a store with thousands of fragmented
    // hours; this is O(1) jobs regardless of partition count.
    val tmpRoot = new Path(root, ".compact_tmp")
    if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
    spark.read.option("basePath", path)
      .parquet(oversized.map(_.toString): _*)
      .repartition(col("dt"), col("hour"))
      .write.partitionBy("dt", "hour").parquet(tmpRoot.toString)

    for (part <- oversized) {
      val dtName = part.getParent.getName
      val tmpPart = new Path(new Path(tmpRoot, dtName), part.getName)
      swapIn(fs, part, tmpPart)
    }
    fs.delete(tmpRoot, true)
    oversized.length
  }

  /** Delete events with time < olderThanMs.
    *
    * Partition-pruned: hours strictly before the boundary hour are
    * removed as whole directories (metadata-only, no row scan); the
    * boundary hour partition — the only one that can contain both
    * kept and expired rows — is rewritten with the surviving rows.
    * Returns the number of whole partitions dropped.
    */
  def clearExpired(spark: SparkSession, path: String, olderThanMs: Long): Int = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(java.time.ZoneOffset.UTC)

    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    requireNotSealed(fs, root, "clearExpired", "clearExpired")
    recoverSwaps(spark, path)

    // Scan first: partitions wholly before the cutoff are dropped,
    // the boundary hour is rewritten. A no-op sweep touches nothing.
    val dtDirs = fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("dt="))
    val classified =
      for (dtDir <- dtDirs;
           hourDir <- fs.listStatus(dtDir.getPath)
           if hourDir.isDirectory && hourDir.getPath.getName.startsWith("hour=")) yield {
        val dt = dtDir.getPath.getName.stripPrefix("dt=")
        val hour = hourDir.getPath.getName.stripPrefix("hour=").toInt
        val partStartMs = java.time.LocalDate
          .parse(dt, fmt).atStartOfDay(java.time.ZoneOffset.UTC)
          .toInstant.toEpochMilli + hour * 3600000L
        // every row in the partition satisfies
        // partStartMs <= time < partStartMs + 1h
        (hourDir.getPath, partStartMs)
      }
    val toDrop = classified.collect {
      case (p, start) if start + 3600000L <= olderThanMs => p
    }
    val toRewrite = classified.collect {
      case (p, start) if start < olderThanMs && start + 3600000L > olderThanMs => p
    }
    if (toDrop.isEmpty && toRewrite.isEmpty) return 0

    // A store fed by the streaming sink carries a _spark_metadata
    // write-ahead log; readers then list files from the log, not the
    // directory, and would crash on the files we are about to delete.
    // The log's only purpose is exactly-once streaming appends — after
    // a retention rewrite it no longer describes the store, so drop it
    // and let readers fall back to partition discovery. (Re-attaching
    // a streaming sink afterwards requires a fresh checkpoint, as with
    // any externally-compacted streaming output directory.)
    val metadataLog = new Path(root, "_spark_metadata")
    if (fs.exists(metadataLog)) fs.delete(metadataLog, true)

    for (part <- toDrop) fs.delete(part, true)
    for (part <- toRewrite) {
      // boundary hour: rewrite survivors only (dot-prefixed temp dir —
      // invisible to discovery until the swap)
      val tmp = new Path(part.getParent, "." + part.getName + ".rewrite")
      val survivors = spark.read.parquet(part.toString)
        .filter(col("time") >= olderThanMs)
        .cache()
      survivors.count() // materialize before overwrite
      survivors.write.mode("overwrite").parquet(tmp.toString)
      survivors.unpersist()
      swapIn(fs, part, tmp)
    }
    // drop dt directories left empty by the sweep
    for (dtDir <- dtDirs if fs.exists(dtDir.getPath) &&
        fs.listStatus(dtDir.getPath).isEmpty)
      fs.delete(dtDir.getPath, true)
    toDrop.length
  }

  /** Delete every event of one realm (optionally only those with
    * time < olderThanMs) — the GDPR-style purge behind the
    * reference's `clear(realm[, olderThan])` surface
    * (FirehoseEventStoreProvider.java:106-109, declared no-ops
    * there; a standalone engine owns deletion for real).
    *
    * realmid is NOT a partition column, so this cannot be a
    * directory drop like [[clearExpired]] — but it must not be a
    * full-store rewrite either. Touched-partitions-only:
    *
    *  1. One discovery job finds the distinct (dt, hour) partitions
    *     that contain matching rows. The realm (and time) predicates
    *     push down to the parquet scan, so row-group stats and
    *     dictionary filters skip files that cannot contain the realm
    *     — on a store written with `sortWithin = realmid` clustering,
    *     most files — and the time bound prunes dt/hour partitions.
    *  2. One rewrite job reads ONLY the touched partitions, keeps
    *     survivor rows, and lands them under a dot-prefixed temp root
    *     invisible to discovery (compact's O(1)-jobs pattern — never
    *     one job per partition).
    *  3. Each touched partition is crash-safely [[swapIn]]-swapped;
    *     a partition left with no survivors is deleted outright.
    *
    * Null semantics: rows with null realmid belong to no realm and
    * always survive. Returns the number of partitions touched.
    */
  def clearRealm(spark: SparkSession, path: String, realmId: String,
      olderThanMs: Option[Long] = None): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    requireNotSealed(fs, root, "clearRealm", "clearRealm")
    recoverSwaps(spark, path)
    val hasData = fs.listStatus(root)
      .exists(d => d.isDirectory && d.getPath.getName.startsWith("dt="))
    if (!hasData) return 0

    val doomed = olderThanMs.foldLeft(col("realmid") === realmId) {
      (p, cut) => p && col("time") < cut
    }
    val touched = read(spark, path)
      .filter(doomed)
      .select(col("dt").cast("string").as("dt"), col("hour").cast("int").as("hour"))
      .distinct()
      .collect() // bounded: one row per store partition, not per event
      .map(r => new Path(new Path(root, s"dt=${r.getString(0)}"),
        s"hour=${r.getInt(1)}"))
    if (touched.isEmpty) return 0

    // the streaming WAL no longer describes the store (see clearExpired)
    val metadataLog = new Path(root, "_spark_metadata")
    if (fs.exists(metadataLog)) fs.delete(metadataLog, true)

    val tmpRoot = new Path(root, ".clear_realm_tmp")
    if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
    spark.read.option("basePath", path)
      .parquet(touched.map(_.toString): _*)
      // survivors: everything the doomed predicate does not match —
      // including null-realmid rows, where `doomed` evaluates null
      .filter(not(coalesce(doomed, lit(false))))
      .repartition(col("dt"), col("hour"))
      .write.partitionBy("dt", "hour").parquet(tmpRoot.toString)

    for (part <- touched) {
      val tmpPart = new Path(new Path(tmpRoot, part.getParent.getName), part.getName)
      if (fs.exists(tmpPart)) swapIn(fs, part, tmpPart)
      else fs.delete(part, true) // every row in this partition matched
    }
    fs.delete(tmpRoot, true)
    for (dtDir <- fs.listStatus(root)
         if dtDir.isDirectory && dtDir.getPath.getName.startsWith("dt=") &&
           fs.listStatus(dtDir.getPath).isEmpty)
      fs.delete(dtDir.getPath, true)
    touched.length
  }

  /** Drop the whole store — the reference's `clear()` /
    * `clearAdmin()` (FirehoseEventStoreProvider.java:103, 115).
    * Metadata-only (directory delete, no scan); the path itself is
    * removed, and the next write recreates it. A snapshot store's
    * memoized scans go with it ([[SnapshotEventStore.read]]). */
  def clearAll(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    SnapshotEventStore.forget(path)
  }
}
