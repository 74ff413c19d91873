package graft.sources

import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, IntegerType,
  StructField, StructType}

/** The dt/hour event store's one discipline: snapshot manifests.
  *
  * A directory-defined store — readers list partition directories,
  * maintenance swaps them by rename — leaves a reader racing a sweep
  * two windows: it can (a) list during a rename and silently MISS a
  * partition, or (b) list before the swap and then scan file paths
  * the swap just renamed away. At 100 TB with retention sweeping
  * while dashboards serve, both fire. The reference never sees this
  * only because its readers go through Glue/Athena's
  * snapshot-isolated metadata (terraform/main.tf:84-96); a standalone
  * engine must own it.
  *
  * This is that metadata layer re-expressed minimally — the
  * Iceberg/Delta manifest discipline over the dt/hour layout
  * ([[EventStore]]):
  *
  *  - a MANIFEST (`_graft_snapshots/snap_<N>`, one store-relative
  *    file path per line) is the table: readers resolve max N from
  *    one listing of `_graft_snapshots` and scan exactly those files,
  *    never a directory listing;
  *  - the resolved scan is MEMOIZED per session and store, keyed by
  *    the live manifest's identity (N, file name, length, modification
  *    time): a reader whose live manifest is unchanged reuses the
  *    scan instead of re-reading the manifest and having Spark
  *    re-list its files (the Structured Streaming file-sink reader's
  *    discipline: resolve the metadata log, do not list). Any publish
  *    or [[EventStore.clearAll]] invalidates the entry; memory is one
  *    file list per session and store ([[read]]);
  *  - every write verb resolves the live manifest ONCE under its
  *    lease (one listing, one read: [[Live]]), lands files INVISIBLY
  *    (a dot-prefixed temp root, then per-file rename into the live
  *    partition dirs — new unique names, nothing overwritten), and
  *    publishes one new full manifest as the LAST step:
  *    rename-atomic, so a crash anywhere leaves the prior snapshot
  *    intact plus unreferenced orphans;
  *  - maintenance never deletes what a pinned reader can see: a
  *    compaction/retention rewrite publishes a manifest WITHOUT the
  *    replaced files and leaves them on disk for one further
  *    maintenance cycle ([[retire]]'s `keepSnapshots` grace, the
  *    one-rewrite reader grace of [[Bucketing]]'s generation swap at
  *    file grain);
  *  - a whole-partition retention drop is METADATA-ONLY (the files
  *    leave the manifest; the directory is untouched until retire) —
  *    cheaper than the directory delete it replaces, and undoable
  *    until retired.
  *
  * `keepSnapshots` on every write verb is the reader-grace knob
  * (the Iceberg snapshot-retention analog): a reader's resolved
  * snapshot stays scannable for that many FURTHER maintenance
  * cycles (default 1). Size it to the longest query a store serves —
  * back-to-back maintenance with the default grace can outrun a
  * reader that resolved two cycles ago, exactly the disclosed
  * contract of [[Bucketing]]'s generation swap.
  *
  * Writers serialize through the single-writer lease
  * ([[Bucketing.withIndexLease]], keyed by the store path); readers
  * take no lease and never block. Partition pruning survives: the
  * scan is handed the file list WITH `basePath`, so dt/hour stay
  * partition columns and time predicates prune as before.
  *
  * Contract: the store must be READ through this face ([[read]]) —
  * the physical directories legitimately hold replaced-but-not-yet-
  * retired files a raw directory read would double-count. A plain
  * dt/hour directory (one written before the store had manifests)
  * is adopted by [[init]], which the first write verb runs on an
  * un-sealed store; a streaming sink joins by appending through
  * [[appendBatch]] or [[upsertBatch]] in `foreachBatch`. A store
  * whose manifests an earlier release wrote as deltas (`snapd_<N>`)
  * reads unchanged, and its first write verb rewrites them as full
  * manifests ([[adoptLegacyDeltas]]).
  */
object SnapshotEventStore {

  private val SnapDirName = "_graft_snapshots"
  private val SnapPrefix = "snap_"

  /** The delta manifest earlier releases wrote: snapshot N's headers
    * plus `+<rel>` / `-<rel>` lines against snapshot N−1. Read by
    * [[manifestLines]], rewritten by [[adoptLegacyDeltas]]. */
  private val DeltaPrefix = "snapd_"

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapDir(path: String) = new Path(path, SnapDirName)

  private def fullPath(path: String, n: Long) =
    new Path(snapDir(path), s"$SnapPrefix$n")

  private def leaseKey(path: String): String =
    "evsnap__" + path.replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  /** A published manifest as the `_graft_snapshots` listing shows it:
    * snapshot `n` and the file that holds it. A published manifest is
    * never rewritten, so equal (n, name, length, modification time)
    * means an equal file list; a store dropped and rebuilt that
    * republishes the same `n` writes a new file. */
  private final case class Manifest(n: Long, name: String, len: Long,
      mtime: Long)

  /** Every manifest file in ONE `listStatus`, legacy deltas included,
    * sorted by number, full before delta. */
  private def listed(spark: SparkSession, path: String): Seq[Manifest] = {
    val d = snapDir(path)
    val statuses =
      try fsOf(spark, d).listStatus(d).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    // staged `.snap_<N>.tmp` names match neither prefix
    statuses.flatMap { s =>
      val name = s.getPath.getName
      Seq(SnapPrefix, DeltaPrefix).find(name.startsWith)
        .flatMap(p => scala.util.Try(name.drop(p.length).toLong).toOption)
        .map(Manifest(_, name, s.getLen, s.getModificationTime))
    }.sortBy(m => (m.n, m.name.startsWith(DeltaPrefix)))
  }

  /** One manifest per snapshot number, sorted — the full form where a
    * legacy delta of the same number is also present, as
    * [[manifestLines]] prefers. */
  private def manifests(spark: SparkSession, path: String): Seq[Manifest] =
    listed(spark, path).distinctBy(_.n)

  /** Live snapshot number, if the store has been sealed. */
  def currentSnapshot(spark: SparkSession, path: String): Option[Long] =
    manifests(spark, path).lastOption.map(_.n)

  private def rawLines(spark: SparkSession, p: Path): Seq[String] = {
    val fs = fsOf(spark, p)
    val in = fs.open(p)
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    raw.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Snapshot `n`'s manifest lines: headers + one store-relative file
    * path per line. A full manifest is read verbatim. A legacy delta
    * carries its own complete headers and resolves its file list
    * against snapshot n−1. A snapshot that exists in neither form
    * throws FileNotFoundException — retired, callers translate. */
  private def manifestLines(spark: SparkSession, path: String,
      n: Long): Seq[String] =
    try rawLines(spark, fullPath(path, n))
    catch {
      case _: java.io.FileNotFoundException =>
        val lines = rawLines(spark, new Path(snapDir(path), s"$DeltaPrefix$n"))
        val adds = lines.filter(_.startsWith("+")).map(_.drop(1))
        val dels = lines.filter(_.startsWith("-")).map(_.drop(1)).toSet
        lines.filter(_.startsWith("#")) ++
          (manifestFiles(spark, path, n - 1).filterNot(dels) ++ adds).sorted
    }

  private[graft] def manifestFiles(spark: SparkSession, path: String,
      n: Long): Seq[String] =
    manifestLines(spark, path, n).filterNot(_.startsWith("#"))

  /** Each of `nums`' file lists (retire/vacuum/stats). A snapshot
    * that does not resolve — retired under a lease-free caller's
    * listing, or a dangling legacy delta — is SKIPPED, never a wedge. */
  private def readManifests(spark: SparkSession, path: String,
      nums: Seq[Long]): Map[Long, Seq[String]] =
    nums.flatMap { n =>
      // tolerate ONLY FileNotFound: swallowing a transient IO error
      // would mark a healthy snapshot's files unreferenced, and
      // vacuum/retire delete files computed from this map
      try Some(n -> manifestFiles(spark, path, n))
      catch { case _: java.io.FileNotFoundException => None }
    }.toMap

  /** Deletion guard for [[vacuumOrphans]]/[[retire]]: a verb about to
    * delete files must have RESOLVED the live snapshot — a live
    * manifest that does not resolve (a legacy delta left dangling by a
    * crash, or a racing writer this lease should have excluded) makes
    * every live file look unreferenced, and deleting on that view is
    * data loss. Fail loud; manual repair re-anchors the store. */
  private def requireLiveResolved(resolved: Map[Long, Seq[String]],
      nums: Seq[Long], path: String, verb: String): Unit =
    nums.lastOption.foreach(live => require(resolved.contains(live),
      s"$verb on store '$path': live snapshot $live did not resolve " +
        "(dangling delta or unreadable manifest) — refusing to delete " +
        "anything computed from an incomplete reference map"))

  /** Write snapshot `n`'s manifest: stage to a dot-tmp name, then ONE
    * atomic rename makes it visible — readers see the old complete
    * manifest or the new complete one, never a torn read. */
  private def writeManifest(spark: SparkSession, path: String, n: Long,
      lines: Seq[String]): Unit = {
    val d = snapDir(path)
    val fs = fsOf(spark, d)
    val tmp = new Path(d, s".$SnapPrefix$n.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    // the rename IS the commit — on filesystems where a failed rename
    // returns false instead of throwing, ignoring it would report
    // success while the landed files stay invisible orphans and the
    // #batch watermark is never recorded (silent data loss under the
    // exactly-once contract), so refuse loudly
    require(fs.rename(tmp, fullPath(path, n)),
      s"failed to publish snapshot $n of store '$path' — " +
        s"rename($tmp) returned false; the prior snapshot is intact " +
        "and the landed files are unreferenced orphans (vacuumOrphans " +
        "reclaims them)")
  }

  /** Rewrite the legacy deltas in `all` as full manifests, under the
    * writer lease: each delta that resolves becomes `snap_<n>`, in
    * ascending order so each resolves against the full n−1 just
    * written (readers prefer the full form, so a crash here is
    * benign); then every delta is deleted — except a live one that
    * does not resolve, which stays so that reads, [[retire]] and
    * [[vacuumOrphans]] keep failing loudly ([[requireLiveResolved]]). */
  private def adoptLegacyDeltas(spark: SparkSession, path: String,
      all: Seq[Manifest]): Unit = {
    val (deltas, fulls) = all.partition(_.name.startsWith(DeltaPrefix))
    val dangling = deltas.filterNot(m => fulls.exists(_.n == m.n)).filterNot { m =>
      try { writeManifest(spark, path, m.n, manifestLines(spark, path, m.n)); true }
      catch { case _: java.io.FileNotFoundException => false }
    }
    deltas.filterNot(m => m.n == all.last.n && dangling.contains(m)).foreach(m =>
      fsOf(spark, snapDir(path)).delete(new Path(snapDir(path), m.name), false))
  }

  /** The snapshot numbers on disk as a write verb sees them under its
    * lease: one listing, legacy deltas adopted first. */
  private def lockedNumbers(spark: SparkSession, path: String): Seq[Long] = {
    val all = listed(spark, path)
    if (!all.exists(_.name.startsWith(DeltaPrefix))) all.map(_.n)
    else { adoptLegacyDeltas(spark, path, all); manifests(spark, path).map(_.n) }
  }

  /** The live snapshot as a write verb resolves it, once, under its
    * lease: the snapshot numbers on disk, and the live one's files,
    * batch watermarks and `#schema=` json. [[publish]] takes it and
    * returns the next one. */
  private[graft] final case class Live(snapshots: Seq[Long],
      files: Seq[String], batches: Map[String, Long],
      schema: Option[String]) {
    /** The live snapshot number, 0 on an un-sealed store. */
    def n: Long = snapshots.lastOption.getOrElse(0L)
  }

  private[graft] def liveOf(spark: SparkSession, path: String): Live = {
    val nums = lockedNumbers(spark, path)
    val lines = nums.lastOption.map(manifestLines(spark, path, _))
      .getOrElse(Nil)
    Live(nums, lines.filterNot(_.startsWith("#")), batchTags(lines),
      schemaTag(lines))
  }

  /** The streaming-commit tags carried by snapshot `n` — one
    * `#batch=<streamId>:<id>` header line PER STREAM, published
    * atomically WITH the file list (one rename commits both), which
    * is what makes a replayed micro-batch skippable with no marker
    * race. Keyed by stream identity, NOT the bare id: batch ids are
    * monotonic only within one checkpoint, so an un-keyed watermark
    * would silently DISCARD a new pipeline's restarted ids as
    * replays — data loss where the old sink merely duplicated. Every
    * non-batch publish carries the live watermarks forward
    * (maintenance must not lose the streaming commit points; a retire
    * could otherwise delete the only manifest that remembered them,
    * re-opening the replay window). The id parses from the LAST colon
    * (stream ids are paths and may contain colons). */
  def committedBatches(spark: SparkSession, path: String,
      n: Long): Map[String, Long] =
    batchTags(manifestLines(spark, path, n))

  private def batchTags(lines: Seq[String]): Map[String, Long] =
    lines.filter(_.startsWith("#batch="))
      .flatMap { l =>
        val body = l.drop("#batch=".length)
        val cut = body.lastIndexOf(':')
        if (cut < 0) // pre-streamId format: one anonymous stream
          scala.util.Try(body.toLong).toOption.map("default" -> _)
        else scala.util.Try(body.drop(cut + 1).toLong).toOption
          .map(body.take(cut) -> _)
      }.toMap

  /** The store's row schema, carried as a `#schema=<json>` header by
    * every append and forwarded by every later publish — so a read
    * of an EMPTY manifest (a fully-swept store, or C20's store
    * between init and its first batch) returns a correctly-TYPED
    * empty frame instead of the zero-column emptyDataFrame that
    * breaks every schema-dependent consumer (`.filter(col("time")..)`
    * on a just-swept store must not throw) — and so every NON-empty
    * read resolves one declared schema instead of sampling a file
    * (see [[read]]'s evolved-store contract). */
  private def schemaTag(lines: Seq[String]): Option[String] =
    lines.find(_.startsWith("#schema=")).map(_.drop("#schema=".length))

  private def parseSchema(json: String): Option[StructType] =
    scala.util.Try(DataType.fromJson(json).asInstanceOf[StructType]).toOption

  private def dataFields(schema: Option[String]): Array[StructField] =
    schema.flatMap(parseSchema)
      .map(_.fields.filterNot(f => f.name == "dt" || f.name == "hour"))
      .getOrElse(Array.empty)

  /** Schema for the NEXT manifest: the carried one MERGED with the
    * batch's — an append that ADDS a column (the A14 schema-evolution
    * scenario) widens the store schema, and an
    * append that carries FEWER columns (a source that stopped sending
    * an optional attribute) must not narrow it: files already live
    * under the old schema and their columns stay readable. Field
    * order: existing data fields, then genuinely new ones, dt/hour
    * last. */
  private def schemaHeader(events: DataFrame,
      carried: Option[String]): String = {
    val newData = events.schema.fields
      .filterNot(f => f.name == "dt" || f.name == "hour")
    val existingData = dataFields(carried)
    val existingNames = existingData.map(_.name.toLowerCase).toSet
    val merged = existingData ++
      newData.filterNot(f => existingNames(f.name.toLowerCase))
    StructType(merged ++ Seq(StructField("dt", DateType),
      StructField("hour", IntegerType))).json
  }

  /** Refuses a TYPE conflict BEFORE any file lands: silently keeping
    * the carried type while a batch's files land with another
    * physical type would let the append SUCCEED and every later
    * read/compact fail on "Parquet column cannot be converted" — a
    * poisoned store with no error at the write that poisoned it.
    * Schema evolution ADDS columns; it never changes a column's
    * type. */
  private def requireCompatibleSchema(events: DataFrame, path: String,
      carried: Option[String]): Unit = {
    val existingTypes = dataFields(carried)
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    events.schema.fields
      .filterNot(f => f.name == "dt" || f.name == "hour")
      .foreach { f =>
        existingTypes.get(f.name.toLowerCase).foreach { t =>
          // catalogString equality: nullability-INSENSITIVE (a nested
          // field flipping nullable across batches is compatible —
          // strict DataType equality would refuse it with an error
          // whose printed types look identical) and full-fidelity on
          // names/types
          require(t.catalogString == f.dataType.catalogString,
            s"snapshot append to store '$path': column '${f.name}' " +
              s"arrives as ${f.dataType.catalogString} but the store " +
              s"carries ${t.catalogString} — schema evolution adds " +
              "columns, never changes a column's type; cast the " +
              "batch to the store's type first")
        }
      }
  }

  /** The empty frame of a snapshot whose `#schema=` header is `header`
    * — the resolved snapshot's own, never a re-read of the live one. */
  private def typedEmpty(spark: SparkSession,
      header: Option[String]): DataFrame =
    header.flatMap(parseSchema)
      .map(s => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
      .getOrElse(spark.emptyDataFrame)

  /** Publish `files` as the snapshot after `live`, with `batches` as
    * its watermarks and `schema` as its `#schema=` header: one full
    * manifest, staged and renamed ([[writeManifest]]). Returns the new
    * live snapshot. (private[graft] for the receipt spec.)
    *
    * SIZING, measured (SnapshotEventStoreSpec's receipt, local FS):
    * every publish rewrites the live-file list — ~ms at 10³ files,
    * ~100 ms at 10⁵ — and the live list materializes in driver
    * memory per resolve (~MB at 10⁵ lines); size retention and
    * compaction so live files stay ≲10⁶. */
  private[graft] def publish(spark: SparkSession, path: String,
      live: Live, files: Seq[String],
      batches: Map[String, Long] = Map.empty,
      schema: Option[String] = None): Live = {
    val next = live.n + 1L
    if (live.snapshots.isEmpty) fsOf(spark, snapDir(path)).mkdirs(snapDir(path))
    val sorted = files.sorted
    writeManifest(spark, path, next,
      batches.toSeq.sortBy(_._1).map { case (sid, b) => s"#batch=$sid:$b" } ++
        schema.map(j => s"#schema=$j") ++ sorted)
    Live(live.snapshots :+ next, sorted, batches, schema)
  }

  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Store-relative data-file paths currently in the live partition
    * directories (the directory-defined view: what [[init]] adopts
    * and what [[vacuumOrphans]] checks against the manifests). */
  private def listLive(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return Seq.empty
    for {
      dt <- fs.listStatus(root).toSeq
      if dt.isDirectory && dt.getPath.getName.startsWith("dt=")
      hour <- fs.listStatus(dt.getPath).toSeq
      if hour.isDirectory && hour.getPath.getName.startsWith("hour=")
      f <- fs.listStatus(hour.getPath).toSeq
      if f.isFile && isDataFile(f.getPath.getName)
    } yield s"${dt.getPath.getName}/${hour.getPath.getName}/${f.getPath.getName}"
  }

  /** Finish the partition swaps a crashed directory-swap sweep left
    * in an un-sealed directory, so adoption does not drop them: such a
    * sweep renamed an hour aside (`dt=D/.hour=H.old`) before renaming
    * its rewrite in, and a crash between the two leaves the hour's
    * only copy under the dot name [[listLive]] skips. An aside whose
    * live partition is missing is renamed back. Everything else
    * dot-prefixed — a completed swap's aside, a `.hour=H.rewrite`
    * or root `.compact_tmp` staging dir — is never adopted and left
    * as it is. */
  private def restoreAsides(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return
    for (dt <- fs.listStatus(root)
         if dt.isDirectory && dt.getPath.getName.startsWith("dt=");
         aside <- fs.listStatus(dt.getPath)
         if aside.isDirectory && aside.getPath.getName.startsWith(".hour=") &&
           aside.getPath.getName.endsWith(".old")) {
      val live = new Path(dt.getPath,
        aside.getPath.getName.stripPrefix(".").stripSuffix(".old"))
      if (!fs.exists(live)) fs.rename(aside.getPath, live)
    }
  }

  /** Seal the store's current directory state as the next snapshot —
    * how a fresh store starts (init on the empty directory) and how a
    * plain dt/hour directory written before the store had manifests
    * is ADOPTED: on an un-sealed store, interrupted directory swaps
    * are finished first ([[restoreAsides]]), then every data file in
    * the partition directories becomes the first snapshot. [[append]],
    * [[appendBatch]] and [[upsertBatch]] run it on an un-sealed store,
    * and the provider runs it when it opens an un-sealed store holding
    * data.
    *
    * The seal PUBLISHES a `#schema=` header derived from the adopted
    * files' merged parquet footers: without it the first append's
    * [[schemaHeader]] merge would start from nothing and record a
    * batch-only schema, which [[scanFiles]] then applies explicitly —
    * silently dropping every column that exists only in the adopted
    * pre-seal files (the exact vanish the explicit-schema read was
    * built to prevent). An init over an empty directory has no files
    * to derive from and carries the live header, if any — on a fresh
    * store the first append's header takes over. */
  def init(spark: SparkSession, path: String): Long =
    Bucketing.withIndexLease(spark, leaseKey(path), "snapInit") {
      seal(spark, path, liveOf(spark, path)).n
    }

  /** [[init]]'s body under the caller's lease, from the live snapshot
    * the caller resolved. */
  private def seal(spark: SparkSession, path: String, live: Live): Live = {
    if (live.snapshots.isEmpty) restoreAsides(spark, path)
    val files = listLive(spark, path)
    val schema =
      if (files.isEmpty) live.schema
      else Some(schemaHeader(
        spark.read.option("mergeSchema", "true")
          .option("basePath", path)
          .parquet(files.map(f => s"$path/$f"): _*),
        live.schema))
    publish(spark, path, live, files, live.batches, schema)
  }

  /** Scan exactly `rels` under the manifest's declared schema: the
    * carried `#schema=` header, when present, is applied explicitly —
    * on an EVOLVED store (appends added a column, the A14 scenario)
    * parquet inference would otherwise resolve to whichever file it
    * samples and the new column could silently vanish from a scan.
    * Headerless manifests (written by an [[init]] that predates the
    * adoption header) fall back to `mergeSchema` reconciliation.
    * `basePath` keeps dt/hour partition columns and planning-time
    * pruning either way. */
  private def scanFiles(spark: SparkSession, path: String,
      rels: Seq[String],
      header: Option[String]): DataFrame = {
    val reader = header.flatMap(parseSchema) match {
      case Some(s) => spark.read.schema(s)
      case None => spark.read.option("mergeSchema", "true")
    }
    reader.option("basePath", path)
      .parquet(rels.map(f => s"$path/$f"): _*)
  }

  /** One memoized scan: the manifest it was resolved from and the
    * relation Spark built over that manifest's files. The relation
    * refers back to its session, so it is held softly — a strong
    * reference would pin the weakly-keyed session forever; the JVM
    * drops a soft one only under memory pressure, and a dropped one
    * is a miss. */
  private final case class Resolved(manifest: Manifest,
      scan: SoftReference[HadoopFsRelation])

  /** Per session (weakly keyed), per store path: the one scan last
    * resolved. See [[read]] for the contract. */
  private val resolved =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Resolved]]()

  private def resolvedIn(
      spark: SparkSession): ConcurrentHashMap[String, Resolved] =
    resolved.synchronized {
      resolved.computeIfAbsent(spark,
        _ => new ConcurrentHashMap[String, Resolved]())
    }

  /** Drop `path`'s memoized scan in every session —
    * [[EventStore.clearAll]] deleted the store, and a rebuilt one
    * starts its snapshot numbers over. */
  private[sources] def forget(path: String): Unit =
    resolved.synchronized(resolved.values.forEach(_.remove(path)))

  /** Snapshot `m`'s scan. A hit — this session last resolved exactly
    * `m` for this store — is a fresh plan over the memoized relation:
    * no manifest read, no file listing, and new attribute ids, so two
    * reads stay two relations in a join. A miss reads the manifest
    * once (file list and `#schema=` header together), scans its files
    * ([[scanFiles]]; Spark lists them), and makes that relation the
    * store's entry. An empty snapshot is its own header's typed empty
    * frame and clears the entry. */
  private def scanOf(spark: SparkSession, path: String,
      m: Manifest): DataFrame = {
    val byStore = resolvedIn(spark)
    Option(byStore.get(path)).filter(_.manifest == m)
      .flatMap(r => Option(r.scan.get)) match {
      case Some(rel) => spark.baseRelationToDataFrame(rel)
      case None =>
        val lines = manifestLines(spark, path, m.n)
        val header = schemaTag(lines)
        val files = lines.filterNot(_.startsWith("#"))
        if (files.isEmpty) {
          byStore.remove(path)
          typedEmpty(spark, header)
        } else {
          val df = scanFiles(spark, path, files, header)
          df.queryExecution.analyzed.collectFirst {
            case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
          }.foreach(r => byStore.put(path, Resolved(m, new SoftReference(r))))
          df
        }
    }
  }

  /** Snapshot-isolated read: resolve the live manifest, scan exactly
    * its files under the carried schema ([[scanFiles]]). `basePath`
    * keeps dt/hour as partition columns, so time predicates prune
    * partitions exactly as on the raw store.
    *
    * MEMOIZED per (session, store, live manifest): a reader makes one
    * `_graft_snapshots` listing, and when the live manifest's identity
    * (number, file name, length, modification time) is the one this
    * session resolved last, it reuses that scan — no manifest read
    * and none of Spark's file listing, which on a store past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` files is
    * a Spark job. Safe because a published manifest never changes and
    * the files it names are never overwritten, nor retired while it
    * is live. Every write verb publishes a new manifest, so the next
    * read misses and re-resolves; [[EventStore.clearAll]] drops the
    * store's entries, and a rebuilt store's manifests are new files
    * either way. Memory: one file list per session and store.
    *
    * Readers hold no lease, so the manifest a reader listed as live
    * can be retired before the reader opens it (two publishes and a
    * retire later, under the default grace) — the resolve RETRIES on
    * FileNotFound: the live snapshot only moves forward, and the
    * retry lists again and finds the newer one. Scope: the retry
    * covers driver-side MANIFEST resolution only — the returned
    * DataFrame scans its parquet lazily, so a retire that deletes
    * this snapshot's replaced files AFTER read() returns still fails
    * the in-flight scan (which is why every retiring caller keeps the
    * default one-cycle `keepSnapshots = 1` reader grace). A memoized scan changes
    * nothing here: it is only served while its snapshot is live. */
  def read(spark: SparkSession, path: String): DataFrame =
    readIfSealed(spark, path).getOrElse(throw new IllegalStateException(
      s"no snapshot published for event store '$path' — seal it " +
        "once with SnapshotEventStore.init"))

  /** [[read]], or None when the store has no published snapshot —
    * one listing answers both, so a caller that serves an un-sealed
    * store as empty need not list first. */
  def readIfSealed(spark: SparkSession, path: String): Option[DataFrame] = {
    var attempt = 0
    while (true) {
      try return manifests(spark, path).lastOption.map(scanOf(spark, path, _))
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt > 5) throw e
          // spaced, not immediate: a slow retire on an object store
          // can outlast five back-to-back retries; linear backoff
          // keeps the total window ~1.5 s without hot-looping
          Thread.sleep(100L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** TIME-TRAVEL read of an EXPLICIT snapshot — audit/debug ("what
    * did the store hold before that sweep?"), valid for any snapshot
    * not yet retired; a retired one fails loudly naming the live
    * snapshot (the [[Bucketing.readGeneration]] contract at store
    * level). The schema is the SNAPSHOT'S OWN header — a column
    * appended after snapshot `n` does not appear in its time-travel
    * read, and an empty snapshot is typed by its own header. Memoized
    * like [[read]], in the same single entry per session and store.
    * Readers hold no lease, so a retire can race the resolve; both
    * the upfront listing and the manifest read itself translate that
    * to the loud retired message instead of a raw
    * FileNotFoundException. */
  def readSnapshot(spark: SparkSession, path: String,
      n: Long): DataFrame = {
    def retired() = throw new IllegalArgumentException(
      s"snapshot $n of store '$path' is retired or never existed — " +
        s"live snapshot is ${currentSnapshot(spark, path)}")
    val m = manifests(spark, path).find(_.n == n).getOrElse(retired())
    // the FileNotFound catch covers a retire deleting the manifest
    // between the listing and its read
    try scanOf(spark, path, m)
    catch { case _: java.io.FileNotFoundException => retired() }
  }

  /** Reclaim ORPHANS: data files in the live partition directories
    * that no live manifest references — what a crash between a write
    * verb's per-file moves and its publish leaves behind (invisible
    * to every reader, but paid for in storage). Holds the writer
    * lease: an in-flight append's just-moved, not-yet-published
    * files look exactly like orphans, so vacuum must serialize with
    * writers (readers are unaffected either way — they never see
    * unreferenced files). Returns files deleted. */
  def vacuumOrphans(spark: SparkSession, path: String): Int =
    Bucketing.withIndexLease(spark, leaseKey(path), "snapVacuum") {
      val root = new Path(path)
      val fs = fsOf(spark, root)
      val nums = lockedNumbers(spark, path)
      val resolved = readManifests(spark, path, nums)
      requireLiveResolved(resolved, nums, path, "vacuumOrphans")
      val referenced: Set[String] = resolved.values.flatten.toSet
      val orphans = listLive(spark, path).filterNot(referenced)
      orphans.foreach(r => fs.delete(new Path(root, r), false))
      orphans.size
    }

  /** Move every data file under `tmpRoot`'s dt/hour tree into the
    * live tree (names are Spark-generated UUIDs — collision-free),
    * returning the store-relative paths that landed. */
  private def moveIntoLive(spark: SparkSession, tmpRoot: Path,
      root: Path): Seq[String] = {
    val fs = fsOf(spark, tmpRoot)
    if (!fs.exists(tmpRoot)) return Seq.empty
    val moved = for {
      dt <- fs.listStatus(tmpRoot).toSeq
      if dt.isDirectory && dt.getPath.getName.startsWith("dt=")
      hour <- fs.listStatus(dt.getPath).toSeq
      if hour.isDirectory && hour.getPath.getName.startsWith("hour=")
      f <- fs.listStatus(hour.getPath).toSeq
      if f.isFile && isDataFile(f.getPath.getName)
    } yield {
      val rel = s"${dt.getPath.getName}/${hour.getPath.getName}/${f.getPath.getName}"
      val target = new Path(root, rel)
      fs.mkdirs(target.getParent)
      fs.rename(f.getPath, target)
      rel
    }
    fs.delete(tmpRoot, true)
    moved
  }

  /** The live snapshot under the caller's lease, sealing an
    * un-sealed store first through [[init]]'s [[seal]], NOT a bare
    * publish: a headerless seal would let the first append's
    * batch-only schema drop columns only the pre-seal files carry
    * (the A20 vanish). Under the caller's lease, so two writers on a
    * fresh store cannot both seal it. */
  private def sealedLive(spark: SparkSession, path: String): Live = {
    val live = liveOf(spark, path)
    if (live.snapshots.isEmpty) seal(spark, path, live) else live
  }

  /** The live snapshot under a maintenance verb's lease. */
  private def requireSealed(spark: SparkSession, path: String): Live = {
    val live = liveOf(spark, path)
    if (live.snapshots.isEmpty)
      throw new IllegalStateException(s"un-sealed store '$path' — init first")
    live
  }

  /** Publish `files` as the snapshot after `live`, then retire below
    * it, reading only the manifests neither snapshot holds — the last
    * two steps of every write verb. Returns the published snapshot. */
  private def commit(spark: SparkSession, path: String, live: Live,
      files: Seq[String], batches: Map[String, Long],
      schema: Option[String], keepSnapshots: Int): Long = {
    val next = publish(spark, path, live, files, batches, schema)
    retireBelow(spark, path, keepSnapshots, next.snapshots,
      Map(live.n -> live.files, next.n -> next.files))
    next.n
  }

  /** The shared body of [[append]] and [[landBatch]], under their
    * lease: land under an invisible temp root, move into the live
    * tree, publish the live files plus the new ones with `batches`
    * as the batch watermarks. A crash before publish leaves only
    * unreferenced orphans — the prior snapshot is untouched. */
  private def land(events: DataFrame, path: String, live: Live,
      batches: Map[String, Long], maxRecordsPerFile: Int,
      sortWithin: Seq[String], keepSnapshots: Int): Long = {
    val spark = events.sparkSession
    requireCompatibleSchema(events, path, live.schema)
    val tmp = new Path(path, ".snap_append_tmp")
    val fs = fsOf(spark, tmp)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    EventStore.write(events, tmp.toString, maxRecordsPerFile, sortWithin)
    val moved = moveIntoLive(spark, tmp, new Path(path))
    commit(spark, path, live, live.files ++ moved, batches,
      Some(schemaHeader(events, live.schema)), keepSnapshots)
  }

  /** Append a batch and publish it as the next snapshot. Auto-seals an
    * un-sealed store under the same lease ([[init]] adopts whatever
    * the directory already holds). */
  def append(events: DataFrame, path: String,
      maxRecordsPerFile: Int = 1000000,
      sortWithin: Seq[String] = Nil,
      keepSnapshots: Int = 1): Long = {
    val spark = events.sparkSession
    Bucketing.withIndexLease(spark, leaseKey(path), "snapAppend") {
      val live = sealedLive(spark, path)
      land(events, path, live, live.batches, maxRecordsPerFile,
        sortWithin, keepSnapshots)
    }
  }

  /** EXACTLY-ONCE streaming append — [[append]] keyed by the
    * source's micro-batch id (Structured Streaming ids are monotonic
    * per checkpoint). The id commits ATOMICALLY with the file list
    * (the `#batch=<id>` manifest header — one rename commits both),
    * and every later publish carries the watermark forward, so a
    * replayed delivery finds `committed >= its id` in the LIVE
    * manifest and lands NOTHING — no marker file, no marker race, no
    * crash window between "files landed" and "batch recorded".
    * Stronger than the index loops' sink-first at-least-once (those
    * replay to a recoverable duplicate; this never creates one).
    * Auto-seals an un-sealed store like [[append]] (the streaming
    * sink IS the store's first writer in the foreachBatch posture).
    * Returns the published (or already-covering) snapshot. */
  def appendBatch(events: DataFrame, path: String, batchId: Long,
      maxRecordsPerFile: Int = 1000000,
      sortWithin: Seq[String] = Nil,
      keepSnapshots: Int = 1,
      streamId: String = "default"): Long =
    landBatch(events, path, batchId, streamId, "snapAppendBatch",
      maxRecordsPerFile, sortWithin, keepSnapshots)(_ => events)

  /** ID-KEYED exactly-once streaming append: [[appendBatch]] that
    * lands only the batch's ids the store does not hold yet. In-batch
    * duplicates collapse to one row, and the rest is anti-joined by
    * `idCol` against the live snapshot's files, so an id lands at most
    * once in the whole store and keeps its FIRST payload (events are
    * immutable facts: insert-if-absent is the event-store upsert). The
    * `#batch=` watermark still covers Spark's own replays; the screen
    * covers a source re-delivering an id in a later batch and a
    * pipeline restarted after checkpoint loss (a new stream identity).
    *
    * The whole batch runs under the store's writer lease, against the
    * one live snapshot that lease resolved: seal an un-sealed store
    * first (so adopted rows are screened too), return `live.n` for a
    * covered batch id before any Spark work, then land the screened
    * rows (the anti-join evaluates inside the write job). So two
    * writers on one store cannot both land an id, and no retire can
    * delete the screened snapshot's files mid-screen. A writer that
    * meets the lease busy fails at once with IllegalStateException,
    * like every other write verb; it does not wait. Cost: one scan of
    * the live snapshot's id column per fresh batch. */
  def upsertBatch(events: DataFrame, path: String, batchId: Long,
      streamId: String, idCol: String = "id",
      sortWithin: Seq[String] = Nil,
      keepSnapshots: Int = 1): Long =
    landBatch(events, path, batchId, streamId, "snapUpsertBatch",
      1000000, sortWithin, keepSnapshots) { live =>
      val deduped = events.dropDuplicates(idCol)
      if (live.files.isEmpty) deduped
      else deduped.join(
        scanFiles(events.sparkSession, path, live.files, live.schema)
          .select(col(idCol).as("__landed_id")),
        col(idCol) === col("__landed_id"), "left_anti")
    }

  /** The shared body of [[appendBatch]] and [[upsertBatch]] under one
    * lease: resolve the live snapshot once (sealing an un-sealed
    * store), skip a batch id the stream's watermark covers, else land
    * `rows` of that snapshot under the advanced watermark. */
  private def landBatch(events: DataFrame, path: String, batchId: Long,
      streamId: String, verb: String, maxRecordsPerFile: Int,
      sortWithin: Seq[String], keepSnapshots: Int)(
      rows: Live => DataFrame): Long = {
    require(!streamId.contains("\n"),
      "streamId must not contain newlines (it lives in the manifest)")
    val spark = events.sparkSession
    Bucketing.withIndexLease(spark, leaseKey(path), verb) {
      val live = sealedLive(spark, path)
      if (live.batches.get(streamId).exists(_ >= batchId)) live.n
      else land(rows(live), path, live, live.batches + (streamId -> batchId),
        maxRecordsPerFile, sortWithin, keepSnapshots)
    }
  }

  private def partitionOf(rel: String): (String, Int) = {
    val parts = rel.split("/")
    (parts(0).stripPrefix("dt="), parts(1).stripPrefix("hour=").toInt)
  }

  private def partitionStartMs(rel: String): Long = {
    val (dt, hour) = partitionOf(rel)
    java.time.LocalDate.parse(dt)
      .atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli + hour * 3600000L
  }

  /** Rewrite `replaced` as `transform` of their rows, landing new
    * files invisibly and publishing `keep − replaced + new`. The
    * shared shape of compact / retention / realm-clear.
    * `maxRecordsPerFile`/`sortWithin` mirror [[append]]'s write
    * discipline — a compaction must not silently undo the file-size
    * cap and within-file clustering the appends established (the
    * min/max-stats file skipping on `sortWithin` columns survives
    * maintenance). */
  private def rewriteFiles(spark: SparkSession, path: String, live: Live,
      all: Seq[String], replaced: Seq[String],
      transform: DataFrame => DataFrame, keepSnapshots: Int,
      maxRecordsPerFile: Int, sortWithin: Seq[String]): Long = {
    val tmp = new Path(path, ".snap_rewrite_tmp")
    val fs = fsOf(spark, tmp)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val moved = if (replaced.isEmpty) Seq.empty[String] else {
      val clustered = transform(scanFiles(spark, path, replaced, live.schema))
        .repartition(col("dt"), col("hour"))
      val arranged =
        if (sortWithin.isEmpty) clustered
        else clustered.sortWithinPartitions(
          (Seq("dt", "hour") ++ sortWithin).map(col): _*)
      arranged.write
        .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
        .partitionBy("dt", "hour").parquet(tmp.toString)
      moveIntoLive(spark, tmp, new Path(path))
    }
    commit(spark, path, live, all.diff(replaced) ++ moved, live.batches,
      live.schema, keepSnapshots)
  }

  /** Compact fragmented partitions: any hour with more than
    * `maxFilesPerPartition` manifest files is rewritten (streaming
    * micro-batches land one file per trigger per task — at an hourly
    * grain that accumulates into the small-file problem that kills
    * scan throughput at scale). One job for all oversized partitions,
    * snapshot flip, replaced files retained one cycle. Returns
    * partitions compacted. */
  def compact(spark: SparkSession, path: String,
      maxFilesPerPartition: Int = 4, keepSnapshots: Int = 1,
      maxRecordsPerFile: Int = 1000000,
      sortWithin: Seq[String] = Nil): Int =
    Bucketing.withIndexLease(spark, leaseKey(path), "snapCompact") {
      val live = requireSealed(spark, path)
      val all = live.files
      val oversized = all.groupBy(r => partitionOf(r))
        .filter(_._2.size > maxFilesPerPartition)
      if (oversized.isEmpty) 0
      else {
        rewriteFiles(spark, path, live, all,
          oversized.values.flatten.toSeq, identity, keepSnapshots,
          maxRecordsPerFile, sortWithin)
        oversized.size
      }
    }

  /** Retention sweep — delete events with time < olderThanMs. The
    * reference declares retention a no-op delegated to S3 lifecycle
    * (FirehoseEventStoreProvider.java:102-121); a standalone engine
    * owns it. Partition-pruned: hours
    * wholly before the cutoff leave the manifest METADATA-ONLY (no
    * scan, no delete — retire reclaims them a cycle later); the one
    * boundary hour is rewritten with its survivors. Returns whole
    * partitions dropped. */
  def clearExpired(spark: SparkSession, path: String,
      olderThanMs: Long, keepSnapshots: Int = 1,
      maxRecordsPerFile: Int = 1000000,
      sortWithin: Seq[String] = Nil): Int =
    Bucketing.withIndexLease(spark, leaseKey(path), "snapRetention") {
      val live = requireSealed(spark, path)
      val all = live.files
      val dropped = all.filter(r => partitionStartMs(r) + 3600000L <= olderThanMs)
      val boundary = all.filter { r =>
        val s = partitionStartMs(r)
        s < olderThanMs && s + 3600000L > olderThanMs
      }
      if (dropped.isEmpty && boundary.isEmpty) 0
      else {
        rewriteFiles(spark, path, live, all.diff(dropped), boundary,
          _.filter(col("time") >= olderThanMs), keepSnapshots,
          maxRecordsPerFile, sortWithin)
        dropped.map(partitionOf).distinct.size
      }
    }

  /** Realm purge — delete every event of one realm (optionally only
    * those with time < olderThanMs), the GDPR-style purge behind the
    * reference's `clear(realm[, olderThan])` surface
    * (FirehoseEventStoreProvider.java:106-109, declared no-ops there).
    * realmid is not a partition column, so touched partitions are
    * found with one pushdown-pruned discovery pass over the SNAPSHOT
    * (on a store written with `sortWithin = realmid` clustering,
    * row-group stats skip most files), and only those partitions'
    * files are rewritten keeping survivors (null realmid belongs to
    * no realm and always survives). Returns partitions touched. */
  def clearRealm(spark: SparkSession, path: String, realmId: String,
      olderThanMs: Option[Long] = None, keepSnapshots: Int = 1,
      maxRecordsPerFile: Int = 1000000,
      sortWithin: Seq[String] = Nil): Int =
    Bucketing.withIndexLease(spark, leaseKey(path), "snapRealmClear") {
      val live = requireSealed(spark, path)
      val all = live.files
      val doomed = olderThanMs.foldLeft(col("realmid") === realmId) {
        (p, cut) => p && col("time") < cut
      }
      val touched = if (all.isEmpty) Set.empty[(String, Int)]
        else scanFiles(spark, path, all, live.schema)
          .filter(doomed)
          .select(col("dt").cast("string").as("dt"),
            col("hour").cast("int").as("hour"))
          .distinct()
          .collect() // bounded: one row per store partition
          .map(r => (r.getString(0), r.getInt(1))).toSet
      if (touched.isEmpty) 0
      else {
        val replaced = all.filter(r => touched.contains(partitionOf(r)))
        rewriteFiles(spark, path, live, all, replaced,
          _.filter(not(coalesce(doomed, lit(false)))), keepSnapshots,
          maxRecordsPerFile, sortWithin)
        touched.size
      }
    }

  /** The store's maintenance decision rule — the D106 suggested-verb
    * discipline extended to the event store, by descending urgency:
    * orphans are dead storage nothing will ever reference (vacuum);
    * grace files outweighing the live set means maintenance churn is
    * holding more reclaimable bytes than data (retire with a tighter
    * horizon); fragmented partitions tax every scan (compact);
    * otherwise healthy. */
  def suggestedStoreVerb(orphans: Long, grace: Long, live: Long,
      fragmented: Long): String =
    if (orphans > 0) "vacuum"
    else if (grace > live) "retire"
    else if (fragmented > 0) "compact"
    else "none"

  /** The verb named in the store's live writer lease, if any — the
    * ops card's pending_verb probe ([[Bucketing.leaseHolder]] keyed
    * by the store path). */
  def storePendingVerb(spark: SparkSession, path: String): String =
    Bucketing.leaseHolder(spark, leaseKey(path))
      .map(v => s"lease:$v").getOrElse("idle")

  /** Ops observability for the snapshot store — the one-row card the
    * family stats verbs give every index: (live_snapshot,
    * n_snapshots, n_live_files, n_grace_files, n_orphan_files,
    * n_streams, n_fragmented_partitions, suggested_verb) where grace
    * files are on disk and referenced only by RETIRED-eligible older
    * snapshots (reclaimable by the next retire), orphans by nothing
    * (reclaimable by [[vacuumOrphans]]), n_streams counts the
    * exactly-once watermarks the live manifest carries, fragmentation
    * is live files per partition over `maxFilesPerPartition` (the
    * [[compact]] cap), and suggested_verb composes the classes into
    * the action an operator runs ([[suggestedStoreVerb]]).
    * Driver-side filesystem/manifest reads only — no Spark job,
    * nothing corpus-sized. */
  def snapshotStoreStats(spark: SparkSession, path: String,
      maxFilesPerPartition: Int = 4): DataFrame = {
    import spark.implicits._
    val nums = manifests(spark, path).map(_.n)
    val live = nums.lastOption
    val resolved = readManifests(spark, path, nums)
    val liveFiles = live.flatMap(resolved.get)
      .map(_.toSet).getOrElse(Set.empty)
    val allRef = resolved.values.flatten.toSet
    val onDisk = listLive(spark, path).toSet
    val nGrace = (onDisk & (allRef -- liveFiles)).size.toLong
    val nOrphan = (onDisk -- allRef).size.toLong
    val nFragmented = liveFiles.groupBy(partitionOf)
      .count(_._2.size > maxFilesPerPartition).toLong
    Seq((live.getOrElse(-1L), nums.size.toLong,
      liveFiles.size.toLong, nGrace, nOrphan,
      live.map(committedBatches(spark, path, _).size.toLong)
        .getOrElse(0L),
      nFragmented,
      suggestedStoreVerb(nOrphan, nGrace, liveFiles.size.toLong,
        nFragmented)))
      .toDF("live_snapshot", "n_snapshots", "n_live_files",
        "n_grace_files", "n_orphan_files", "n_streams",
        "n_fragmented_partitions", "suggested_verb")
  }

  /** Reclaim space: drop every snapshot older than the
    * `keepSnapshots` most recent BEHIND the live one, delete the
    * physical files only they reference, prune the partition dirs
    * those deletions emptied. Run automatically by every write verb
    * with the default one-cycle grace; callable directly with a
    * larger horizon for stores whose queries outlive a maintenance
    * cycle. Returns files deleted. */
  def retire(spark: SparkSession, path: String,
      keepSnapshots: Int = 1): Int =
    Bucketing.withIndexLease(spark, leaseKey(path), "snapRetire") {
      retireBelow(spark, path, keepSnapshots, lockedNumbers(spark, path),
        Map.empty)
    }

  /** [[retire]]'s body under the caller's lease, over the snapshot
    * numbers `nums` the caller holds; `known` holds file lists the
    * caller already resolved, so only the rest are read. */
  private def retireBelow(spark: SparkSession, path: String,
      keepSnapshots: Int, nums: Seq[Long],
      known: Map[Long, Seq[String]]): Int = {
    val retired = if (nums.isEmpty) Seq.empty[Long]
      else nums.filter(_ < nums.last - keepSnapshots)
    if (retired.isEmpty) 0
    else {
      val kept = nums.filter(_ >= nums.last - keepSnapshots)
      // resolve everything before any deletion, and TOLERANTLY: a
      // number that does not resolve is skipped, never a wedge
      val resolved = known ++
        readManifests(spark, path, nums.filterNot(known.contains))
      requireLiveResolved(resolved, nums, path, "retire")
      val keepFiles = kept.flatMap(resolved.get).flatten.toSet
      val doomed = retired.flatMap(resolved.get).flatten
        .distinct.filterNot(keepFiles)
      val root = new Path(path)
      val fs = fsOf(spark, root)
      doomed.foreach(r => fs.delete(new Path(root, r), false))
      retired.foreach(v => fs.delete(fullPath(path, v), false))
      // prune the hour, then the dt, directory each deletion emptied —
      // never a listing of the whole store
      def emptied(dir: Path): Boolean =
        try fs.listStatus(dir).isEmpty
        catch { case _: java.io.FileNotFoundException => false }
      doomed.map(r => new Path(root, r).getParent).distinct.foreach { hour =>
        if (emptied(hour)) {
          fs.delete(hour, true)
          if (emptied(hour.getParent)) fs.delete(hour.getParent, true)
        }
      }
      doomed.size
    }
  }
}
