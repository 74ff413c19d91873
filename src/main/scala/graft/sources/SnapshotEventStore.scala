package graft.sources

import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._

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
  *  - every write verb lands files INVISIBLY first (a dot-prefixed
  *    temp root, then per-file rename into the live partition dirs —
  *    new unique names, nothing overwritten), and publishes a new
  *    manifest as the LAST step: rename-atomic, so a crash anywhere
  *    leaves the prior snapshot intact plus unreferenced orphans;
  *  - maintenance never deletes what a pinned reader can see: a
  *    compaction/retention rewrite publishes a manifest WITHOUT the
  *    replaced files and leaves them on disk for one further
  *    maintenance cycle ([[retire]]'s `keepSnapshots` grace, the
  *    [[VersionedTable]] reader contract at file grain);
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
  * [[VersionedTable]] contract.
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
  * is adopted by [[init]], which the first [[append]] or
  * [[appendBatch]] runs on an un-sealed store; a streaming sink joins
  * by appending through [[appendBatch]] in `foreachBatch`.
  */
object SnapshotEventStore {

  private val SnapDirName = "_graft_snapshots"
  private val SnapPrefix = "snap_"

  /** DELTA manifests (the Delta-log shape behind the same API): a
    * publish whose change set is small relative to the live list —
    * every streaming micro-batch append against a large store —
    * writes `snapd_<N>` holding the FULL headers plus `+<rel>` /
    * `-<rel>` lines relative to snapshot N−1, instead of rewriting
    * the whole list. Resolution walks the delta chain back to the
    * nearest FULL checkpoint (`snap_<N>`); the chain is capped at
    * [[CheckpointEvery]] (a full checkpoint is forced past it), so a
    * resolve reads at most that many small files. Retire MATERIALIZES
    * the oldest kept snapshot as a full checkpoint before deleting
    * below it, so a retained delta can never lose its ancestors.
    * Publish stays one atomic rename either way. */
  private val DeltaPrefix = "snapd_"

  /** Max delta-chain length before a publish is forced to write a
    * full checkpoint — bounds resolution at K small reads and keeps
    * the crash-recovery walk short (the Delta log's checkpoint
    * cadence). */
  private val CheckpointEvery = 16

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapDir(path: String) = new Path(path, SnapDirName)

  private def fullPath(path: String, n: Long) =
    new Path(snapDir(path), s"$SnapPrefix$n")
  private def deltaPath(path: String, n: Long) =
    new Path(snapDir(path), s"$DeltaPrefix$n")

  private def leaseKey(path: String): String =
    "evsnap__" + path.replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  /** A published manifest as the `_graft_snapshots` listing shows it:
    * snapshot `n` and the file that holds it — the full form when both
    * exist, as [[manifestLines]] prefers. A published manifest is never
    * rewritten, so equal (n, name, length, modification time) means an
    * equal file list; a store dropped and rebuilt that republishes the
    * same `n` writes a new file. */
  private final case class Manifest(n: Long, name: String, len: Long,
      mtime: Long)

  /** Every snapshot on disk (full checkpoints AND deltas), one per
    * number, sorted — ONE `listStatus`, no existence probe. */
  private def manifests(spark: SparkSession, path: String): Seq[Manifest] = {
    val d = snapDir(path)
    val listed =
      try fsOf(spark, d).listStatus(d).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    // staged `.snap_<N>.tmp` names match neither prefix
    listed.flatMap { s =>
      val name = s.getPath.getName
      val num =
        if (name.startsWith(SnapPrefix)) Some(name.drop(SnapPrefix.length))
        else if (name.startsWith(DeltaPrefix)) Some(name.drop(DeltaPrefix.length))
        else None
      num.flatMap(x => scala.util.Try(x.toLong).toOption)
        .map(Manifest(_, name, s.getLen, s.getModificationTime))
    }.groupMapReduce(_.n)(identity) { (a, b) =>
      if (a.name.startsWith(SnapPrefix)) a else b
    }.values.toSeq.sortBy(_.n)
  }

  /** Snapshot numbers on disk (full checkpoints AND deltas), sorted. */
  private def snapshotNumbers(spark: SparkSession,
      path: String): Seq[Long] =
    manifests(spark, path).map(_.n)

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

  /** Snapshot `n`'s HEADER lines from its single newest manifest
    * file — full or delta, each carries the snapshot's COMPLETE
    * headers by the format's design, so header reads (batch
    * watermarks, the schema tag) never walk the delta chain. */
  private def headerLines(spark: SparkSession, path: String,
      n: Long): Seq[String] = {
    val full = fullPath(path, n)
    val p = if (fsOf(spark, full).exists(full)) full
      else deltaPath(path, n)
    rawLines(spark, p).filter(_.startsWith("#"))
  }

  /** Snapshot `n`'s logical manifest lines: headers + one
    * store-relative file path per line. A FULL checkpoint is read
    * verbatim; a DELTA carries its own complete headers and resolves
    * its file list against snapshot n−1 (recursion bounded by
    * [[CheckpointEvery]]). A snapshot that exists in NEITHER form
    * throws FileNotFoundException — retired, callers translate. */
  private def manifestLines(spark: SparkSession, path: String,
      n: Long): Seq[String] = {
    val full = fullPath(path, n)
    val fs = fsOf(spark, full)
    // prefer the full form: retire's materialization writes snap_<n>
    // beside a stale snapd_<n> before deleting it — both present
    // means the full one is the (newer, equivalent) truth
    if (fs.exists(full)) return rawLines(spark, full)
    val lines = rawLines(spark, deltaPath(path, n))
    val headers = lines.filter(_.startsWith("#"))
    val adds = lines.filter(_.startsWith("+")).map(_.drop(1))
    val dels = lines.filter(_.startsWith("-")).map(_.drop(1)).toSet
    val base = manifestFiles(spark, path, n - 1)
    headers ++ (base.filterNot(dels) ++ adds).sorted
  }

  private[graft] def manifestFiles(spark: SparkSession, path: String,
      n: Long): Seq[String] =
    manifestLines(spark, path, n).filterNot(_.startsWith("#"))

  /** Every listed snapshot's FILE list in ONE forward fold (oldest →
    * newest, each delta applied to its predecessor) instead of an
    * independent chain walk per snapshot — the multi-snapshot verbs'
    * (retire/vacuum/stats) resolution shape, O(N + chain) single-file
    * reads. A snapshot whose manifest cannot be resolved — a dangling
    * delta left by a crashed retire, or a gap under it — yields None
    * and is SKIPPED by callers rather than wedging the verb forever
    * (the next full checkpoint re-anchors the fold). */
  private def foldChains(spark: SparkSession, path: String,
      nums: Seq[Long]): Map[Long, Seq[String]] = {
    val fs = fsOf(spark, snapDir(path))
    var prevNum = -1L
    var prevFiles: Option[Seq[String]] = None
    nums.sorted.map { n =>
      // tolerate ONLY the dangling-delta case (FileNotFound): any
      // other read failure — a transient IO error on a perfectly
      // healthy manifest — must ABORT the verb, not mark the snapshot
      // unreferenced (vacuum/retire delete files computed from this
      // map; swallowing a transient error here deletes live data)
      val resolved: Option[Seq[String]] =
        try Some {
          val full = fullPath(path, n)
          if (fs.exists(full))
            rawLines(spark, full).filterNot(_.startsWith("#"))
          else {
            val lines = rawLines(spark, deltaPath(path, n))
            val adds = lines.filter(_.startsWith("+")).map(_.drop(1))
            val dels = lines.filter(_.startsWith("-")).map(_.drop(1)).toSet
            val base =
              if (prevNum == n - 1 && prevFiles.isDefined) prevFiles.get
              else throw new java.io.FileNotFoundException(
                s"delta $n has no resolvable base ${n - 1}")
            (base.filterNot(dels) ++ adds).sorted
          }
        } catch { case _: java.io.FileNotFoundException => None }
      prevNum = n
      prevFiles = resolved
      n -> resolved
    }.collect { case (n, Some(f)) => n -> f }.toMap
  }

  /** Deletion guard for [[vacuumOrphans]]/[[retire]]: a verb about to
    * delete files must have RESOLVED the live snapshot — a live
    * manifest that reads as a dangling delta (crash corruption, or a
    * racing writer this lease should have excluded) makes every live
    * file look unreferenced, and deleting on that view is data loss.
    * Fail loud; a later full checkpoint (or manual repair) re-anchors
    * the chain. */
  private def requireLiveResolved(resolved: Map[Long, Seq[String]],
      nums: Seq[Long], path: String, verb: String): Unit =
    nums.lastOption.foreach(live => require(resolved.contains(live),
      s"$verb on store '$path': live snapshot $live did not resolve " +
        "(dangling delta or unreadable manifest) — refusing to delete " +
        "anything computed from an incomplete reference map"))

  /** The streaming-commit tags carried by snapshot `n` — one
    * `#batch=<streamId>:<id>` header line PER STREAM, published
    * atomically WITH the file list (one rename commits both), which
    * is what makes a replayed micro-batch skippable with no marker
    * race. Keyed by stream identity, NOT the bare id: batch ids are
    * monotonic only within one checkpoint, so an un-keyed watermark
    * would silently DISCARD a new pipeline's restarted ids as
    * replays — data loss where the old sink merely duplicated. The
    * id parses from the LAST colon (stream ids are paths and may
    * contain colons). */
  def committedBatches(spark: SparkSession, path: String,
      n: Long): Map[String, Long] =
    headerLines(spark, path, n)
      .filter(_.startsWith("#batch="))
      .flatMap { l =>
        val body = l.drop("#batch=".length)
        val cut = body.lastIndexOf(':')
        if (cut < 0) // pre-streamId format: one anonymous stream
          scala.util.Try(body.toLong).toOption.map("default" -> _)
        else scala.util.Try(body.drop(cut + 1).toLong).toOption
          .map(body.take(cut) -> _)
      }.toMap

  /** The live manifest's batch watermarks — carried FORWARD by every
    * non-batch publish (maintenance must not lose the streaming
    * commit points; a retire could otherwise delete the only
    * manifest that remembered them, re-opening the replay window). */
  private def currentBatchTags(spark: SparkSession,
      path: String): Map[String, Long] =
    currentSnapshot(spark, path)
      .map(n => committedBatches(spark, path, n))
      .getOrElse(Map.empty)

  private def headerFor(tags: Map[String, Long]): Seq[String] =
    tags.toSeq.sortBy(_._1).map { case (sid, n) => s"#batch=$sid:$n" }

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

  private def schemaTagOf(spark: SparkSession,
      path: String): Option[String] =
    currentSnapshot(spark, path).flatMap(n =>
      schemaTag(headerLines(spark, path, n)))

  private def parseSchema(
      json: String): Option[org.apache.spark.sql.types.StructType] =
    scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption

  /** Header for the NEXT manifest: the carried schema MERGED with the
    * batch's — an append that ADDS a column (the A14 schema-evolution
    * scenario) widens the store schema, and an
    * append that carries FEWER columns (a source that stopped sending
    * an optional attribute) must not narrow it: files already live
    * under the old schema and their columns stay readable. Field
    * order: existing data fields, then genuinely new ones, dt/hour
    * last. */
  private def schemaHeader(events: DataFrame, spark: SparkSession,
      path: String): Seq[String] = {
    val newData = events.schema.fields
      .filterNot(f => f.name == "dt" || f.name == "hour")
    val existingData = schemaTagOf(spark, path).flatMap(parseSchema)
      .map(_.fields.filterNot(f => f.name == "dt" || f.name == "hour"))
      .getOrElse(Array.empty[org.apache.spark.sql.types.StructField])
    val existingNames = existingData.map(_.name.toLowerCase).toSet
    val merged = existingData ++
      newData.filterNot(f => existingNames(f.name.toLowerCase))
    val full = org.apache.spark.sql.types.StructType(merged ++ Seq(
      org.apache.spark.sql.types.StructField("dt",
        org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("hour",
        org.apache.spark.sql.types.IntegerType)))
    Seq(s"#schema=${full.json}")
  }

  /** Refuses a TYPE conflict BEFORE any file lands: silently keeping
    * the carried type while a batch's files land with another
    * physical type would let the append SUCCEED and every later
    * read/compact fail on "Parquet column cannot be converted" — a
    * poisoned store with no error at the write that poisoned it.
    * Schema evolution ADDS columns; it never changes a column's
    * type. */
  private def requireCompatibleSchema(events: DataFrame,
      spark: SparkSession, path: String): Unit = {
    val existingTypes = schemaTagOf(spark, path).flatMap(parseSchema)
      .map(_.fields.filterNot(f => f.name == "dt" || f.name == "hour"))
      .getOrElse(Array.empty[org.apache.spark.sql.types.StructField])
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

  /** Write manifest N+1: stage to a dot-tmp name, then ONE atomic
    * rename makes it visible — readers see the old complete manifest
    * or the new complete one, never a torn read. Returns N+1.
    *
    * SIZING, measured (SnapshotEventStoreSpec's receipts, local FS):
    * a FULL checkpoint rewrites the live-file list — ~ms at 10³
    * files, ~100 ms at 10⁵. Small changes against a large store
    * (every streaming micro-batch append) publish as DELTAS instead:
    * the WRITE drops to O(changes) bytes (~KB instead of the ~5 MB
    * full list — the storage/IO term that accumulates per
    * micro-batch), with a full checkpoint forced every
    * [[CheckpointEvery]] publishes so a resolve reads at most that
    * many small files. Publish LATENCY stays resolve-bound either
    * way (the delta diff needs the previous list), and the live list
    * still materializes in driver memory per resolve (~MB at 10⁵
    * lines) — size retention/compaction so live files stay ≲10⁶.
    * (private[graft] for the receipt spec.) */
  /** Length of the delta chain ENDING at snapshot `n` (0 when `n` is
    * a full checkpoint). Bounded walk — at most CheckpointEvery + 1
    * existence probes. */
  private def deltaChainLen(spark: SparkSession, path: String,
      n: Long): Int = {
    val fs = fsOf(spark, snapDir(path))
    var g = n
    var c = 0
    while (g >= 1 && c <= CheckpointEvery &&
      !fs.exists(fullPath(path, g)) && fs.exists(deltaPath(path, g))) {
      c += 1; g -= 1
    }
    c
  }

  private[graft] def publish(spark: SparkSession, path: String,
      files: Seq[String], header: Seq[String] = Nil,
      prevFiles: Option[Seq[String]] = None): Long = {
    val d = snapDir(path)
    val fs = fsOf(spark, d)
    fs.mkdirs(d)
    val cur = currentSnapshot(spark, path).getOrElse(0L)
    val next = cur + 1L
    // DELTA when it is genuinely smaller than the full list and the
    // chain stays under the checkpoint cadence; full otherwise (and
    // always when anything about the previous resolve fails — a full
    // checkpoint is self-contained and heals the chain). Callers that
    // already resolved the previous list pass it in (`prevFiles`), so
    // the hot append path pays ONE chain resolution, not two.
    val delta: Option[Seq[String]] =
      if (cur == 0L || deltaChainLen(spark, path, cur) >= CheckpointEvery)
        None
      else scala.util.Try {
        val prev = prevFiles.getOrElse(manifestFiles(spark, path, cur))
        val pSet = prev.toSet
        val fSet = files.toSet
        val adds = files.filterNot(pSet).sorted.map("+" + _)
        val dels = prev.filterNot(fSet).sorted.map("-" + _)
        if (adds.size + dels.size < files.size)
          Some(header ++ adds ++ dels)
        else None
      }.toOption.flatten
    val (tmp, dst, body) = delta match {
      case Some(b) => (new Path(d, s".$DeltaPrefix$next.tmp"),
        new Path(d, s"$DeltaPrefix$next"), b)
      case None => (new Path(d, s".$SnapPrefix$next.tmp"),
        new Path(d, s"$SnapPrefix$next"), header ++ files.sorted)
    }
    val out = fs.create(tmp, true)
    try out.write(body.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    // the rename IS the commit — on filesystems where a failed rename
    // returns false instead of throwing, ignoring it would report
    // success while the landed files stay invisible orphans and the
    // #batch watermark is never recorded (silent data loss under the
    // exactly-once contract), so refuse loudly
    require(fs.rename(tmp, dst),
      s"failed to publish snapshot $next of store '$path' — " +
        s"rename($tmp) returned false; the prior snapshot is intact " +
        "and the landed files are unreferenced orphans (vacuumOrphans " +
        "reclaims them)")
    next
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
    * the partition directories becomes the first snapshot. [[append]]
    * and [[appendBatch]] run it on an un-sealed store, and the
    * provider runs it when it opens an un-sealed store holding data.
    *
    * The seal PUBLISHES a `#schema=` header derived from the adopted
    * files' merged parquet footers: without it the first append's
    * [[schemaHeader]] merge would start from nothing and record a
    * batch-only schema, which [[scanFiles]] then applies explicitly —
    * silently dropping every column that exists only in the adopted
    * pre-seal files (the exact vanish the explicit-schema read was
    * built to prevent). An init over an empty directory has no files
    * to derive from and publishes headerless — the first append's
    * header takes over. */
  def init(spark: SparkSession, path: String): Long =
    Bucketing.withIndexLease(spark, leaseKey(path), "snapInit") {
      if (currentSnapshot(spark, path).isEmpty) restoreAsides(spark, path)
      val files = listLive(spark, path)
      val header =
        if (files.isEmpty) Seq.empty[String]
        else schemaHeader(
          spark.read.option("mergeSchema", "true")
            .option("basePath", path)
            .parquet(files.map(f => s"$path/$f"): _*),
          spark, path)
      publish(spark, path, files,
        header = headerFor(currentBatchTags(spark, path)) ++ header)
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
    * Readers hold no lease, so a concurrent retire can delete a
    * DELTA chain's ancestor mid-resolve (the flat format's single
    * never-deleted live file had no such window) — the resolve
    * RETRIES on FileNotFound: the live snapshot only moves forward,
    * and the retry re-resolves through the freshly-materialized
    * checkpoint. Scope: the retry covers driver-side MANIFEST
    * resolution only — the returned DataFrame scans its parquet
    * lazily, so a retire that deletes this snapshot's replaced files
    * AFTER read() returns still fails the in-flight scan (which is
    * why every retiring caller keeps the default one-cycle
    * `keepSnapshots = 1` reader grace). A memoized scan changes
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
    * snapshot (the [[VersionedTable.readVersion]] contract at store
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
    // the FileNotFound catch also covers a racing retire deleting a
    // DELTA chain's ancestor mid-resolve
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
      val d = snapDir(path)
      val fs = fsOf(spark, d)
      val nums = snapshotNumbers(spark, path)
      val chains = foldChains(spark, path, nums)
      requireLiveResolved(chains, nums, path, "vacuumOrphans")
      val referenced: Set[String] = chains.values.flatten.toSet
      val orphans = listLive(spark, path).filterNot(referenced)
      val root = new Path(path)
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
    * un-sealed store first. The seal goes through [[init]], NOT a bare
    * publish: init derives the `#schema=` header from any adopted
    * files' merged parquet footers — a headerless seal would let the
    * first append's batch-only schema header silently drop columns
    * that exist only in the pre-seal files (the A20 vanish init
    * prevents). The lease is re-entrant, so the nested init shares the
    * caller's, and two writers on a fresh store cannot both seal it. */
  private def sealedSnapshot(spark: SparkSession, path: String): Long =
    currentSnapshot(spark, path).getOrElse(init(spark, path))

  /** The shared body of [[append]] and [[appendBatch]], under their
    * lease: land under an invisible temp root, move into the live
    * tree, publish snapshot `n`'s files plus the new ones with `tags`
    * as the batch watermarks. A crash before publish leaves only
    * unreferenced orphans — the prior snapshot is untouched. */
  private def land(events: DataFrame, path: String, n: Long,
      tags: Map[String, Long], maxRecordsPerFile: Int,
      sortWithin: Seq[String], keepSnapshots: Int): Long = {
    val spark = events.sparkSession
    requireCompatibleSchema(events, spark, path)
    val prev = manifestFiles(spark, path, n)
    val tmp = new Path(path, ".snap_append_tmp")
    val fs = fsOf(spark, tmp)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    EventStore.write(events, tmp.toString, maxRecordsPerFile, sortWithin)
    val moved = moveIntoLive(spark, tmp, new Path(path))
    val snap = publish(spark, path, prev ++ moved,
      headerFor(tags) ++ schemaHeader(events, spark, path),
      prevFiles = Some(prev))
    retire(spark, path, keepSnapshots)
    snap
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
      val n = sealedSnapshot(spark, path)
      land(events, path, n, committedBatches(spark, path, n),
        maxRecordsPerFile, sortWithin, keepSnapshots)
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
      streamId: String = "default"): Long = {
    require(!streamId.contains("\n"),
      "streamId must not contain newlines (it lives in the manifest)")
    val spark = events.sparkSession
    Bucketing.withIndexLease(spark, leaseKey(path), "snapAppendBatch") {
      val n = sealedSnapshot(spark, path)
      val tags = committedBatches(spark, path, n)
      if (tags.get(streamId).exists(_ >= batchId)) n
      else land(events, path, n, tags + (streamId -> batchId),
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

  private def readFiles(spark: SparkSession, path: String,
      rels: Seq[String]): DataFrame =
    scanFiles(spark, path, rels, schemaTagOf(spark, path))

  /** Rewrite `replaced` as `transform` of their rows, landing new
    * files invisibly and publishing `keep − replaced + new`. The
    * shared shape of compact / retention / realm-clear.
    * `maxRecordsPerFile`/`sortWithin` mirror [[append]]'s write
    * discipline — a compaction must not silently undo the file-size
    * cap and within-file clustering the appends established (the
    * min/max-stats file skipping on `sortWithin` columns survives
    * maintenance). */
  private def rewriteFiles(spark: SparkSession, path: String,
      all: Seq[String], replaced: Seq[String],
      transform: DataFrame => DataFrame, keepSnapshots: Int,
      maxRecordsPerFile: Int, sortWithin: Seq[String],
      prevLive: Seq[String]): Long = {
    val tmp = new Path(path, ".snap_rewrite_tmp")
    val fs = fsOf(spark, tmp)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val moved = if (replaced.isEmpty) Seq.empty[String] else {
      val clustered = transform(readFiles(spark, path, replaced))
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
    val snap = publish(spark, path,
      all.diff(replaced) ++ moved,
      headerFor(currentBatchTags(spark, path)) ++
        schemaTagOf(spark, path).map(j => s"#schema=$j").toSeq,
      prevFiles = Some(prevLive))
    retire(spark, path, keepSnapshots)
    snap
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
      val n = currentSnapshot(spark, path).getOrElse(throw
        new IllegalStateException(s"un-sealed store '$path' — init first"))
      val all = manifestFiles(spark, path, n)
      val oversized = all.groupBy(r => partitionOf(r))
        .filter(_._2.size > maxFilesPerPartition)
      if (oversized.isEmpty) 0
      else {
        rewriteFiles(spark, path, all, oversized.values.flatten.toSeq,
          identity, keepSnapshots, maxRecordsPerFile, sortWithin,
          prevLive = all)
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
      val n = currentSnapshot(spark, path).getOrElse(throw
        new IllegalStateException(s"un-sealed store '$path' — init first"))
      val all = manifestFiles(spark, path, n)
      val dropped = all.filter(r => partitionStartMs(r) + 3600000L <= olderThanMs)
      val boundary = all.filter { r =>
        val s = partitionStartMs(r)
        s < olderThanMs && s + 3600000L > olderThanMs
      }
      if (dropped.isEmpty && boundary.isEmpty) 0
      else {
        val afterDrop = all.diff(dropped)
        rewriteFiles(spark, path, afterDrop, boundary,
          _.filter(col("time") >= olderThanMs), keepSnapshots,
          maxRecordsPerFile, sortWithin, prevLive = all)
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
      val n = currentSnapshot(spark, path).getOrElse(throw
        new IllegalStateException(s"un-sealed store '$path' — init first"))
      val all = manifestFiles(spark, path, n)
      val doomed = olderThanMs.foldLeft(col("realmid") === realmId) {
        (p, cut) => p && col("time") < cut
      }
      val touched = if (all.isEmpty) Set.empty[(String, Int)]
        else readFiles(spark, path, all)
          .filter(doomed)
          .select(col("dt").cast("string").as("dt"),
            col("hour").cast("int").as("hour"))
          .distinct()
          .collect() // bounded: one row per store partition
          .map(r => (r.getString(0), r.getInt(1))).toSet
      if (touched.isEmpty) 0
      else {
        val replaced = all.filter(r => touched.contains(partitionOf(r)))
        rewriteFiles(spark, path, all, replaced,
          _.filter(not(coalesce(doomed, lit(false)))), keepSnapshots,
          maxRecordsPerFile, sortWithin, prevLive = all)
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
    val nums = snapshotNumbers(spark, path)
    val live = nums.lastOption
    val resolved = foldChains(spark, path, nums)
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
    * physical files only they reference, prune emptied partition
    * dirs. Run automatically by every write verb with the default
    * one-cycle grace; callable directly with a larger horizon for
    * stores whose queries outlive a maintenance cycle. Returns files
    * deleted. */
  def retire(spark: SparkSession, path: String,
      keepSnapshots: Int = 1): Int =
    Bucketing.withIndexLease(spark, leaseKey(path), "snapRetire") {
      val d = snapDir(path)
      val fs = fsOf(spark, d)
      val nums = snapshotNumbers(spark, path)
      val retired = if (nums.isEmpty) Seq.empty[Long]
        else nums.filter(_ < nums.last - keepSnapshots)
      if (retired.isEmpty) 0
      else {
        val kept = nums.filter(_ >= nums.last - keepSnapshots)
        // resolve EVERYTHING before any deletion (the delta chains
        // still need their ancestors), in ONE forward fold — and
        // TOLERANTLY: an unresolvable number (a dangling delta from a
        // crashed retire) is skipped, never a wedge
        val resolved = foldChains(spark, path, nums)
        requireLiveResolved(resolved, nums, path, "retire")
        val keepFiles = kept.flatMap(resolved.get).flatten.toSet
        val doomed = retired.flatMap(resolved.get).flatten
          .distinct.filterNot(keepFiles)
        // MATERIALIZE the oldest kept snapshot as a FULL checkpoint
        // before deleting below it: a kept delta whose base is about
        // to retire would otherwise be unresolvable forever. Write
        // tmp → rename (atomic; resolution prefers the full form when
        // both exist, so a crash between the rename and the delta
        // delete is benign), then drop the superseded delta.
        val oldest = kept.head
        if (fs.exists(deltaPath(path, oldest)) &&
          !fs.exists(fullPath(path, oldest)) &&
          resolved.contains(oldest)) {
          val lines = headerLines(spark, path, oldest) ++ resolved(oldest)
          val tmp = new Path(d, s".$SnapPrefix$oldest.tmp")
          val out = fs.create(tmp, true)
          try out.write(lines.mkString("\n").getBytes("UTF-8"))
          finally out.close()
          require(fs.rename(tmp, fullPath(path, oldest)),
            s"failed to materialize checkpoint $oldest of '$path'")
        }
        if (fs.exists(fullPath(path, oldest)))
          fs.delete(deltaPath(path, oldest), false)
        val root = new Path(path)
        doomed.foreach(r => fs.delete(new Path(root, r), false))
        // DESCENDING order: children (deltas) die before their bases,
        // so a crash mid-loop can never leave a delta whose base is
        // already gone
        retired.sorted.reverse.foreach { v =>
          fs.delete(new Path(d, s"$SnapPrefix$v"), false)
          fs.delete(new Path(d, s"$DeltaPrefix$v"), false)
        }
        // prune partition dirs the deletions emptied
        for (dt <- fs.listStatus(root).toSeq
             if dt.isDirectory && dt.getPath.getName.startsWith("dt=")) {
          for (hour <- fs.listStatus(dt.getPath).toSeq
               if hour.isDirectory && hour.getPath.getName.startsWith("hour=")
               if fs.listStatus(hour.getPath).isEmpty)
            fs.delete(hour.getPath, true)
          if (fs.listStatus(dt.getPath).isEmpty) fs.delete(dt.getPath, true)
        }
        doomed.size
      }
    }
}
