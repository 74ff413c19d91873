package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed table layout for shuffle-free co-located joins.
  *
  * At 100 TB the dominant cost of a fact-fact join is the shuffle of
  * both sides. Writing each fact table bucketed (and sorted) by its
  * join key lets Spark plan a SortMergeJoin whose children read
  * pre-partitioned, pre-sorted buckets — zero Exchange, zero Sort at
  * query time. This is the Spark analog of the co-located layouts
  * MPP warehouses use for their distribution keys, and the standard
  * answer to "this join's shuffle is the bottleneck".
  *
  * Bucket count guidance: pick so each bucket file lands in the
  * 128 MB–1 GB range at the target scale; the count must match on
  * both sides of the join (or divide evenly) for co-location.
  */
object Bucketing {

  /** Canonical warehouse directory of a (managed or re-registered)
    * table. */
  private def tableDir(spark: SparkSession, table: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Durable record that [[compactBucketed]]'s swap is between its
    * drop and its rename — the one non-atomic window. Lives in the
    * warehouse DIRECTORY (not the catalog), so it survives a process
    * death even under the default in-memory catalog, letting the
    * next call detect and finish the interrupted swap. */
  private def swapMarker(spark: SparkSession, table: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"${table.toLowerCase}__swap_pending")

  /** Drop a table AND its leftover warehouse directory. A fresh
    * session's in-memory catalog forgets managed tables but their
    * directories persist, and a stale location fails the next CREATE
    * with LOCATION_ALREADY_EXISTS. Also clears any pending-swap
    * marker: a rebuild supersedes an interrupted compaction. */
  /** Public face of [[dropStale]] for index families with OPTIONAL
    * side tables (the sim index's lazily-created `_vchunks` /
    * `_vframes`): a rebuild must clear them explicitly — they are
    * created by append, so no overwrite path would, and a stale
    * directory from a dead session would otherwise either poison
    * the rebuilt index with the old index's evidence or fail the
    * next lazy create with LOCATION_ALREADY_EXISTS. */
  def dropTableAndDir(spark: SparkSession, table: String): Unit =
    dropStale(spark, table)

  private def dropStale(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"DROP TABLE IF EXISTS `${table}__gen_stage`")
    val loc = tableDir(spark, table)
    val fs = fsOf(spark, loc)
    if (fs.exists(loc)) fs.delete(loc, true)
    val mk = swapMarker(spark, table)
    if (fs.exists(mk)) fs.delete(mk, false)
    // sweep generation directories and pointers (see the
    // "generation-location swap" section below) — prefix-filtered
    // listing, not a full warehouse scan
    val pat = s"${table.toLowerCase}__g(ptr_)?\\d+".r
    globWarehouse(spark, s"${table.toLowerCase}__g").map(_.getPath)
      .filter(p => pat.pattern.matcher(p.getName).matches())
      .foreach(fs.delete(_, true))
  }

  // ---------------------------------------------------------------
  // Generation-location swap — scan-time snapshot isolation for
  // REWRITTEN tables (the window [[stableTable]]'s scaladoc names).
  //
  // A maintenance rewrite (compaction, reband, rebalance, retire
  // sweep) used to replace a table via drop→rename: crash-safe for
  // the writer, but a reader that resolved the table BEFORE the swap
  // and is still scanning when the old files are deleted dies
  // mid-query — at 100 TB with streaming loops compacting while
  // dashboards serve, that fires daily. The fix is the
  // [[VersionedTable]] pointer discipline applied to the table's
  // LOCATION, with the catalog entry as the pointer:
  //
  //   - each rewrite builds generation g+1 COMPLETELY in a fresh
  //     directory `<table>__g<g+1>` (generation 0 is the legacy
  //     managed directory `<table>`);
  //   - a durable name-encoded pointer file `<table>__gptr_<g+1>`
  //     records the new generation FIRST (a restart resolves through
  //     it, so a crash after this point already serves the new
  //     generation via [[registerExisting]]);
  //   - `ALTER TABLE .. SET LOCATION` repoints the catalog entry —
  //     ONE atomic catalog op, so there is NO instant at which the
  //     table is absent (the drop→rename resolve window is gone, not
  //     just retried around);
  //   - the generation BEFORE the replaced one retires; the replaced
  //     one stays on disk for one further rewrite, so a reader that
  //     resolved just before the flip keeps scanning immutable files
  //     to completion — the VersionedTable reader grace, location-
  //     level.
  //
  // The table NAME never changes, so every call site (and every
  // serve path) inherits snapshot isolation with zero changes.
  // ---------------------------------------------------------------

  private def genPtrPrefix(table: String) = s"${table.toLowerCase}__gptr_"

  private def genDirPath(spark: SparkSession, table: String, g: Long) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"${table.toLowerCase}__g$g")

  /** PREFIX-FILTERED warehouse listing — the pointer/generation
    * resolves' scale posture: a full `listStatus(warehouse)` per
    * resolve is O(#tables + pointers + leases + markers) driver-side,
    * and lifecycle verbs resolve several times each — at hundreds of
    * families × frequent maintenance that is an accidental O(N²).
    * `globStatus` on the name prefix pushes the filter into the
    * filesystem (HDFS/S3 list-with-prefix), keeping each resolve
    * O(matches). The prefix is a LITERAL name fragment, so glob
    * metacharacters in it (a caller-supplied index name containing
    * `[`/`{`/`*`…) are escaped — the old listStatus+startsWith
    * resolve treated them literally, and this must too. Returns
    * empty when the warehouse does not exist (globStatus yields null
    * for a missing parent). */
  private[sources] def globWarehouse(spark: SparkSession,
      prefix: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = fsOf(spark, wh)
    val escaped = prefix.flatMap {
      case c @ ('*' | '?' | '[' | ']' | '{' | '}' | '\\') => s"\\$c"
      case c => c.toString
    }
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(wh, escaped + "*")))
      .map(_.toSeq).getOrElse(Seq.empty)
  }

  /** Live generation of `table` (0 = legacy directory, never swapped). */
  private[graft] def generationOf(spark: SparkSession, table: String): Long = {
    val pfx = genPtrPrefix(table)
    globWarehouse(spark, pfx).map(_.getPath.getName)
      .flatMap(n => scala.util.Try(n.drop(pfx.length).toLong).toOption)
      .sorted.lastOption.getOrElse(0L)
  }

  /** Create-then-sweep pointer flip (max wins; a crash between the
    * two steps leaves two pointers, resolved to the max and swept by
    * the next flip — the [[VersionedTable]] pointer discipline). */
  private def flipGenPointer(spark: SparkSession, table: String,
      next: Long): Unit = {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = fsOf(spark, wh)
    fs.mkdirs(wh)
    val pfx = genPtrPrefix(table)
    val p = new org.apache.hadoop.fs.Path(wh, s"$pfx$next")
    if (!fs.exists(p)) fs.create(p, false).close()
    globWarehouse(spark, pfx).map(_.getPath)
      .filter(q => scala.util.Try(
        q.getName.drop(pfx.length).toLong).toOption.exists(_ < next))
      .foreach(fs.delete(_, false))
  }

  /** Can `table` be replaced by a generation swap instead of a
    * drop-and-recreate? Yes iff it exists in the catalog and neither
    * its schema (names+types) nor its bucket layout changes — SET
    * LOCATION moves only the data, so the catalog metadata must stay
    * valid for the new files. A genuine re-shape (new columns, new
    * bucket spec) takes the legacy full-replace path, disclosed as
    * the one remaining reader window of that (rare, rebuild-class)
    * verb. */
  private def canGenerationSwap(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType,
      bucketSpec: Option[(String, Int)]): Boolean = {
    if (!spark.catalog.tableExists(table)) return false
    try {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      val sameSchema = meta.schema.fields.map(f =>
        (f.name.toLowerCase, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq
      val sameBuckets = (meta.bucketSpec, bucketSpec) match {
        case (None, None) => true
        case (Some(b), Some((c, n))) =>
          b.numBuckets == n &&
            b.bucketColumnNames.map(_.toLowerCase) == Seq(c.toLowerCase)
        case _ => false
      }
      sameSchema && sameBuckets
    } catch { case _: Exception => false }
  }

  /** The swap itself: build generation g+1 fully in its own
    * directory (under a throwaway stage catalog name — external, so
    * dropping the alias never touches the files), flip the durable
    * pointer, repoint the live entry with ONE atomic ALTER, then
    * retire generations `<= g-1` (down-walk, stops at the first
    * absent — O(1) steady-state, self-healing after a crashed
    * retire). The replaced generation g stays alive for in-flight
    * scanners. */
  /** The generation encoded in `table`'s CURRENT catalog location —
    * what readers resolving the table right now actually scan. The
    * pointer can legitimately run AHEAD of this (a crash between
    * [[flipGenPointer]] and the ALTER), so retire decisions must key
    * off the served generation, never the pointer. */
  private def servedGenerationOf(spark: SparkSession,
      table: String): Long = {
    val name = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
      .getName
    val pfx = s"${table.toLowerCase}__g"
    if (name.startsWith(pfx))
      scala.util.Try(name.drop(pfx.length).toLong).getOrElse(0L)
    else 0L
  }

  private def generationSwap(df: DataFrame, table: String,
      bucketSpec: Option[(String, Int)]): Unit = {
    val spark = df.sparkSession
    val cur = generationOf(spark, table)
    val next = cur + 1
    val nextDir = genDirPath(spark, table, next)
    val fs = fsOf(spark, nextDir)
    val stage = s"${table}__gen_stage"
    spark.sql(s"DROP TABLE IF EXISTS `$stage`")
    if (fs.exists(nextDir)) fs.delete(nextDir, true)
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", nextDir.toString)
    bucketSpec.fold(w)(bs =>
      w.bucketBy(bs._2, bs._1).sortBy(bs._1)).saveAsTable(stage)
    // the retire floor derives from what the catalog SERVED until
    // this instant, not from the pointer: after a crash between a
    // prior swap's pointer flip and its ALTER, the pointer reads g+1
    // while the catalog still serves g — a pointer-derived floor
    // would then retire g, deleting the directory in-flight readers
    // were promised one rewrite of grace on. servedGen keeps its
    // grace; only generations strictly below it retire.
    val servedGen = servedGenerationOf(spark, table)
    flipGenPointer(spark, table, next)
    spark.sql(s"ALTER TABLE `$table` SET LOCATION '$nextDir'")
    spark.catalog.refreshTable(table)
    spark.sql(s"DROP TABLE IF EXISTS `$stage`") // external: files stand
    var g = math.min(servedGen, cur) - 1
    var walking = true
    while (g >= 0 && walking) {
      val d = if (g == 0) tableDir(spark, table)
        else genDirPath(spark, table, g)
      if (fs.exists(d)) { fs.delete(d, true); g -= 1 }
      else walking = false
    }
  }

  /** GENERATION-LEVEL TIME TRAVEL for a swap-maintained table — the
    * audit read ("what did the index hold before that compaction?")
    * that [[VersionedTable.readVersion]] gives pointer tables and
    * [[SnapshotEventStore.readSnapshot]] gives the event store, at
    * location grain: reads generation `g`'s directory directly
    * (g = 0 is the legacy managed directory). Valid for the live
    * generation and the one-rewrite grace generation; an already-
    * retired generation fails loudly naming the live one. Plain
    * parquet scan, no catalog entry — bucket metadata does not ride
    * a raw directory read, so joins against an audit read shuffle
    * normally (disclosed; audit reads are not the serve path). */
  def readGeneration(spark: SparkSession, table: String,
      g: Long): DataFrame = {
    val live = generationOf(spark, table)
    val d = if (g == 0L) tableDir(spark, table)
      else genDirPath(spark, table, g)
    require(g >= 0L && fsOf(spark, d).exists(d),
      s"generation $g of table '$table' is retired or never existed " +
        s"— live generation is $live (grace generation " +
        s"${math.max(live - 1, 0)} may also be readable)")
    spark.read.parquet(d.toString)
  }

  /** Reclaim GENERATION ORPHANS of a swap-maintained table: directories
    * a crashed [[generationSwap]] leaves that nothing else deletes —
    * a fully-built `__g<n>` with n ABOVE the live pointer (death
    * between the build and the pointer flip; the next swap overwrites
    * only the SAME number, so a different-numbered leftover stands
    * forever), and below-floor leftovers the retire down-walk missed
    * (it stops at the first absent directory, so a gap strands
    * everything older). Keeps the live generation and its one-rewrite
    * grace predecessor. Holds the table's writer lease — an in-flight
    * swap's fully-built next generation looks exactly like an orphan,
    * so the vacuum must serialize with writers; callers composing
    * family-level verbs (which lease the FAMILY name, not the table)
    * run this in the family's quiet window. Returns directories
    * deleted. */
  def vacuumGenerations(spark: SparkSession, table: String): Int =
    withIndexLease(spark, table, "vacuumGenerations") {
      val live = generationOf(spark, table)
      // the keep-set follows what the CATALOG serves, not just the
      // pointer (the generationSwap retire-floor rule): after a crash
      // between a swap's pointer flip and its ALTER the pointer runs
      // ahead of the served generation — a pointer-only keep-set of
      // {live, live-1} would then delete the served generation's
      // promised grace while preserving a never-served build. Keep
      // the pointer generation (what re-open resolves), the served
      // generation (what current readers scan), and the served one's
      // grace predecessor.
      val served = if (spark.catalog.tableExists(table))
        servedGenerationOf(spark, table) else live
      val keep = Set(live, served, served - 1)
      val pat = s"${table.toLowerCase}__g\\d+".r
      val pfx = s"${table.toLowerCase}__g"
      val gens = globWarehouse(spark, pfx)
        .map(_.getPath)
        .filter(p => pat.pattern.matcher(p.getName).matches())
        .flatMap(p => scala.util.Try(
          p.getName.drop(pfx.length).toLong).toOption.map(_ -> p))
      val doomed = gens.filterNot { case (n, _) => keep.contains(n) }
      val fs = fsOf(spark, new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir")))
      doomed.foreach { case (_, p) => fs.delete(p, true) }
      // the legacy directory (generation 0) is below-floor once it
      // leaves the keep-set
      val legacy = tableDir(spark, table)
      val legacyDoomed = !keep.contains(0L) && fs.exists(legacy)
      if (legacyDoomed) fs.delete(legacy, true)
      doomed.size + (if (legacyDoomed) 1 else 0)
    }

  /** Durable filesystem markers for MULTI-table maintenance verbs
    * (the ANN rebalance changes centroids AND assignments together):
    * same warehouse-directory durability as [[swapMarker]], named by
    * the caller, so an index family can declare "the staged state is
    * now the truth" across a process death. */
  private[graft] def createMarker(spark: SparkSession, tag: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tag)
    fsOf(spark, p).create(p, true).close()
  }
  private[graft] def markerExists(spark: SparkSession, tag: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tag)
    fsOf(spark, p).exists(p)
  }
  private[graft] def deleteMarker(spark: SparkSession, tag: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tag)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.delete(p, false)
  }

  // ---------------------------------------------------------------
  // Single-writer LEASE for index lifecycle verbs.
  //
  // Every index family's verbs (append/compact/reband/rebalance/
  // rebuild/rechunk/retire/reconcile) are individually crash-safe,
  // but not CONCURRENT-safe: two sessions running verbs on one index
  // can interleave stage/marker states (a streaming ingest appending
  // while an operator rebands is the realistic 100 TB window). The
  // lease makes that window fail LOUDLY: a verb acquires
  // `<name>__lease` in the warehouse directory before mutating,
  // releases after, and a second writer finding a live lease throws
  // instead of interleaving. A lease older than `staleMs` is STOLEN
  // (the holder is presumed dead — crash-exit never releases), so a
  // crashed verb blocks the index for at most the stale window.
  //
  // Scope, disclosed: the create(overwrite=false) acquire is atomic
  // on HDFS-like stores; on object stores without atomic create the
  // lease is best-effort mutual exclusion — still strictly better
  // than the nothing it replaces, and the steal path's
  // read-check-delete race is bounded by one verb's duration.
  // Re-entrancy is per-thread: a verb that nests other verbs
  // (reconcile → append → repair) holds ONE lease for the whole
  // composition.
  // ---------------------------------------------------------------

  private def leasePath(spark: SparkSession, name: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"${name.toLowerCase}__lease")

  private val heldLeases = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty[String]
  }

  /** Default steal-after window: generous against slow verbs (a
    * compaction of a large index), small against operational pain.
    * With the heartbeat (below) refreshing the lease's mtime every
    * `staleMs / 3`, staleness means CRASHED, not slow, on stores
    * whose `setTimes` works (HDFS, local FS) — a verb legitimately
    * running for hours keeps its lease fresh. On stores where
    * `setTimes` is unsupported the heartbeat cannot refresh and the
    * protection degrades to the pre-heartbeat contract (a verb
    * slower than the window can be mistaken for dead); the acquire
    * probes this ONCE and warns loudly so the degradation is never
    * silent. */
  val DefaultLeaseStaleMs: Long = 15L * 60L * 1000L

  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[(String, String)] =
    try {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in).mkString
      finally in.close()
      raw.split("\n", 2) match {
        case Array(verb, token) => Some((verb.trim, token.trim))
        case Array(verb) => Some((verb.trim, "")) // pre-token format
        case _ => None
      }
    } catch { case _: Exception => None }

  /** Runs `body` holding the single-writer lease of index `name`.
    * Throws IllegalStateException if another live writer holds it;
    * steals a lease older than `staleMs`. Re-entrant within the
    * acquiring thread (nested verbs share the outer lease).
    *
    * Liveness vs crash is disambiguated by a HEARTBEAT: a daemon
    * thread touches the lease file's mtime every `staleMs / 3`
    * while `body` runs, so a verb slower than the stale window is
    * not mistaken for a dead holder — staleness means the heartbeat
    * stopped, i.e. the holding JVM crashed. Best-effort, disclosed:
    * the heartbeat and fenced release are read-then-act, so the
    * stolen-lease race is narrowed (to one beat / one delete), not
    * closed; and on stores without `setTimes` the heartbeat cannot
    * refresh at all — probed once at acquire, warned loudly.
    * Release is
    * FENCED by a unique holder token written into the lease: the
    * finally re-reads the file and deletes it only if the token is
    * still its own, so a holder whose lease WAS stolen (clock skew,
    * a paused JVM outliving the window) can never release the new
    * holder's lease and open the index to a third writer. */
  def withIndexLease[T](spark: SparkSession, name: String, verb: String,
      staleMs: Long = DefaultLeaseStaleMs)(body: => T): T = {
    val key = name.toLowerCase
    if (heldLeases.get.contains(key)) return body
    val p = leasePath(spark, key)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) {
      val st = fs.getFileStatus(p)
      val age = System.currentTimeMillis() - st.getModificationTime
      if (age <= staleMs) {
        val holder = readLease(fs, p).map(_._1).getOrElse("<unreadable>")
        throw new IllegalStateException(
          s"index '$key' is locked by an in-flight '$holder' verb " +
            s"(lease age ${age / 1000}s <= stale window " +
            s"${staleMs / 1000}s) — concurrent lifecycle verbs on one " +
            "index can interleave stage/marker states; wait for the " +
            "holder or, if it is dead, delete the lease at " +
            s"$p or retry after the stale window")
      }
      // stale: the heartbeat stopped, the holder is presumed
      // crashed — steal
      fs.delete(p, false)
    }
    val token = java.util.UUID.randomUUID().toString
    val out = fs.create(p, false) // atomic no-overwrite create
    try out.write(s"$verb\n$token".getBytes("UTF-8")) finally out.close()
    // probe setTimes support ONCE at acquire: on stores where it is
    // unsupported the heartbeat silently cannot refresh mtime, and a
    // verb slower than the stale window is again stealable — degrade
    // LOUDLY, not silently (the heartbeat loop's catch would swallow
    // it every beat)
    try fs.setTimes(p, System.currentTimeMillis(), -1)
    catch {
      case e: Exception => System.err.println(
        s"[graft-lease] WARNING: setTimes unsupported on this store " +
          s"(${e.getClass.getSimpleName}) — the '$verb' lease on " +
          s"'$key' cannot heartbeat; a run longer than " +
          s"${staleMs / 1000}s may be stolen as presumed-dead")
    }
    val beatEvery = math.max(staleMs / 3, 50L)
    val stop = new java.util.concurrent.CountDownLatch(1)
    val beat = new Thread(() => {
      while (!stop.await(beatEvery,
        java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try {
          // only the still-owning holder refreshes: a stolen lease
          // is the NEW holder's to keep alive
          if (readLease(fs, p).exists(_._2 == token))
            fs.setTimes(p, System.currentTimeMillis(), -1)
        } catch { case _: Exception => () } // advisory; next beat retries
      }
    }, s"graft-lease-heartbeat-$key")
    beat.setDaemon(true)
    beat.start()
    heldLeases.get += key
    try body
    finally {
      heldLeases.get -= key
      stop.countDown()
      beat.join(1000)
      // fenced release: delete only OUR lease — if it was stolen,
      // the file now carries the new holder's token and must stand
      if (readLease(fs, p).exists(_._2 == token)) fs.delete(p, false)
    }
  }

  /** Acquire EVERY named index's single-writer lease (sorted order —
    * two multi-index verbs acquiring in a deterministic order cannot
    * deadlock), then run `body`. Built on [[withIndexLease]]'s
    * per-thread re-entrancy, so a verb that already holds some of
    * the leases nests freely. The multi-index verbs (shard merges)
    * need this: leasing only the TARGET leaves a concurrent append
    * free to mutate a SOURCE between the merge's read passes,
    * yielding a merged index whose tables disagree. */
  def withIndexLeases[T](spark: SparkSession, names: Seq[String],
      verb: String)(body: => T): T =
    names.distinct.sorted.foldRight(() => body)((n, acc) =>
      () => withIndexLease(spark, n, verb)(acc())).apply()

  /** The verb named in index `name`'s live lease, if one exists —
    * the ops-card observability read of the single-writer protocol
    * (it does NOT check staleness; the card reports what is on
    * disk, the acquiring verb decides whether to steal). */
  def leaseHolder(spark: SparkSession, name: String): Option[String] = {
    val p = leasePath(spark, name.toLowerCase)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else Some(readLease(fs, p).map(_._1).getOrElse("<unreadable>"))
  }

  /** Public marker probe for ops observability ([[graft.operators
    * .OpsCard]] reads the maintenance markers every family's verbs
    * write; the verbs themselves keep the private[graft] faces). */
  def maintenanceMarkerExists(spark: SparkSession, tag: String): Boolean =
    markerExists(spark, tag)

  /** Cross-restart half of the swap recovery: if a PRIOR PROCESS
    * died inside [[compactBucketed]]'s drop→rename window (durable
    * marker present, catalog — having not survived the restart —
    * knows neither the live nor the staging table), finish the swap
    * at the filesystem level: the staging directory holds the
    * complete compacted copy (it is fully written before the marker
    * appears), so it becomes the live directory. No-op otherwise.
    * Idempotent. Callers then [[registerExisting]] to restore the
    * catalog entry. */
  def finishInterruptedSwap(spark: SparkSession, table: String): Unit = {
    val tmp = s"${table}__compact_tmp"
    val mk = swapMarker(spark, table)
    val fs = fsOf(spark, mk)
    if (!fs.exists(mk)) return
    if (spark.catalog.tableExists(table) || spark.catalog.tableExists(tmp))
      return // in-session state: the catalog-based recovery path owns it
    val live = tableDir(spark, table)
    val stage = tableDir(spark, tmp)
    if (fs.exists(stage)) {
      // marker ⇒ staging is complete; prefer it over any live leftover
      if (fs.exists(live)) fs.delete(live, true)
      fs.rename(stage, live)
    }
    fs.delete(mk, false)
  }

  /** Re-registers a table from its surviving warehouse directory
    * after a restart (the default in-memory catalog forgets every
    * managed table; the parquet files — bucket ids encoded in their
    * file names — persist). Schema is read from the files; the
    * bucket spec must be passed because parquet does not record it.
    * Returns false if the directory does not exist either. */
  def registerExisting(spark: SparkSession, table: String,
      bucketSpec: Option[(String, Int)]): Boolean = {
    // a table maintained by generation swaps lives at its pointer's
    // generation directory, not the legacy warehouse/<table> one
    val gen = generationOf(spark, table)
    if (spark.catalog.tableExists(table)) {
      // CROSS-SESSION re-align: another JVM may have generation-
      // swapped this table since this session resolved it — our
      // catalog entry then pins a directory the writer retires one
      // rewrite later, and without this the reader's scans fail
      // FOREVER (the old in-place swap kept the location constant;
      // the generation swap must re-point on re-open instead). A
      // reader that merely holds a resolved DataFrame still has the
      // one-rewrite grace; re-opening through here (the openXxx
      // verbs' path) realigns it to the live generation.
      if (gen > 0L) {
        val live = genDirPath(spark, table, gen)
        val cur = new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
        if (cur.getName != live.getName && fsOf(spark, live).exists(live)) {
          spark.sql(s"ALTER TABLE `$table` SET LOCATION '$live'")
          spark.catalog.refreshTable(table)
        }
      }
      return true
    }
    val loc = if (gen == 0L) tableDir(spark, table)
      else genDirPath(spark, table, gen)
    if (!fsOf(spark, loc).exists(loc)) return false
    val cols = spark.read.parquet(loc.toString).schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val cluster = bucketSpec.map { case (c, n) =>
      s"CLUSTERED BY (`$c`) SORTED BY (`$c`) INTO $n BUCKETS "
    }.getOrElse("")
    spark.sql(s"CREATE TABLE `$table` ($cols) USING parquet " +
      cluster + s"LOCATION '${loc}'")
    true
  }

  /** Write `df` as a bucketed+sorted managed table. Idempotent across
    * sessions (see [[dropStale]]). When the table already exists with
    * the same schema and bucket layout (a rebuild/reband/rebalance
    * replacing content, the common maintenance shape), the replace is
    * a generation-location swap: the table name is never absent from
    * the catalog and a reader mid-scan keeps its old generation's
    * files — scan-time snapshot isolation for every maintenance verb
    * that funnels through here, zero call-site changes. A re-SHAPE
    * (different columns or bucket spec) still drops and recreates. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int): Unit = {
    val spec = Some((bucketCol, numBuckets))
    if (canGenerationSwap(df.sparkSession, table, df.schema, spec))
      generationSwap(df, table, spec)
    else {
      dropStale(df.sparkSession, table)
      df.write
        .mode("overwrite")
        .format("parquet")
        .bucketBy(numBuckets, bucketCol)
        .sortBy(bucketCol)
        .saveAsTable(table)
    }
  }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** READER half of the reader-vs-writer contract on swap-maintained
    * tables: [[compactBucketed]]'s drop→rename window is writer-safe
    * (marker + lease) but a concurrent READER resolving the table
    * inside it sees TABLE_OR_VIEW_NOT_FOUND for the few milliseconds
    * the catalog is between names. This resolve retries while (and
    * only while) the table's swap marker shows a swap in flight —
    * a genuinely absent table still fails immediately and loudly,
    * and the reader never MUTATES anything (rolling an interrupted
    * swap forward is the next WRITER's job; a reader doing it would
    * race the live writer it is waiting for).
    *
    * Scope: this closes the RESOLVE window for the legacy staged
    * swap (now only the re-SHAPE fallback path — see
    * [[compactBucketed]]). The scan-time window — a reader still
    * scanning files a swap deletes — is closed by the
    * generation-location swap for same-shape rewrites and by
    * [[VersionedTable]] for pointer-resolved tables. */
  def stableTable(spark: SparkSession, table: String,
      maxWaitMs: Long = 30000L): DataFrame = {
    val mk = swapMarker(spark, table)
    val fs = fsOf(spark, mk)
    val deadline = System.currentTimeMillis() + maxWaitMs
    while (true) {
      try return spark.table(table)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          if (System.currentTimeMillis() >= deadline || !fs.exists(mk))
            throw e
          Thread.sleep(50L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** APPEND to an existing bucketed table with a matching spec — new
    * rows land in new per-bucket files (no rewrite of existing data),
    * which is what makes a bucketed layout maintainable incrementally
    * (the [[graft.operators.Dedup]] persistent index append path). */
  def appendBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int): Unit =
    df.write
      .mode("append")
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Write a small unbucketed managed table (drop-and-replace,
    * idempotent across sessions like [[writeBucketed]], and like it
    * a generation-location swap when the shape is unchanged — stats
    * and meta tables are replaced on every append/maintenance verb,
    * so their readers get the same never-absent guarantee). */
  def writeTable(df: DataFrame, table: String): Unit = {
    if (canGenerationSwap(df.sparkSession, table, df.schema, None))
      generationSwap(df, table, None)
    else {
      dropStale(df.sparkSession, table)
      df.write.mode("overwrite").format("parquet").saveAsTable(table)
    }
  }

  /** Rewrites a bucketed table accreted by [[appendBucketed]] back to
    * one file per bucket (every append adds a file per bucket; after
    * K appends each bucketed scan opens K× the files). The rewrite is
    * a generation-location swap (see [[generationSwap]]): the
    * compacted copy is built COMPLETELY in the next generation's
    * directory, the catalog entry repoints with one atomic ALTER, and
    * the replaced generation's files survive one further rewrite for
    * in-flight scanners — no instant at which the table is absent
    * (the old drop→rename resolve window) and no deletion a pinned
    * reader can observe (the old scan-time window). A transform that
    * changes the SCHEMA (rare; retire sweeps keep it) falls back to
    * the legacy staged drop→rename, still guarded by the durable
    * [[swapMarker]]. Legacy crash states (a marker + staging left by
    * the old mechanism, or by the fallback) are finished on entry. */
  def compactBucketed(
      df: DataFrame => DataFrame = identity)(
      spark: SparkSession, table: String, bucketCol: String,
      numBuckets: Int): Unit = {
    finishInterruptedSwap(spark, table)
    val tmp = s"${table}__compact_tmp"
    val fs = fsOf(spark, swapMarker(spark, table))
    if (!spark.catalog.tableExists(table)) {
      require(spark.catalog.tableExists(tmp),
        s"neither $table nor its compact staging exists")
      spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
      fs.delete(swapMarker(spark, table), false)
      return
    }
    val out = df(spark.table(table))
    val spec = Some((bucketCol, numBuckets))
    if (canGenerationSwap(spark, table, out.schema, spec)) {
      generationSwap(out, table, spec)
      return
    }
    dropStale(spark, tmp)
    out.write
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(tmp)
    fs.create(swapMarker(spark, table), true).close()
    spark.sql(s"DROP TABLE `$table`")
    // a table re-registered by [[registerExisting]] is external —
    // DROP leaves its directory, and the rename below must find the
    // live location free (no-op for managed tables, whose DROP
    // already deleted it)
    val liveDir = tableDir(spark, table)
    if (fs.exists(liveDir)) fs.delete(liveDir, true)
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    fs.delete(swapMarker(spark, table), false)
  }

  /** Event-store layout for user-centric workloads: dt/hour PARTITIONS
    * (time-range directory pruning, like [[SnapshotEventStore.append]]) plus
    * userid BUCKETS inside each partition — per-user aggregations,
    * sessionization, and event↔event self-joins on userid read
    * pre-clustered buckets instead of shuffling the fact table each
    * query. The write pays the one-time shuffle the queries skip. */
  def writeBucketedEvents(
      events: DataFrame,
      table: String,
      numBuckets: Int = 8): Unit = {
    dropStale(events.sparkSession, table)
    EventStore.withPartitionColumns(events)
      .write
      .mode("overwrite")
      .format("parquet")
      .partitionBy("dt", "hour")
      .bucketBy(numBuckets, "userid")
      .sortBy("userid")
      .saveAsTable(table)
  }
}
