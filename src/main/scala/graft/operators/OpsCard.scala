package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Bucketing

/** The CORPUS OPS CARD — one row per persistent index family, the
  * page an operator actually reads before deciding what maintenance
  * to schedule. Every family already carries a stats verb
  * ([[Dedup.dedupIndexStats]], [[Similarity.annIndexStats]],
  * [[Retrieval.bm25IndexStats]], [[Dedup.urlIndexStats]]) — this is
  * their composition plus the columns none of them can see alone:
  *
  *   - `drift_vs_landed` — the landed corpus count minus the index's
  *     item count. POSITIVE drift means the index is missing items
  *     that landed → run the family's reconcile verb
  *     ([[Retrieval.reconcileBm25Index]], [[Dedup.reconcileDedupIndex]],
  *     [[Similarity.reconcileAnnIndex]], …). NEGATIVE drift means the
  *     index still carries items the landed corpus no longer has
  *     (retention sweeps, realm clears, corpus diffs shrink the
  *     landed side) → run the family's RETIRE verb — reconcile heals
  *     missing items only and cannot shrink an index.
  *   - `ids_digest_match` — contents, not just counts: an
  *     order-independent XOR fold of the hashed item ids on both
  *     sides (the d114 per-shard digest discipline applied to
  *     identity). An index holding the right NUMBER of wrong rows —
  *     a healed-then-diverged id, a collision — reads drift 0 but
  *     digest false.
  *   - `suggested_verb` — the two columns above composed into the
  *     action an operator runs: `reconcile` (positive drift),
  *     `retire` (negative drift), `rebuild` (counts agree, ids
  *     don't), `none` (healthy).
  *   - `pending_verb` — what is in flight or interrupted on the
  *     index right now: a live single-writer lease (verb name), an
  *     un-rolled-forward maintenance marker (reband/rebalance/
  *     rechunk), or an unfinished compaction swap. `idle` is the
  *     healthy reading; anything else names the verb to finish
  *     FIRST — drift measured against an in-flight write is advisory.
  *
  * Scale shape: each family contributes one narrow scan over its own
  * bucketed table — a count plus a distinct-id XOR fold (map-side
  * partials into an id-keyed distinct whose shuffle carries one
  * 8-byte column, then one 8-byte gather) — crossed with the same
  * narrow pass over the landed frame; marker/lease probes are
  * driver-side filesystem stats. Nothing corpus-WIDE moves: the
  * digest shuffle is the one id-column exchange content integrity
  * fundamentally requires (counts alone provably cannot see content
  * drift), and it is the card's cost ceiling.
  *
  * Reference anchor: the reference operates its store through
  * per-table console dashboards (terraform/main.tf:84-96 provisions
  * the Glue/Athena surfaces an operator inspects); the ops card is
  * that observability surface re-expressed as one queryable frame.
  */
object OpsCard {

  /** One index family's slot in the card: `family` ∈ {"dedup",
    * "ann", "sim", "bm25", "url"}, `name` the index name, `landed`
    * the frame of what the pipeline actually landed for this family
    * (the sink the index is supposed to mirror) with `idCol` its
    * identity column — null ids are dropped before counting, the
    * same door every index build applies, and the landed side is
    * counted by DISTINCT identity (an index holds one item per id,
    * so that is the mirror a duplicate-carrying sink should be
    * compared by). */
  final case class Entry(family: String, name: String,
      landed: DataFrame, idCol: String)

  /** A snapshot EVENT STORE's slot in the card — the one stateful
    * component the index families' rows could not see. Its columns
    * map to the card's where the semantics genuinely align (n_items =
    * live manifest files — the store's unit of content the card can
    * know without a corpus scan; pending_verb = the store lease) and
    * read null where they do not (no landed mirror, no digest — the
    * manifest IS the truth, there is nothing independent to drift
    * from). suggested_verb is the store's own D106 rule:
    * [[graft.sources.SnapshotEventStore.suggestedStoreVerb]] —
    * vacuum on orphans, retire on grace buildup, compact on
    * fragmentation. */
  final case class StoreEntry(name: String, path: String,
      maxFilesPerPartition: Int = 4)

  /** ONE pass over a distinct-key frame: (count, order-independent
    * identity digest — XOR-fold of xxhash64 over the DISTINCT keys;
    * distinct first, because XOR cancels pairs, so a duplicated id
    * must count once, and the sim family's pigeonhole chunks repeat
    * each doc_id maxDist+1 times by design). Keys are hashed through
    * a string cast so the landed frame's id type (int vs long vs
    * string) can never change the digest. */
  private def countAndDigest(distinctIds: DataFrame, key: Column,
      nOut: String, dOut: String): DataFrame =
    distinctIds.select(xxhash64(key.cast("string")).as("__h"))
      .agg(count(lit(1)).as(nOut),
        expr("coalesce(bit_xor(__h), 0)").as(dOut))

  /** (n_items, idx_digest) over the family's declared item table
    * ([[IndexFamily]]). Ids count DISTINCT: the sim family's chunks
    * repeat each doc_id, and appendToSimIndex is replay-tolerant by
    * design and accretes duplicate chunk rows until compactSimIndex
    * runs, so a fixed chunks/(maxDist+1) ratio would inflate after a
    * replayed append — exactly the false alarm (or masked real
    * drift) the card exists to avoid. */
  private def nItemsOf(spark: SparkSession, fam: IndexFamily,
      e: Entry): DataFrame =
    countAndDigest(spark.table(s"${e.name}${fam.itemTable}")
      .select(col(fam.itemId)).distinct(),
      col(fam.itemId), "n_items", "idx_digest")

  private def numBucketsOf(spark: SparkSession, e: Entry): Int =
    spark.table(s"${e.name}_meta").head().getAs[Int]("num_buckets")

  /** SIDE-TABLE integrity for the sim family: `_vchunks`/`_vframes`
    * are what the media screens actually JOIN, they are lazily
    * created and replay-accreted, and a crash between their two
    * appends leaves them disagreeing — the exact state the screen
    * silently degrades on (pass-everything). The check is internal
    * consistency, no landed input needed: both tables must know the
    * SAME video set (vchunks' composite keys integer-divide back to
    * vids; vframes keys vids directly) — compared as the same
    * order-independent XOR digest the id column gets. None (null in
    * the card) when the family has no side tables or none exist yet
    * (no video evidence is a healthy state); Some(false) when one
    * exists without the other — the torn crash state itself. */
  private def sideDigestOf(spark: SparkSession, fam: IndexFamily,
      e: Entry): Option[Boolean] = {
    if (fam ne IndexFamily.sim) return None
    val hasChunks = spark.catalog.tableExists(s"${e.name}_vchunks")
    val hasFrames = spark.catalog.tableExists(s"${e.name}_vframes")
    if (!hasChunks && !hasFrames) None
    else if (!hasChunks || !hasFrames) Some(false)
    else {
      val m = Multimodal.MaxSampledFrames
      // compare the (count, digest) PAIR, not the digest alone — the
      // count is computed in the same pass and closes the cheap half
      // of the XOR-collision space, exactly as n_items/n_landed sit
      // beside ids_digest_match
      val a = countAndDigest(
        spark.table(s"${e.name}_vchunks")
          // integer DIV, not double division: a float round-trip
          // would corrupt vids above 2^53/M
          .select(expr(s"doc_id DIV $m").as("__vid")).distinct(),
        col("__vid"), "n", "d").head()
      val b = countAndDigest(
        spark.table(s"${e.name}_vframes")
          .select(col("vid")).distinct(),
        col("vid"), "n", "d").head()
      Some(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1))
    }
  }

  /** What is in flight or interrupted on the index, by descending
    * urgency: a live lease names a RUNNING (or crashed-holding)
    * verb; the family's promotion marker names an interrupted
    * multi-table promotion the next open()/verb will roll forward; a
    * legacy swap marker on any declared table, an unfinished
    * compaction of an earlier release. `idle` otherwise. */
  private def pendingVerbOf(spark: SparkSession, fam: IndexFamily,
      e: Entry): String = {
    val n = e.name.toLowerCase
    Bucketing.leaseHolder(spark, n).map(v => s"lease:$v").getOrElse {
      fam.promotion
        .filter(p => Bucketing.maintenanceMarkerExists(spark, p.marker(n)))
        .map(_.pending)
        .getOrElse {
          if (fam.tables.exists(t => Bucketing.maintenanceMarkerExists(
            spark, s"$n${t.suffix}__swap_pending"))) "compact_swap_pending"
          else "idle"
        }
    }
  }

  /** The index families' actuators for [[maintenanceTick]] — the
    * caller supplies each verb as a thunk because the verbs'
    * signatures are family-specific (a BM25 reconcile needs the text
    * column, an ANN rebuild the vector column); the LOOP owns only
    * the decision of WHICH verb to run, read off the card. A verb
    * the family genuinely cannot run (an append-only frontier has no
    * retire) stays at the loud default. */
  final case class Actions(
      reconcile: () => Unit = () => throw new UnsupportedOperationException(
        "no reconcile actuator supplied for this family"),
      retire: () => Unit = () => throw new UnsupportedOperationException(
        "no retire actuator supplied for this family"),
      rebuild: () => Unit = () => throw new UnsupportedOperationException(
        "no rebuild actuator supplied for this family"))

  /** ONE TICK of the maintenance loop — the scheduled driver verb
    * that closes the decision feeds into action: compute the card,
    * act on the FIRST actionable row in card order, return what ran.
    * Budget discipline: one family (or store) per tick, so a
    * scheduler caps maintenance cost per interval and a misdiagnosed
    * state can never cascade through every index in one call. Rows
    * with a non-idle pending_verb are SKIPPED — drift measured
    * against an in-flight write is advisory (the card's own
    * contract); the in-flight verb's lease serializes the family and
    * the next tick re-reads the healed card. Each executed verb runs
    * under its family's single-writer lease (the verbs acquire it
    * themselves).
    *
    * Store verbs are uniform and built in: vacuum →
    * [[graft.sources.SnapshotEventStore.vacuumOrphans]]; retire →
    * [[graft.sources.SnapshotEventStore.retire]] with
    * `storeRetireKeep` (default 1, the store verbs' own one-cycle
    * reader grace: a scheduled tick can race a live query whose
    * resolved snapshot still scans lazily — retiring at 0 would
    * delete the replaced files under that in-flight scan; a
    * deployment that KNOWS no reader outlives a tick may lower it);
    * compact →
    * [[graft.sources.SnapshotEventStore.compact]] at the entry's cap.
    *
    * A store verb can legitimately reclaim NOTHING: the card's
    * `n_grace_files` counts every on-disk file referenced only by
    * non-live snapshots, but `retire(keepSnapshots)` only deletes
    * files referenced EXCLUSIVELY by snapshots older than
    * `live − keepSnapshots` — after a compact whose replaced files
    * are referenced by the one kept predecessor, the card reads
    * `retire` while retire(1) has nothing it may delete until a
    * later publish advances the chain. A tick whose STORE verb
    * reports zero reclaimed therefore does NOT count as this tick's
    * action — the row is skipped (like a lease-busy row) and the
    * tick moves to the next actionable row, so [[maintenanceLoop]]
    * terminates instead of burning `maxTicks` repeating a no-op.
    * The skipped verbs are metadata-only probes; the one-EFFECTIVE-
    * verb-per-tick budget stands.
    *
    * The card collect is bounded: one row per family/store, the
    * adjudicated driver-pull class. Returns (family, index_name,
    * verb) for the action taken, None when every row is healthy,
    * lease-busy, or (store rows) currently unable to reclaim. */
  def maintenanceTick(spark: SparkSession,
      entries: Seq[(Entry, Actions)],
      stores: Seq[StoreEntry] = Nil,
      storeRetireKeep: Int = 1): Option[(String, String, String)] = {
    val card = indexOpsCard(spark, entries.map(_._1), stores)
      .select(col("family"), col("index_name"), col("pending_verb"),
        col("suggested_verb"))
      .collect() // bounded: one row per family/store
    // keyed by (family, name): families are unique per card, but two
    // FAMILIES may legitimately share an index name — a bare-name map
    // would dispatch the wrong family's actuator
    val byKey = entries.map(e => (e._1.family, e._1.name) -> e._2).toMap
    val storeByName = stores.map(st => st.name -> st).toMap
    val actionable = card.iterator
      .filter(r => r.getString(2) == "idle" && r.getString(3) != "none")
    while (actionable.hasNext) {
      val r = actionable.next()
      val (family, name, verb) =
        (r.getString(0), r.getString(1), r.getString(3))
      if (family == "store") {
        val st = storeByName(name)
        val reclaimed = verb match {
          case "vacuum" =>
            graft.sources.SnapshotEventStore.vacuumOrphans(spark, st.path)
          case "retire" =>
            graft.sources.SnapshotEventStore.retire(spark, st.path,
              keepSnapshots = storeRetireKeep)
          case "compact" =>
            graft.sources.SnapshotEventStore.compact(spark, st.path,
              st.maxFilesPerPartition)
          case other => throw new UnsupportedOperationException(
            s"maintenanceTick: no store actuator for suggested verb " +
              s"'$other' on store '$name' — the card's store " +
              "vocabulary grew past the dispatch; teach the tick " +
              "the new verb")
        }
        // zero reclaimed = no progress possible right now (grace
        // held by the retire horizon's kept snapshots) — skip the
        // row, not the tick
        if (reclaimed > 0) return Some((family, name, verb))
      } else {
        val actions = byKey((family, name))
        verb match {
          case "reconcile" => actions.reconcile()
          case "retire" => actions.retire()
          case "rebuild" => actions.rebuild()
          case other => throw new UnsupportedOperationException(
            s"maintenanceTick: no family actuator for suggested verb " +
              s"'$other' on index '$name' (family '$family') — the " +
              "card vocabulary grew past the dispatch; teach the " +
              "tick the new verb")
        }
        return Some((family, name, verb))
      }
    }
    None
  }

  /** The LOOP: ticks until the card reads healthy (or every unhealthy
    * row is lease-busy or, for store rows, cannot reclaim under the
    * retire horizon — see [[maintenanceTick]]) or `maxTicks` is
    * spent — the budget cap that bounds one scheduling interval's
    * maintenance cost. Returns the actions taken in order. */
  def maintenanceLoop(spark: SparkSession,
      entries: Seq[(Entry, Actions)],
      stores: Seq[StoreEntry] = Nil,
      maxTicks: Int = 5,
      storeRetireKeep: Int = 1): Seq[(String, String, String)] = {
    require(maxTicks >= 1, s"maxTicks must be >= 1, got $maxTicks")
    val acted = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String)]
    var ticking = true
    while (ticking && acted.size < maxTicks) {
      maintenanceTick(spark, entries, stores, storeRetireKeep) match {
        case Some(a) => acted += a
        case None => ticking = false
      }
    }
    acted.toSeq
  }

  /** One [[StoreEntry]]'s row in the card schema — driver-side
    * manifest/filesystem reads only ([[graft.sources
    * .SnapshotEventStore.snapshotStoreStats]]), nothing scans data. */
  private def storeRow(spark: SparkSession, e: StoreEntry): DataFrame =
    graft.sources.SnapshotEventStore
      .snapshotStoreStats(spark, e.path, e.maxFilesPerPartition)
      .select(
        lit("store").as("family"),
        lit(e.name).as("index_name"),
        col("n_live_files").as("n_items"),
        lit(null).cast("int").as("n_buckets"),
        lit(graft.sources.SnapshotEventStore
          .storePendingVerb(spark, e.path)).as("pending_verb"),
        lit(null).cast("bigint").as("n_landed"),
        lit(null).cast("bigint").as("drift_vs_landed"),
        lit(null).cast("boolean").as("ids_digest_match"),
        lit(null).cast("boolean").as("side_digest_match"),
        col("suggested_verb"))

  /** Builds the card: one row per entry, (family, index_name,
    * n_items, n_buckets, pending_verb, n_landed, drift_vs_landed,
    * ids_digest_match, suggested_verb), ordered by family for a
    * deterministic read. `stores` appends the event stores' rows
    * (family = "store", ordered by index_name within) — the full ops
    * page in one frame. */
  def indexOpsCard(spark: SparkSession, entries: Seq[Entry],
      stores: Seq[StoreEntry] = Nil): DataFrame = {
    require(entries.nonEmpty || stores.nonEmpty,
      "indexOpsCard: no entries and no stores")
    require(entries.map(_.family).distinct.size == entries.size,
      "indexOpsCard: one entry per family (duplicate family passed)")
    require(stores.map(_.name).distinct.size == stores.size,
      "indexOpsCard: duplicate store name passed")
    // each row's CONSTRUCTION is itself eager driver work (a
    // num_buckets head, lease/marker filesystem probes, the sim
    // family's side-digest jobs) — rows are independent per family,
    // so they are assembled concurrently (graft.Par, guide §2.6) and
    // stitched back in entry order
    val rows = new Array[DataFrame](entries.size)
    graft.Par.run(entries.zipWithIndex.map { case (e, i) => () =>
      val fam = IndexFamily.named(e.family, "indexOpsCard")
      val landedN = countAndDigest(
        e.landed.filter(col(e.idCol).isNotNull)
          .select(fam.landedKey(e.idCol).as("__k")).distinct(),
        col("__k"), "n_landed", "landed_digest")
      rows(i) = nItemsOf(spark, fam, e)
        .crossJoin(broadcast(landedN))
        .select(
          lit(e.family).as("family"),
          lit(e.name).as("index_name"),
          col("n_items"),
          lit(numBucketsOf(spark, e)).as("n_buckets"),
          lit(pendingVerbOf(spark, fam, e)).as("pending_verb"),
          col("n_landed"),
          (col("n_landed") - col("n_items")).as("drift_vs_landed"),
          (col("idx_digest") === col("landed_digest"))
            .as("ids_digest_match"),
          sideDigestOf(spark, fam, e).map(lit(_)).getOrElse(lit(null))
            .cast("boolean").as("side_digest_match"),
          when(col("n_landed") > col("n_items"), lit("reconcile"))
            .when(col("n_landed") < col("n_items"), lit("retire"))
            .when(col("idx_digest") =!= col("landed_digest"),
              lit("rebuild"))
            .otherwise(lit("none")).as("suggested_verb"))
    }: _*)
    (rows.toSeq ++ stores.map(storeRow(spark, _)))
      .reduce(_ unionByName _)
      .orderBy(col("family"), col("index_name"))
  }
}
