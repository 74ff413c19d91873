package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, OpsCard, Retrieval}
import graft.sources.Bucketing

/** The corpus ops card's OBSERVABILITY columns — the oracle (d125)
  * proves the healthy all-idle counts; this spec proves the card
  * actually SEES trouble: drift when the sink outruns the index,
  * a live lease, and an interrupted maintenance marker. */
class OpsCardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs: DataFrame = {
    import spark.implicits._
    Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon zeta"),
      (4L, "eta theta")).toDF("doc_id", "text")
  }

  private def cardRow(entries: Seq[OpsCard.Entry],
      family: String): org.apache.spark.sql.Row =
    OpsCard.indexOpsCard(spark, entries)
      .filter(s"family = '$family'").head()

  test("drift_vs_landed surfaces a sink/index gap; zero when reconciled") {
    Retrieval.buildBm25Index(docs.filter("doc_id <= 2"), "doc_id",
      "text", "card_bx", numBuckets = 2)
    val e = Seq(OpsCard.Entry("bm25", "card_bx", docs, "doc_id"))
    val drifted = cardRow(e, "bm25")
    assert(drifted.getAs[Long]("n_items") == 2L &&
      drifted.getAs[Long]("n_landed") == 4L &&
      drifted.getAs[Long]("drift_vs_landed") == 2L)
    // the drift column is exactly what schedules the reconcile verb —
    // positive drift names it, and after it runs the card reads healthy
    assert(drifted.getAs[String]("suggested_verb") == "reconcile")
    assert(Retrieval.reconcileBm25Index(docs, "doc_id", "text",
      "card_bx") == 2L)
    val healed = cardRow(e, "bm25")
    assert(healed.getAs[Long]("drift_vs_landed") == 0L &&
      healed.getAs[Boolean]("ids_digest_match") &&
      healed.getAs[String]("suggested_verb") == "none")
  }

  test("NEGATIVE drift (landed shrank under the index) suggests retire, not reconcile") {
    // retention sweeps / realm clears shrink the landed frame; the
    // index still carries the cleared items. Reconcile verbs heal
    // MISSING items only — the card must direct the operator to the
    // retire verbs instead
    Retrieval.buildBm25Index(docs, "doc_id", "text", "card_neg",
      numBuckets = 2)
    val shrunk = cardRow(
      Seq(OpsCard.Entry("bm25", "card_neg",
        docs.filter("doc_id <= 2"), "doc_id")), "bm25")
    assert(shrunk.getAs[Long]("drift_vs_landed") == -2L &&
      shrunk.getAs[String]("suggested_verb") == "retire")
  }

  test("ids_digest_match catches CONTENT drift that counts cannot see") {
    import spark.implicits._
    // same number of items, one wrong identity: a healed-then-
    // diverged id reads drift 0 — only the digest sees it
    Retrieval.buildBm25Index(docs, "doc_id", "text", "card_dig",
      numBuckets = 2)
    val wrongIds = Seq((1L, "alpha beta"), (2L, "gamma delta"),
      (3L, "epsilon zeta"), (5L, "eta theta")).toDF("doc_id", "text")
    val r = cardRow(
      Seq(OpsCard.Entry("bm25", "card_dig", wrongIds, "doc_id")), "bm25")
    assert(r.getAs[Long]("drift_vs_landed") == 0L &&
      !r.getAs[Boolean]("ids_digest_match") &&
      r.getAs[String]("suggested_verb") == "rebuild")
  }

  test("sim slot counts DISTINCT signatures — a replayed append cannot inflate it") {
    import spark.implicits._
    val sigs = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.col("doc_id")).as("sim"))
    Dedup.buildSimIndex(sigs, name = "card_sx", maxDist = 2,
      numBuckets = 2)
    // replay: append the same batch again — chunk rows duplicate
    // until compaction, but the card's item count must not move
    Dedup.appendToSimIndex(sigs, "card_sx")
    val r = cardRow(Seq(OpsCard.Entry("sim", "card_sx", docs,
      "doc_id")), "sim")
    assert(r.getAs[Long]("n_items") == 4L &&
      r.getAs[Long]("drift_vs_landed") == 0L &&
      r.getAs[Boolean]("ids_digest_match"))
  }

  test("side_digest_match: null without video evidence, true when consistent, FALSE on the torn crash state") {
    import org.apache.spark.sql.functions.{col, explode, lit, sequence, xxhash64}
    import spark.implicits._
    val sigs = docs.select(col("doc_id"), xxhash64(col("doc_id")).as("sim"))
    Dedup.buildSimIndex(sigs, name = "card_vx", maxDist = 2,
      numBuckets = 2)
    val entry = Seq(OpsCard.Entry("sim", "card_vx", docs, "doc_id"))
    // no video evidence yet: the column is NULL (healthy absence)
    assert(cardRow(entry, "sim").isNullAt(
      cardRow(entry, "sim").fieldIndex("side_digest_match")))
    // consistent evidence: both side tables know the same video set
    val frames = docs
      .select(col("doc_id"), explode(sequence(lit(0), lit(1))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        xxhash64(col("doc_id"), col("frame_idx")).as("sim"))
    Dedup.appendVideoFramesToSimIndex(frames, "card_vx")
    assert(cardRow(entry, "sim").getAs[Boolean]("side_digest_match"))
    // the torn crash state (death between the two appends): frames
    // table gone, chunk evidence still there — the screen silently
    // degrades on this; the card must NAME it
    graft.sources.Bucketing.dropTableAndDir(spark, "card_vx_vframes")
    assert(!cardRow(entry, "sim").getAs[Boolean]("side_digest_match"))
    // and a non-sim family never carries the column's value
    Retrieval.buildBm25Index(docs, "doc_id", "text", "card_vb",
      numBuckets = 2)
    val b = cardRow(Seq(OpsCard.Entry("bm25", "card_vb", docs,
      "doc_id")), "bm25")
    assert(b.isNullAt(b.fieldIndex("side_digest_match")))
  }

  test("pending_verb surfaces a live lease and an interrupted marker; idle otherwise") {
    Dedup.buildDedupIndex(docs, "doc_id", "text", "card_dx",
      md5Sig = true, numBuckets = 2)
    val e = Seq(OpsCard.Entry("dedup", "card_dx", docs, "doc_id"))
    assert(cardRow(e, "dedup").getAs[String]("pending_verb") == "idle")
    // a live lease (another session's in-flight verb) names its holder
    Bucketing.withIndexLease(spark, "card_dx", "rebandDedupIndex") {
      assert(cardRow(e, "dedup").getAs[String]("pending_verb")
        == "lease:rebandDedupIndex")
    }
    // an interrupted two-table promotion names its marker
    val tag = "card_dx__reband_pending"
    Bucketing.maintenanceMarkerExists(spark, tag) // probe face compiles
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tag)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(p, true).close()
    try assert(cardRow(e, "dedup").getAs[String]("pending_verb")
      == "reband_pending")
    finally fs.delete(p, false)
    assert(cardRow(e, "dedup").getAs[String]("pending_verb") == "idle")
  }

  test("pending_verb sees a legacy swap marker on bm25's _postings_bydoc") {
    Retrieval.buildBm25Index(docs, "doc_id", "text", "card_bydoc",
      numBuckets = 2)
    val e = Seq(OpsCard.Entry("bm25", "card_bydoc", docs, "doc_id"))
    assert(cardRow(e, "bm25").getAs[String]("pending_verb") == "idle")
    // an earlier release's staged compaction swap died on the
    // doc-keyed projection: the index must not read idle, or a tick
    // would act on it
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      "card_bydoc_postings_bydoc__swap_pending")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(p, true).close()
    try assert(cardRow(e, "bm25").getAs[String]("pending_verb")
      == "compact_swap_pending")
    finally fs.delete(p, false)
  }

  test("maintenance loop: planted drift + store orphan healed end-to-end, one verb per tick") {
    import graft.sources.SnapshotEventStore
    // planted state 1: a BM25 index missing half the landed corpus
    Retrieval.buildBm25Index(docs.filter("doc_id <= 2"), "doc_id",
      "text", "loop_bx", numBuckets = 2)
    // planted state 2: a store with an orphaned crash leftover
    val dir = java.nio.file.Files.createTempDirectory("graft_loop_st_")
      .toString
    SnapshotEventStore.init(spark, dir)
    import spark.implicits._
    SnapshotEventStore.append(
      Seq((1L, 1704153600000L), (2L, 1704157200000L))
        .toDF("id", "time"), dir)
    val part = new java.io.File(s"$dir/dt=2024-01-02/hour=0")
    val src = part.listFiles.filter(f =>
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).head
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(part, "orphan-loop.parquet").toPath)

    val entries = Seq((
      OpsCard.Entry("bm25", "loop_bx", docs, "doc_id"),
      OpsCard.Actions(reconcile = () => {
        Retrieval.reconcileBm25Index(docs, "doc_id", "text", "loop_bx")
        ()
      })))
    val stores = Seq(OpsCard.StoreEntry("loop_st", dir))

    // budget cap: ONE tick acts on exactly one row (card order:
    // bm25 < store), leaving the other still flagged
    val first = OpsCard.maintenanceLoop(spark, entries, stores,
      maxTicks = 1)
    assert(first == Seq(("bm25", "loop_bx", "reconcile")), first)
    assert(cardRow(entries.map(_._1), "bm25")
      .getAs[String]("suggested_verb") == "none")
    assert(SnapshotEventStore.snapshotStoreStats(spark, dir).head()
      .getAs[Long]("n_orphan_files") == 1L,
      "the budget cap must defer the second row to the next tick")

    // the loop runs to a healthy card and then stops acting
    val rest = OpsCard.maintenanceLoop(spark, entries, stores,
      maxTicks = 5)
    assert(rest == Seq(("store", "loop_st", "vacuum")), rest)
    assert(SnapshotEventStore.snapshotStoreStats(spark, dir).head()
      .getAs[Long]("n_orphan_files") == 0L)
    assert(OpsCard.maintenanceTick(spark, entries, stores).isEmpty,
      "a healthy card must produce no action")

    // STORE-ONLY maintenance (a deployment with just the event store,
    // no index families — the a19 provider posture): the loop must
    // act on store rows without any Entry
    val dir2 = java.nio.file.Files.createTempDirectory("graft_loop_st2_")
      .toString
    SnapshotEventStore.init(spark, dir2)
    SnapshotEventStore.append(
      Seq((9L, 1704153600000L)).toDF("id", "time"), dir2)
    val part2 = new java.io.File(s"$dir2/dt=2024-01-02/hour=0")
    val src2 = part2.listFiles.filter(f =>
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).head
    java.nio.file.Files.copy(src2.toPath,
      new java.io.File(part2, "orphan-only.parquet").toPath)
    assert(OpsCard.maintenanceLoop(spark, Seq.empty,
      Seq(OpsCard.StoreEntry("loop_only", dir2)))
      == Seq(("store", "loop_only", "vacuum")))

    // a lease-busy family is SKIPPED, not acted on (drift against an
    // in-flight write is advisory — the card's own contract)
    Retrieval.retireFromBm25Index(
      Seq(3L, 4L).toDF("doc_id"), "doc_id", "loop_bx")
    // loop_bx now drifts again (positive); hold its lease and tick
    val acted = Bucketing.withIndexLease(spark, "loop_bx", "holdForTest") {
      // the tick sees pending_verb = lease:holdForTest on bm25; the
      // store row is healthy — nothing actionable
      OpsCard.maintenanceTick(spark, entries, stores)
    }
    assert(acted.isEmpty, s"lease-busy row must be skipped: $acted")
  }

  test("a retire the horizon cannot satisfy does not livelock the loop") {
    import graft.sources.SnapshotEventStore
    import spark.implicits._
    // post-compact state under a long reader-grace horizon: every
    // grace file is still referenced by the kept predecessor
    // snapshot, so retire(keepSnapshots = 1) may delete nothing —
    // the card reads 'retire' but the verb cannot progress until a
    // later publish advances the chain
    val dir = java.nio.file.Files
      .createTempDirectory("graft_noop_retire_").toString
    val ev = Seq((1L, 1704153600000L), (2L, 1704157200000L))
      .toDF("id", "time")
    SnapshotEventStore.init(spark, dir)
    SnapshotEventStore.append(ev, dir)
    SnapshotEventStore.append(ev, dir)
    SnapshotEventStore.compact(spark, dir, maxFilesPerPartition = 1,
      keepSnapshots = 5)
    val stores = Seq(OpsCard.StoreEntry("noop_st", dir,
      maxFilesPerPartition = 1))
    val row = OpsCard.indexOpsCard(spark, Seq.empty, stores).head()
    assert(row.getAs[String]("suggested_verb") == "retire", row)
    // before the fix this burned all 5 ticks repeating the no-op
    // retire; now the zero-reclaim verb is skipped and the loop ends
    val acted2 = OpsCard.maintenanceLoop(spark, Seq.empty, stores,
      maxTicks = 5)
    assert(acted2.isEmpty,
      s"zero-reclaim store verbs must not count as actions: $acted2")
    // the card's accounting is unchanged (pinned by the d138 oracle):
    // the row still reads 'retire' until a publish advances the chain
    assert(OpsCard.indexOpsCard(spark, Seq.empty, stores).head()
      .getAs[String]("suggested_verb") == "retire")
  }
}
