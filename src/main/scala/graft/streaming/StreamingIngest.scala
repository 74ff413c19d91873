package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming ingest: JSON-lines → typed events → the
  * snapshot event store.
  *
  * Re-expresses the reference's write path
  * (FirehoseEventStoreProvider.java:123-150: FlatEvent → JSON line →
  * Firehose; Firehose → Snappy parquet in S3 partitioned dt/hour,
  * terraform/main.tf:84-96). Here the "delivery stream" is any
  * streaming Dataset[String] of JSON lines (socket, Kafka, files —
  * the transform is source-agnostic), and the sink is
  * [[graft.sources.SnapshotEventStore]], the same store batch writers
  * append to: every micro-batch commits through its manifests.
  */
object StreamingIngest {

  /** The JSON wire schema: field names follow the reference's
    * serialized form (FlatEvent.java @JsonProperty: the event type
    * field is "type" on the wire, "eventtype" as a column). */
  val wireSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("type", StringType),
    StructField("realmid", StringType),
    StructField("realmname", StringType),
    StructField("clientid", StringType),
    StructField("userid", StringType),
    StructField("sessionid", StringType),
    StructField("ipaddress", StringType),
    StructField("error", StringType),
    StructField("time", LongType),
    StructField("detailsjson", StringType)))

  /** Parse a stream (or batch) of JSON lines into the KeycloakEvent
    * column shape. Malformed lines yield null columns (PERMISSIVE),
    * mirroring the reference's log-and-continue posture
    * (FirehoseEventStoreProvider.java:126-131). */
  def fromJsonLines(lines: Dataset[String]): DataFrame =
    lines.select(from_json(col("value"), wireSchema).as("e"))
      .select(
        col("e.id").as("id"),
        col("e.type").as("eventtype"),
        col("e.realmid").as("realmid"),
        col("e.realmname").as("realmname"),
        col("e.clientid").as("clientid"),
        col("e.userid").as("userid"),
        col("e.sessionid").as("sessionid"),
        col("e.ipaddress").as("ipaddress"),
        col("e.error").as("error"),
        col("e.time").as("time"),
        col("e.detailsjson").as("detailsjson"))

  /** Serialize KeycloakEvent-shaped rows back to the wire form —
    * the inverse used to feed the ingest in specs and to re-emit. */
  def toJsonLines(events: DataFrame): Dataset[String] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(to_json(struct(
      col("id"), col("eventtype").as("type"), col("realmid"),
      col("realmname"), col("clientid"), col("userid"), col("sessionid"),
      col("ipaddress"), col("error"), col("time"), col("detailsjson")))
      .as("value")).as[String]
  }

  /** C20: streaming ingest into the SNAPSHOT-isolated event store —
    * [[graft.sources.SnapshotEventStore.appendBatch]] per
    * micro-batch, which makes the loop EXACTLY-ONCE even across
    * checkpoint-replayed deliveries: the micro-batch id commits
    * atomically WITH the manifest (one rename), every later publish
    * carries the watermark forward, so a replay finds its id covered
    * and lands nothing — no crash window between "files landed" and
    * "batch recorded", unlike Spark's plain parquet sink (exactly-once
    * only while its own `_spark_metadata` log describes the
    * directory — which the FIRST maintenance sweep invalidates) and
    * stronger than the index loops' sink-first recoverable-duplicate
    * posture.
    * Concurrent maintenance (compact/retention on a schedule) and
    * concurrent readers compose by construction: writers serialize
    * on the store lease, readers resolve immutable snapshots. */
  def toSnapshotEventStore(events: DataFrame, path: String,
      checkpoint: String,
      sortWithin: Seq[String] = Nil,
      keepSnapshots: Int = 1,
      streamId: Option[String] = None,
      availableNow: Boolean = false): StreamingQuery = {
    // the exactly-once watermark is keyed by STREAM identity, not the
    // bare batch id: a new pipeline (fresh checkpoint) restarts ids
    // at 0, and an un-keyed watermark would silently DISCARD its
    // batches as replays. Default identity = the checkpoint path
    // (Spark's own recovery unit); after checkpoint loss, follow the
    // standard recovery of a new checkpoint dir — which is a new
    // identity here, so batches land again.
    val sid = streamId.getOrElse(checkpoint)
    // availableNow = the scheduled-ingest deployment mode: process
    // everything the source holds NOW (across as many micro-batches
    // as needed), then stop; each run resumes from the checkpoint and
    // occupies the cluster only while there is backlog. Exactly-once
    // either way — the manifest watermark does not care about the
    // trigger
    foreachBatchQuery(events, checkpoint,
      if (availableNow) Trigger.AvailableNow() else DefaultTrigger) {
      (batch, batchId) =>
        graft.sources.SnapshotEventStore.appendBatch(
          batch, path, batchId, sortWithin = sortWithin,
          keepSnapshots = keepSnapshots, streamId = sid)
    }
  }

  /** ID-KEYED redelivery safety for the snapshot store: safe under
    * at-least-once delivery AND checkpoint loss. The batch watermark
    * alone does NOT give this: it dedups Spark's own checkpoint
    * replays (same stream, same batch id) but a source-level retry
    * delivering an already-landed event id in a LATER batch — the
    * Firehose retry shape — or a restarted pipeline after checkpoint
    * LOSS (new stream identity by design) would land duplicates. Here
    * each micro-batch goes through
    * [[graft.sources.SnapshotEventStore.upsertBatch]]: in-batch
    * duplicates collapse and the rest is anti-joined by id against
    * the live snapshot, under the store's writer lease and against
    * the one snapshot that lease resolved, so both windows close: an
    * id lands at most once in the whole store, also with several
    * streams writing it (a writer that meets the lease busy fails the
    * batch, and so its query, at once; a restart from the checkpoint
    * re-runs that batch). Events are immutable facts, so
    * insert-if-absent IS the event-store upsert: a replayed id keeps
    * its FIRST payload. */
  def toSnapshotUpsertSink(events: DataFrame, path: String,
      checkpoint: String, idCol: String = "id",
      sortWithin: Seq[String] = Nil,
      keepSnapshots: Int = 1,
      streamId: Option[String] = None): StreamingQuery = {
    val sid = streamId.getOrElse(checkpoint)
    foreachBatchQuery(events, checkpoint, DefaultTrigger) {
      (batch, batchId) =>
        graft.sources.SnapshotEventStore.upsertBatch(batch, path, batchId,
          sid, idCol, sortWithin, keepSnapshots)
    }
  }

  /** Spark's own default trigger: the next micro-batch as soon as the
    * previous one ends. */
  private val DefaultTrigger = Trigger.ProcessingTime(0L)

  /** The snapshot sinks' shared scaffold: an append-mode
    * `foreachBatch` query over `events` under `trigger`, checkpointed
    * at `checkpoint`, running `perBatch` on each micro-batch. */
  private def foreachBatchQuery(events: DataFrame, checkpoint: String,
      trigger: Trigger)(perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch(perBatch)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** The full streaming ingestion-dedup loop over a PERSISTENT index
    * ([[graft.operators.Dedup.buildDedupIndex]]): per micro-batch,
    * screen arriving documents against everything ingested so far
    * (exact + near, [[graft.operators.Dedup.dedupAgainstIndex]]),
    * append the survivors to the corpus store, then fold them into
    * the index so the NEXT batch screens against them too. This is
    * the production shape of the D29 screen: the corpus is never
    * re-scanned or re-minhashed — each batch pays batch-sig + three
    * narrow index joins, regardless of corpus size.
    *
    * Delivery semantics: a batch REPLAYED after a completed loop
    * self-suppresses — its content hashes are in the index, so the
    * screen drops every row (the index makes redelivery idempotent
    * end to end). The residual window is a crash BETWEEN the sink
    * append and the index append: the replay re-lands those rows in
    * the sink once more (at-least-once there; dedupe downstream with
    * [[graft.operators.Dedup.exact]] or an id-keyed upsert). Sink
    * first, index second is deliberate — the reverse order would
    * LOSE rows on replay (screened out before ever landing), and a
    * duplicate is recoverable where a loss is not.
    *
    * The index screen never self-joins the batch, so rows
    * duplicating EACH OTHER inside one micro-batch are additionally
    * run through [[graft.operators.Dedup.dedupWithinBatch]] first
    * (same sketch arithmetic as the index, parameters from its meta
    * table): exactly one representative per exact/near family lands
    * and is folded in. Set `dedupWithinBatch = false` to restore the
    * screen-only behavior (e.g. when an upstream stage already
    * dedups the batch).
    *
    * `funnelDir` turns on the C14 admission-funnel telemetry for
    * this loop's three stages: one (n_input, n_batch_dup,
    * n_index_dup, n_landed) row per micro-batch lands under
    * `funnelDir/ingest_batch=<id>/`, written LAST (advisory;
    * partition-overwrite idempotent under replay). The within-batch
    * stage is localCheckpoint-pinned when telemetry is on so its
    * count reads a materialized frame (the C14 cost discipline —
    * batch-sized pins, the screen chain still evaluates once).
    *
    * `bm25IndexName` makes the ingest RETRIEVAL-READY: survivors
    * additionally append into a persistent BM25 index
    * ([[graft.operators.Retrieval.buildBm25Index]]) so everything
    * ever landed is immediately servable by
    * [[graft.operators.Retrieval.bm25TopKAgainstIndex]] without a
    * corpus scan. Write ORDER inside the batch is sink → BM25 →
    * dedup fold-in, and each choice is load-bearing: the BM25
    * append is made idempotent by an id anti-join against the
    * index's own `_docs` ([[graft.operators.Retrieval
    * .screenNewForBm25Index]] — a raw re-append would silently
    * DOUBLE a replayed batch's postings), and it must run BEFORE
    * the dedup fold-in because the reverse order turns a crash
    * between the two appends into a permanent retrieval hole: the
    * replay would self-suppress at the dedup screen and the landed
    * rows' postings would never be written, exactly the C12/C13
    * url-frontier ordering argument. With BM25 second and
    * anti-joined, every crash window between THESE stages replays
    * to a consistent index: the dedup screen passes (hashes not yet
    * folded), the BM25 anti-join suppresses what already landed,
    * and the fold-in completes. The one window replay does NOT
    * close is a death INSIDE the BM25 append between its `_docs`
    * and `_postings` writes — the anti-join then suppresses the
    * replay by design (that is what makes double-append impossible)
    * and the docs sit posting-less until
    * [[graft.operators.Retrieval.reconcileBm25Index]] heals them
    * from the landed sink; run it after a crash or on a schedule.
    *
    * `bm25DriftDir` (needs `bm25IndexName`) turns on the D111
    * vocabulary-drift telemetry: one
    * [[graft.operators.Retrieval.bm25IngestDriftCard]] row per
    * micro-batch — the survivors' new-term share and OOV token mass
    * vs the index as the batch FOUND it (measured before the append;
    * measuring after would self-pollute) — under
    * `bm25DriftDir/ingest_batch=<id>/`, written LAST like all
    * telemetry. Replay semantics follow the C14/C15 funnel
    * precedent: the row reflects the LAST delivery, so a replayed
    * batch (screened to zero survivors) truthfully re-reads as
    * nothing-new and overwrites its own partition.
    *
    * `dedupDriftDir` turns on the C19/D116 telemetry: one
    * [[graft.operators.Dedup.dedupIngestDriftCard]] row per
    * micro-batch — the ARRIVING batch's (post keep-one, PRE-screen)
    * band-key and exact-hash novelty vs the dedup index as the batch
    * found it: the reband/ingest decision feed, and the flood
    * detector (a mirror flood reads LOW new shares while the funnel
    * still shows high n_index_dup — measuring survivors instead
    * would hide exactly that signal, so this card deliberately reads
    * the pre-screen frame). Measured before the fold-in and
    * materialized as ONE driver row (the C18 discipline — a lazy
    * frame would re-evaluate against the mutated index); written
    * LAST; replay reads all-known, truthfully. */
  def toScreenedDocIngest(docs: DataFrame, idCol: String,
      textCol: String, indexName: String, path: String,
      checkpoint: String, dedupWithinBatch: Boolean = true,
      funnelDir: Option[String] = None,
      bm25IndexName: Option[String] = None,
      bm25DriftDir: Option[String] = None,
      dedupDriftDir: Option[String] = None): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b0 =
          if (dedupWithinBatch)
            graft.operators.Dedup.dedupWithinBatch(
              batch, idCol, textCol, indexName)
          else batch
        val b = if (funnelDir.isDefined && dedupWithinBatch)
          b0.localCheckpoint(true) else b0
        // eager localCheckpoint: both consumers below must see ONE
        // survivor set, and the second runs AFTER the index mutates
        // (a lazy recompute would re-screen against the updated index
        // and drop everything). Batch-scoped lifetime, so the
        // executor-loss caveat of long-lived localCheckpoints does
        // not apply.
        val survivors = graft.operators.Dedup
          .dedupAgainstIndex(b, idCol, textCol, indexName)
          .localCheckpoint(true)
        survivors.write.mode("append").parquet(path)
        // D111 vocabulary-drift telemetry, measured BEFORE the BM25
        // append (the card asks what the survivors bring that the
        // index has never seen; measuring after would self-pollute —
        // the survivors' terms would already be vocabulary) and
        // materialized as ONE driver row so the lazy frame cannot be
        // re-evaluated against the mutated index. Written LAST with
        // the other telemetry. Replay semantics follow the C14/C15
        // funnel precedent: the row reflects the LAST delivery — a
        // replayed batch screens to zero survivors and truthfully
        // re-reads as nothing-new, overwriting its own partition.
        val driftRow = bm25DriftDir.flatMap { _ =>
          bm25IndexName.map { bx =>
            graft.operators.Retrieval.bm25IngestDriftCard(
              batch.sparkSession, bx, survivors, idCol, textCol)
              .head()
          }
        }
        // C19/D116: the dedup-drift card reads the PRE-screen frame
        // (see scaladoc) against the index as the batch found it —
        // one driver row, before any fold-in mutates the index side
        val dedupDriftRow = dedupDriftDir.map { _ =>
          graft.operators.Dedup.dedupIngestDriftCard(
            batch.sparkSession, indexName, b, idCol, textCol).head()
        }
        // BM25 append BEFORE the dedup fold-in, anti-joined for
        // idempotence — see the ordering argument in the scaladoc
        bm25IndexName.foreach { bx =>
          graft.operators.Retrieval.appendToBm25Index(
            graft.operators.Retrieval.screenNewForBm25Index(
              survivors, idCol, bx),
            idCol, textCol, bx)
        }
        graft.operators.Dedup
          .appendToDedupIndex(survivors, idCol, textCol, indexName)
        funnelDir.foreach { fd =>
          val spark = batch.sparkSession
          import spark.implicits._
          val nIn = batch.count()
          val nUnique = b.count()
          val nLanded = survivors.count()
          Seq((nIn, nIn - nUnique, nUnique - nLanded, nLanded))
            .toDF("n_input", "n_batch_dup", "n_index_dup", "n_landed")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$fd/ingest_batch=$batchId")
        }
        for (dd <- bm25DriftDir; row <- driftRow) {
          val spark = batch.sparkSession
          spark.createDataFrame(
            java.util.List.of(row),
            row.schema)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$dd/ingest_batch=$batchId")
        }
        for (dd <- dedupDriftDir; row <- dedupDriftRow) {
          val spark = batch.sparkSession
          spark.createDataFrame(
            java.util.List.of(row),
            row.schema)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$dd/ingest_batch=$batchId")
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** The FULL preprocessing pipeline as a streaming ingest loop —
    * the d62 capstone (extract → quality-gate → dedup → pack)
    * composed into [[toScreenedDocIngest]]'s per-micro-batch shape.
    * This is the production posture of a training-data pipeline: raw
    * pages arrive on a stream; each micro-batch pays
    *
    *   1. extract: [[graft.operators.TextAnalysis.extractMainHtml]] —
    *      a stateless codegen'd scan projection (boilerplate off,
    *      main text out);
    *   2. gate: [[graft.operators.TextAnalysis.gopherRuleBits]]` === 0`
    *      as a plain Column filter — cheap filters FIRST, so gated
    *      rows never reach the (more expensive) sketch arithmetic;
    *   3. dedup: [[graft.operators.Dedup.dedupWithinBatch]] (the
    *      batch against itself) then
    *      [[graft.operators.Dedup.dedupAgainstIndex]] (the batch
    *      against everything ever ingested — exact + near over the
    *      persistent index, batch-sized work only);
    *   4. pack: [[graft.operators.Packing.sequencePack]] over the
    *      survivors' extracted text, landing (id, main_text,
    *      n_tokens, start_off, bin_start, bin_end, ingest_batch) in
    *      the sink. Bins are BATCH-scoped (offsets restart at 0 each
    *      micro-batch) and namespaced by `ingest_batch` — each batch
    *      emits a self-contained shard of training sequences, the
    *      unit a trainer epoch consumes; a global re-pack across
    *      shards is the batch d62/d32 operator, not the stream's job.
    *
    * Delivery semantics are [[toScreenedDocIngest]]'s verbatim: the
    * extract and gate stages are deterministic projections, so a
    * replayed batch re-derives the same main_text, hits its own
    * content hashes in the index, and self-suppresses; the residual
    * at-least-once window is a crash between the sink append and the
    * index fold-in (sink first — a duplicate shard row is
    * recoverable, a lost document is not). The index stores the
    * EXTRACTED text's sketches: dedup semantics are "same main
    * content", robust to boilerplate-only page differences — two
    * mirrors of one article dedup even when their chrome differs.
    *
    * `nbModel` optionally names a persisted classifier
    * ([[graft.operators.TextAnalysis.trainNbModel]]): the EXTRACTED
    * text scores against the frozen model (a broadcast map-side
    * join, batch-sized) and rows with log-odds <= `nbThreshold`
    * drop BETWEEN the rule gate and the dedup stages — the
    * production filter order (free rules first, model inference
    * second, sketch arithmetic last, each stage shrinking the next
    * one's input). The model is frozen, so the stage is
    * deterministic and replay self-suppression is unchanged.
    *
    * `blocklist` (+ `blocklistDomainCol`, requires `urlCol`) prepends
    * the D75 domain gate as a STATELESS stage before even the
    * frontier: a blocked page pays nothing and — deliberately —
    * never reaches the frontier index, because "blocked by policy"
    * is not "fetched and judged": unblocking a domain later must
    * leave its URLs crawlable, and a stateless filter has no crash
    * window at all. The blocklist broadcasts (MBs vs the stream);
    * the verdict is the batch-sized left-semi of the nb stage.
    *
    * `urlCol` + `urlIndexName` (both or neither) prepend the URL
    * FRONTIER screen — the true stage 0 of the CCNet/RefinedWeb
    * order (URL-screen → extract → gate → content-dedup): a
    * within-batch canonical keep-one ([[graft.operators.TextAnalysis
    * .urlDedup]] — the same page under two tracking-param URLs lands
    * once) then an anti-join against the persistent
    * [[graft.operators.Dedup.buildUrlIndex]] key set, BEFORE any
    * extraction cost is paid. The admitted rows are eagerly
    * localCheckpoint-pinned (two consumers: the pipeline below and
    * the frontier fold-in at the end). Index write ORDER inside the
    * batch is sink → content index → url index, and the order is
    * load-bearing: if the url fold-in ran before the content one, a
    * crash between them would replay into a stage-0 full stop —
    * sink rows landed whose SKETCHES never reached the content
    * index, and every future near-dup of them slips the screen
    * forever. With url last, the replay passes stage 0, the content
    * screen self-suppresses on its own hashes, and the url fold-in
    * completes — the residual window stays "a recoverable duplicate
    * append", never a silent dedup hole. Frontier semantics: a URL
    * is remembered once ADMITTED (even if its content later gates
    * out or dedups — the page was fetched and judged; re-crawling
    * it buys nothing).
    *
    * `funnelDir` (C14) turns on ADMISSION-FUNNEL TELEMETRY — the
    * ingest observability a production crawl watches (a spike in
    * n_blocked means a list change; n_url_dup, a re-crawl storm;
    * n_gate_cut, an extractor or source regression; n_index_dup, a
    * mirror flood): per micro-batch ONE row of stage counts lands
    * under `funnelDir/ingest_batch=<id>/`, written LAST (telemetry
    * is advisory: a crash before it loses the batch's row until the
    * replay overwrites the same partition — idempotent by path).
    * Cost, disclosed: the intermediate batch-scoped frames
    * (extracted, gated, in-batch survivors) are localCheckpoint-
    * pinned so every count reads a materialized frame and no stage
    * is ever recomputed for telemetry — the pins add batch-sized
    * memory, nothing corpus-sized, and the gate chain itself still
    * evaluates exactly once. n_gate_cut folds the extract, rule and
    * nb cuts into one number (their per-stage split is the batch
    * d47/d55 operators' job, not the stream's).
    *
    * `bm25IndexName` makes the pipeline RETRIEVAL-READY over the
    * EXTRACTED text (dedup semantics and retrieval semantics agree:
    * both see main content, not chrome): survivors append into a
    * persistent BM25 index between the sink and the dedup fold-in,
    * idempotent via the id anti-join — the [[toScreenedDocIngest]]
    * ordering argument verbatim (BM25-after-fold-in would turn a
    * crash between the appends into a permanent retrieval hole;
    * without the anti-join a replay doubles postings). */
  def toPipelineIngest(pages: DataFrame, idCol: String, htmlCol: String,
      indexName: String, path: String, checkpoint: String,
      minWords: Int = 50, maxWords: Int = 100000,
      packCapacity: Long = 2048L, htmlMinLen: Int = 10,
      htmlMaxLinkPct: Int = 20, nbModel: Option[String] = None,
      nbThreshold: Double = 0.0, urlCol: Option[String] = None,
      urlIndexName: Option[String] = None,
      blocklist: Option[DataFrame] = None,
      blocklistDomainCol: String = "domain",
      funnelDir: Option[String] = None,
      bm25IndexName: Option[String] = None,
      dedupDriftDir: Option[String] = None): StreamingQuery = {
    require(urlCol.isDefined == urlIndexName.isDefined,
      "urlCol and urlIndexName come together: the frontier screen " +
        "needs both the key column and the index to screen against")
    require(blocklist.isEmpty || urlCol.isDefined,
      "blocklist needs urlCol: the domain gate keys on the URL")
    pages.writeStream
      .outputMode("append")
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // stage -1: the stateless domain gate — before any index IO,
        // and deliberately OUTSIDE the frontier's memory (see
        // scaladoc)
        val batch = (blocklist, urlCol) match {
          case (Some(bl), Some(u)) =>
            val ok = graft.operators.TextAnalysis.urlBlocklistGate(
              batch0, idCol, u, bl, blocklistDomainCol)
              .filter(!col("blocked"))
              .select(col(idCol).as("__ubid"))
            batch0.join(ok.hint("SHUFFLE_HASH"),
              col(idCol) === col("__ubid"), "left_semi")
          case _ => batch0
        }
        val admitted = (urlCol, urlIndexName) match {
          case (Some(u), Some(ix)) =>
            val keepOne = graft.operators.TextAnalysis
              .urlDedup(batch, idCol, u)
              .filter(col("keeper"))
              .select(col(idCol).as("__kid"))
            val screened = graft.operators.Dedup.screenAgainstUrlIndex(
              batch.join(keepOne.hint("SHUFFLE_HASH"),
                col(idCol) === col("__kid"), "left_semi"), u, ix)
            // eager pin: consumed by the pipeline below AND the
            // frontier fold-in after the sink lands (batch-scoped)
            screened.localCheckpoint(true)
          case _ => batch
        }
        val extracted = graft.operators.TextAnalysis.extractMainHtml(
          admitted, idCol, htmlCol, htmlMinLen, htmlMaxLinkPct)
          .select(col(idCol), col("main_text"))
        val ruleGated = extracted.filter(graft.operators.TextAnalysis
          .gopherRuleBits(col("main_text"), minWords, maxWords) === 0)
        val gated0 = nbModel match {
          case Some(m) =>
            val keep = graft.operators.TextAnalysis
              .scoreWithNbModel(ruleGated, idCol, "main_text", m)
              .filter(col("log_odds") > nbThreshold)
              .select(col("doc_id").as(idCol))
            ruleGated.join(keep.hint("SHUFFLE_HASH"), Seq(idCol),
              "left_semi")
          case None => ruleGated
        }
        // telemetry pin: counts must read a materialized frame, and
        // the downstream dedup must not re-evaluate the gate chain
        val gated = if (funnelDir.isDefined) gated0.localCheckpoint(true)
          else gated0
        val inBatch0 = graft.operators.Dedup.dedupWithinBatch(
          gated, idCol, "main_text", indexName)
        val inBatch = if (funnelDir.isDefined)
          inBatch0.localCheckpoint(true) else inBatch0
        // eager localCheckpoint: the survivor set feeds THREE
        // consumers (pack, sink, index fold-in), and the last runs
        // after the index mutates — a lazy recompute would re-screen
        // against the updated index and drop everything
        val survivors = graft.operators.Dedup
          .dedupAgainstIndex(inBatch, idCol, "main_text", indexName)
          .localCheckpoint(true)
        // C19/D116 here too: the drift card reads the gated,
        // keep-one'd PRE-screen frame over the EXTRACTED text (the
        // pipeline's dedup identity) against the index as the batch
        // found it — one driver row, before any fold-in
        val dedupDriftRow = dedupDriftDir.map { _ =>
          graft.operators.Dedup.dedupIngestDriftCard(
            batch0.sparkSession, indexName, inBatch, idCol,
            "main_text").head()
        }
        val packed = graft.operators.Packing.sequencePack(
          survivors, idCol,
          tokens = graft.operators.TextAnalysis
            .wsTokenCount(col("main_text")).cast("long"),
          orderCol = md5(col(idCol).cast("string")),
          capacity = packCapacity)
        packed
          .join(survivors.select(col(idCol), col("main_text")), Seq(idCol))
          .withColumn("ingest_batch", lit(batchId))
          .write.mode("append").parquet(path)
        // BM25 append over the EXTRACTED text, BEFORE the dedup
        // fold-in and anti-joined for idempotence — see scaladoc
        bm25IndexName.foreach { bx =>
          graft.operators.Retrieval.appendToBm25Index(
            graft.operators.Retrieval.screenNewForBm25Index(
              survivors, idCol, bx),
            idCol, "main_text", bx)
        }
        graft.operators.Dedup
          .appendToDedupIndex(survivors, idCol, "main_text", indexName)
        // url frontier LAST — see the ordering argument in the
        // scaladoc (url-before-content would make a crash between
        // the two a permanent content-dedup hole)
        (urlCol, urlIndexName) match {
          case (Some(u), Some(ix)) =>
            graft.operators.Dedup.appendToUrlIndex(admitted, u, ix)
          case _ => ()
        }
        // funnel telemetry, written last (advisory — see scaladoc);
        // every count below reads a pinned frame or the raw batch,
        // and the row overwrites its own ingest_batch partition so a
        // replay is idempotent by path
        funnelDir.foreach { fd =>
          val spark = batch0.sparkSession
          import spark.implicits._
          val nIn = batch0.count()
          val nPostBlock =
            if (blocklist.isDefined) batch.count() else nIn
          val nAdmitted =
            if (urlIndexName.isDefined) admitted.count() else nPostBlock
          val nGated = gated.count()
          val nUnique = inBatch.count()
          val nLanded = survivors.count()
          Seq((nIn, nIn - nPostBlock, nPostBlock - nAdmitted,
            nAdmitted - nGated, nGated - nUnique, nUnique - nLanded,
            nLanded))
            .toDF("n_input", "n_blocked", "n_url_dup", "n_gate_cut",
              "n_batch_dup", "n_index_dup", "n_landed")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$fd/ingest_batch=$batchId")
        }
        for (dd <- dedupDriftDir; row <- dedupDriftRow) {
          val spark = batch0.sparkSession
          spark.createDataFrame(
            java.util.List.of(row),
            row.schema)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$dd/ingest_batch=$batchId")
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Streaming MEDIA ingest with a perceptual dedup screen — the C10
    * loop for binary payloads over a persistent signature index
    * ([[graft.operators.Dedup.buildSimIndex]]): per micro-batch,
    * decode one 64-bit perceptual signature per row
    * ([[graft.operators.Multimodal.mediaSigs]] — image dHash, audio
    * fingerprint, video exact frame-hash fold), keep one
    * representative per within-batch near-family (pigeonhole pairs +
    * components keep-min — the d52/d63/d64 machinery, batch-sized),
    * screen survivors against every signature ever ingested (ONE
    * narrow chunk_hash equi-join against the bucketed index), land
    * the surviving PAYLOAD rows in the sink, then fold their sigs
    * into the index so the next batch screens against them.
    *
    * Undecodable payloads yield no signature and are dropped at the
    * door (nothing to screen with, nothing to make a replay
    * idempotent), mirroring [[toAnnIngest]]'s id-less-row contract.
    * Delivery semantics are [[toScreenedDocIngest]]'s: a replayed
    * batch's sigs are in the index, so it fully self-suppresses;
    * the residual crash window between sink append and index fold-in
    * re-lands rows (at-least-once, recoverable) rather than losing
    * them. Near-dup screening applies to image/audio sigs; a video
    * screens by default only against an EXACT remux/retime copy
    * (the frame-hash fold).
    *
    * `videoFrameScreen = true` adds the FRAME-LEVEL video path (the
    * D61 machinery composed into the loop): fold-stage video
    * survivors pay one more decode for per-frame dHashes, collapse
    * within-batch NEAR families (aligned-frame pairing + keep-min —
    * a video and its re-encode arriving in ONE batch land once),
    * screen against the index's `_vchunks` side (a RE-ENCODED copy
    * of anything ever ingested is caught, not just a remux), and
    * survivors' frame sigs fold into the frame side. Index write
    * ORDER becomes sink → FRAME side → fold side, and the order is
    * load-bearing: on a crash between the two index appends, a
    * replayed batch is byte-identical, so the frame screen (already
    * fed) self-suppresses its videos at hamming 0 — had the fold
    * side been written first, the fold screen would suppress the
    * replay and the frame evidence would never land, leaving every
    * future RE-ENCODE of those videos unscreenable forever. With
    * frame-first, a video suppressed by either screen is already
    * frame-indexed, and the frame side subsumes the fold side for
    * both remuxes (hamming 0) and re-encodes.
    *
    * `urlCol`/`urlIndexName` add the C12 URL-frontier STAGE 0 —
    * media re-crawls are URL-duplicated at least as often as pages,
    * and the frontier kills them BEFORE any decode cost is paid: a
    * within-batch canonical keep-one ([[graft.operators.TextAnalysis
    * .urlDedup]] — the same payload under two tracking-param URLs
    * decodes once) then the anti-join against the persistent
    * [[graft.operators.Dedup.buildUrlIndex]] key set. The frontier
    * fold-in runs LAST — after sink, frame side and fold side — and
    * the order is load-bearing for the same reason as
    * [[toPipelineIngest]]'s: url-before-signature would turn a crash
    * between the appends into a permanent perceptual-dedup hole
    * (sink rows whose SIGNATURES never reached the index, with the
    * replay stopped dead at stage 0); with url last, the replay
    * passes stage 0, the signature screens self-suppress, and the
    * url fold-in completes. Frontier semantics as in C12: a URL is
    * remembered once ADMITTED, even if its payload later dedups.
    *
    * `funnelDir` turns on the C14 admission-funnel telemetry with
    * the decode-relevant stage split this loop's costs make
    * valuable to watch (decode is the expensive stage, so
    * n_url_dup — cuts BEFORE decode — is the money number, and a
    * spike in n_undecodable is a source or codec regression): one
    * (n_input, n_url_dup, n_undecodable, n_batch_dup, n_index_dup,
    * n_frame_screened, n_landed) row per micro-batch under
    * `funnelDir/ingest_batch=<id>/`, written LAST (advisory;
    * partition-overwrite idempotent under replay — a fully
    * self-suppressed redelivery reads as total index-dup
    * suppression). The within-batch keep-one frame is pinned when
    * telemetry is on (the other counted frames are already pinned
    * for their own consumers), so every count reads a materialized
    * frame and no decode or screen re-runs for telemetry. */
  def toMediaIngest(media: DataFrame, idCol: String, typeCol: String,
      payloadCol: String, indexName: String, path: String,
      checkpoint: String, videoFrameScreen: Boolean = false,
      urlCol: Option[String] = None,
      urlIndexName: Option[String] = None,
      funnelDir: Option[String] = None,
      simDriftDir: Option[String] = None): StreamingQuery = {
    require(urlCol.isDefined == urlIndexName.isDefined,
      "urlCol and urlIndexName come together: the frontier screen " +
        "needs both the key column and the index to screen against")
    media.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        // STAGE 0: url frontier, before any decode cost
        val admitted = (urlCol, urlIndexName) match {
          case (Some(u), Some(ix)) =>
            val keepOne = graft.operators.TextAnalysis
              .urlDedup(batch, idCol, u)
              .filter(col("keeper"))
              .select(col(idCol).as("__kid"))
            val screened = graft.operators.Dedup.screenAgainstUrlIndex(
              batch.join(keepOne.hint("SHUFFLE_HASH"),
                col(idCol) === col("__kid"), "left_semi"), u, ix)
            // two consumers: the decode pipeline and the frontier
            // fold-in after the sink lands — batch-scoped eager pin
            screened.localCheckpoint(true)
          case _ => batch
        }
        val rows = admitted.select(col(idCol).cast("long").as("doc_id"),
          col(typeCol).as("media_type"), col(payloadCol).as("payload"))
          .as[graft.operators.Multimodal.MediaRow]
        // one decode pass; two consumers (keep-one + the payload
        // join-back) — batch-scoped eager pin, the C10 discipline
        val sigs = graft.operators.Multimodal.mediaSigs(spark, rows)
          .localCheckpoint(true)
        val (maxDist, _) = {
          val m = spark.table(s"${indexName}_meta").head()
          (m.getAs[Int]("max_dist"), m.getAs[Int]("num_buckets"))
        }
        val pairs = graft.operators.Dedup
          .simhashPairsFromSigs(sigs.select(col("doc_id"), col("sim")),
            maxDist)
          .select(col("id_a"), col("id_b"))
        val kept0 = graft.operators.Dedup
          .dropNearDuplicates(sigs, "doc_id", pairs)
        // telemetry pin: the keep-one count must not re-run the
        // pair/components machinery (batch-sized memory, C14 cost
        // discipline)
        val kept = if (funnelDir.isDefined) kept0.localCheckpoint(true)
          else kept0
        // C19 for the media loop: the D116-sibling sim drift card
        // on the decoded, keep-one'd PRE-screen sigs (a remux flood
        // screens to zero survivors — the pre-screen frame is where
        // the flood signal lives), one driver row, before the
        // fold-in mutates the index side; written LAST below
        val simDriftRow = simDriftDir.map { _ =>
          graft.operators.Dedup.simIngestDriftCard(
            spark, indexName, kept.select(col("doc_id"), col("sim")))
            .head()
        }
        val foldSurvivors = graft.operators.Dedup
          .screenAgainstSimIndex(kept, indexName)
          .localCheckpoint(true)
        // optional frame-level video stage over the fold survivors
        val (survivorIds, videoFrames) =
          if (!videoFrameScreen)
            (foldSurvivors.select(col("doc_id")), None)
          else {
            val vKept = rows.toDF()
              .filter(col("media_type") === "video")
              .join(foldSurvivors.select(col("doc_id"))
                .hint("SHUFFLE_HASH"), Seq("doc_id"), "left_semi")
              .as[graft.operators.Multimodal.MediaRow]
            val vSigs = graft.operators.Multimodal
              .videoFrameDHashSigs(spark, vKept)
              .localCheckpoint(true) // pairing + universe + screen
            val vPairs = graft.operators.Multimodal
              .videoNearDupPairsFromSigs(vSigs, maxDist)
              .select(col("id_a"), col("id_b"))
            val vOne = graft.operators.Dedup.dropNearDuplicates(
              vSigs.select(col("doc_id")).distinct(), "doc_id", vPairs)
            val vFinal = graft.operators.Dedup
              .screenVideosAgainstSimIndex(
                vSigs.join(vOne.hint("SHUFFLE_HASH"), Seq("doc_id"),
                  "left_semi"), indexName)
              .localCheckpoint(true) // sink filter + frame fold-in
            val ids = foldSurvivors
              .filter(col("media_type") =!= "video")
              .select(col("doc_id"))
              .unionAll(vFinal.select(col("doc_id")).distinct())
            (ids, Some(vFinal))
          }
        admitted
          .join(survivorIds.select(col("doc_id").as("__graft_sid")),
            col(idCol).cast("long") === col("__graft_sid"), "left_semi")
          .write.mode("append").parquet(path)
        // frame side FIRST when present — see the ordering argument
        videoFrames.foreach(vf => graft.operators.Dedup
          .appendVideoFramesToSimIndex(vf, indexName))
        graft.operators.Dedup.appendToSimIndex(
          foldSurvivors
            .join(survivorIds.hint("SHUFFLE_HASH"), Seq("doc_id"),
              "left_semi")
            .select(col("doc_id"), col("sim")), indexName)
        // url frontier LAST — see the ordering argument in the
        // scaladoc (url-before-signature would make a crash between
        // the appends a permanent perceptual-dedup hole)
        (urlCol, urlIndexName) match {
          case (Some(u), Some(ix)) =>
            graft.operators.Dedup.appendToUrlIndex(admitted, u, ix)
          case _ => ()
        }
        // funnel telemetry, written last (advisory — see scaladoc);
        // every counted frame is pinned, and the row overwrites its
        // own ingest_batch partition so a replay is idempotent
        funnelDir.foreach { fd =>
          val nIn = batch.count()
          val nAdmitted =
            if (urlIndexName.isDefined) admitted.count() else nIn
          val nDecoded = sigs.count()
          val nKept = kept.count()
          val nFold = foldSurvivors.count()
          val nLanded = survivorIds.count()
          Seq((nIn, nIn - nAdmitted, nAdmitted - nDecoded,
            nDecoded - nKept, nKept - nFold, nFold - nLanded, nLanded))
            .toDF("n_input", "n_url_dup", "n_undecodable",
              "n_batch_dup", "n_index_dup", "n_frame_screened",
              "n_landed")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$fd/ingest_batch=$batchId")
        }
        for (dd <- simDriftDir; row <- simDriftRow) {
          spark.createDataFrame(
            java.util.List.of(row),
            row.schema)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$dd/ingest_batch=$batchId")
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Streaming embedding ingest into a persistent ANN index
    * ([[graft.operators.Similarity.buildAnnIndex]]): per micro-batch,
    * rows whose id is ALREADY indexed are dropped (an anti-join on
    * the index's narrow vec_id projection — vectors are id-keyed, so
    * id equality is the idempotence contract, where C10's doc screen
    * is content-keyed), fresh rows land in the parquet sink and then
    * encode-append into the index with its OWN stored codebooks.
    *
    * Redelivery semantics mirror [[toScreenedDocIngest]]: a replay
    * AFTER both appends fully self-suppresses (ids now indexed); the
    * residual window is a crash BETWEEN the sink append and the
    * index append — the replay re-lands those rows in the sink once
    * more (at-least-once there, dedupe downstream by id) and the
    * index append happens exactly once. Sink first, index second is
    * deliberate: the reverse order would LOSE vectors on replay.
    *
    * The eager localCheckpoint is REQUIRED, not an optimization:
    * the anti-join must be evaluated ONCE — the index append mutates
    * the very table the anti-join reads, so a lazy recompute by the
    * second consumer would see its own batch as already-indexed and
    * append nothing.
    *
    * Visibility: appends run in the stream's session, which refreshes
    * its own catalog state. A DIFFERENT session that read the table
    * earlier holds a cached file listing — call
    * `spark.catalog.refreshTable("<index>_vectors")` (or
    * [[graft.operators.Similarity.openAnnIndex]] in a fresh session)
    * before serving against a concurrently-ingesting index.
    *
    * `funnelDir` turns on the C14 admission-funnel telemetry for
    * this loop's id-keyed stages: one (n_input, n_unidentified,
    * n_index_dup, n_landed) row per micro-batch under
    * `funnelDir/ingest_batch=<id>/`, written LAST (advisory;
    * partition-overwrite idempotent — a full redelivery reads as
    * total index-dup suppression). n_unidentified folds the id-less
    * rows and the within-batch id duplicates into one number (both
    * are "no usable identity" cuts at the same door). The identified
    * frame is pinned when telemetry is on; fresh is already pinned
    * for its own two consumers.
    *
    * `driftDir` turns on the D110 INGEST-DRIFT telemetry: one
    * [[graft.operators.Similarity.annIngestDriftCard]] per
    * micro-batch (per stored cell: index occupancy vs where THIS
    * batch's identified rows land) under
    * `driftDir/ingest_batch=<id>/` — the per-batch feed of the
    * rebalance/rebuild decision, watched the way the C14 funnel
    * rows are. Written LAST like all telemetry (advisory), and
    * AFTER the index append deliberately: the card's index side
    * then reads the post-append state, which is what a replay
    * re-derives too (the batch self-suppresses, the index is
    * unchanged, the identified frame is the same) — computing
    * against the pre-append index would make the first delivery
    * and its replay disagree. Cost: one map-only assignment pass
    * over the batch against the broadcast centroids + an
    * nlist-sized aggregate. */
  def toAnnIngest(vectors: DataFrame, idCol: String, vecCol: String,
      indexName: String, path: String, checkpoint: String,
      funnelDir: Option[String] = None,
      driftDir: Option[String] = None): StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val indexed = batch.sparkSession
          .table(s"${indexName}_vectors")
          .select(col("vec_id").as("__indexed_id"))
        // Idempotence needs a usable identity: a row whose id casts
        // to null can never match the anti-join, so every replay
        // would re-append it — likewise the second copy of an id
        // duplicated WITHIN one micro-batch (redelivery inside the
        // retried batch). Drop id-less rows, keep one row per id.
        // try_cast, not cast: under ANSI a malformed id would kill
        // the batch; the contract here is drop-at-the-door.
        val identified0 = batch
          .withColumn("__graft_cid", batch(idCol).try_cast("long"))
          .filter(col("__graft_cid").isNotNull)
          .dropDuplicates("__graft_cid")
        val identified = if (funnelDir.isDefined || driftDir.isDefined)
          identified0.localCheckpoint(true) else identified0
        val fresh = identified
          .join(indexed.hint("SHUFFLE_HASH"),
            col("__graft_cid") === col("__indexed_id"), "left_anti")
          .drop("__graft_cid")
          .localCheckpoint(true)
        fresh.write.mode("append").parquet(path)
        graft.operators.Similarity
          .appendToAnnIndex(fresh, idCol, vecCol, indexName)
        funnelDir.foreach { fd =>
          val spark = batch.sparkSession
          import spark.implicits._
          val nIn = batch.count()
          val nIdent = identified.count()
          val nLanded = fresh.count()
          Seq((nIn, nIn - nIdent, nIdent - nLanded, nLanded))
            .toDF("n_input", "n_unidentified", "n_index_dup", "n_landed")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$fd/ingest_batch=$batchId")
        }
        driftDir.foreach { dd =>
          graft.operators.Similarity.annIngestDriftCard(
            batch.sparkSession, indexName, identified, idCol, vecCol)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$dd/ingest_batch=$batchId")
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
