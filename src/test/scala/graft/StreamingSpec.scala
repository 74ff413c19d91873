package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model.EventAdapter
import graft.sources.{SnapshotEventStore, Tables}
import graft.streaming.{StreamOps, StreamingIngest}

/** Structured-Streaming paths driven with MemoryStream: JSON-lines
  * ingest → snapshot event store, windowed aggregation, dedup,
  * sessionization, burst detection. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** First 200 events as reference-wire JSON lines. */
  private def jsonLines(): Seq[String] = {
    import org.apache.spark.sql.functions._
    val ke = EventAdapter.keycloakEvents(Tables.events(spark, TestSpark.sf))
      .orderBy(col("time"), col("id")).limit(200)
    StreamingIngest.toJsonLines(ke).collect().toSeq
  }

  test("json-lines ingest → typed columns → dt/hour partitioned sink") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val parsed = StreamingIngest.fromJsonLines(input.toDS())
    val out = Files.createTempDirectory("graft_stream_out_").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt_").toString
    val q = StreamingIngest.toSnapshotEventStore(parsed, out, ckpt)
    try {
      val lines = jsonLines()
      input.addData(lines)
      q.processAllAvailable()
      val landed = SnapshotEventStore.read(spark, out)
      assert(landed.count() == lines.size)
      assert(landed.columns.toSet.contains("eventtype"))
      val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
        .filterNot(_.getName.startsWith("_")) // _graft_snapshots
      assert(dirs.nonEmpty && dirs.forall(_.getName.startsWith("dt=")))

      // retention works on a store the stream is still attached to
      import org.apache.spark.sql.functions._
      val minT = landed.agg(min(col("time"))).head.getLong(0)
      SnapshotEventStore.clearExpired(spark, out, minT + 3600000L)
      val after = SnapshotEventStore.read(spark, out)
      assert(after.count() < lines.size)
      assert(after.agg(min(col("time"))).head.getLong(0) >= minT + 3600000L)
    } finally q.stop()
  }

  test("snapshot-store streaming ingest: exactly-once appendBatch loop, maintenance-safe reads") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val parsed = StreamingIngest.fromJsonLines(input.toDS())
    val out = Files.createTempDirectory("graft_snap_stream_").toString
    val ckpt = Files.createTempDirectory("graft_snap_sckpt_").toString
    val q = StreamingIngest.toSnapshotEventStore(parsed, out, ckpt)
    try {
      val lines = jsonLines()
      input.addData(lines.take(100))
      q.processAllAvailable()
      assert(graft.sources.SnapshotEventStore.read(spark, out)
        .count() == 100L)
      input.addData(lines.drop(100))
      q.processAllAvailable()
      assert(graft.sources.SnapshotEventStore.read(spark, out)
        .count() == lines.size.toLong)
      // a crash-replayed delivery of an ALREADY-COMMITTED batch id
      // lands nothing — the manifest watermark, driven directly
      // under the LOOP's stream identity (the checkpoint path; a
      // different identity would rightly land as a new pipeline)
      graft.sources.SnapshotEventStore.appendBatch(
        spark.read.option("basePath", out).parquet(out)
          .drop("dt", "hour").limit(10), out, batchId = 0L,
        streamId = ckpt)
      assert(graft.sources.SnapshotEventStore.read(spark, out)
        .count() == lines.size.toLong,
        "replayed batch id must be covered by the watermark")
      // and maintenance composes mid-stream: compact, then keep
      // ingesting — unlike the parquet-sink store, no metadata log
      // invalidation, no fresh checkpoint needed
      graft.sources.SnapshotEventStore.compact(spark, out,
        maxFilesPerPartition = 1)
      assert(graft.sources.SnapshotEventStore.read(spark, out)
        .count() == lines.size.toLong)
    } finally q.stop()
  }

  test("snapshot upsert sink: ids outside and inside the batch range get exact verdicts") {
    import spark.implicits._
    val t0 = 1704067200000L
    val out = Files.createTempDirectory("graft_ups_range_").toString
    val ckpt = Files.createTempDirectory("graft_ups_range_ck_").toString
    // pre-seal a store whose ids sit far OUTSIDE (1, 10^6) and INSIDE
    // (500) the coming batch's id range, in id-clustered files: the
    // screen anti-joins the batch against every live id, and the
    // out-of-range ids must neither break the scan nor change any
    // verdict
    graft.sources.SnapshotEventStore.init(spark, out)
    graft.sources.SnapshotEventStore.append(
      Seq((1L, t0), (500L, t0 + 3600000L), (1000000L, t0))
        .toDF("id", "time"),
      out, sortWithin = Seq("id"))
    val src = MemoryStream[(Long, Long)](spark)
    val q = graft.streaming.StreamingIngest.toSnapshotUpsertSink(
      src.toDS().toDF("id", "time"), out, ckpt,
      sortWithin = Seq("id"))
    try {
      // batch range [400, 600]: 500 is a source-level redelivery of a
      // landed id (must suppress); 400 and 600 are new (must land)
      src.addData((400L, t0 + 1000), (500L, t0 + 2000), (600L, t0 + 3000))
      q.processAllAvailable()
      val ids = graft.sources.SnapshotEventStore.read(spark, out)
        .select(org.apache.spark.sql.functions.col("id"))
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 400L, 500L, 600L, 1000000L),
        s"upsert verdicts drifted: $ids")
      // an EMPTY micro-batch must be a no-op, not a crash
      src.addData()
      q.processAllAvailable()
      assert(graft.sources.SnapshotEventStore.read(spark, out)
        .count() == 5L)
    } finally q.stop()
  }

  test("malformed JSON lines land as null rows, not failures") {
    import spark.implicits._
    // the reference logs-and-continues on serialization trouble
    // (FirehoseEventStoreProvider.java:126-131); PERMISSIVE parsing is
    // the streaming analog — a poison line must not kill the query
    val lines = Seq(
      """{"id":"ok1","type":"LOGIN","realmid":"r","userid":"u","time":1704067200000,"detailsjson":"{}"}""",
      """this is not json at all""",
      """{"id":"ok2","type":"LOGIN","time":"not-a-number"}""")
    val parsed = StreamingIngest.fromJsonLines(lines.toDS()).collect()
    assert(parsed.length == 3, "every line must produce a row")
    assert(parsed.count(_.getAs[String]("id") == "ok1") == 1)
    assert(parsed.count(r => r.getAs[String]("id") == null) >= 1,
      "garbage line must yield a null row")
  }

  test("AvailableNow drain processes the backlog then terminates") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val out = Files.createTempDirectory("graft_drain_out_").toString
    val ckpt = Files.createTempDirectory("graft_drain_ckpt_").toString
    val lines = jsonLines()

    input.addData(lines.take(120))
    val q1 = StreamingIngest.toSnapshotEventStore(
      StreamingIngest.fromJsonLines(input.toDS()), out, ckpt,
      availableNow = true)
    assert(q1.awaitTermination(60000), "drain 1 did not terminate")
    assert(SnapshotEventStore.read(spark, out).count() == 120)

    // second drain resumes from the checkpoint: only the new backlog
    input.addData(lines.drop(120))
    val q2 = StreamingIngest.toSnapshotEventStore(
      StreamingIngest.fromJsonLines(input.toDS()), out, ckpt,
      availableNow = true)
    assert(q2.awaitTermination(60000), "drain 2 did not terminate")
    val landed = SnapshotEventStore.read(spark, out)
    assert(landed.count() == lines.size)
    assert(landed.select("id").distinct().count() == lines.size)
  }

  test("upsertBatch is insert-if-absent: a replayed id keeps its first payload") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft_upsert_out_").toString
    val t0 = 1704067200000L
    def batch(rows: (String, String, Long)*) =
      rows.toDF("id", "error", "time")
    def play(b: org.apache.spark.sql.DataFrame, batchId: Long) =
      SnapshotEventStore.upsertBatch(b, out, batchId, "s")
    play(batch(("e1", "v1", t0), ("e2", "v1", t0 + 1000)), 0L)
    // e2 redelivered with a new payload in a LATER batch, plus a new
    // id in another hour: the id screen lands only e3
    play(batch(("e2", "v2", t0 + 1000), ("e3", "v1", t0 + 3600000L)), 1L)
    val rows = SnapshotEventStore.read(spark, out)
    assert(rows.count() == 3, "replayed id must not duplicate")
    val e2 = rows.filter(col("id") === "e2").collect()
    assert(e2.length == 1 && e2.head.getAs[String]("error") == "v1",
      "a replayed id keeps its first payload")
    // a covered batch id lands nothing, even a new id
    val n = SnapshotEventStore.currentSnapshot(spark, out)
    assert(Some(play(batch(("e4", "v1", t0)), 1L)) == n)
    assert(SnapshotEventStore.read(spark, out).count() == 3)
  }

  test("rate-source soak: continuous ingest lands a well-formed store") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft_rate_out_").toString
    val ckpt = Files.createTempDirectory("graft_rate_ckpt_").toString
    val t0 = 1704067200000L
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
    val events = rate.select(
      col("value").cast("string").as("id"),
      lit("LOGIN").as("eventtype"),
      lit("r").as("realmid"), lit("R").as("realmname"),
      lit("c").as("clientid"),
      concat(lit("u"), (col("value") % 50).cast("string")).as("userid"),
      lit("s").as("sessionid"), lit("ip").as("ipaddress"),
      lit(null).cast("string").as("error"),
      // spread synthetic event times across hours
      (lit(t0) + col("value") * 60000L).as("time"),
      lit("{}").as("detailsjson"))
    val q = StreamingIngest.toSnapshotEventStore(events, out, ckpt)
    try {
      q.awaitTermination(5000) // soak
      q.processAllAvailable()
    } finally q.stop()
    val landed = SnapshotEventStore.read(spark, out)
    assert(landed.count() > 0, "no rows landed during the soak")
    assert(landed.columns.contains("dt") && landed.columns.contains("hour"))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_"))
    assert(dirs.nonEmpty && dirs.forall(_.getName.startsWith("dt=")))
  }

  test("rate-source soak: stateful sessionization bounds state, watermark advances") {
    import org.apache.spark.sql.functions._
    // continuous stateful pipeline under sustained input: 50 users,
    // event time advancing one minute per row, 5-minute session gap —
    // consecutive events of one user are 50 synthetic minutes apart,
    // so sessions close constantly. Over N triggers the state store
    // must stay O(active users), NEVER O(rows seen), and the
    // watermark must keep moving (a stalled watermark would pin every
    // session open and grow state without bound).
    val t0 = 1704067200000L
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "2000").load()
    val events = rate.select(
      concat(lit("u"), (col("value") % 50).cast("string")).as("userid"),
      (lit(t0) + col("value") * 60000L).as("time"))
    val sessions = StreamOps.sessionize(spark, events,
      gapMs = 5 * 60000L, watermark = "10 minutes")
    val q = sessions.writeStream.format("memory")
      .queryName("graft_soak_sessions").outputMode("append").start()
    try {
      var waited = 0
      while (q.recentProgress.count(_.stateOperators.nonEmpty) < 8 &&
          waited < 120000) {
        Thread.sleep(500); waited += 500
      }
      val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
      assert(progress.length >= 8, s"only ${progress.length} stateful triggers")
      // bounded state: at most one open session per user (plus the
      // handful whose close timer hasn't fired within the batch)
      val maxState = progress.map(_.stateOperators.map(_.numRowsTotal).sum).max
      assert(maxState <= 100, s"state grew to $maxState rows for 50 users")
      // watermark advances across the soak, no stall
      val wms = progress.flatMap(p => Option(p.eventTime.get("watermark"))).distinct
      assert(wms.length >= 3, s"watermark stalled: ${wms.mkString(", ")}")
      // and closed sessions actually land downstream
      assert(spark.table("graft_soak_sessions").count() > 0,
        "no sessions closed during the soak")
    } finally q.stop()
  }

  test("stream-stream interval join pairs purchases with prior clicks") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val joined = StreamOps.clickToPurchaseJoin(
      StreamingIngest.fromJsonLines(input.toDS()), windowMs = 600000L)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ij").start()
    try {
      val t0 = 1704067200000L
      def ev(id: String, typ: String, user: String, t: Long) =
        s"""{"id":"$id","type":"$typ","realmid":"r","userid":"$user","time":$t,"detailsjson":"{}"}"""
      input.addData(Seq(
        ev("c1", "CLICK", "u1", t0),             // 5 min before → joins
        ev("c2", "CLICK", "u1", t0 - 3600000L),  // 65 min before → outside window
        ev("c3", "CLICK", "u2", t0),             // other user → no join
        ev("p1", "PURCHASE", "u1", t0 + 300000L)))
      q.processAllAvailable()
      // advance both watermarks so state is evictable and output final
      input.addData(Seq(
        ev("c9", "CLICK", "u9", t0 + 7200000L),
        ev("p9", "PURCHASE", "u9", t0 + 7200000L)))
      q.processAllAvailable()
      val got = spark.table("ij").collect()
        .map(r => (r.getAs[String]("purchase_id"), r.getAs[String]("click_id")))
      assert(got.toSet == Set(("p1", "c1")), s"got ${got.toSeq}")
    } finally q.stop()
  }

  test("left-outer interval join emits unattributed purchases after watermark") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val joined = StreamOps.clickToPurchaseJoin(
      StreamingIngest.fromJsonLines(input.toDS()), windowMs = 600000L,
      joinType = "left_outer")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("oj").start()
    try {
      val t0 = 1704067200000L
      def ev(id: String, typ: String, user: String, t: Long) =
        s"""{"id":"$id","type":"$typ","realmid":"r","userid":"$user","time":$t,"detailsjson":"{}"}"""
      input.addData(Seq(
        ev("c1", "CLICK", "u1", t0),
        ev("p1", "PURCHASE", "u1", t0 + 300000L), // attributed to c1
        ev("p2", "PURCHASE", "u2", t0 + 300000L)  // no click at all
      ))
      q.processAllAvailable()
      // push both watermarks far enough that p2's null row finalizes
      input.addData(Seq(
        ev("c9", "CLICK", "u9", t0 + 7200000L),
        ev("p9", "PURCHASE", "u9", t0 + 7200000L)))
      q.processAllAvailable()
      input.addData(Seq(
        ev("c10", "CLICK", "u9", t0 + 10800000L),
        ev("p10", "PURCHASE", "u9", t0 + 10800000L)))
      q.processAllAvailable()
      val got = spark.table("oj").collect()
        .map(r => r.getAs[String]("purchase_id") ->
          Option(r.getAs[String]("click_id"))).toMap
      assert(got.get("p1").flatten.contains("c1"), s"got $got")
      assert(got.contains("p2") && got("p2").isEmpty,
        s"unattributed purchase must emit with null click: $got")
    } finally q.stop()
  }

  test("windowed counts aggregate per hour and event type") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val counts = StreamOps.windowedCounts(
      StreamingIngest.fromJsonLines(input.toDS()))
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("wc").start()
    try {
      input.addData(jsonLines())
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
      assert(rows.nonEmpty)
      assert(rows.map(_.getAs[Long]("n")).sum == 200L)
    } finally q.stop()
  }

  test("streaming dedup drops replayed event ids") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val deduped = StreamOps.dedupById(
      StreamingIngest.fromJsonLines(input.toDS()))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dd").start()
    try {
      val lines = jsonLines()
      input.addData(lines)       // original delivery
      input.addData(lines.take(50)) // at-least-once replay
      q.processAllAvailable()
      assert(spark.table("dd").count() == lines.size)
    } finally q.stop()
  }

  test("streaming ingestion screen: dedupAgainst inside foreachBatch drops corpus dupes") {
    import spark.implicits._
    // the D29 incremental screen composed with the streaming ingest
    // path: each micro-batch of arriving documents is checked against
    // the STATIC existing corpus (exact + near), survivors appended —
    // the foreachBatch shape an ingestion pipeline runs at scale
    // (corpus bands/hashes derive per batch from the same narrow
    // projections; nothing corpus-side is ever self-joined)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "some corpus knowledge about distributed analytics engines and storage")
    ).toDF("doc_id", "text")
    val survivors = new scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDS().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val kept = graft.operators.Dedup
          .dedupAgainst(batch, corpus, "doc_id", "text")
          .collect().map(_.getLong(0))
        survivors.synchronized { survivors ++= kept }; ()
      }
      .start()
    try {
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact
        (11L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near
        (12L, "a genuinely novel streaming document matching nothing in the corpus"))
      q.processAllAvailable()
      input.addData(
        (13L, "some corpus knowledge about distributed analytics engines and storage")) // exact, later batch
      q.processAllAvailable()
      assert(survivors.sorted == Seq(12L), s"got $survivors")
    } finally q.stop()
  }

  test("screened ingest loop: index-screened batches, survivors folded in, replay self-suppresses") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("screened").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    graft.operators.Dedup.buildDedupIndex(corpus, "doc_id", "text",
      name = "t_screened_idx")
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingIngest.toScreenedDocIngest(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      "t_screened_idx", s"$dir/docs", s"$dir/ckpt")
    try {
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact corpus dup
        (11L, "a genuinely novel streaming document matching nothing in the corpus yet"))
      q.processAllAvailable()
      input.addData(
        // exact dup of batch-1 survivor 11 → the folded-in index drops it
        (12L, "a genuinely novel streaming document matching nothing in the corpus yet"),
        // near dup of 11 (last word changed) → near screen drops it
        (13L, "a genuinely novel streaming document matching nothing in the corpus now"),
        (14L, "and a second wave document that is entirely new content again"))
      q.processAllAvailable()
      // full replay of batch 2's novel doc → self-suppressed
      input.addData(
        (15L, "and a second wave document that is entirely new content again"))
      q.processAllAvailable()
      val landed = spark.read.parquet(s"$dir/docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(landed == Set(11L, 14L), s"got $landed")
    } finally q.stop()
  }

  test("ANN ingest drift telemetry: one card per batch, replay re-derives the same card") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("anndrift").toString
    val q8 = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
    graft.operators.Similarity.buildAnnIndex(q8, "vec_id", "qv",
      name = "t_drift_stream", nlist = 8, m = 4, ksub = 8,
      md5Sig = true, numBuckets = 4)
    val twinVec = q8.filter(col("vec_id") === 0).collect()
      .head.getSeq[Float](1)
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = StreamingIngest.toAnnIngest(
      input.toDS().toDF("vec_id", "qv"), "vec_id", "qv",
      "t_drift_stream", s"$dir/vecs", s"$dir/ckpt",
      driftDir = Some(s"$dir/drift"))
    try {
      input.addData((300000L, twinVec), (300001L, twinVec))
      q.processAllAvailable()
      val card = spark.read.parquet(s"$dir/drift/ingest_batch=0")
      // one row per stored cell; the 2-row batch (one id survives the
      // in-batch keep-one... both ids are distinct, both land) maps
      // entirely onto vec 0's cell
      assert(card.count() == 8L)
      assert(card.agg(org.apache.spark.sql.functions.sum("n_batch"))
        .head.getLong(0) == 2L)
      assert(card.filter(col("n_batch") === 2L).count() == 1L)
      // the index side reads POST-append state — n_index total is the
      // base corpus plus this batch, which is exactly what a replay
      // re-derives (self-suppressed append, same identified frame)
      val nIdx = card.agg(org.apache.spark.sql.functions.sum("n_index"))
        .head.getLong(0)
      input.addData((300000L, twinVec), (300001L, twinVec))
      q.processAllAvailable()
      val card2 = spark.read.parquet(s"$dir/drift/ingest_batch=1")
      assert(card2.agg(org.apache.spark.sql.functions.sum("n_index"))
        .head.getLong(0) == nIdx,
        "replayed ids self-suppress — the index side must not grow")
      assert(card2.agg(org.apache.spark.sql.functions.sum("n_batch"))
        .head.getLong(0) == 2L)
    } finally q.stop()
  }

  test("ANN ingest loop: fresh vectors land + index-append, redelivered ids self-suppress") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("annstream").toString
    // seed index over the sf corpus (quantized twin mode)
    val q8 = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
    graft.operators.Similarity.buildAnnIndex(q8, "vec_id", "qv",
      name = "t_ann_stream", nlist = 8, m = 4, ksub = 8, md5Sig = true,
      numBuckets = 4)
    val baseCount = spark.table("t_ann_stream_vectors").count()
    // twin of vec 0 under a fresh id, streamed in
    val twinVec = q8.filter(col("vec_id") === 0).collect()
      .head.getSeq[Float](1)
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = StreamingIngest.toAnnIngest(
      input.toDS().toDF("vec_id", "qv"), "vec_id", "qv",
      "t_ann_stream", s"$dir/vecs", s"$dir/ckpt")
    try {
      input.addData((200000L, twinVec), (200001L, twinVec.map(-_)))
      q.processAllAvailable()
      // full redelivery: both ids already indexed -> nothing anywhere
      input.addData((200000L, twinVec), (200001L, twinVec.map(-_)))
      q.processAllAvailable()
      val landed = spark.read.parquet(s"$dir/vecs")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(landed == Set(200000L, 200001L), s"got $landed")
      // the appends ran in the stream's cloned session; this session
      // cached the table's file listing at baseCount time — refresh
      // before reading (the toAnnIngest scaladoc's visibility rule)
      spark.catalog.refreshTable("t_ann_stream_vectors")
      assert(spark.table("t_ann_stream_vectors").count() == baseCount + 2)
      // the streamed twin serves as rank-1 / distance-0 neighbor
      val top = graft.operators.Similarity.annTopKAgainstIndex(
        q8.filter(col("vec_id") === 0), "vec_id", "qv",
        name = "t_ann_stream", k = 3, nprobe = 2).collect()
        .sortBy(_.getAs[Int]("rank"))
      assert(top.head.getAs[Long]("neighbor_id") == 200000L)
      assert(top.head.getAs[Double]("dist2") == 0.0)
      // an id duplicated WITHIN one micro-batch (redelivery inside a
      // retried batch) indexes exactly ONCE — the anti-join alone
      // can't see it (the index append hasn't happened yet), so the
      // in-batch dropDuplicates must
      input.addData((200002L, twinVec), (200002L, twinVec))
      q.processAllAvailable()
      val n200002 = spark.read.parquet(s"$dir/vecs")
        .filter(col("vec_id") === 200002L).count()
      assert(n200002 == 1, s"in-batch duplicate landed $n200002 times")
      spark.catalog.refreshTable("t_ann_stream_vectors")
      assert(spark.table("t_ann_stream_vectors")
        .filter(col("vec_id") === 200002L).count() == 1)
    } finally q.stop()
  }

  test("ANN ingest: a null-cast id can never replay-loop into the index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a row whose id casts to null can never match the idempotence
    // anti-join, so before the guard EVERY checkpoint replay
    // re-appended it — unbounded duplicates. Contract: id-less rows
    // are dropped at the door.
    val dir = java.nio.file.Files.createTempDirectory("annnull").toString
    val q8 = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
    graft.operators.Similarity.buildAnnIndex(q8, "vec_id", "qv",
      name = "t_ann_null", nlist = 8, m = 4, ksub = 8, md5Sig = true,
      numBuckets = 4)
    val vec = q8.filter(col("vec_id") === 0).collect().head.getSeq[Float](1)
    val input = MemoryStream[(String, Seq[Float])](spark)
    val q = StreamingIngest.toAnnIngest(
      input.toDS().toDF("vec_id", "qv"), "vec_id", "qv",
      "t_ann_null", s"$dir/vecs", s"$dir/ckpt")
    try {
      input.addData(("300000", vec), ("not-an-id", vec))
      q.processAllAvailable()
      input.addData(("not-an-id", vec)) // redelivered id-less row
      q.processAllAvailable()
      val landed = spark.read.parquet(s"$dir/vecs")
        .select(col("vec_id")).collect().map(_.getString(0)).toSeq
      assert(landed == Seq("300000"), s"got $landed")
      spark.catalog.refreshTable("t_ann_null_vectors")
      assert(spark.table("t_ann_null_vectors")
        .filter(col("vec_id") === 300000L).count() == 1)
    } finally q.stop()
  }

  test("quality gate composes INTO the screened ingest stream (pure projection, no state)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // gopherQualityFilter is a stateless scan projection, so it
    // applies directly to the STREAMING DataFrame ahead of the
    // dedup screen — cheap filters first, the real pipeline order
    val dir = java.nio.file.Files.createTempDirectory("gated").toString
    val corpus = Seq(
      (1L, ("the corpus data table holds a value " * 8).trim)
    ).toDF("doc_id", "text")
    graft.operators.Dedup.buildDedupIndex(corpus, "doc_id", "text",
      name = "t_gated_idx")
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDS().toDF("doc_id", "text")
    val gated = docs.filter(graft.operators.TextAnalysis
      .gopherRuleBits(col("text"), minWords = 20) === 0)
    val q = StreamingIngest.toScreenedDocIngest(gated, "doc_id", "text",
      "t_gated_idx", s"$dir/docs", s"$dir/ckpt")
    try {
      val good = ("a genuinely novel streaming document about the " +
        "data value table ") * 4
      input.addData(
        (10L, ("the corpus data table holds a value " * 8).trim), // corpus dup
        (11L, "too short to pass the gate"),                       // gate drop
        (12L, good.trim))                                          // survivor
      q.processAllAvailable()
      val landed = spark.read.parquet(s"$dir/docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(landed == Set(12L), s"got $landed")
    } finally q.stop()
  }

  test("screened ingest crash window: death between sink append and index fold-in loses nothing") {
    import spark.implicits._
    // the loop's residual window (StreamingIngest scaladoc): sink
    // append committed, index fold-in NOT — sink-first is deliberate,
    // because the replay then re-lands the rows (at-least-once,
    // recoverable duplicate) where index-first would silently LOSE
    // them (screened out before ever landing). This test freezes that
    // contract: simulate the mid-window death, replay the batch
    // through the real loop, and pin (a) nothing lost, (b) the
    // duplicate is the worst case, (c) post-recovery redelivery is
    // fully self-suppressed.
    val dir = java.nio.file.Files.createTempDirectory("crashwin").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    graft.operators.Dedup.buildDedupIndex(corpus, "doc_id", "text",
      name = "t_crashwin_idx")
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingIngest.toScreenedDocIngest(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      "t_crashwin_idx", s"$dir/docs", s"$dir/ckpt")
    try {
      // a batch processed fully through the real loop first
      input.addData(
        (10L, "an ordinary first wave document that lands and folds in fine"))
      q.processAllAvailable()

      // the crash: run the loop body by hand exactly to the sink
      // append, then "die" before appendToDedupIndex
      val batchB = Seq(
        (20L, "novel second wave content caught inside the crash window today"),
        (21L, "the quick brown fox jumps over the lazy dog near the river bank today") // corpus dup
      ).toDF("doc_id", "text")
      val survivors = graft.operators.Dedup
        .dedupAgainstIndex(batchB, "doc_id", "text", "t_crashwin_idx")
        .localCheckpoint(true)
      survivors.write.mode("append").parquet(s"$dir/docs")
      // (death here: no index fold-in, no source commit)

      def landed(): Seq[Long] = spark.read.parquet(s"$dir/docs")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(landed().sorted == Seq(10L, 20L), s"pre-replay: ${landed()}")

      // the replay: the source redelivers batch B through the REAL
      // loop. The index does not know doc 20 yet (fold-in died), so
      // the screen must NOT suppress it — it re-lands (the documented
      // at-least-once duplicate) and THEN folds in. The corpus dup 21
      // stays screened as ever.
      input.addData(
        (20L, "novel second wave content caught inside the crash window today"),
        (21L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      q.processAllAvailable()
      assert(landed().sorted == Seq(10L, 20L, 20L),
        s"replay after crash must re-land, not lose: ${landed()}")

      // post-recovery: a THIRD delivery self-suppresses completely
      input.addData(
        (22L, "novel second wave content caught inside the crash window today"))
      q.processAllAvailable()
      assert(landed().sorted == Seq(10L, 20L, 20L),
        s"post-recovery redelivery leaked: ${landed()}")
      // nothing lost at any point: every survivor is present
      assert(landed().toSet == Set(10L, 20L))
    } finally q.stop()
  }

  test("BM25 vocab-drift telemetry: novel batch reads nonzero; replay truthfully re-reads nothing-new") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("bm25drift").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    graft.operators.Dedup.buildDedupIndex(corpus, "doc_id", "text",
      name = "t_bmdrift_idx")
    graft.operators.Retrieval.buildBm25Index(corpus, "doc_id", "text",
      name = "t_bmdrift_bx")
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingIngest.toScreenedDocIngest(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      "t_bmdrift_idx", s"$dir/docs", s"$dir/ckpt",
      bm25IndexName = Some("t_bmdrift_bx"),
      bm25DriftDir = Some(s"$dir/drift"))
    try {
      // batch 0: two known words + two the index has never seen
      input.addData((30L, "the quick zyzzyva qwghlm"))
      q.processAllAvailable()
      val c0 = spark.read.parquet(s"$dir/drift/ingest_batch=0").head()
      assert(c0.getAs[Long]("n_batch_docs") == 1L)
      assert(c0.getAs[Long]("n_new_terms") == 2L,
        s"expected the two planted novel terms: $c0")
      assert(c0.getAs[Long]("n_oov_tokens") == 2L)
      // full redelivery: the screen suppresses everything, so the
      // card truthfully re-reads nothing-new (the funnel precedent:
      // telemetry reflects the LAST delivery)
      input.addData((30L, "the quick zyzzyva qwghlm"))
      q.processAllAvailable()
      val c1 = spark.read.parquet(s"$dir/drift/ingest_batch=1").head()
      assert(c1.getAs[Long]("n_batch_docs") == 0L &&
        c1.getAs[Long]("n_new_terms") == 0L, s"replay row: $c1")
      // and the landed doc serves: the telemetry never interfered
      // with the retrieval-ready contract (refresh first — the
      // appends ran in the stream's cloned session, the scaladoc's
      // visibility rule)
      Seq("_postings", "_df", "_docs", "_meta").foreach(t =>
        spark.catalog.refreshTable(s"t_bmdrift_bx$t"))
      val top = graft.operators.Retrieval.bm25TopKAgainstIndex(spark,
        "t_bmdrift_bx", Seq("zyzzyva"), topK = 5)
      assert(top.collect().map(_.getLong(0)).toSeq == Seq(30L))
    } finally q.stop()
  }

  test("dedup ingest-drift telemetry: novel batch reads new bands/hashes; a mirror flood reads all-known; replay reads all-known") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("deddrift").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    graft.operators.Dedup.buildDedupIndex(corpus, "doc_id", "text",
      name = "t_ddrift_idx")
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingIngest.toScreenedDocIngest(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      "t_ddrift_idx", s"$dir/docs", s"$dir/ckpt",
      dedupDriftDir = Some(s"$dir/drift"))
    try {
      // batch 0: genuinely novel content — every band and hash is
      // new to the index
      input.addData(
        (30L, "entirely novel streaming payload with fresh words arriving first"))
      q.processAllAvailable()
      val c0 = spark.read.parquet(s"$dir/drift/ingest_batch=0").head()
      assert(c0.getAs[Long]("n_batch_docs") == 1L)
      assert(c0.getAs[Long]("n_new_bands") > 0L &&
        c0.getAs[Double]("new_band_share") == 1.0, s"novel batch: $c0")
      assert(c0.getAs[Long]("n_new_hashes") == 1L &&
        c0.getAs[Double]("new_hash_share") == 1.0)
      // batch 1: a MIRROR FLOOD — exact copies of indexed content
      // under fresh ids. The card reads all-known (low new shares)
      // BEFORE the screen drops them: the flood detector the
      // survivors-side card would be blind to.
      input.addData(
        (40L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (41L, "entirely novel streaming payload with fresh words arriving first"))
      q.processAllAvailable()
      val c1 = spark.read.parquet(s"$dir/drift/ingest_batch=1").head()
      assert(c1.getAs[Long]("n_batch_docs") == 2L &&
        c1.getAs[Long]("n_new_bands") == 0L &&
        c1.getAs[Long]("n_new_hashes") == 0L, s"mirror flood row: $c1")
      // full redelivery of batch 0: the index already folded doc 30
      // in, so the card truthfully re-reads all-known
      input.addData(
        (30L, "entirely novel streaming payload with fresh words arriving first"))
      q.processAllAvailable()
      val c2 = spark.read.parquet(s"$dir/drift/ingest_batch=2").head()
      assert(c2.getAs[Long]("n_new_bands") == 0L &&
        c2.getAs[Long]("n_new_hashes") == 0L, s"replay row: $c2")
      // the telemetry never interfered with ingest: exactly the two
      // distinct contents landed
      assert(spark.read.parquet(s"$dir/docs").select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(30L))
    } finally q.stop()
  }

  test("screened ingest dedups WITHIN a micro-batch: one representative per exact/near family lands") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("intrabatch").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    graft.operators.Dedup.buildDedupIndex(corpus, "doc_id", "text",
      name = "t_intrabatch_idx")
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingIngest.toScreenedDocIngest(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      "t_intrabatch_idx", s"$dir/docs", s"$dir/ckpt")
    try {
      // ONE batch carrying an exact pair and a near pair: the index
      // knows none of them, so without the intra-batch pass all four
      // would land. Exactly one per family may survive — the min id.
      input.addData(
        (20L, "identical streaming payload repeated twice inside one batch here"),
        (21L, "identical streaming payload repeated twice inside one batch here"),
        (22L, "almost identical near duplicate payload inside the very same batch yes"),
        (23L, "almost identical near duplicate payload inside the very same batch now"))
      q.processAllAvailable()
      val landed = spark.read.parquet(s"$dir/docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(landed == Set(20L, 22L), s"got $landed")
      // and the survivors were folded in: replaying BOTH families in
      // a later batch is fully self-suppressed
      input.addData(
        (24L, "identical streaming payload repeated twice inside one batch here"),
        (25L, "almost identical near duplicate payload inside the very same batch soon"))
      q.processAllAvailable()
      val after = spark.read.parquet(s"$dir/docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(after == Set(20L, 22L), s"replay leaked through: $after")
    } finally q.stop()
  }

  test("burst detector flags users with repeated errors in a window") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val bursts = StreamOps.burstDetect(
      StreamingIngest.fromJsonLines(input.toDS()), threshold = 3)
    val q = bursts.writeStream.outputMode("append")
      .format("memory").queryName("bd").start()
    try {
      // craft a burst: one user, 4 errors inside 10 minutes
      val t0 = 1704067200000L
      val burst = (0 until 4).map { i =>
        s"""{"id":"burst-$i","type":"ERROR","realmid":"realm-9","userid":"user-x","ipaddress":"10.0.0.1","error":"invalid_user_credentials","time":${t0 + i * 60000},"detailsjson":"{}"}"""
      }
      // later errors (different user, below threshold) advance the
      // watermark — it only moves on rows surviving the error filter;
      // extra batches because append-mode emits one microbatch after
      // the watermark passes the window end
      def tick(i: Int, t: Long) =
        s"""{"id":"tick-$i","type":"ERROR","realmid":"realm-9","userid":"user-y","error":"invalid_user_credentials","time":$t,"detailsjson":"{}"}"""
      input.addData(burst)
      q.processAllAvailable()
      input.addData(Seq(tick(1, t0 + 3 * 3600000L)))
      q.processAllAvailable()
      input.addData(Seq(tick(2, t0 + 4 * 3600000L)))
      q.processAllAvailable()
      val rows = spark.table("bd").collect()
      assert(rows.nonEmpty, "burst not detected")
      assert(rows.forall(_.getAs[String]("userid") == "user-x"))
      assert(rows.forall(_.getAs[Long]("n_errors") >= 3L))
    } finally q.stop()
  }

  test("transformWithState sessionization matches the fMGWS semantics") {
    import spark.implicits._
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[String](spark)
    val sessions = StreamOps.sessionizeTws(spark,
      StreamingIngest.fromJsonLines(input.toDS()), gapMs = 30 * 60 * 1000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("tws").start()
    try {
      val t0 = 1704067200000L
      def ev(id: String, user: String, t: Long) =
        s"""{"id":"$id","type":"CLICK","realmid":"r","userid":"$user","time":$t,"detailsjson":"{}"}"""
      input.addData(Seq(
        ev("a1", "user-a", t0),
        ev("a2", "user-a", t0 + 60000),
        ev("a3", "user-a", t0 + 120000),
        ev("b1", "user-b", t0)))
      q.processAllAvailable()
      input.addData(Seq(ev("a4", "user-a", t0 + 2 * 3600000L)))
      q.processAllAvailable()
      input.addData(Seq(ev("z1", "user-z", t0 + 12 * 3600000L)))
      q.processAllAvailable()
      input.addData(Seq(ev("z2", "user-z", t0 + 13 * 3600000L)))
      q.processAllAvailable()
      val rows = spark.table("tws").collect()
        .map(r => (r.getAs[String]("userid"), r.getAs[Int]("n_events")))
      assert(rows.contains(("user-a", 3)), s"got ${rows.toSeq}")
      assert(rows.contains(("user-a", 1)), s"got ${rows.toSeq}")
      assert(rows.contains(("user-b", 1)), s"got ${rows.toSeq}")
    } finally {
      q.stop()
      prevProvider match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sessionization closes sessions after the gap and counts events") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val sessions = StreamOps.sessionize(spark,
      StreamingIngest.fromJsonLines(input.toDS()), gapMs = 30 * 60 * 1000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("ss").start()
    try {
      val t0 = 1704067200000L
      def ev(id: String, user: String, t: Long) =
        s"""{"id":"$id","type":"CLICK","realmid":"r","userid":"$user","time":$t,"detailsjson":"{}"}"""
      // user-a: 3 events in one session, then a second session 2h later
      input.addData(Seq(
        ev("a1", "user-a", t0),
        ev("a2", "user-a", t0 + 60000),
        ev("a3", "user-a", t0 + 120000),
        ev("b1", "user-b", t0)))
      q.processAllAvailable()
      input.addData(Seq(ev("a4", "user-a", t0 + 2 * 3600000L)))
      q.processAllAvailable()
      // far-future events push the watermark past every gap; timeouts
      // fire in the batch after the watermark advances
      input.addData(Seq(ev("z1", "user-z", t0 + 12 * 3600000L)))
      q.processAllAvailable()
      input.addData(Seq(ev("z2", "user-z", t0 + 13 * 3600000L)))
      q.processAllAvailable()
      val rows = spark.table("ss").collect()
        .map(r => (r.getAs[String]("userid"), r.getAs[Int]("n_events")))
      assert(rows.contains(("user-a", 3)), s"got ${rows.toSeq}")
      assert(rows.contains(("user-a", 1)), s"got ${rows.toSeq}")
      assert(rows.contains(("user-b", 1)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("media sim-drift telemetry: a remux flood reads known sigs pre-screen; novel media reads new") {
    import spark.implicits._
    val M = graft.operators.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("mediadrift").toString
    val corpus = Seq(
      M.MediaRow(6L, "audio", M.audioPayload(6L)),
      M.MediaRow(7L, "audio", M.audioPayload(7L))).toDS()
    graft.operators.Dedup.buildSimIndex(
      M.mediaSigs(spark, corpus), "t_mdrift_idx", maxDist = 2,
      numBuckets = 2)
    val input = MemoryStream[(Long, String, Array[Byte])](spark)
    val q = StreamingIngest.toMediaIngest(
      input.toDS().toDF("doc_id", "media_type", "payload"),
      "doc_id", "media_type", "payload",
      "t_mdrift_idx", s"$dir/media", s"$dir/ckpt",
      simDriftDir = Some(s"$dir/drift"))
    try {
      // batch 0: a REMUX FLOOD — byte-identical fingerprints of
      // indexed audio under fresh ids. The card (pre-screen) reads
      // all sigs KNOWN while the screen lands nothing — the flood
      // signal a survivors-side card would miss.
      input.addData(
        (100L, "audio", M.remuxedAudioPayload(6L)),
        (101L, "audio", M.remuxedAudioPayload(7L)))
      q.processAllAvailable()
      val c0 = spark.read.parquet(s"$dir/drift/ingest_batch=0").head()
      assert(c0.getAs[Long]("n_batch_sigs") == 2L &&
        c0.getAs[Long]("n_new_sigs") == 0L &&
        c0.getAs[Double]("new_sig_share") == 0.0, s"flood row: $c0")
      assert(spark.read.parquet(s"$dir/media").count() == 0L)
      // batch 1: genuinely novel audio — new sigs, new chunk keys
      input.addData((102L, "audio", M.audioPayload(40L)))
      q.processAllAvailable()
      val c1 = spark.read.parquet(s"$dir/drift/ingest_batch=1").head()
      assert(c1.getAs[Long]("n_new_sigs") == 1L &&
        c1.getAs[Double]("new_sig_share") == 1.0, s"novel row: $c1")
      assert(c1.getAs[Long]("n_new_chunks") > 0L)
      assert(spark.read.parquet(s"$dir/media").count() == 1L)
    } finally q.stop()
  }

  test("media ingest: perceptual screen per micro-batch over the sim index, replay self-suppresses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val M = graft.operators.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("mediastream").toString
    // corpus: one of each payload type, indexed by perceptual sig
    val corpus = Seq(
      M.MediaRow(6L, "image", M.imagePayload(6L)),
      M.MediaRow(7L, "audio", M.audioPayload(7L)),
      M.MediaRow(8L, "video", M.videoPayload(8L))).toDS()
    graft.operators.Dedup.buildSimIndex(
      M.mediaSigs(spark, corpus), "t_media_idx", maxDist = 2,
      numBuckets = 2)
    val input = MemoryStream[(Long, String, Array[Byte])](spark)
    val q = StreamingIngest.toMediaIngest(
      input.toDS().toDF("doc_id", "media_type", "payload"),
      "doc_id", "media_type", "payload",
      "t_media_idx", s"$dir/media", s"$dir/ckpt")
    try {
      input.addData(
        (100L, "image", M.perturbedImagePayload(6L)), // hamming<=2 of indexed → screened
        (101L, "audio", M.remuxedAudioPayload(7L)),   // identical fp → screened
        (102L, "video", M.remuxedVideoPayload(8L)),   // exact frame fold → screened
        (103L, "image", M.imagePayload(20L)),         // novel image → lands
        (104L, "image", Array[Byte](1, 2, 3)),        // undecodable → dropped at door
        (105L, "audio", M.audioPayload(30L)),         // in-batch family:
        (106L, "audio", M.remuxedAudioPayload(30L)))  //   keep-one min id 105
      q.processAllAvailable()
      def landed(): Set[Long] = spark.read.parquet(s"$dir/media")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(landed() == Set(103L, 105L), s"got ${landed()}")
      // batch 2: a perceptual copy of batch 1's survivor under a new
      // id is screened by the folded-in index; a fresh clip lands
      input.addData(
        (200L, "image", M.imagePayload(20L)),   // copy of 103 → screened
        (201L, "audio", M.audioPayload(40L)))   // fresh → lands
      q.processAllAvailable()
      assert(landed() == Set(103L, 105L, 201L), s"got ${landed()}")
      // full redelivery of batch 2 → sigs are indexed → nothing new
      input.addData(
        (200L, "image", M.imagePayload(20L)),
        (201L, "audio", M.audioPayload(40L)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/media").count() == 3,
        "replay must self-suppress")
    } finally q.stop()
  }

  test("media ingest with videoFrameScreen: re-encodes screen, in-batch video families collapse, replay self-suppresses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val M = graft.operators.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("mediavstream").toString
    // corpus: a PNG video indexed on BOTH sides (fold + frames) plus
    // an image, so the non-video path is exercised under the flag
    val corpus = Seq(
      M.MediaRow(6L, "image", M.imagePayload(6L)),
      M.MediaRow(8L, "video", M.pngVideoPayload(8L))).toDS()
    graft.operators.Dedup.buildSimIndex(
      M.mediaSigs(spark, corpus).select(col("doc_id"), col("sim")),
      "t_mediav_idx", maxDist = 2, numBuckets = 2)
    graft.operators.Dedup.appendVideoFramesToSimIndex(
      M.videoFrameDHashSigs(spark,
        corpus.filter(_.media_type == "video")), "t_mediav_idx")
    val input = MemoryStream[(Long, String, Array[Byte])](spark)
    val q = StreamingIngest.toMediaIngest(
      input.toDS().toDF("doc_id", "media_type", "payload"),
      "doc_id", "media_type", "payload",
      "t_mediav_idx", s"$dir/media", s"$dir/ckpt",
      videoFrameScreen = true)
    try {
      input.addData(
        // RE-ENCODE of the indexed video: different bytes, different
        // frame hashes → the fold screen misses it, the frame screen
        // must not
        (100L, "video", M.reencodedPngVideoPayload(8L)),
        // remux of the indexed video: fold screen catches it (and the
        // frame screen would too)
        (101L, "video", M.remuxedPngVideoPayload(8L)),
        // in-batch NEAR family: a fresh video AND its re-encode in
        // ONE batch → frame-level keep-one lands the min id only
        (102L, "video", M.pngVideoPayload(11L)),
        (103L, "video", M.reencodedPngVideoPayload(11L)),
        // novel image rides the unchanged non-video path
        (104L, "image", M.imagePayload(20L)))
      q.processAllAvailable()
      def landed(): Set[Long] = spark.read.parquet(s"$dir/media")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(landed() == Set(102L, 104L), s"got ${landed()}")
      // batch 2: a re-encode of batch 1's SURVIVOR (102) under a new
      // id screens against the folded-in frame evidence; a fresh
      // video lands
      input.addData(
        (200L, "video", M.reencodedPngVideoPayload(11L)),
        (201L, "video", M.pngVideoPayload(14L)))
      q.processAllAvailable()
      assert(landed() == Set(102L, 104L, 201L), s"got ${landed()}")
      // full redelivery of batch 2 → byte-identical frames are in
      // the frame index at hamming 0 → nothing new
      input.addData(
        (200L, "video", M.reencodedPngVideoPayload(11L)),
        (201L, "video", M.pngVideoPayload(14L)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/media").count() == 3,
        s"replay must self-suppress")
    } finally q.stop()
  }

  test("media ingest with a url frontier: same resource under tracking variants decodes once, replay stops at stage 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val M = graft.operators.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("mediaurl").toString
    graft.operators.Dedup.buildSimIndex(
      M.mediaSigs(spark,
        Seq(M.MediaRow(1L, "image", M.imagePayload(1L))).toDS()),
      "t_murl_idx", maxDist = 2, numBuckets = 2)
    graft.operators.Dedup.buildUrlIndex(
      Seq("https://Seen.example.com:443/old/").toDF("url"),
      "url", name = "t_murl_front")
    val input = MemoryStream[(Long, String, Array[Byte], String)](spark)
    val q = StreamingIngest.toMediaIngest(
      input.toDS().toDF("doc_id", "media_type", "payload", "url"),
      "doc_id", "media_type", "payload",
      "t_murl_idx", s"$dir/media", s"$dir/ckpt",
      urlCol = Some("url"), urlIndexName = Some("t_murl_front"))
    try {
      input.addData(
        // same resource under two tracking-param variants with
        // DIFFERENT pixel content — only the URL key can collapse
        // them (the perceptual screen would rightly keep both), so
        // the min-id keeper landing alone proves the stage-0 screen
        // ran before any decode
        (10L, "image", M.imagePayload(10L),
          "https://a.example.com/img?utm_source=x&id=7"),
        (20L, "image", M.imagePayload(20L),
          "https://a.example.com/img?id=7&utm_campaign=y#frag"),
        // canonical match of the SEEDED frontier → screened at stage 0
        (30L, "image", M.imagePayload(30L),
          "https://seen.example.com/old?utm_source=z"),
        // fresh url, fresh content → lands
        (40L, "image", M.imagePayload(40L), "https://b.example.com/x"))
      q.processAllAvailable()
      def landed(): Set[Long] = spark.read.parquet(s"$dir/media")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(landed() == Set(10L, 40L), s"got ${landed()}")
      // batch 2: batch-1's ADMITTED urls are folded in — a THIRD
      // variant of the same resource screens even with new pixels;
      // a genuinely new url lands
      input.addData(
        (50L, "image", M.imagePayload(50L),
          "https://a.example.com/img?fbclid=abc&id=7"),
        (60L, "image", M.imagePayload(60L), "https://c.example.com/y"))
      q.processAllAvailable()
      assert(landed() == Set(10L, 40L, 60L), s"got ${landed()}")
      // full redelivery → every url is in the frontier → stage-0
      // full stop, nothing lands twice
      input.addData(
        (50L, "image", M.imagePayload(50L),
          "https://a.example.com/img?fbclid=abc&id=7"),
        (60L, "image", M.imagePayload(60L), "https://c.example.com/y"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/media").count() == 3,
        "replay must self-suppress at stage 0")
    } finally q.stop()
  }

  test("full pipeline ingest: extract → gate → dedup → pack per micro-batch, replay self-suppresses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the d62 capstone composed INTO the streaming ingest loop — raw
    // pages in, packed training shards out, the persistent index
    // making redelivery idempotent end to end
    val dir = java.nio.file.Files.createTempDirectory("pipestream").toString
    // chrome varies per mirror; the extracted body is what dedups.
    // nav + footer are link-dense (dropped), title/short blocks fall
    // under minLen, script/style segments are removed outright — the
    // kept block is exactly `body`.
    def page(chrome: String, body: String): String =
      s"""<html><head><title>$chrome</title><style>p{margin:0}</style>""" +
        s"""<script>var n=1;</script></head><body><div class="nav">""" +
        s"""<a href="/">home</a> <a href="/s">$chrome</a></div><p>$body""" +
        s"""</p><div class="footer">copyright <a href="/t">terms</a> """ +
        s"""<a href="/p">privacy</a></div></body></html>"""
    val sharedBody = "the mirrored press release body holds a data table " +
      "and a value summary that wire services distribute to partner " +
      "outlets for training corpora"                       // 23 words, gated in
    val corpusText = "the corpus data table holds a value summary with " +
      "enough prior words that the quality gate keeps it and the " +
      "screen can match it exactly"                        // >=20 words
    val freshBody = "a genuinely novel streaming document about the data " +
      "value landscape with sufficient distinct words to clear the " +
      "minimum word count gate easily today"
    val fresh2Body = "and a second wave document that is entirely new " +
      "content again carrying the data value table words it needs to " +
      "pass the quality gate"
    graft.operators.Dedup.buildDedupIndex(
      Seq((1L, corpusText)).toDF("doc_id", "text"), "doc_id", "text",
      name = "t_pipeline_idx")
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingIngest.toPipelineIngest(
      input.toDS().toDF("doc_id", "html"), "doc_id", "html",
      "t_pipeline_idx", s"$dir/packed", s"$dir/ckpt",
      minWords = 20, packCapacity = 16L)
    try {
      input.addData(
        (10L, page("m1", sharedBody)),   // mirror family → min-id keeper
        (20L, page("m2", sharedBody)),
        (30L, page("m3", sharedBody)),
        (11L, page("m4", "too short to pass the gate")), // gate drop
        (12L, page("m5", corpusText)),   // exact dup of the indexed corpus
        (13L, page("m6", freshBody)))    // novel survivor
      q.processAllAvailable()
      def landed() = spark.read.parquet(s"$dir/packed")
      // exactly the d62 survivor set: one mirror keeper + the novel doc
      val b0 = landed().filter(col("ingest_batch") === 0).collect()
      assert(b0.map(_.getAs[Long]("doc_id")).toSet == Set(10L, 13L),
        s"got ${b0.map(_.getAs[Long]("doc_id")).toSeq}")
      // packed shard invariants: main_text is the EXTRACTED body, the
      // token counts are its real word counts, offsets are a batch-
      // scoped prefix sum, bins split at capacity 16
      val byId = b0.map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(byId(10L).getAs[String]("main_text") == sharedBody)
      assert(byId(13L).getAs[String]("main_text") == freshBody)
      val n10 = sharedBody.split("\\s+").length.toLong
      val n13 = freshBody.split("\\s+").length.toLong
      assert(byId(10L).getAs[Long]("n_tokens") == n10)
      assert(byId(13L).getAs[Long]("n_tokens") == n13)
      val offs = b0.map(r => r.getAs[Long]("start_off")).sorted
      val ns = b0.sortBy(_.getAs[Long]("start_off"))
        .map(_.getAs[Long]("n_tokens"))
      assert(offs.head == 0L && offs(1) == ns.head,
        s"offsets not a prefix sum: ${offs.toSeq} vs ${ns.toSeq}")
      b0.foreach { r =>
        assert(r.getAs[Long]("bin_start") == r.getAs[Long]("start_off") / 16L)
      }
      // batch 2: a FOURTH mirror of the shared body under a fresh id is
      // suppressed by the folded-in index (content-keyed, chrome-blind);
      // a genuinely new page lands in its own shard with offsets
      // restarting at 0
      input.addData(
        (40L, page("m7", sharedBody)),
        (41L, page("m8", fresh2Body)))
      q.processAllAvailable()
      val b1 = landed().filter(col("ingest_batch") === 1).collect()
      assert(b1.map(_.getAs[Long]("doc_id")).toSet == Set(41L),
        s"got ${b1.map(_.getAs[Long]("doc_id")).toSeq}")
      assert(b1.head.getAs[Long]("start_off") == 0L,
        "shard offsets must restart per micro-batch")
      // full redelivery of batch 2 → the extract+gate stages re-derive
      // the same main_text, the index knows its hash, nothing lands
      input.addData(
        (40L, page("m7", sharedBody)),
        (41L, page("m8", fresh2Body)))
      q.processAllAvailable()
      assert(landed().count() == 3,
        s"replay must self-suppress, got ${landed().count()}")
      // the batch half of the contract: a global re-pack over the
      // accumulated shard sink yields ONE contiguous bin sequence
      // (per-batch offsets restarted; the epoch-level pack must not),
      // re-using the stored token counts, dedup-by-id shedding any
      // crash-window residual (none here: count stays 3)
      val repacked = graft.operators.Packing.repackShards(
        spark, s"$dir/packed", capacity = 16L).collect()
      assert(repacked.length == 3)
      val offs2 = repacked.map(r =>
        (r.getAs[Long]("start_off"), r.getAs[Long]("n_tokens"))).sortBy(_._1)
      assert(offs2.head._1 == 0L, "global pack must start at 0")
      offs2.sliding(2).foreach {
        case Array((o1, n1), (o2, _)) =>
          assert(o2 == o1 + n1, s"global offsets not contiguous: ${offs2.toSeq}")
        case _ => ()
      }
      repacked.foreach { r =>
        assert(r.getAs[Long]("bin_start") ==
          r.getAs[Long]("start_off") / 16L)
        assert(r.getAs[String]("main_text").nonEmpty)
      }
    } finally q.stop()
  }

  test("pipeline dedup-drift telemetry: the card reads the EXTRACTED-text novelty pre-screen") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pipedrift").toString
    def page(chrome: String, body: String): String =
      s"""<html><head><title>$chrome</title><style>p{margin:0}</style>""" +
        s"""<script>var n=1;</script></head><body><div class="nav">""" +
        s"""<a href="/">home</a> <a href="/s">$chrome</a></div><p>$body""" +
        s"""</p><div class="footer">copyright <a href="/t">terms</a> """ +
        s"""<a href="/p">privacy</a></div></body></html>"""
    val corpusText = "the corpus data table holds a value summary with " +
      "enough prior words that the quality gate keeps it and the " +
      "screen can match it exactly"
    val freshBody = "a genuinely novel streaming document about the data " +
      "value landscape with sufficient distinct words to clear the " +
      "minimum word count gate easily today"
    graft.operators.Dedup.buildDedupIndex(
      Seq((1L, corpusText)).toDF("doc_id", "text"), "doc_id", "text",
      name = "t_pipedrift_idx")
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingIngest.toPipelineIngest(
      input.toDS().toDF("doc_id", "html"), "doc_id", "html",
      "t_pipedrift_idx", s"$dir/packed", s"$dir/ckpt",
      minWords = 20, packCapacity = 64L,
      dedupDriftDir = Some(s"$dir/drift"))
    try {
      // one mirror of the INDEXED corpus text + one novel doc: the
      // card (measured on the extracted, gated, keep-one'd frame)
      // must read exactly one known and one new content hash — the
      // chrome differs but the card keys on the EXTRACTED body,
      // proving the pipeline's dedup identity feeds the telemetry
      input.addData(
        (10L, page("m1", corpusText)),
        (11L, page("m2", freshBody)))
      q.processAllAvailable()
      val c0 = spark.read.parquet(s"$dir/drift/ingest_batch=0").head()
      assert(c0.getAs[Long]("n_batch_docs") == 2L, s"$c0")
      assert(c0.getAs[Long]("n_batch_hashes") == 2L &&
        c0.getAs[Long]("n_new_hashes") == 1L &&
        c0.getAs[Double]("new_hash_share") == 0.5, s"$c0")
      // replay: everything now indexed → all-known
      input.addData(
        (10L, page("m1", corpusText)),
        (11L, page("m2", freshBody)))
      q.processAllAvailable()
      val c1 = spark.read.parquet(s"$dir/drift/ingest_batch=1").head()
      assert(c1.getAs[Long]("n_new_hashes") == 0L &&
        c1.getAs[Long]("n_new_bands") == 0L, s"replay: $c1")
    } finally q.stop()
  }

  test("pipeline ingest with a frozen model gate: rule-passing spam drops between gate and dedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("pipegate").toString
    def page(chrome: String, body: String): String =
      s"""<html><head><title>$chrome</title><style>p{margin:0}</style>""" +
        s"""<script>var n=1;</script></head><body><div class="nav">""" +
        s"""<a href="/">home</a> <a href="/s">$chrome</a></div><p>$body""" +
        s"""</p><div class="footer">copyright <a href="/t">terms</a> """ +
        s"""<a href="/p">privacy</a></div></body></html>"""
    // a frozen classifier: corpus-flavored vocab is class 1, spam
    // vocab class 0 — trained once, persisted, broadcast-served
    val train = Seq(
      (1L, "the data value table holds a corpus summary for partners", true),
      (2L, "a corpus document with the value words and data tables", true),
      (3L, "the casino bonus winner will click a free prize offer", false),
      (4L, "claim the jackpot spins bonus and a casino prize today", false)
    ).toDF("doc_id", "text", "y")
    TextAnalysis.trainNbModel(train, "doc_id", "text",
      label = col("y"), trainFilter = lit(true), name = "t_pipegate_model")
    // both bodies pass the RULE gate (>= 20 words, stopwords, normal
    // shape); only the model separates them — verify the premise
    // before streaming so a vocab drift fails here, not as a silent
    // pass-through
    val goodBody = "the data value table holds a corpus summary with " +
      "the partner words and enough data value terms to pass the " +
      "quality gate easily today"
    val spamBody = "the casino bonus winner will click a free prize " +
      "offer and claim the jackpot spins bonus with a casino prize " +
      "for a winner today"
    val premise = TextAnalysis.scoreWithNbModel(
      Seq((1L, goodBody), (2L, spamBody)).toDF("doc_id", "text"),
      "doc_id", "text", "t_pipegate_model")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(premise(1L) > 0 && premise(2L) <= 0,
      s"model premise broken: $premise")
    val ruleBits = Seq((goodBody, spamBody)).toDF("g", "s")
      .select(TextAnalysis.gopherRuleBits(col("g"), 20, 100000),
        TextAnalysis.gopherRuleBits(col("s"), 20, 100000))
      .head()
    assert(ruleBits.getInt(0) == 0 && ruleBits.getInt(1) == 0,
      s"both bodies must pass the RULE gate (else the model gate is " +
        s"untested): $ruleBits")

    graft.operators.Dedup.buildDedupIndex(
      Seq((1L, "seed corpus body for the pipeline gate test with " +
        "enough words to stand alone")).toDF("doc_id", "text"),
      "doc_id", "text", name = "t_pipegate_idx")
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingIngest.toPipelineIngest(
      input.toDS().toDF("doc_id", "html"), "doc_id", "html",
      "t_pipegate_idx", s"$dir/packed", s"$dir/ckpt",
      minWords = 20, packCapacity = 64L,
      nbModel = Some("t_pipegate_model"))
    try {
      input.addData(
        (50L, page("s1", spamBody)),  // rule-passing spam → model drop
        (51L, page("g1", goodBody)))  // lands
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/packed")
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(got == Set(51L), s"model gate failed: $got")
      // replay self-suppresses through the model stage too (frozen
      // model → deterministic scores → same drop, index knows 51)
      input.addData(
        (50L, page("s1", spamBody)),
        (51L, page("g1", goodBody)))
      q.processAllAvailable()
      val after = spark.read.parquet(s"$dir/packed").count()
      assert(after == 1L, s"replay must self-suppress, got $after")
    } finally q.stop()
  }

  test("pipeline ingest with a url frontier: tracking variants land once, frontier persists, replay self-suppresses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("pipeurl").toString
    def page(chrome: String, body: String): String =
      s"""<html><head><title>$chrome</title><style>p{margin:0}</style>""" +
        s"""<script>var n=1;</script></head><body><div class="nav">""" +
        s"""<a href="/">home</a> <a href="/s">$chrome</a></div><p>$body""" +
        s"""</p><div class="footer">copyright <a href="/t">terms</a> """ +
        s"""<a href="/p">privacy</a></div></body></html>"""
    // genuinely DISTINCT bodies (not a shared template — the content
    // near-dup screen would rightly collapse template variants and
    // mask what the URL screen does)
    val bodies = Map(
      "first" -> ("migratory birds navigate using a magnetic sense and " +
        "the star positions while crossing continents twice a year " +
        "along routes their ancestors flew for thousands of generations"),
      "second" -> ("the municipal budget hearing ran four hours as " +
        "council members debated road repairs school funding and a " +
        "proposed transit line that splits the district vote evenly"),
      "third" -> ("the deep ocean vents host a chemosynthetic community " +
        "where tube worms and blind shrimp thrive on mineral plumes " +
        "no sunlight ever reaches at crushing abyssal pressures"),
      "fourth" -> ("a revival of the jazz quartet recording scene has " +
        "small labels pressing vinyl again while streaming royalties " +
        "reshape how session musicians negotiate their contracts"),
      "fifth" -> ("the glacier monitoring stations report a steady " +
        "melt rate across alpine ranges prompting water authorities " +
        "to redesign reservoir plans for the coming several decades"),
      "sixth" -> ("the chess championship ended in a rapid tiebreak " +
        "after fourteen classical draws with the challenger finding a " +
        "knight sacrifice the engines had dismissed as unsound"),
      "seventh" -> ("the urban beekeeping ordinances now require a hive " +
        "registration and setback distances as rooftop colonies " +
        "multiply and pollinate community gardens across the city"))
    def body(tag: String): String = bodies(tag)
    // frontier seeded with one already-crawled url; content index
    // seeded separately — the two screens are independent keys
    graft.operators.Dedup.buildUrlIndex(
      Seq("https://Seen.example.com:443/old/").toDF("url"),
      "url", name = "t_url_idx")
    graft.operators.Dedup.buildDedupIndex(
      Seq((1L, "seed corpus body for the url frontier test with " +
        "enough words to stand alone")).toDF("doc_id", "text"),
      "doc_id", "text", name = "t_urlpipe_idx")
    val input = MemoryStream[(Long, String, String)](spark)
    val q = StreamingIngest.toPipelineIngest(
      input.toDS().toDF("doc_id", "html", "url"), "doc_id", "html",
      "t_urlpipe_idx", s"$dir/packed", s"$dir/ckpt",
      minWords = 20, packCapacity = 64L,
      urlCol = Some("url"), urlIndexName = Some("t_url_idx"))
    try {
      input.addData(
        // same resource under two tracking-param variants — DIFFERENT
        // page contents, so only the URL key can collapse them; the
        // min-id keeper is the one that lands
        (10L, page("v1", body("first")),
          "https://a.example.com/art?utm_source=x&id=7"),
        (20L, page("v2", body("second")),
          "https://a.example.com/art?id=7&utm_campaign=y#frag"),
        // canonical match of the SEEDED frontier → screened at stage 0
        (30L, page("v3", body("third")),
          "https://seen.example.com/old?utm_source=z"),
        // null URL → dropped at the door (unkeyable row)
        (40L, page("v4", body("fourth")), null),
        // fresh url, fresh content → lands
        (50L, page("v5", body("fifth")), "https://b.example.com/x"))
      q.processAllAvailable()
      def landed() = spark.read.parquet(s"$dir/packed")
      val b0 = landed().collect().map(_.getAs[Long]("doc_id")).toSet
      assert(b0 == Set(10L, 50L), s"got $b0")
      // batch 2: batch-1's admitted urls are folded in — the same
      // resource under a THIRD variant screens even with new content;
      // a genuinely new url lands
      input.addData(
        (60L, page("v6", body("sixth")),
          "https://a.example.com/art?fbclid=abc&id=7"),
        (70L, page("v7", body("seventh")), "https://c.example.com/y"))
      q.processAllAvailable()
      val all = landed().collect().map(_.getAs[Long]("doc_id")).toSet
      assert(all == Set(10L, 50L, 70L), s"got $all")
      // full redelivery → every url is in the frontier → stage-0
      // full stop, nothing lands twice
      input.addData(
        (60L, page("v6", body("sixth")),
          "https://a.example.com/art?fbclid=abc&id=7"),
        (70L, page("v7", body("seventh")), "https://c.example.com/y"))
      q.processAllAvailable()
      assert(landed().count() == 3,
        s"replay must self-suppress at stage 0, got ${landed().count()}")
      // restart contract: the frontier re-opens from the warehouse
      // like the other index families
      graft.operators.Dedup.openUrlIndex(spark, "t_url_idx")
      val screened = graft.operators.Dedup.screenAgainstUrlIndex(
        Seq((99L, "https://a.example.com/art?id=7&utm_source=q"))
          .toDF("doc_id", "url"), "url", "t_url_idx").count()
      assert(screened == 0L, "re-opened frontier must still screen")
      // plan pin: the screen's index side reads the bucketed table
      // with no Exchange under the anti-join (single-column uh
      // clustering — the zero-index-shuffle contract of the family)
      val p = graft.operators.Dedup.screenAgainstUrlIndex(
        Seq((1L, "https://z.example.com/a")).toDF("doc_id", "url"),
        "url", "t_url_idx")
        .queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(uh"),
        s"frontier side re-shuffled:\n${p.take(2000)}")
    } finally q.stop()
  }

  test("pipeline ingest with a domain blocklist: blocked pages never land AND never enter the frontier") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pipebl").toString
    def page(chrome: String, body: String): String =
      s"""<html><head><title>$chrome</title></head><body><p>$body""" +
        s"""</p><div class="footer"><a href="/t">terms</a></div></body></html>"""
    val bodyA = "the observatory logged a slow variable star whose " +
      "brightness curve repeats every nineteen days across the " +
      "archival plates spanning a century of patient measurement"
    val bodyB = "the harbor dredging project uncovered a colonial " +
      "shipwreck whose cargo manifest survived in a sealed jar " +
      "giving historians an unusually complete trade inventory"
    graft.operators.Dedup.buildUrlIndex(
      Seq("https://seeded.example.com/old").toDF("url"),
      "url", name = "t_bl_url_idx")
    graft.operators.Dedup.buildDedupIndex(
      Seq((1L, "seed corpus body for the blocklist pipeline test " +
        "with enough words to stand alone")).toDF("doc_id", "text"),
      "doc_id", "text", name = "t_blpipe_idx")
    val input = MemoryStream[(Long, String, String)](spark)
    val q = StreamingIngest.toPipelineIngest(
      input.toDS().toDF("doc_id", "html", "url"), "doc_id", "html",
      "t_blpipe_idx", s"$dir/packed", s"$dir/ckpt",
      minWords = 20, packCapacity = 64L,
      urlCol = Some("url"), urlIndexName = Some("t_bl_url_idx"),
      blocklist = Some(Seq("blocked.example.com").toDF("domain")))
    try {
      input.addData(
        // subdomain of a blocked domain → gated at stage -1
        (10L, page("v1", bodyA), "https://sub.blocked.example.com/x"),
        (20L, page("v2", bodyB), "https://ok.example.com/y"))
      q.processAllAvailable()
      val landed = spark.read.parquet(s"$dir/packed")
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(landed == Set(20L), s"got $landed")
      // the blocked URL must NOT be in the frontier: "blocked by
      // policy" is not "fetched and judged" — after an unblock the
      // page must still be crawlable (screen passes it through)
      val stillCrawlable = graft.operators.Dedup.screenAgainstUrlIndex(
        Seq((99L, "https://sub.blocked.example.com/x"))
          .toDF("doc_id", "url"), "url", "t_bl_url_idx").count()
      assert(stillCrawlable == 1L,
        "blocked url leaked into the frontier index")
      // redelivery: 20 self-suppresses at the frontier, 10 stays
      // blocked — nothing lands twice
      input.addData(
        (10L, page("v1", bodyA), "https://sub.blocked.example.com/x"),
        (20L, page("v2", bodyB), "https://ok.example.com/y"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/packed").count() == 1L)
    } finally q.stop()
  }

  test("pipeline funnel telemetry: one row per batch, every stage cut counted, redelivery reads as full suppression") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pipefunnel").toString
    def page(chrome: String, body: String): String =
      s"""<html><head><title>$chrome</title></head><body><p>$body""" +
        s"""</p><div class="footer"><a href="/t">terms</a></div></body></html>"""
    val bodyB = "the harbor survey counted forty two vessels at anchor " +
      "with a manifest listing grain salt and timber for the northern " +
      "routes across patient decades of record keeping"
    val bodyC = "the press release body holds a data table and a value " +
      "summary that wire services distribute to partner outlets for " +
      "training corpora in every market"
    val seedText = "the corpus data table holds a value summary with " +
      "enough prior words that the quality gate keeps it and the " +
      "screen can match it exactly"
    graft.operators.Dedup.buildDedupIndex(
      Seq((1L, seedText)).toDF("doc_id", "text"), "doc_id", "text",
      name = "t_funnel_idx")
    graft.operators.Dedup.buildUrlIndex(
      Seq("https://seeded.example.com/old").toDF("url"), "url",
      name = "t_funnel_url_idx")
    val input = MemoryStream[(Long, String, String)](spark)
    val q = StreamingIngest.toPipelineIngest(
      input.toDS().toDF("doc_id", "html", "url"), "doc_id", "html",
      "t_funnel_idx", s"$dir/packed", s"$dir/ckpt",
      minWords = 20, packCapacity = 64L,
      urlCol = Some("url"), urlIndexName = Some("t_funnel_url_idx"),
      blocklist = Some(Seq("blocked.example.com").toDF("domain")),
      funnelDir = Some(s"$dir/funnel"))
    try {
      input.addData(
        (10L, page("v0", bodyB), "https://sub.blocked.example.com/x"), // blocked
        (20L, page("v1", bodyB), "https://ok.example.com/b?utm_source=1"),
        (21L, page("v2", bodyB), "https://ok.example.com/b?utm_source=2"), // url keep-one
        (30L, page("v3", "too short to pass"), "https://ok.example.com/c"), // gate cut
        (40L, page("v4", bodyC), "https://ok.example.com/d"),
        (41L, page("v5", bodyC), "https://ok.example.com/e"), // batch dup of 40
        (50L, page("v6", seedText), "https://ok.example.com/f")) // index dup
      q.processAllAvailable()
      def funnel() = spark.read.parquet(s"$dir/funnel")
        .collect().map(r => r.getAs[Long]("ingest_batch") ->
          ((r.getAs[Long]("n_input"), r.getAs[Long]("n_blocked"),
            r.getAs[Long]("n_url_dup"), r.getAs[Long]("n_gate_cut"),
            r.getAs[Long]("n_batch_dup"), r.getAs[Long]("n_index_dup"),
            r.getAs[Long]("n_landed")))).toMap
      // 7 in; 1 blocked; 1 url keep-one; 1 short; 1 in-batch dup;
      // 1 index dup; 20 and 40 land
      assert(funnel()(0L) == ((7L, 1L, 1L, 1L, 1L, 1L, 2L)),
        funnel().toString)
      val landed = spark.read.parquet(s"$dir/packed")
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(landed == Set(20L, 40L), s"got $landed")
      // full redelivery: the funnel row reads as total stage-0
      // suppression — 10 still blocked, and every other URL was
      // ADMITTED in batch 0 (frontier semantics: remembered even if
      // the content later gated out or deduped), so all six cut at
      // the frontier and no later stage sees a row
      input.addData(
        (10L, page("v0", bodyB), "https://sub.blocked.example.com/x"),
        (20L, page("v1", bodyB), "https://ok.example.com/b?utm_source=1"),
        (21L, page("v2", bodyB), "https://ok.example.com/b?utm_source=2"),
        (30L, page("v3", "too short to pass"), "https://ok.example.com/c"),
        (40L, page("v4", bodyC), "https://ok.example.com/d"),
        (41L, page("v5", bodyC), "https://ok.example.com/e"),
        (50L, page("v6", seedText), "https://ok.example.com/f"))
      q.processAllAvailable()
      assert(funnel()(1L) == ((7L, 1L, 6L, 0L, 0L, 0L, 0L)),
        funnel().toString)
      assert(spark.read.parquet(s"$dir/packed").count() == 2L)
    } finally q.stop()
  }

  test("pipeline retrieval-ready: survivors' EXTRACTED text serves from the BM25 index, replay doubles nothing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("pipebm25").toString
    def page(chrome: String, body: String): String =
      s"""<html><head><title>$chrome</title></head><body><p>$body""" +
        s"""</p><div class="footer"><a href="/t">terms</a></div></body></html>"""
    val bodyA = "the harbor survey counted forty two vessels at anchor " +
      "with a manifest listing grain salt and timber for the northern " +
      "routes across patient decades of record keeping"
    val bodyB = "the press release body holds a data table and a value " +
      "summary that wire services distribute to partner outlets for " +
      "training corpora in every market"
    val seed = Seq((1L, "seed corpus text with enough words to exist"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.buildDedupIndex(seed, "doc_id", "text",
      name = "t_pbm_idx")
    graft.operators.Retrieval.buildBm25Index(seed, "doc_id", "text",
      name = "t_pbm_bm", numBuckets = 4)
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingIngest.toPipelineIngest(
      input.toDS().toDF("doc_id", "html"), "doc_id", "html",
      "t_pbm_idx", s"$dir/packed", s"$dir/ckpt",
      minWords = 20, packCapacity = 64L,
      bm25IndexName = Some("t_pbm_bm"))
    try {
      val rows = Seq(
        (10L, page("v1", bodyA)),
        (11L, page("v2", bodyB)),
        (12L, page("v3", "too short to pass"))) // gate cut: never indexed
      input.addData(rows: _*)
      q.processAllAvailable()
      spark.catalog.refreshTable("t_pbm_bm_postings")
      spark.catalog.refreshTable("t_pbm_bm_docs")
      // the EXTRACTED text serves: body words hit, chrome words do not
      val hits = graft.operators.Retrieval.bm25TopKAgainstIndex(spark,
        "t_pbm_bm", Seq("harbor", "outlets"), topK = 5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(hits == Set(10L, 11L), s"got $hits")
      assert(graft.operators.Retrieval.bm25TopKAgainstIndex(spark,
        "t_pbm_bm", Seq("footer"), topK = 5).isEmpty,
        "chrome words must not be indexed (extraction precedes indexing)")
      val nPost = spark.table("t_pbm_bm_postings").count()
      // full redelivery: dedup screen suppresses; postings stable
      input.addData(rows: _*)
      q.processAllAvailable()
      spark.catalog.refreshTable("t_pbm_bm_postings")
      assert(spark.table("t_pbm_bm_postings").count() == nPost)
    } finally q.stop()
  }

  test("media funnel telemetry: decode-relevant stage cuts counted, redelivery reads as stage-0 suppression") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val M = graft.operators.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("mediafunnel").toString
    val corpus = Seq(
      M.MediaRow(6L, "image", M.imagePayload(6L)),
      M.MediaRow(7L, "audio", M.audioPayload(7L))).toDS()
    graft.operators.Dedup.buildSimIndex(
      M.mediaSigs(spark, corpus), "t_mfun_idx", maxDist = 2,
      numBuckets = 2)
    graft.operators.Dedup.buildUrlIndex(
      Seq("https://seeded.example.com/old").toDF("url"), "url",
      name = "t_mfun_url_idx")
    val input = MemoryStream[(Long, String, Array[Byte], String)](spark)
    val q = StreamingIngest.toMediaIngest(
      input.toDS().toDF("doc_id", "media_type", "payload", "url"),
      "doc_id", "media_type", "payload",
      "t_mfun_idx", s"$dir/media", s"$dir/ckpt",
      urlCol = Some("url"), urlIndexName = Some("t_mfun_url_idx"),
      funnelDir = Some(s"$dir/funnel"))
    try {
      val rows = Seq(
        (9L, "image", M.imagePayload(50L),
          "https://seeded.example.com/old"), // frontier index dup
        (10L, "image", M.imagePayload(51L),
          "https://ok.example.com/a?utm_source=1"), // lands
        (11L, "image", M.imagePayload(52L),
          "https://ok.example.com/a?utm_source=2"), // url keep-one cut
        (12L, "image", Array[Byte](1, 2, 3),
          "https://ok.example.com/b"), // undecodable
        (13L, "audio", M.audioPayload(30L),
          "https://ok.example.com/c"), // lands (family keeper)
        (14L, "audio", M.remuxedAudioPayload(30L),
          "https://ok.example.com/d"), // in-batch family of 13
        (15L, "image", M.perturbedImagePayload(6L),
          "https://ok.example.com/e")) // perceptual index dup
      input.addData(rows: _*)
      q.processAllAvailable()
      def funnel() = spark.read.parquet(s"$dir/funnel")
        .collect().map(r => r.getAs[Long]("ingest_batch") ->
          ((r.getAs[Long]("n_input"), r.getAs[Long]("n_url_dup"),
            r.getAs[Long]("n_undecodable"), r.getAs[Long]("n_batch_dup"),
            r.getAs[Long]("n_index_dup"),
            r.getAs[Long]("n_frame_screened"),
            r.getAs[Long]("n_landed")))).toMap
      assert(funnel()(0L) == ((7L, 2L, 1L, 1L, 1L, 0L, 2L)),
        funnel().toString)
      val landed = spark.read.parquet(s"$dir/media")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(landed == Set(10L, 13L), s"got $landed")
      // full redelivery: every admitted URL is now in the frontier
      // (9's always was; 11's canonical equals 10's) — all seven cut
      // at stage 0, no decode is ever paid
      input.addData(rows: _*)
      q.processAllAvailable()
      assert(funnel()(1L) == ((7L, 7L, 0L, 0L, 0L, 0L, 0L)),
        funnel().toString)
      assert(spark.read.parquet(s"$dir/media").count() == 2L)
    } finally q.stop()
  }

  test("screened-doc funnel telemetry: batch-dup and index-dup cuts counted, redelivery self-suppresses at the index stage") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("docfunnel").toString
    val seedText = "the corpus data table holds a value summary with " +
      "enough prior words that the screen can match it exactly"
    val novelA = "the harbor survey counted forty two vessels at anchor " +
      "with a manifest listing grain salt and timber"
    val novelB = "an entirely different treatise on bucketed layouts " +
      "and the exchanges they delete from the join"
    graft.operators.Dedup.buildDedupIndex(
      Seq((1L, seedText)).toDF("doc_id", "text"), "doc_id", "text",
      name = "t_dfun_idx")
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingIngest.toScreenedDocIngest(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      "t_dfun_idx", s"$dir/docs", s"$dir/ckpt",
      funnelDir = Some(s"$dir/funnel"))
    try {
      val rows = Seq(
        (10L, novelA),   // lands (keeper of the 10/11 exact family)
        (11L, novelA),   // in-batch exact dup
        (12L, seedText), // index dup
        (13L, novelB))   // lands
      input.addData(rows: _*)
      q.processAllAvailable()
      def funnel() = spark.read.parquet(s"$dir/funnel")
        .collect().map(r => r.getAs[Long]("ingest_batch") ->
          ((r.getAs[Long]("n_input"), r.getAs[Long]("n_batch_dup"),
            r.getAs[Long]("n_index_dup"),
            r.getAs[Long]("n_landed")))).toMap
      assert(funnel()(0L) == ((4L, 1L, 1L, 2L)), funnel().toString)
      val landed = spark.read.parquet(s"$dir/docs")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(landed == Set(10L, 13L), s"got $landed")
      // full redelivery: the in-batch dup still cuts at its stage;
      // everything else is now index content — nothing lands
      input.addData(rows: _*)
      q.processAllAvailable()
      assert(funnel()(1L) == ((4L, 1L, 3L, 0L)), funnel().toString)
      assert(spark.read.parquet(s"$dir/docs").count() == 2L)
    } finally q.stop()
  }

  test("retrieval-ready ingest: landed docs serve from the BM25 index, replay doubles nothing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("bm25ingest").toString
    val seedText = "the corpus data table holds a value summary with " +
      "enough prior words that the screen can match it exactly"
    graft.operators.Dedup.buildDedupIndex(
      Seq((1L, seedText)).toDF("doc_id", "text"), "doc_id", "text",
      name = "t_bm25ing_idx")
    graft.operators.Retrieval.buildBm25Index(
      Seq((1L, seedText)).toDF("doc_id", "text"), "doc_id", "text",
      name = "t_bm25ing_bm", numBuckets = 4)
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamingIngest.toScreenedDocIngest(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      "t_bm25ing_idx", s"$dir/docs", s"$dir/ckpt",
      bm25IndexName = Some("t_bm25ing_bm"))
    try {
      val rows = Seq(
        (10L, "harbor vessels at anchor with manifests of grain"),
        (11L, seedText), // dedup-screened: must NOT reach the BM25 index
        (12L, "spark shuffles dominate the cost of large joins"))
      input.addData(rows: _*)
      q.processAllAvailable()
      spark.catalog.refreshTable("t_bm25ing_bm_postings")
      spark.catalog.refreshTable("t_bm25ing_bm_docs")
      // landed docs serve; the screened dup's id never indexed
      val hits = graft.operators.Retrieval.bm25TopKAgainstIndex(spark,
        "t_bm25ing_bm", Seq("harbor", "shuffles"), topK = 5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(hits == Set(10L, 12L), s"got $hits")
      assert(spark.table("t_bm25ing_bm_docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
        == Set(1L, 10L, 12L))
      val nPost = spark.table("t_bm25ing_bm_postings").count()
      // full redelivery: dedup screen suppresses everything, the
      // BM25 anti-join sees nothing new — postings unchanged
      input.addData(rows: _*)
      q.processAllAvailable()
      spark.catalog.refreshTable("t_bm25ing_bm_postings")
      assert(spark.table("t_bm25ing_bm_postings").count() == nPost,
        "replay changed the postings table")
      assert(spark.read.parquet(s"$dir/docs").count() == 2L)
    } finally q.stop()
  }

  test("ANN funnel telemetry: unidentified and already-indexed cuts counted, redelivery reads as full index-dup suppression") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("annfunnel").toString
    val q8 = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
    graft.operators.Similarity.buildAnnIndex(q8, "vec_id", "qv",
      name = "t_afun_idx", nlist = 8, m = 4, ksub = 8, md5Sig = true,
      numBuckets = 4)
    val vec = q8.filter(col("vec_id") === 0).collect().head.getSeq[Float](1)
    val input = MemoryStream[(String, Seq[Float])](spark)
    val q = StreamingIngest.toAnnIngest(
      input.toDS().toDF("vec_id", "qv"), "vec_id", "qv",
      "t_afun_idx", s"$dir/vecs", s"$dir/ckpt",
      funnelDir = Some(s"$dir/funnel"))
    try {
      val rows = Seq(
        ("400000", vec),       // lands
        ("400000", vec),       // within-batch id dup → unidentified
        ("not-an-id", vec),    // null-cast id → unidentified
        ("0", vec),            // already indexed → index dup
        ("400001", vec))       // lands
      input.addData(rows: _*)
      q.processAllAvailable()
      def funnel() = spark.read.parquet(s"$dir/funnel")
        .collect().map(r => r.getAs[Long]("ingest_batch") ->
          ((r.getAs[Long]("n_input"), r.getAs[Long]("n_unidentified"),
            r.getAs[Long]("n_index_dup"),
            r.getAs[Long]("n_landed")))).toMap
      assert(funnel()(0L) == ((5L, 2L, 1L, 2L)), funnel().toString)
      // full redelivery: both fresh ids are indexed now — the only
      // cuts are the unidentified pair and three index dups
      input.addData(rows: _*)
      q.processAllAvailable()
      assert(funnel()(1L) == ((5L, 2L, 3L, 0L)), funnel().toString)
      assert(spark.read.parquet(s"$dir/vecs").count() == 2L)
    } finally q.stop()
  }
}
