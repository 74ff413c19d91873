package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** C-block: batch-equivalent forms of the streaming pipeline
  * (SURVEY.md §2 C2-C5). The same logic runs as Structured Streaming
  * in graft.streaming (spec-covered with MemoryStream); these batch
  * plans give the driver a DuckDB-checkable correctness surface for
  * the *semantics* (windowing, sessionization, dedup, burst
  * detection).
  *
  * All event-time arithmetic is integer (ts is long nanoseconds):
  * µs = ts DIV 1000 in Spark ↔ epoch_us(ts) in DuckDB.
  */
object CBlock {
  type Q = (SparkSession, String) => DataFrame

  /** 30-minute session gap, in microseconds.
    *
    * Boundary semantics (one rule everywhere): a new session starts
    * only when the gap to the previous event is STRICTLY greater than
    * GapUs — an exact-gap pair MERGES. Verified empirically against
    * Spark's native session_window (it merges touching [t, t+gap)
    * windows, not just strictly overlapping ones); c3's lag/cumsum
    * form, both DuckDB oracles, and StreamOps.sessionize all use the
    * same rule (SessionBoundarySpec pins it with an exact-gap pair).
    */
  private val GapUs = 30L * 60 * 1000 * 1000
  /** 10-minute burst bucket, in microseconds. */
  private val BucketUs = 10L * 60 * 1000 * 1000
  /** 10-minute interval-join lookback, in microseconds. */
  private val IntervalUs = 10L * 60 * 1000 * 1000
  /** Two-day slice bounds for the physical streamed-ingest entry
    * (2024-01-02 / 2024-01-04 UTC, epoch ms — same window the
    * A-block physical stores use). */
  private val SliceT0 = 1704153600000L
  private val SliceT1 = 1704326400000L

  val queries: Map[String, Q] = Map(
    // C2: tumbling 1-hour window counts per event_type — the batch
    // equivalent of the watermarked streaming agg (uses the same
    // window() expression Structured Streaming uses).
    "c2_windowed_counts" -> ((s, d) =>
      Tables.events(s, d)
        .select(window(timestamp_micros(expr("ts DIV 1000")), "1 hour")
          .as("w"), col("event_type"), col("value"))
        .groupBy(col("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:00:00").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))),

    // C3: gap-based sessionization — lag + cumulative session index;
    // the streaming form uses flatMapGroupsWithState (Sessionize spec).
    "c3_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("us"))
        .withColumn("new_session",
          when(col("us") - lag(col("us"), 1).over(byUser) > GapUs ||
            lag(col("us"), 1).over(byUser).isNull, lit(1)).otherwise(lit(0)))
        .withColumn("session_idx", sum(col("new_session")).over(cum))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"), max(col("us")).as("end_us"))
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // C4: dedup — keep the earliest event per (user_id, event_type);
    // streaming form is dropDuplicates + watermark (spec-covered).
    "c4_stream_dedup" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts DIV 1000").as("us"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("us"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // C3b: the same gap sessions via Spark's native session_window —
    // the form the streaming engine merges incrementally. Must agree
    // exactly with the lag/cumsum oracle.
    "c3b_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          timestamp_micros(expr("ts DIV 1000")).as("tsu"))
        .groupBy(session_window(col("tsu"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("tsu"))).as("start_us"),
          max(unix_micros(col("tsu"))).as("end_us"))
        .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
        .orderBy(col("user_id"), col("start_us"))),

    // C6: interval join — purchases joined to the same user's clicks
    // in the preceding 10 minutes; the batch mirror of the
    // stream-stream interval join (StreamOps.clickToPurchaseJoin,
    // where the two-sided time bound is what keeps join state finite).
    // Keyed on (user_id, bucket), NOT user_id alone: a plain user_id
    // join enumerates clicks×purchases per user before the range
    // filter — per-key quadratic at scale. The bucket trick
    // (TemporalJoins.priorCountInWindow) makes each purchase probe
    // exactly the two IntervalUs-wide buckets its window can touch,
    // so the join stays linear in matches + rows.
    "c6_interval_join" -> ((s, d) => {
      def bucket(c: String): org.apache.spark.sql.Column =
        expr(s"($c - pmod($c, ${IntervalUs}L)) DIV ${IntervalUs}L")
      val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), expr("ts DIV 1000").as("us"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("us").as("c_us"), bucket("us").as("bucket"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("us").as("p_us"))
        .withColumn("bucket",
          explode(array(bucket("p_us"), bucket("p_us") - 1)))
      purchases.join(clicks, Seq("user_id", "bucket"))
        .filter(col("c_us") >= col("p_us") - IntervalUs &&
          col("c_us") < col("p_us"))
        .select(col("purchase_id"), col("click_id"), col("user_id"),
          col("p_us"), col("c_us"))
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // C1/C6/C7 physically: the JSON wire form of a two-day event
    // slice is drained through the REAL Structured-Streaming path
    // (file source → fromJsonLines → Trigger.AvailableNow →
    // exactly-once snapshot-store sink) once per sf dir; the measured
    // query reads the streamed store back, and the oracle pins that
    // the streaming pipeline lost and invented nothing.
    "c7_streamed_ingest" -> ((s, d) => {
      val base = "/tmp/graft_c7s_" + ABlock.storeKey(s, d)
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) {
        val slice = graft.model.EventAdapter
          .keycloakEvents(Tables.events(s, d))
          .filter(col("time") >= SliceT0 && col("time") < SliceT1)
        graft.streaming.StreamingIngest.toJsonLines(slice)
          .write.text(s"$base/in")
        val q = graft.streaming.StreamingIngest.toSnapshotEventStore(
          graft.streaming.StreamingIngest.fromJsonLines(
            s.readStream.textFile(s"$base/in")),
          s"$base/store", s"$base/ck", availableNow = true)
        assert(q.awaitTermination(300000), "c7 drain did not terminate")
      }
      graft.sources.SnapshotEventStore.read(s, s"$base/store")
        .groupBy(col("eventtype"))
        .agg(count(lit(1)).as("n"),
          min(col("time")).as("min_time"), max(col("time")).as("max_time"))
        .orderBy(col("eventtype"))
    }),

    // C8: upsert-sink replay idempotence, physically. The two-day
    // slice is split at its midpoint and played through
    // SnapshotEventStore.upsertBatch (the per-batch verb of
    // toSnapshotUpsertSink) as b1@0, b2@1 — then b2 AGAIN under a new
    // batch id (a source retry after checkpoint loss: only the id
    // screen can stop it) and b1 AGAIN under a covered id (Spark's own
    // replay: the batch watermark stops it), the at-least-once
    // redelivery pattern the sink exists to absorb. The measured query
    // reads the final store back at id level; the oracle is the
    // once-played slice — equal iff the replays duplicated, dropped,
    // and altered nothing.
    "c8_upsert_replay" -> ((s, d) => {
      val base = "/tmp/graft_c8s_" + ABlock.storeKey(s, d)
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) {
        val slice = graft.model.EventAdapter
          .keycloakEvents(Tables.events(s, d))
          .filter(col("time") >= SliceT0 && col("time") < SliceT1)
        val mid = (SliceT0 + SliceT1) / 2
        val b1 = slice.filter(col("time") < mid)
        val b2 = slice.filter(col("time") >= mid)
        val store = s"$base/store"
        def play(b: DataFrame, batchId: Long): Unit =
          graft.sources.SnapshotEventStore.upsertBatch(
            b, store, batchId, streamId = "c8")
        play(b1, 0L)
        play(b2, 1L)
        play(b2, 2L) // replayed under a new id: the id screen
        play(b1, 1L) // replayed under a covered id: the watermark
      }
      graft.sources.SnapshotEventStore.read(s, s"$base/store")
        .select(col("id"), col("eventtype"), col("realmid"), col("realmname"),
          col("clientid"), col("userid"), col("sessionid"), col("ipaddress"),
          col("error"), col("time"), col("detailsjson"))
        .orderBy(col("id"))
    }),

    // C5: burst detection — 10-minute buckets per user where the
    // error count crosses the threshold (streaming: windowed agg +
    // filter, BurstDetect spec).
    "c5_burst_detect" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "error")
        .select(col("user_id"),
          expr(s"(ts DIV 1000) DIV $BucketUs").as("bucket_idx"))
        .groupBy(col("user_id"), col("bucket_idx"))
        .agg(count(lit(1)).as("n_errors"))
        .filter(col("n_errors") >= 2)
        .select(col("user_id"), (col("bucket_idx") * BucketUs).as("bucket_start_us"),
          col("n_errors"))
        .orderBy(col("user_id"), col("bucket_start_us")))
  )

  val oracles: Map[String, String] = Map(
    "c2_windowed_counts" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "c3_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
         |), flagged AS (
         |  SELECT user_id, event_id, us,
         |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > $GapUs
         |      OR lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
         |      THEN 1 ELSE 0 END AS new_session
         |  FROM e
         |), sessions AS (
         |  SELECT user_id, us,
         |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM flagged
         |)
         |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         |  count(*) AS n_events, min(us) AS start_us, max(us) AS end_us
         |FROM sessions GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin,

    "c3b_session_window" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
         |), flagged AS (
         |  SELECT user_id, event_id, us,
         |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > $GapUs
         |      OR lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
         |      THEN 1 ELSE 0 END AS new_session
         |  FROM e
         |), sessions AS (
         |  SELECT user_id, us,
         |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM flagged
         |)
         |SELECT user_id, count(*) AS n_events,
         |  min(us) AS start_us, max(us) AS end_us
         |FROM sessions GROUP BY user_id, session_idx
         |ORDER BY user_id, start_us""".stripMargin,

    "c4_stream_dedup" ->
      """SELECT user_id, event_type, event_id, us FROM (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "c5_burst_detect" ->
      s"""SELECT user_id, (epoch_us(ts) // $BucketUs) * $BucketUs AS bucket_start_us,
         |  count(*) AS n_errors
         |FROM events WHERE event_type = 'error'
         |GROUP BY user_id, (epoch_us(ts) // $BucketUs)
         |HAVING count(*) >= 2
         |ORDER BY user_id, bucket_start_us""".stripMargin,

    "c7_streamed_ingest" ->
      s"""WITH ke AS (${graft.model.EventAdapter.duckdbEventsCte})
         |SELECT eventtype, count(*) AS n,
         |  min(time) AS min_time, max(time) AS max_time
         |FROM ke WHERE time >= $SliceT0 AND time < $SliceT1
         |GROUP BY eventtype ORDER BY eventtype""".stripMargin,

    "c8_upsert_replay" ->
      s"""WITH ke AS (${graft.model.EventAdapter.duckdbEventsCte})
         |SELECT id, eventtype, realmid, realmname, clientid, userid,
         |  sessionid, ipaddress, error, time, detailsjson
         |FROM ke WHERE time >= $SliceT0 AND time < $SliceT1
         |ORDER BY id""".stripMargin,

    "c6_interval_join" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events)
         |SELECT p.event_id AS purchase_id, c.event_id AS click_id,
         |  p.user_id AS user_id, p.us AS p_us, c.us AS c_us
         |FROM e p JOIN e c ON p.user_id = c.user_id
         |  AND c.us >= p.us - $IntervalUs AND c.us < p.us
         |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
         |ORDER BY purchase_id, click_id""".stripMargin
  )
}
