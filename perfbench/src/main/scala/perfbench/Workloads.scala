package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.api.{AdminEventQuery, EventQuery, GraftEventStoreProvider,
  GraftEventStoreProviderFactory}
import graft.operators.OpsCard
import org.apache.spark.perfbench.SparkShim

import Events.{AdminQueryShape, EventQueryShape, Query}

/** The workloads. Each sets up [[Workloads.SetUps]] times into
  * fresh directories (`setup_s` is the median), runs a read phase and
  * a write phase one after the other, so neither competes with the
  * other, then checks its outputs outside the timed window.
  *
  * Each reports `setup_s`, `query_p50_s`, `queries_per_s`,
  * `batch_p50_s`, `ingest_rows_per_s` and `heap_live_peak_mb`, and
  * counts the Spark work of a query (`query_jobs`, `query_scan_kb`)
  * and of a micro-batch (`batch_jobs`). `spans` is set in a traced
  * run. */
final class Workloads(spark: SparkSession, a: Main.Args, r: Report,
    spans: Option[Spans]) {
  import Workloads._

  private val sc = spark.sparkContext
  private val windowMs = a.seconds * 1000L
  private def dir(name: String) = new File(a.work, name)
  private def now() = System.currentTimeMillis()

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` as a traced span when tracing, plainly otherwise. */
  private def span[T](name: String)(body: => T): T =
    spans.fold(body)(_.run(sc, name)(body))

  /** Ends a phase of the run: forces a full collection (for
    * `heap_live_peak_mb`) and marks the time. */
  private def phase(name: String): Unit = {
    Heap.checkpoint()
    r.mark(name)
  }

  private def p50(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  private def setUpRepeated[T](body: Int => T): T = {
    phase("inputs")
    val runs = (0 until SetUps).map(k => timed(body(k)))
    r.metric("setup_s", Stats.median(runs.map(_._2)), "s")
    r.note("setup_runs_s", runs.map(_._2))
    phase("setup")
    runs.last._1
  }

  /** The p50 of `xs` as a metric, and its tail (the highest
    * percentile with ten samples beyond it) with that percentile and
    * the sample count on the detail line. */
  private def latency(name: String, xs: Seq[Double]): Unit =
    if (xs.nonEmpty) {
      val t = Stats.tail(xs)
      r.metric(s"${name}_p50_s", Stats.median(xs), "s")
      r.note(s"${name}_tail_s", t.value)
      r.note(s"${name}_tail_percentile", t.percentile)
      r.note(s"${name}_samples", t.n)
      r.note(s"${name}_s", xs)
    }

  private def overhead(traced: Seq[Double], untraced: Seq[Double]): Unit =
    if (traced.nonEmpty && untraced.nonEmpty)
      r.metric("trace_overhead_frac",
        Stats.median(traced) / Stats.median(untraced) - 1, "ratio")

  // ---- streams ------------------------------------------------------------

  /** Closed loop: release one staged file, wait for the micro-batch
    * that reads it, repeat while `more(files released so far)`.
    * Returns, by file, its release time and the CPU time the stream's
    * thread took from its release until its batch reported. */
  private def closedLoop(q: StreamingQuery, prog: Progress, nFiles: Int,
      more: Int => Boolean)(release: Int => Unit): IndexedSeq[Release] = {
    val rel = mutable.ArrayBuffer.empty[Release]
    val base = prog.batches.size
    val thread = Thread.getAllStackTraces.keySet.asScala
      .find(_.getName.contains(q.runId.toString)).map(_.getId)
    def cpu() = thread.fold(0L)(Cpu.getThreadCpuTime)
    while (base + rel.size < nFiles && more(rel.size) && q.isActive) {
      val (at, cpu0) = (now(), cpu())
      release(rel.size)
      val ok = prog.await(base + rel.size + 1, BatchTimeoutMs)
      rel += Release(at, cpu() - cpu0)
      if (!ok) {
        r.problems += s"batch for file ${rel.size - 1} did not commit: " +
          q.exception.map(_.toString).getOrElse("timeout")
        return rel.toIndexedSeq
      }
    }
    rel.toIndexedSeq
  }

  private def stopStream(q: StreamingQuery, prog: Progress): Seq[Batch] = {
    val failed = q.exception
    q.stop()
    spark.streams.removeListener(prog)
    val bs = prog.batches
    bs.foreach(_ => r.op(true))
    failed.foreach { e =>
      r.op(false)
      r.problems += s"stream failed: $e"
    }
    bs
  }

  /** Micro-batch figures. `released` are the files' releases, and
    * `rowsOf(i)` the input rows of file `i` (redeliveries
    * included); the checkpoint's source log says which batch read
    * which file. The first file's batch was a warm-up and is not
    * timed. Progress reports' own input counts are not used: a
    * foreachBatch sink that reads its batch twice counts it twice.
    * Returns the timed batches, each with the index of its file. */
  private def batchMetrics(all: Seq[Batch], released: IndexedSeq[Release],
      ckpt: String, rowsOf: Int => Long, rowsLanded: Long): Seq[(Int, Batch)] = {
    val files = SourceLog.fileToBatch(ckpt)
    val byId = all.map(b => b.id -> b).toMap
    val read = released.indices.map(i => files.get(Events.fileName(i)).flatMap(byId.get))
    r.check("every_file_read_by_a_batch")(read.forall(_.isDefined))
    val timed = read.indices.drop(1).flatMap(i => read(i).map(b => (i, b)))
    val bs = timed.map(_._2)
    latency("batch", bs.map(_.wallS))
    r.metric("ingest_rows_per_s", if (bs.isEmpty) 0.0
      else timed.map(t => rowsOf(t._1)).sum.toDouble / bs.map(_.wallS).sum, "1/s")
    def d(k: String) = bs.map(_.durS(k))
    r.metric("streaming.add_batch_s", p50(d("addBatch")), "s")
    r.metric("streaming.latest_offset_s", p50(d("latestOffset")), "s")
    r.metric("streaming.get_batch_s", p50(d("getBatch")), "s")
    r.metric("streaming.wal_commit_s", p50(d("walCommit")), "s")
    r.metric("streaming.trigger_wait_s", p50(timed.map { case (i, b) =>
      math.max(0L, b.startMs - released(i).atMs) / 1000.0 }), "s")
    val rowsIn = released.indices.map(rowsOf).sum
    r.metric("streaming.rows_in", rowsIn.toDouble, "count")
    r.metric("streaming.rows_landed", rowsLanded.toDouble, "count")
    r.metric("streaming.screened_frac",
      if (rowsIn == 0) 0.0 else rowsLanded.toDouble / rowsIn, "ratio")
    timed
  }

  // ---- Keycloak events ----------------------------------------------------

  private def storeStats(ev: Events, st: Store, when: String): Unit =
    ev.storeStats(st.path).foreach { case (k, v) =>
      r.metric(s"sources.${k}_$when", v, if (k == "store_bytes") "B" else "count")
    }

  /** One provider query, timed. An untraced query runs under the job
    * group `group`, and its CPU time is its thread's plus its jobs'
    * tasks' ([[cpuMetric]]). A traced query is split into its layers:
    * the store read, the builder up to `toDF`, physical planning, and
    * the collect. `createQuery()` is `EventQuery(events)`, so the split
    * makes the same calls. */
  private def runQuery(p: GraftEventStoreProvider, q: Query,
      traced: Boolean, group: String): QueryRun = {
    val t0 = System.nanoTime()
    if (!traced) {
      val cpu0 = Cpu.getCurrentThreadCpuTime
      sc.setJobGroup(group, q.kind)
      val n = try (q.shape match {
        case EventQueryShape(f) => f(p.createQuery()).toDF
        case AdminQueryShape(f) => f(p.createAdminQuery()).toDF
      }).collect().length
      finally sc.clearJobGroup()
      QueryRun(q.kind, (System.nanoTime() - t0) / 1e9, n, None,
        Some((group, Cpu.getCurrentThreadCpuTime - cpu0)))
    } else {
      val (src, read) = timed(span("sources.read")(q.shape match {
        case EventQueryShape(_) => p.events
        case AdminQueryShape(_) => p.adminEvents
      }))
      val (df, build) = timed(span("api.build")(q.shape match {
        case EventQueryShape(f) => f(EventQuery(src)).toDF
        case AdminQueryShape(f) => f(AdminEventQuery(src)).toDF
      }))
      val (_, plan) = timed(span("api.plan")(df.queryExecution.executedPlan))
      val (n, exec) = timed(span("api.exec")(df.collect().length))
      QueryRun(q.kind, (System.nanoTime() - t0) / 1e9, n,
        Some(Phases(read, build, plan, exec)), None)
    }
  }

  /** `n` closed-loop clients, each issuing queries of the mix seeded
    * by `seed` and the client's number while `more(queries it has
    * issued)`. Client `c` starts at shape `2c`, so the two clients run
    * different shapes side by side. With `trace`, every other query is
    * traced, the two clients and each round of the four shapes
    * starting on opposite sides, so traced and untraced queries cover
    * the same shapes. */
  private def clients(ev: Events, p: GraftEventStoreProvider, n: Int,
      seed: Long, trace: Boolean)(more: Int => Boolean): Seq[QueryRun] = {
    val out = new ConcurrentLinkedQueue[QueryRun]()
    val threads = (0 until n).map { c =>
      new Thread(() => {
        val qs = ev.queries(seed * 1000 + c, first = 2 * c)
        var i = 0
        while (more(i)) {
          val q = qs.next()
          try {
            out.add(runQuery(p, q, trace && (i + c + i / 4) % 2 == 0,
              s"$QueryGroup$seed-$c-$i"))
            r.op(true)
          } catch {
            case e: Exception =>
              r.op(false)
              r.synchronized { r.problems += s"query ${q.kind} ${q.params}: $e" }
          }
          i += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** Median CPU time, in ms, of the operations `ops`: each is a job
    * group or batch key with the CPU time its driver-side thread took;
    * `taskCpuNs` adds the CPU time of the tasks of the jobs filed
    * under each key. */
  private def cpuMetric(name: String, ops: Seq[(String, Long)],
      taskCpuNs: Map[String, Long]): Unit =
    if (ops.nonEmpty) {
      val ms = ops.map { case (k, ns) => (ns + taskCpuNs.getOrElse(k, 0L)) / 1e6 }
      r.metric(name, Stats.median(ms), "ms")
      r.note(s"${name}_samples", ms)
    }

  private def queryMetrics(qs: Seq[QueryRun], windowS: Double): Unit = {
    latency("query", qs.map(_.wall))
    cpuMetric("query_cpu_ms", qs.flatMap(_.cpu), SparkShim.jobs(sc)
      .filter(_.group.exists(_.startsWith(QueryGroup)))
      .groupMapReduce(_.group.get)(_.taskCpuNs)(_ + _))
    r.note("query_kinds", qs.map(_.kind))
    r.metric("queries_per_s", qs.size / windowS, "1/s")
    val traced = qs.filter(_.phases.isDefined)
    def phases(prefix: String, runs: Seq[QueryRun]): Unit = {
      val ph = runs.flatMap(_.phases)
      r.metric(s"$prefix.build_s", p50(ph.map(_.build)), "s")
      r.metric(s"$prefix.plan_s", p50(ph.map(_.plan)), "s")
      r.metric(s"$prefix.exec_s", p50(ph.map(_.exec)), "s")
      r.metric(s"$prefix.rows_returned", p50(runs.map(_.rows.toDouble)), "count")
    }
    if (spans.isDefined) {
      r.metric("sources.read_s", p50(traced.flatMap(_.phases).map(_.read)), "s")
      phases("api", traced)
      Seq("a5", "a6", "user", "a7").foreach(k =>
        phases(s"api.$k", traced.filter(_.kind == k)))
      overhead(traced.map(_.wall), qs.filter(_.phases.isEmpty).map(_.wall))
    }
  }

  /** The Keycloak deployment's path on one bulk-loaded store holding
    * the first `days` days of events: provider queries alone for half
    * the window, then the upsert ingest alone for the other half, then
    * maintenance until quiet. */
  def events(days: Int): Unit = {
    val ev = new Events(spark, a.data, a.seed, days)
    val st = setUpRepeated { k =>
      val f = GraftEventStoreProviderFactory.fromConfig(Map(
        "enabled" -> "true", "basePath" -> dir(s"store-$k").getPath,
        "storeMode" -> "snapshot", "ingestMode" -> "upsert"))
      val p = f.create(spark)
      val staged = dir(s"staged-$k")
      val load = timed(span("sources.bulk_append")(ev.load(p)))._2
      ev.stage(staged)
      Store(f, p, staged, load)
    }
    r.metric("sources.bulk_append_s", st.bulkAppendS, "s")
    storeStats(ev, st, "setup")
    r.note("store_rows_setup", ev.nBulk)

    // warm-up, outside set-up and the window: the correctness sample
    // (one query of each shape, checked against the same query over
    // the source), then, after the phase's collection, one query per
    // client
    val sample = ev.queries(CheckSeed).take(4).toSeq
    val agree = sample.map(q => new java.util.concurrent.FutureTask(() =>
      ev.agrees(st.p, q, 0, s"$SampleGroup${q.kind}")))
    agree.foreach(f => new Thread(f).start())
    sample.zip(agree).foreach { case (q, f) =>
      r.check(s"query_${q.kind}_${q.params.replace(' ', '_')}")(f.get()) }
    // the sample's Spark work: it runs the same four queries every
    // run, so these figures do not move with the host's speed
    val sampleJobs = SparkShim.jobs(sc).filter(_.group.exists(_.startsWith(SampleGroup)))
    r.metric("query_jobs", sampleJobs.size.toDouble / sample.size, "count")
    r.metric("query_scan_kb", sampleJobs.map(_.inputBytes).sum / 1024.0 / sample.size, "KB")
    phase("warm")
    clients(ev, st.p, Clients, WarmSeed, trace = false)(_ < 1)

    // read phase: the stream is not started yet, so reads run alone
    val t0 = now()
    val qs = clients(ev, st.p, Clients, a.seed, spans.isDefined)(_ =>
      now() < t0 + windowMs / 2)
    queryMetrics(qs, (now() - t0) / 1000.0)
    r.mark("read")

    // write phase: the stream's first file is a warm-up batch that pays
    // the stream's one-off start costs; then one file per trigger,
    // closed loop
    val src = dir("src")
    src.mkdirs()
    val ckpt = dir("ckpt").getPath
    val prog = new Progress
    spark.streams.addListener(prog)
    val q = st.f.ingest(st.p, ev.stream(src), ckpt)
    val warm = closedLoop(q, prog, 1, _ => true)(i => Events.release(st.staged, src, i))
    r.mark("stream_warm")
    val t1 = now()
    val released = warm ++ closedLoop(q, prog, ev.files.size,
      n => n == 0 || now() < t1 + windowMs / 2)(i => Events.release(st.staged, src, i + 1))
    val bs = stopStream(q, prog)
    r.note("files_released", released.size)
    val timedBatches = batchMetrics(bs, released, ckpt, ev.files(_).size.toLong,
      st.p.events.count() - ev.nBulk)
    // Spark jobs per timed micro-batch: the stream's jobs carry its run
    // id as job group and "batch = <id>" in their description
    val runId = q.runId.toString
    val streamJobs = SparkShim.jobs(sc).filter(_.group.contains(runId))
      .flatMap(j => j.description.flatMap(Spans.batchOf).map(b => (b.toString, j)))
      .groupMap(_._1)(_._2)
    r.metric("batch_jobs", p50(timedBatches.flatMap { case (_, b) =>
      streamJobs.get(b.id.toString).map(_.size.toDouble) }), "count")
    cpuMetric("batch_cpu_ms", timedBatches.map { case (i, b) =>
      (b.id.toString, released(i).streamCpuNs) },
      streamJobs.map { case (b, js) => b -> js.map(_.taskCpuNs).sum })
    spans.foreach(s => timedBatches.foreach { case (_, b) =>
      s.batch(runId, b.id, b.startMs, b.endMs) })
    if (spans.isDefined) r.metric("operators.card_s", timed(
      OpsCard.indexOpsCard(spark, Nil, st.card).collect())._2, "s")
    phase("measured")

    // maintenance until quiet: a cap of one file per partition
    // compacts every partition the stream wrote into
    val before = ev.dataFiles(st.path)
    val (acts, mS) = timed(span("operators.tick")(OpsCard.maintenanceLoop(
      spark, Nil, st.card, maxTicks = MaxTicks)))
    val ticks = if (acts.size < MaxTicks) acts.size + 1 else acts.size
    r.metric("maintenance_s", mS, "s")
    r.metric("operators.tick_s", mS / ticks, "s")
    r.metric("operators.ticks", ticks.toDouble, "count")
    Seq("compact", "retire", "vacuum").foreach(v =>
      r.metric(s"operators.${v}s", acts.count(_._3 == v).toDouble, "count"))
    r.metric("operators.files_reclaimed",
      (before -- ev.dataFiles(st.path)).size.toDouble, "count")
    r.note("maintenance_actions", acts.map(_._3))
    r.metric("store_bytes_per_row", ev.bytesPerRow(st.p, st.path), "B/row")
    storeStats(ev, st, "end")

    r.check("exactly_once")(ev.exactlyOnce(st.p, released.size))
    r.check("maintenance_compacted")(acts.exists(_._3 == "compact"))
    spanMetrics()
  }

  // ---- per-span Spark figures (traced runs) --------------------------------

  private def spanMetrics(): Unit = {
    phase("checked")
    spans.foreach { t =>
      val all = t.finished(SparkShim.jobs(sc))
      SpanNames.foreach { n =>
        val ss = all.getOrElse(n, Nil)
        r.metric(s"$n.jobs", p50(ss.map(_.jobs.size.toDouble)), "count")
        r.metric(s"$n.job_s", p50(ss.map(_.jobS)), "s")
        r.metric(s"$n.driver_gap_s", p50(ss.map(_.driverGapS)), "s")
        r.metric(s"$n.input_bytes", p50(ss.map(_.inputBytes.toDouble)), "B")
        r.metric(s"$n.shuffle_bytes", p50(ss.map(_.shuffleBytes.toDouble)), "B")
        r.metric(s"$n.spill_bytes", p50(ss.map(_.spillBytes.toDouble)), "B")
        r.note(s"$n.spans", ss.size)
      }
    }
  }
}

object Workloads {
  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3
  /** Closed-loop provider clients in the read phase. */
  val Clients = 2
  /** A compaction cap of one file per partition: every partition the
    * stream writes into twice is compacted. */
  val CompactCap = 1
  val MaxTicks = 20
  val BatchTimeoutMs = 120000L
  val CheckSeed = 424242L
  /** Job group prefix of the correctness sample's store queries. */
  val SampleGroup = "pb-sample-"
  /** Job group prefix of the clients' untraced queries. */
  val QueryGroup = "pb-query-"
  /** CPU time of threads. */
  val Cpu = ManagementFactory.getThreadMXBean
  /** Seed of the untimed warm-up queries. */
  val WarmSeed = 171717L
  val SpanNames = Seq("sources.read", "sources.bulk_append", "api.exec",
    "streaming.batch", "operators.tick")

  final case class Store(f: GraftEventStoreProviderFactory,
      p: GraftEventStoreProvider, staged: File, bulkAppendS: Double) {
    def path: String = f.settings.eventsPath
    def card: Seq[OpsCard.StoreEntry] =
      Seq(OpsCard.StoreEntry("events", path, CompactCap))
  }

  final case class Phases(read: Double, build: Double, plan: Double, exec: Double)
  /** One query: with `phases` when traced, else with its job group
    * and its thread's CPU time in ns. */
  final case class QueryRun(kind: String, wall: Double, rows: Int,
      phases: Option[Phases], cpu: Option[(String, Long)])

  /** A file's release time, and the CPU time (ns) the stream's thread
    * took from then until the file's batch reported. */
  final case class Release(atMs: Long, streamCpuNs: Long)

  final case class Batch(id: Long, startMs: Long, endMs: Long,
      dur: Map[String, Long]) {
    def wallS: Double = (endMs - startMs) / 1000.0
    def durS(k: String): Double = dur.getOrElse(k, 0L) / 1000.0
  }

  /** Collects the micro-batches that read input, from progress reports. */
  final class Progress extends StreamingQueryListener {
    private val seen = mutable.ArrayBuffer.empty[Batch]
    private var terminated = false

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized { terminated = true; notifyAll() }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val b = Batch(p.batchId, start, start + dur.getOrElse("triggerExecution", 0L), dur)
        synchronized { seen += b; notifyAll() }
      }
    }

    def batches: Seq[Batch] = synchronized(seen.toSeq)

    /** Waits until `n` input batches have reported. */
    def await(n: Int, timeoutMs: Long): Boolean = synchronized {
      val end = System.currentTimeMillis() + timeoutMs
      while (seen.size < n && !terminated && System.currentTimeMillis() < end)
        wait(math.max(1L, end - System.currentTimeMillis()))
      seen.size >= n
    }
  }
}
