package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the scale design lives or dies on
  * physical-plan properties (pushdown reaching the scan, dims being
  * broadcast, partial aggregation, no accidental cartesian/row-pair
  * joins). PlanAudit prints these for eyeballing; this spec makes the
  * key ones failing assertions so a refactor can't silently regress
  * them.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString

  private def count(p: String, tag: String): Int =
    p.linesIterator.count(_.contains(tag))

  test("b1: filter and projection reach the parquet scan") {
    val p = plan("b1_pushdown_scan")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"), p.take(1500))
    // 5-column scan (4 projected + filter col) of an 11-column table
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(scanCols.nonEmpty && scanCols.split(",").length <= 5,
      s"scan reads too many columns: $scanCols")
  }

  test("b4b: bounded dims broadcast; SF-linear tables free to shuffle") {
    // Only nation (25 rows) and region (5 rows) are hinted — genuinely
    // bounded dims. customer AND supplier are NOT: both grow with SF
    // (supplier is 10k rows/SF in TPC-H), and a hint-forced broadcast
    // would OOM the driver at 100× where AQE cannot demote an explicit
    // hint. At test SF stats may still broadcast them, so the pin is
    // >= 2 broadcasts and zero nested-loop joins, with SMJ permitted.
    val p = plan("b4b_join_region")
    assert(count(p, "BroadcastHashJoin") >= 2, p.take(2000))
    assert(count(p, "BroadcastNestedLoopJoin") == 0,
      s"dim join degenerated to a pair join:\n${p.take(2000)}")
  }

  test("b4: Q3 joins never degenerate to nested-loop; dims hash-join") {
    // No broadcast hint survives on any SF-linear table (customer is
    // segment-filtered but still ~20% of a linear table); stats/AQE
    // may broadcast at test SF, so pin only the safety properties:
    // hash-based joins throughout, zero nested-loop joins.
    val p = plan("b4_join_multiway")
    assert(count(p, "BroadcastNestedLoopJoin") == 0,
      s"join degenerated to a pair join:\n${p.take(2000)}")
    assert(count(p, "BroadcastHashJoin") + count(p, "SortMergeJoin") +
      count(p, "ShuffledHashJoin") >= 2, p.take(2000))
  }

  test("b2: aggregation is two-phase (map-side partial)") {
    val p = plan("b2_agg")
    assert(p.contains("partial_sum") || p.contains("partial_"),
      s"no partial aggregation in plan:\n${p.take(2000)}")
  }

  test("d2: banding join carries only narrow rows, sets re-join by id") {
    val p = plan("d2_dedup_minhash")
    // candidate generation must be an equi-join (hash-based), never a
    // nested-loop pair enumeration
    assert(count(p, "BroadcastNestedLoopJoin") == 0,
      s"minhash candidates degenerated to a pair join:\n${p.take(2000)}")
  }

  test("d5: blocked scan plans the tile kernel, not a row-per-pair join") {
    val p = plan("d5_embed_neardup")
    assert(p.toLowerCase.contains("blockcospairs"),
      s"blocked kernel missing from plan:\n${p.take(2000)}")
  }

  test("d6: exact top-k plans the BlockTopK tile kernel") {
    val p = plan("d6_ann_bruteforce")
    assert(p.toLowerCase.contains("blocktopk"),
      s"blocked top-k kernel missing from plan:\n${p.take(2000)}")
  }

  test("c6: interval join is keyed on (user_id, bucket), range filter is residual") {
    val p = plan("c6_interval_join")
    // the join key must include the time bucket — a user_id-only key
    // enumerates clicks×purchases per user (per-key quadratic)
    val joinLine = p.linesIterator
      .find(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
      .getOrElse(fail(s"no equi-join in plan:\n${p.take(2000)}"))
    assert(joinLine.contains("bucket"),
      s"join not keyed on the time bucket: $joinLine")
    assert(count(p, "BroadcastNestedLoopJoin") == 0,
      s"interval join degenerated to a pair join:\n${p.take(2000)}")
  }

  test("b27: raw SQL range theta-join is auto-rewritten to a bucket-keyed join") {
    val p = plan("b27_auto_range_rewrite")
    // the injected rule must synthesize the bucket equi-key; without
    // it this plans a per-user-key nested-loop pair enumeration
    assert(p.contains("__graft_range_bucket"),
      s"rewrite rule did not fire:\n${p.take(2000)}")
    assert(count(p, "BroadcastNestedLoopJoin") == 0,
      s"range join degenerated to a pair join:\n${p.take(2000)}")
  }

  test("b18b: bucketed join plans with zero Exchange on the join") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // AQE off so the pre-execution plan tree is final and walkable;
    // auto-broadcast off because at test SF the dim side is tiny and
    // Catalyst would (correctly) broadcast — the property under test
    // is the big-big shape, where co-located buckets avoid the shuffle
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("b18b_bucketed_join")(spark, TestSpark.sf)
      val plan = df.queryExecution.executedPlan
      val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
        .getOrElse(fail(s"no SortMergeJoin:\n${plan.toString.take(2000)}"))
      // both sides read pre-bucketed files: nothing under the join may
      // reshuffle (the only exchange allowed is the groupBy above it)
      assert(smj.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        s"bucketed join reshuffled its children:\n${smj.toString.take(2000)}")
      assert(plan.toString.contains("SelectedBucketsCount: 8 out of 8"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("d112: indexed BM25 serving bucket-prunes postings, never reads the corpus") {
    val p = plan("d112_indexed_bm25")
    // the whole point of the index: the serving plan scans only the
    // query terms' buckets of the postings table — the documents
    // parquet appears nowhere (the build ran eagerly before this plan)
    assert(p.contains("SelectedBucketsCount"),
      s"postings scan did not bucket-prune:\n${p.take(2000)}")
    assert(!p.contains("documents"),
      s"indexed serving plan touches the corpus:\n${p.take(2000)}")
  }

  test("d149 mining: PRF term mining bucket-prunes the doc-keyed projection; full postings absent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.{BucketingUtils, FileScanRDD}
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    import graft.operators.Retrieval
    val corpus = (1 to 40).map(i =>
      (i.toLong, s"document $i about spark catalyst planning topic$i"))
      .toDF("doc_id", "text")
    Retrieval.buildBm25Index(corpus, "doc_id", "text", "ps_prf",
      numBuckets = 8)
    val fbIds = Seq(3L, 7L, 11L)
    val mining = Retrieval.minePrfCandidatesFromIndex(spark, "ps_prf",
      fbIds, Seq("spark"), numBuckets = 8)
    assert(mining.collect().nonEmpty)
    val plan = mining.queryExecution.executedPlan
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    // the files the scan actually reads: the feedback ids are an IN
    // filter on the bydoc table's bucket column, so the read keeps
    // only the files of the buckets those ids hash to — also where
    // the planner turns the scan's bucketed output off
    val read = scans(plan).flatMap(_.inputRDDs()).flatMap {
      case f: FileScanRDD =>
        f.filePartitions.flatMap(_.files.map(_.filePath.toString))
      case other => fail(s"unexpected scan RDD ${other.getClass}")
    }.distinct.map(_.split('/').last)
    val buckets = fbIds.map(id => spark.range(1)
      .select(pmod(hash(lit(id)), lit(8))).head().getInt(0)).toSet
    val dir = new java.io.File(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("ps_prf_postings_bydoc"))
      .location)
    val all = dir.listFiles.map(_.getName).filter(_.startsWith("part-"))
    val inBuckets = all.filter(f =>
      BucketingUtils.getBucketId(f).exists(buckets.contains))
    assert(read.nonEmpty && read.forall(inBuckets.contains) &&
      read.size < all.length,
      s"mining scan did not bucket-prune: read ${read.size} of " +
        s"${all.length} files, ${inBuckets.length} in buckets $buckets")
    // the TERM-bucketed postings table appears nowhere — the r19
    // full-scan mining floor is gone (every ps_prf_postings mention
    // must be the _bydoc projection)
    val p = plan.toString
    assert(!"ps_prf_postings(?!_bydoc)".r.findFirstIn(p).isDefined,
      s"mining plan still scans the full postings table:\n${p.take(2000)}")
  }

  test("d124b: indexed proximity serving bucket-prunes postings, never reads the corpus") {
    val p = plan("d124b_indexed_prox")
    assert(p.contains("SelectedBucketsCount"),
      s"proximity postings scan did not bucket-prune:\n${p.take(2000)}")
    assert(!p.contains("documents"),
      s"indexed proximity plan touches the corpus:\n${p.take(2000)}")
  }

  test("a15: per-user agg runs on bucket partitioning — no hash exchange") {
    val p = plan("a15_bucketed_events")
    // the userid-bucketed layout must satisfy the groupBy(userid)
    // distribution; the only allowed exchange is the final orderBy's
    // range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-user agg reshuffled a userid-bucketed store:\n${p.take(2000)}")
    assert(p.contains("Bucketed: true"), p.take(1500))
  }

  test("a13: time-range read prunes dt/hour partitions at planning time") {
    val p = plan("a13_pruned_read")
    assert(p.contains("PartitionFilters: [") && !p.contains("PartitionFilters: []"),
      s"no partition filters on the store scan:\n${p.take(2000)}")
  }

  test("a6: paged time-range query needs no full-plan shuffle") {
    // orderBy+offset+limit collapses to TakeOrderedAndProject — no
    // Exchange means no global sort of the store
    val p = plan("a6_event_query_paging")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  // The de-skewed gram/token shapes (d33/d36/d37/d38) share one
  // contract: per-key stats come from a streaming HASH aggregate +
  // exchange-free SHUFFLE_HASH join-back on ONE explicit key exchange
  // (never `min/max/count OVER (PARTITION BY key)` — a window cannot
  // partial-aggregate, must sort-and-buffer each key's whole row
  // group in one task, and AQE cannot skew-split a Window node, so a
  // boilerplate mega-gram or zipfian head token stragglers at scale).
  // ReuseExchange must keep the scan+explode pipeline ONE corpus
  // pass. AQE's final-plan string duplicates reused subtrees, so
  // these pins run with AQE off (the b18b discipline), where
  // planning-time ReuseExchange makes the properties directly
  // countable.
  private def pinnedPlan(name: String): String = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try plan(name) finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d33: token scoring explodes the corpus once; counts are agg+join, not a window") {
    val p = plan("d33_unigram_logprob")
    assert(count(p, "Window") == 0,
      s"hot-token window crept back in:\n${p.take(2000)}")
    val np = pinnedPlan("d33_unigram_logprob")
    assert(count(np, "Generate explode") == 1 && count(np, "ReusedExchange") >= 1,
      s"corpus explode pipeline duplicated:\n${np.take(3000)}")
    assert(count(np, "ShuffledHashJoin") == 1,
      s"frequency join-back must hash-build, never sort the token stream:\n${np.take(3000)}")
    assert(count(np, "SortAggregate") == 0, np.take(2000))
  }

  test("d53: bigram scoring explodes once; c2 AND c1 are agg+join, never windows") {
    val p = plan("d53_bigram_logprob")
    assert(count(p, "Window") == 0,
      s"hot-bigram window crept back in:\n${p.take(2000)}")
    val np = pinnedPlan("d53_bigram_logprob")
    assert(count(np, "Generate explode") == 1 && count(np, "ReusedExchange") >= 1,
      s"bigram explode pipeline duplicated:\n${np.take(3000)}")
    // the (a,b) probe join AND the distinct-bigram c1 join-back both
    // hash-build; the corpus stream is never sorted
    assert(count(np, "ShuffledHashJoin") == 2,
      s"frequency join-backs must hash-build:\n${np.take(3000)}")
    assert(count(np, "SortAggregate") == 0, np.take(2000))
  }

  test("d65: trigram backoff scoring explodes once; every count table is agg+join, never a window") {
    val p = plan("d65_trigram_logprob")
    assert(count(p, "Window") == 0,
      s"hot-trigram window crept back in:\n${p.take(2000)}")
    val np = pinnedPlan("d65_trigram_logprob")
    assert(count(np, "Generate explode") == 1 && count(np, "ReusedExchange") >= 1,
      s"trigram explode pipeline duplicated:\n${np.take(3000)}")
    // backoff-table joins hash-build on the distinct-trigram side;
    // the corpus stream is never sorted and never pair-joined
    assert(count(np, "ShuffledHashJoin") >= 2,
      s"count join-backs must hash-build:\n${np.take(3000)}")
    assert(count(np, "SortAggregate") == 0 &&
      count(np, "CartesianProduct") == 0, np.take(2000))
  }

  test("d36: substring dedup grams once; flags are agg+join, islands keep their windows") {
    val p = plan("d36_substring_dedup")
    // the only windows are the doc-keyed gaps-and-islands lag/cumsum
    assert(count(p, "Window") == 2, p.take(2000))
    val np = pinnedPlan("d36_substring_dedup")
    assert(count(np, "Generate") == 1 && count(np, "ReusedExchange") >= 1,
      s"gram pipeline duplicated:\n${np.take(3000)}")
    assert(count(np, "ShuffledHashJoin") == 1,
      s"crossdoc flag join must hash-build on the per-hash stats:\n${np.take(3000)}")
    assert(count(np, "SortAggregate") == 0 &&
      count(np, "CartesianProduct") == 0 &&
      count(np, "BroadcastNestedLoopJoin") == 0, np.take(2000))
  }

  test("d38: span cut is the flag join + ONE reconstruct join, grams once") {
    val np = pinnedPlan("d38_span_cut")
    assert(count(np, "Generate") == 1 && count(np, "ReusedExchange") >= 1,
      s"gram pipeline duplicated:\n${np.take(3000)}")
    // flag join-back (shuffled hash) + cut-list reconstruct join; the
    // corpus is re-scanned narrow for the token array, never re-grammed
    assert(count(np, "ShuffledHashJoin") == 1,
      s"flag join must hash-build:\n${np.take(3000)}")
    assert(count(np, "SortMergeJoin") + count(np, "BroadcastHashJoin") == 1,
      s"expected exactly one reconstruct join:\n${np.take(3000)}")
    assert(count(np, "CartesianProduct") == 0 &&
      count(np, "BroadcastNestedLoopJoin") == 0, np.take(2000))
  }

  test("d37: composed gram profile rides ONE narrow gram exchange") {
    val p = plan("d37_gram_profile")
    assert(count(p, "Window") == 0,
      s"hot-gram window crept back in:\n${p.take(2000)}")
    val np = pinnedPlan("d37_gram_profile")
    assert(count(np, "Generate") == 1 && count(np, "ReusedExchange") >= 1,
      s"gram pipeline duplicated:\n${np.take(3000)}")
    assert(count(np, "ShuffledHashJoin") == 1,
      s"stats join-back must hash-build:\n${np.take(3000)}")
    assert(count(np, "SortAggregate") == 0, np.take(2000))
    assert(np.linesIterator.exists(_.contains("Exchange hashpartitioning(h#")),
      s"no gram-hash exchange found:\n${np.take(3000)}")
  }

  test("d4: blockCap occupancy is agg+join, never a window over wide shingle rows") {
    // the guard's occupancy count must NEVER be `count OVER
    // (PARTITION BY block)` — that buffers a hot block's full shingle
    // arrays in one un-splittable task. Pinned shape: a hash agg over
    // a column-pruned narrow scan + ONE ShuffledHashJoin build on the
    // per-block counts, and the self-join side reuses the wide
    // shingle pipeline (ReusedExchange) instead of recomputing it.
    val p = plan("d4_ngram_jaccard")
    assert(count(p, "Window") == 0,
      s"occupancy window crept back in:\n${p.take(2000)}")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val np = try pinnedPlan("d4_ngram_jaccard")
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(count(np, "ShuffledHashJoin") == 1,
      s"occupancy join-back must hash-build on the count side:\n${np.take(3000)}")
    assert(count(np, "ReusedExchange") >= 1,
      s"self-join recomputes the shingle pipeline:\n${np.take(3000)}")
    assert(count(np, "Window") == 0 && count(np, "SortAggregate") == 0 &&
      count(np, "CartesianProduct") == 0 &&
      count(np, "BroadcastNestedLoopJoin") == 0, np.take(2000))
  }

  test("d43: decontamination screens map-side against a broadcast holdout") {
    // the asymmetric-cardinality contract: the holdout gram set and
    // the per-doc counts are the broadcast sides; the training corpus
    // must never reach a shuffle to pair up with the holdout (no SMJ,
    // no shuffled hash join anywhere in the screen)
    val p = plan("d43_decontaminate")
    assert(count(p, "BroadcastHashJoin") == 2,
      s"expected semi + report joins broadcast:\n${p.take(3000)}")
    assert(count(p, "SortMergeJoin") == 0 && count(p, "ShuffledHashJoin") == 0,
      s"corpus shuffled to pair with the holdout:\n${p.take(3000)}")
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(2000))
  }

  test("d44: PII redaction is a pure scan projection") {
    // regex scrub + counts ride the parquet scan; the only exchange
    // permitted is the entry's presentation orderBy
    val p = plan("d44_redact_pii")
    assert(count(p, "Join") == 0, s"redaction grew a join:\n${p.take(2000)}")
    assert(count(p, "Exchange") == 1,
      s"expected only the orderBy exchange:\n${p.take(2000)}")
  }

  test("d45: shuffle-shard ranks ride the pinned range layout, never a per-shard window") {
    // the d32 two-phase discipline applied per shard: ranks come
    // from partition-local running counts over the checkpointed
    // range layout + driver-broadcast bases. A `row_number() OVER
    // (PARTITION BY shard)` — which buffers a whole shard in one
    // task — must never reappear; the only exchange left in the
    // final plan is the entry's presentation orderBy (the range
    // exchange lives before the checkpoint).
    val p = plan("d45_shuffle_shard")
    assert(count(p, "Window") == 0,
      s"per-shard rank window crept back in:\n${p.take(2000)}")
    assert(count(p, "Scan ExistingRDD") >= 1,
      s"sharding lost its pinned layout:\n${p.take(2000)}")
    assert(count(p, "Exchange") == 1,
      s"expected only the orderBy exchange:\n${p.take(2000)}")
  }

  test("d32: packing reads one pinned range layout; no global window") {
    // the range-partitioned (id, n, ord) projection is materialized
    // ONCE (localCheckpoint) so the totals pass and the packing pass
    // cannot disagree on range boundaries — the plan reads the
    // checkpoint, and a single-partition global window (the cumsum
    // trap) must never reappear
    val p = plan("d32_sequence_pack")
    assert(count(p, "Scan ExistingRDD") >= 1,
      s"packing lost its pinned layout:\n${p.take(2000)}")
    assert(count(p, "Window") == 0,
      s"global-window cumsum crept back in:\n${p.take(2000)}")
  }

  test("d54: HTML extraction is a pure scan projection") {
    // page construction + the HtmlMainContent kernel + md5 all ride
    // the parquet scan; the only exchange is the presentation orderBy
    val p = plan("d54_html_extract")
    assert(count(p, "Join") == 0 && count(p, "Generate") == 0,
      s"extraction grew a join/generate:\n${p.take(2000)}")
    assert(count(p, "Exchange") == 1,
      s"expected only the orderBy exchange:\n${p.take(2000)}")
    // codegen participation is proven in HtmlExtractSpec's executed
    // plan (the AQE pre-execution string here prints no codegen spans)
  }

  test("d55: repetition stats are one kernel scan projection — no shuffle at all") {
    // the r15 kernel revision: per-doc repetition masses compute in
    // ONE native pass inside the scan projection — no Generate, no
    // aggregate exchange, nothing corpus-keyed; the only exchange is
    // the presentation orderBy (the string-keyed corpus aggregate
    // this replaced went superlinear at 10×, see the operator doc)
    val p = plan("d55_repetition")
    assert(count(p, "Window") == 0 && count(p, "Join") == 0,
      s"repetition stats grew a window/join:\n${p.take(2000)}")
    assert(count(p, "Generate") == 0,
      s"kernel form must not explode:\n${p.take(2000)}")
    assert(count(p, "HashAggregate") == 0 &&
      count(p, "ObjectHashAggregate") == 0,
      s"kernel form must not aggregate:\n${p.take(2000)}")
    assert(count(p, "Exchange") <= 1,
      s"only the presentation orderBy may shuffle:\n${p.take(2000)}")
  }

  test("d57: semantic dedup pairs ride one reused cell exchange; no pair-loop joins") {
    // cell assignment is a map-only literal-centroid projection; the
    // within-cell self-join must be an equi-join on cell_id whose two
    // sides REUSE one explicit exchange, and the drop-list join-back
    // hash-builds — never a nested-loop pair enumeration or a window
    val p = plan("d57_semantic_dedup")
    assert(count(p, "Window") == 0 && count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0,
      s"pair generation degenerated:\n${p.take(2000)}")
    val np = pinnedPlan("d57_semantic_dedup")
    assert(count(np, "ReusedExchange") >= 1,
      s"self-join recomputes the assignment projection:\n${np.take(3000)}")
    assert(count(np, "ShuffledHashJoin") >= 1,
      s"drop-list join-back must hash-build:\n${np.take(3000)}")
  }

  test("d62: composed pipeline joins stay hash-based; pack reads its pinned layout") {
    // the gate join-back and keeper semi are doc/hash-keyed equi-joins
    // (never a pair loop); the pack stage reads the d32 checkpointed
    // range layout, and no global-window cumsum reappears
    val p = plan("d62_pipeline")
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0,
      s"pipeline degenerated to a pair join:\n${p.take(2000)}")
    assert(count(p, "Window") == 0,
      s"global-window cumsum crept back in:\n${p.take(2000)}")
    assert(count(p, "Scan ExistingRDD") >= 1,
      s"pack stage lost its pinned layout:\n${p.take(2000)}")
  }

  test("d83: epoch assembly chains four operators with zero windows and hash joins only") {
    // mixtureEpochs -> upsample -> shuffleShard -> sequencePack under
    // one plan: the copy explosion is a Generate (never a join), every
    // join-back (shard/pos to instance, tokens to doc, pack output to
    // provenance) is a hash equi-join, both prefix sums ride their
    // pinned range layouts, and no stage grew a window or a sort agg
    val p = plan("d83_epoch_assembly")
    assert(count(p, "Window") == 0,
      s"a window crept into the assembly chain:\n${p.take(2000)}")
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0,
      s"assembly degenerated to a pair join:\n${p.take(2000)}")
    assert(count(p, "SortAggregate") == 0, p.take(2000))
    assert(count(p, "ShuffledHashJoin") >= 2,
      s"join-backs must hash-build:\n${p.take(3000)}")
    assert(count(p, "Scan ExistingRDD") >= 2,
      s"a prefix-sum stage lost its pinned layout:\n${p.take(2000)}")
    assert(count(p, "Generate") >= 1, // posexplode of the copy range
      s"the copy explosion must be a Generate:\n${p.take(2000)}")
  }

  test("d77: model-gated pipeline stays hash-joined; the NB stage brings no window") {
    // d62's pins hold with the learned stage composed in: the model
    // gate is a doc-keyed semi-ish equi-join on the classifier output
    // (whose only broadcast-nested-loop is the sanctioned one-row
    // floor/prior cross), and no stage grew a window
    val p = plan("d77_model_pipeline")
    assert(count(p, "CartesianProduct") == 0,
      s"pipeline degenerated to a pair join:\n${p.take(2000)}")
    assert(count(p, "Window") == 0,
      s"a window crept into the composed chain:\n${p.take(2000)}")
    assert(count(p, "Scan ExistingRDD") >= 1,
      s"pack stage lost its pinned layout:\n${p.take(2000)}")
    assert(count(p, "SortAggregate") == 0, p.take(2000))
  }

  test("d56: gopher rules are a pure scan projection") {
    val p = plan("d56_gopher_rules")
    assert(count(p, "Join") == 0 && count(p, "Generate") == 0 &&
      count(p, "Window") == 0,
      s"rule gate grew a join/generate/window:\n${p.take(2000)}")
    assert(count(p, "Exchange") == 1,
      s"expected only the orderBy exchange:\n${p.take(2000)}")
  }

  test("c10: batch-screen keep-one is a hash agg + semi-join, never a row_number window") {
    // dedupWithinBatch sits in the streaming ingest hot path; a
    // `row_number() OVER (PARTITION BY content_hash)` there funnels a
    // micro-batch's mega-family of identical texts (full rows) into
    // one un-splittable task. Pinned shape (the d4/d33 recipe): a
    // narrow (ch, id) hash aggregate whose map-side partial collapses
    // each family to <=1 row per input partition BEFORE the shuffle,
    // then a hash-built semi-join back — no window, no sort agg.
    import spark.implicits._
    val name = "psp_within_idx"
    operators.Dedup.buildDedupIndex(
      Seq((1L, "seed corpus content for the screen meta parameters"))
        .toDF("doc_id", "text"),
      "doc_id", "text", name)
    val batch = (1L to 64L)
      .map(i => (i, s"batch doc number ${i % 8} with shared family text"))
      .toDF("doc_id", "text")
    val p = operators.Dedup.dedupWithinBatch(batch, "doc_id", "text", name)
      .queryExecution.executedPlan.toString
    assert(count(p, "Window") == 0,
      s"keep-one window crept back into the batch screen:\n${p.take(2000)}")
    assert(p.contains("partial_min"),
      s"keeper aggregate lost its map-side partial:\n${p.take(2000)}")
    assert(count(p, "SortAggregate") == 0, p.take(2000))
    assert(count(p, "ShuffledHashJoin") >= 1,
      s"keep-one join-back must hash-build:\n${p.take(3000)}")
  }

  test("c21: the upsert screen is a sort-merge anti-join, never a broadcast") {
    // a broadcast of the store's ids stays in the driver's block
    // manager until a GC lets the context cleaner drop it; a sort-merge
    // join's memory is task memory, freed when the tasks end and
    // spillable at any store size
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.sources.SnapshotEventStore
    val dir = java.nio.file.Files.createTempDirectory("psp_upsert_").toString
    def batch(from: Int) = (from until from + 20)
      .map(i => (i.toString, "LOGIN", "r", 1704067200000L + i * 60000L))
      .toDF("id", "eventtype", "realmid", "time")
    SnapshotEventStore.append(batch(0), dir)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SnapshotEventStore.upsertBatch(batch(10), dir, 0L, "psp")
      val deadline = System.currentTimeMillis() + 30000L
      while (!plans.toArray.exists(_.toString.contains("LeftAnti")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20L)
    } finally spark.listenerManager.unregister(listener)
    val p = plans.toArray.map(_.toString).find(_.contains("LeftAnti"))
      .getOrElse(fail(s"no anti-join among the upsert's plans: $plans"))
    assert(p.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.contains("LeftAnti")),
      s"the upsert screen is not a sort-merge anti-join:\n${p.take(3000)}")
    assert(count(p, "BroadcastExchange") == 0 &&
      count(p, "BroadcastHashJoin") == 0,
      s"the upsert screen broadcasts:\n${p.take(3000)}")
    assert(SnapshotEventStore.read(spark, dir).count() == 30L)
  }

  test("d63/d64: perceptual media pairing stays bucketed — no all-pairs join, no window") {
    // video/audio near-dedup candidates must come from the
    // chunk-bucket equi-join (64-bit sigs only), never an all-pairs
    // shape over payload rows; the video-level verdict is a hash
    // aggregate, not a per-video window
    Seq("d63_video_neardup", "d64_audio_neardup").foreach { q =>
      val p = plan(q)
      assert(count(p, "CartesianProduct") == 0 &&
        count(p, "BroadcastNestedLoopJoin") == 0,
        s"$q degenerated to an all-pairs join:\n${p.take(2000)}")
      assert(count(p, "Window") == 0,
        s"$q grew a window:\n${p.take(1500)}")
    }
  }

  test("d82/d85: video keep-one and the frame-side screen stay bucketed — no all-pairs join, no window") {
    // the keep-one composition and the index screen must both get
    // their candidates from chunk-keyed equi-joins over 64-bit sigs
    // (never an all-pairs shape over frame rows) and render verdicts
    // with hash aggregates, not windows
    Seq("d82_video_dedup", "d85_video_index_screen").foreach { q =>
      val p = plan(q)
      assert(count(p, "CartesianProduct") == 0 &&
        count(p, "BroadcastNestedLoopJoin") == 0,
        s"$q degenerated to an all-pairs join:\n${p.take(2000)}")
      assert(count(p, "Window") == 0,
        s"$q grew a window:\n${p.take(1500)}")
      assert(count(p, "SortAggregate") == 0, p.take(1500))
    }
  }

  test("d84: the frontier screen is one codegen'd canonicalization + an anti-join; index side unshuffled") {
    val p = plan("d84_url_screen")
    assert(count(p, "Window") == 0 && count(p, "Generate") == 0,
      s"frontier screen grew a window/generate:\n${p.take(1500)}")
    assert(!p.contains("Exchange hashpartitioning(uh"),
      s"frontier index side re-shuffled:\n${p.take(2000)}")
  }

  test("d86/d89: report card and semantic screen stay window-free with no pair loops") {
    // d86's closure + two histogram aggregates and d89's cell-gated
    // corpus×holdout screen must never degenerate to a row-pair loop
    // or grow per-group windows (the assignment argmin is array_min
    // over struct literals, not a rank window)
    Seq("d86_dedup_report", "d89_semantic_decontaminate").foreach { q =>
      val p = plan(q)
      assert(count(p, "Window") == 0,
        s"$q grew a window:\n${p.take(1500)}")
      assert(count(p, "CartesianProduct") == 0,
        s"$q degenerated to a cartesian:\n${p.take(2000)}")
      assert(count(p, "SortAggregate") == 0, p.take(1500))
    }
  }

  test("d90: the bin manifest is one Generate over the pinned pack layout — no join, no window") {
    val p = plan("d90_bin_manifest")
    assert(count(p, "Join") == 0 && count(p, "Window") == 0,
      s"manifest grew a join/window:\n${p.take(1500)}")
    assert(count(p, "Generate") == 1,
      s"manifest must be exactly one bin-span explode:\n${p.take(1500)}")
    assert(count(p, "Scan ExistingRDD") >= 1,
      s"manifest lost the pack's pinned layout:\n${p.take(1500)}")
  }

  test("d87/d88: hash split is a pure scan projection; exact split ranks ride the pinned layout, no window") {
    val p87 = plan("d87_hash_split")
    assert(count(p87, "Join") == 0 && count(p87, "Window") == 0 &&
      count(p87, "Generate") == 0,
      s"hash split grew a join/window/generate:\n${p87.take(1500)}")
    assert(count(p87, "Exchange") == 1, // the orderBy only
      s"hash split must stay a scan projection:\n${p87.take(1500)}")
    val p88 = plan("d88_stratified_split")
    assert(count(p88, "Window") == 0,
      s"a per-stratum window crept into the exact split:\n${p88.take(1500)}")
    assert(count(p88, "Scan ExistingRDD") >= 1,
      s"exact split lost its pinned rank layout:\n${p88.take(1500)}")
  }

  test("d70: BM25 filters query-term postings map-side and top-ks without a global sort") {
    val p = plan("d70_bm25_topk")
    assert(count(p, "Window") == 0, p.take(1500))
    // the top-k is per-partition heaps + a k-row driver merge
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n${p.take(2000)}")
    // the query-term IN filter sits UNDER the first exchange (on the
    // Generate output), so only |Q| terms' postings ever shuffle:
    // plan order in the string is exchange AFTER (above) the filtered
    // generate — assert no SortAggregate and the df/stats joins
    // broadcast rather than shuffling the postings again
    assert(count(p, "SortAggregate") == 0, p.take(1500))
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(2500))
  }

  test("d71: URL dedup is canonicalize-scan + ONE hash agg + hash join-back") {
    val p = plan("d71_url_dedup")
    assert(count(p, "Window") == 0, p.take(1500))
    assert(count(p, "ShuffledHashJoin") == 1,
      s"keep-one join-back must hash-build:\n${p.take(2500)}")
    assert(count(p, "SortAggregate") == 0, p.take(1500))
  }

  test("d72/d76: mixture sampler rides the pinned range layout, never a per-stratum window") {
    Seq("d72_mixture_sample", "d76_mixture_epochs").foreach { q =>
      val p = plan(q)
      assert(count(p, "Window") == 0,
        s"$q: per-stratum window crept back in:\n${p.take(2000)}")
    }
  }

  test("d80: keyword extraction shares ONE term exchange; per-doc top-k is never a rank window") {
    val p = plan("d80_tfidf_keywords")
    assert(count(p, "Window") == 0,
      s"corpus rank window crept in:\n${p.take(1500)}")
    assert(count(p, "SortAggregate") == 0, p.take(1500))
    val np = pinnedPlan("d80_tfidf_keywords")
    // tf, df and their join all ride the single repartition(term)
    // exchange ({term} satisfies every downstream clustering)
    assert(count(np, "ReusedExchange") >= 1,
      s"term exchange duplicated:\n${np.take(3000)}")
  }

  test("d78: corpus report is one grouping-sets hash aggregate — no window, no join") {
    val p = plan("d78_corpus_report")
    assert(count(p, "Window") == 0 && count(p, "Join") == 0, p.take(1500))
    assert(count(p, "Expand") >= 1,
      s"rollup lost its grouping-sets Expand:\n${p.take(1500)}")
    assert(count(p, "SortAggregate") == 0, p.take(1500))
  }

  test("d75: upsampling is a pure projection + one Generate — no shuffle beyond the output sort") {
    val p = plan("d75_upsample")
    assert(count(p, "Window") == 0, p.take(1500))
    assert(count(p, "Generate") == 1, p.take(1500))
    assert(count(p, "Join") == 0, p.take(1500))
    // the only exchange is the orderBy's range partitioning
    assert(count(p, "Exchange") <= 1, p.take(2000))
  }

  test("d74: persisted-model scoring broadcasts the weight table; tokens never shuffle") {
    val p = plan("d74_nb_model_score")
    assert(count(p, "Window") == 0, p.take(1500))
    assert(count(p, "BroadcastHashJoin") >= 1,
      s"weight table must broadcast onto the token stream:\n${p.take(2500)}")
    // the serving path has no term-keyed repartition — the only
    // exchanges are the per-doc aggregate's and the output sort's
    assert(!p.contains("REPARTITION_BY_COL"),
      s"scored batch shuffled its tokens:\n${p.take(2500)}")
    assert(count(p, "SortAggregate") == 0, p.take(1500))
  }

  test("d73: NB classifier explodes once; train counts and scoring share the term exchange") {
    val p = plan("d73_nb_classifier")
    assert(count(p, "Window") == 0, p.take(1500))
    val np = pinnedPlan("d73_nb_classifier")
    // ONE corpus explode feeds both the conditional count aggregate
    // and the scoring stream (the d53 discipline); the weight table
    // joins back with a hash-built probe
    assert(count(np, "ReusedExchange") >= 1,
      s"corpus explode pipeline duplicated:\n${np.take(3000)}")
    assert(count(np, "ShuffledHashJoin") == 1,
      s"weight join-back must hash-build:\n${np.take(3000)}")
    assert(count(np, "SortAggregate") == 0, np.take(1500))
  }

  test("d111: langid confusion — one corpus aggregate; the share join reads the pinned matrix") {
    val p = plan("d111_langid_confusion")
    assert(count(p, "Window") == 0, p.take(1500))
    assert(count(p, "SortAggregate") == 0, p.take(1500))
    // the label-total join-back must broadcast onto the <=|langs|^2
    // checkpointed matrix, never re-scan the corpus
    assert(count(p, "BroadcastHashJoin") >= 1 &&
      count(p, "Scan parquet") == 0,
      s"share join must read the pinned matrix:\n${p.take(2500)}")
  }

  test("d109: exact sample plans as TakeOrderedAndProject, never a global sort") {
    val p = plan("d109_exact_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"budgeted sample must ride per-partition heaps:\n${p.take(2000)}")
    assert(count(p, "Window") == 0 && count(p, "Join") == 0, p.take(1500))
  }

  test("d110: length histogram — integer buckets, projection + one aggregate, no joins") {
    val p = plan("d110_length_histogram")
    assert(count(p, "Window") == 0, p.take(1500))
    assert(count(p, "Join") == 0, p.take(1500))
    assert(count(p, "SortAggregate") == 0, p.take(1500))
  }

  test("d108: domain report — pure scan projection + one host aggregate, no joins") {
    val p = plan("d108_domain_report")
    assert(count(p, "Window") == 0, p.take(1500))
    assert(count(p, "Join") == 0,
      s"domain report must be projection + aggregate only:\n${p.take(2000)}")
    assert(count(p, "SortAggregate") == 0, p.take(1500))
  }

  test("d107: fertility report — pure scan projection + one language aggregate, no joins") {
    val p = plan("d107_fertility")
    assert(count(p, "Window") == 0, p.take(1500))
    assert(count(p, "Join") == 0,
      s"fertility must be projection + aggregate only:\n${p.take(2000)}")
    assert(count(p, "SortAggregate") == 0, p.take(1500))
  }

  test("d106: jaccard histogram — band equi-join generates candidates, banding pipeline reused") {
    val p = plan("d106_jaccard_histogram")
    assert(count(p, "Window") == 0, p.take(1500))
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0, p.take(2000))
    val np = pinnedPlan("d106_jaccard_histogram")
    // the band self-join's two sides share the explicit
    // (band_id, band_hash) repartition — sig pipeline runs once
    assert(count(np, "ReusedExchange") >= 1,
      s"banding pipeline duplicated:\n${np.take(3000)}")
  }

  test("d105: calibration sweep — no windows; corpus work ends at the bins aggregate") {
    val p = plan("d105_calibration")
    assert(count(p, "Window") == 0, p.take(1500))
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    assert(count(p, "SortAggregate") == 0, p.take(1500))
    // the cumulative sweep and one-row totals ride broadcasts of the
    // checkpointed ≤bins-row table — never a corpus-sized join
    assert(count(p, "ShuffledHashJoin") <= 2, p.take(2500))
  }

  test("d100: incremental curation — no windows, no cartesian; the screen reads the bucketed index") {
    val p = plan("d100_incremental_curation")
    assert(count(p, "Window") == 0, p.take(2000))
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0, p.take(2000))
    assert(count(p, "SortAggregate") == 0, p.take(2000))
  }

  test("d94: line dedup explodes once, keeper rides min_by in the hash agg, probe joins on h alone") {
    val p = plan("d94_line_dedup")
    assert(count(p, "Window") == 0,
      s"hot-line window crept back in:\n${p.take(2000)}")
    val np = pinnedPlan("d94_line_dedup")
    // ONE line explode; the keeper aggregate and the removal probe
    // share the explicit h exchange over the COLLAPSED pairs table
    // (the r15 two-level shape: the full stream is aggregated on the
    // unskewed (h, doc) composite key first)
    assert(count(np, "Generate") == 1 && count(np, "ReusedExchange") >= 1,
      s"line explode pipeline duplicated:\n${np.take(3000)}")
    // exactly the four intended exchanges: the (h, doc) stream
    // collapse, the pairs h repartition, the removals rollup and the
    // rebuild's doc-keyed live side — anything more means the keeper
    // join got re-keyed or ReuseExchange died (a ReusedExchange node
    // PRINTS its target's "Exchange hashpartitioning" descriptor, so
    // subtract those mentions from the raw substring count)
    assert(count(np, "Exchange hashpartitioning")
        - count(np, "ReusedExchange") <= 4,
      s"keeper join re-keyed the h partitioning:\n${np.take(3000)}")
    // removal probe + rebuild join, both hash-built
    assert(count(np, "ShuffledHashJoin") == 2,
      s"join-backs must hash-build:\n${np.take(3000)}")
    // min_by keeps the stats chain on HashAggregate's fast path
    assert(count(np, "SortAggregate") == 0, np.take(2000))
  }

  test("d95: snapshot diff is one full-outer hash join over md5-projected sides") {
    val p = plan("d95_corpus_diff")
    assert(count(p, "Window") == 0, p.take(1500))
    assert(count(p, "ShuffledHashJoin") == 1 && p.contains("FullOuter"),
      s"diff must be one full-outer hash join:\n${p.take(2500)}")
    // fingerprints are projected below the join: the shuffle carries
    // md5 strings, never document text
    val joinIdx = p.indexOf("ShuffledHashJoin")
    assert(!p.substring(0, joinIdx).contains("text#"),
      s"document text crossed the diff shuffle:\n${p.take(2500)}")
  }

  test("d96: hybrid fusion has no windows and no cartesian; ranking rides the bounded heaps") {
    val p = plan("d96_hybrid_topk")
    assert(count(p, "Window") == 0,
      s"rank window crept into the fusion:\n${p.take(2500)}")
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
    assert(count(p, "SortAggregate") == 0, p.take(2000))
    // both legs' per-query top-k and the fused top-k are TopKByCos
    // ObjectHashAggregates (bounded per-group state)
    assert(count(p, "ObjectHashAggregate") >= 4, p.take(3000))
  }

  test("d142: snippet windows — no rank window, no cartesian past the hits pin") {
    // the plan below the load-bearing localCheckpoint (hits feeds
    // BOTH the anchor and member sides): the per-doc argmax is a
    // bounded max_by aggregate, never a corpus-wide rank window, and
    // the anchor×hit join is a doc_id equi-join, never a cartesian.
    // The postings bucket pruning sits ABOVE the pin and is already
    // pinned by the d112/d132 serving tests.
    val p = plan("d142_snippet_windows")
    assert(count(p, "Window") == 0,
      s"rank window crept into the snippet argmax:\n${p.take(2500)}")
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
  }

  test("d139/d144: the decision card has no rank window and no cartesian on either path") {
    Seq("d139_retrieval_card", "d144_indexed_card").foreach { n =>
      val p = plan(n)
      assert(count(p, "Window") == 0,
        s"$n: rank window crept into an arm:\n${p.take(2500)}")
      assert(count(p, "CartesianProduct") == 0, s"$n:\n" + p.take(2000))
    }
  }

  test("d146: vocab-drift card — one batch token aggregate joined to the bucketed vocabulary") {
    val p = plan("d146_bm25_ingest_drift")
    assert(count(p, "Window") == 0, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
    // the index side is the _df table read, never _postings or a
    // corpus re-scan: exactly one FileScan over a *_df location
    assert(count(p, "_df") >= 1, s"vocab join lost the _df side:\n${p.take(2500)}")
    assert(!p.contains("d146_idx_postings"),
      s"drift card must not scan postings:\n${p.take(2500)}")
  }
}
